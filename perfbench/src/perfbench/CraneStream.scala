package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import graft.operators.Relational
import graft.sources.{CsvSource, LogLines, TextSource}
import graft.streaming.BoundedStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import scala.jdk.CollectionConverters._
import scala.util.Random

/** `crane_stream`: the paper's three Crane topologies as three concurrent
  * Structured Streaming queries over file sources.
  *
  *  - wordcount (q1) over plain text lines;
  *  - top-K users (q2) over reddit-shaped CSV;
  *  - routes (q3/q4) over Common Log Format lines parsed by
  *    `LogLines.parseClf`.
  *
  * Phase 1 is an open loop: one generator thread atomically renames
  * pre-rendered files into the three input directories on a fixed schedule
  * (`RatePerTopo` files/s each, staggered), and every file is timed from
  * its due time to the end of the trigger that committed it. Phase 2 lands
  * a fixed backlog at once and times its drain under the fixed
  * `maxFilesPerTrigger` admission: the capacity figure.
  */
object CraneStream {

  val Topos: Seq[String] = Seq("wordcount", "topk", "routes")
  /** Lines per input file; every file of a topology has exactly this many
    * rows, so committed rows / `LinesPerFile` = committed files.
    */
  val LinesPerFile = 200
  /** Open-loop rate per topology, well below the measured capacity. */
  val RatePerTopo = 5.0
  val MaxFilesPerTrigger = 8
  /** Backlog per topology landed at once in phase 2. */
  val BacklogFiles = 64
  /** Files per topology landed at once in each set-up: one full trigger. */
  val WarmupFiles = 8
  val SetupReps = 2
  val TopK = 50

  /** One streaming progress report, reduced to what the metrics need. */
  final case class Progress(query: String, batch: Long, startMs: Long,
                            durMs: Map[String, Long], rows: Long,
                            stateRows: Long, stateMemBytes: Long) {
    def endMs: Long = startMs + durMs.getOrElse("triggerExecution", 0L)
  }

  final class ProgressLog extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    val rows = new ConcurrentHashMap[String, java.lang.Long]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      events.add(Progress(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      rows.merge(p.id.toString, p.numInputRows, (a, b) => a + b)
    }
    def committedFiles(q: String): Long =
      Option(rows.get(q)).map(_.longValue).getOrElse(0L) / LinesPerFile
    def all: Seq[Progress] = events.asScala.toSeq
  }

  /** A pre-rendered input file waiting in the staging directory. */
  final case class Pending(topo: String, idx: Int, due: Long)

  /** One set of three running queries with its directories. */
  final class Rig(spark: SparkSession, root: Path, rep: Int, log: ProgressLog,
                  payload: Map[String, IndexedSeq[String]]) {
    val in: Map[String, Path] = Topos.map(t => t -> root.resolve(s"in/$t")).toMap
    val stage: Map[String, Path] = Topos.map(t => t -> root.resolve(s"stage/$t")).toMap
    def ckpt(t: String): Path = root.resolve(s"ckpt/$t")
    /** Live result per topology: group key → the rest of its latest row. */
    val results: Map[String, ConcurrentHashMap[String, String]] =
      Topos.map(_ -> new ConcurrentHashMap[String, String]()).toMap
    var queries: Map[String, StreamingQuery] = Map.empty
    val landed = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)]()

    def stageAll(): Unit = Topos.foreach { t =>
      Files.createDirectories(in(t)); Files.createDirectories(stage(t))
      payload(t).zipWithIndex.foreach { case (body, i) =>
        Files.write(stage(t).resolve(fileName(i)), body.getBytes("UTF-8"))
      }
    }

    def start(): Unit = {
      queries = Topos.map { t =>
        // update mode: each trigger hands over only the groups it changed
        // (a complete-mode sink would re-collect the whole state per trigger)
        val sink = (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r => results(t).put(r.get(0).toString, r.toSeq.tail.mkString("|")))
        t -> topology(spark, t, in(t).toString).writeStream
          .queryName(s"crane_${t}_r$rep").outputMode("update")
          .foreachBatch(sink)
          .option("checkpointLocation", ckpt(t).toString)
          .start()
      }.toMap
    }

    /** Rename file `i` of topology `t` into its input dir; records
      * (topo, name, due, landed-at).
      */
    def land(t: String, i: Int, due: Long): Unit = {
      Files.move(stage(t).resolve(fileName(i)), in(t).resolve(fileName(i)),
        StandardCopyOption.ATOMIC_MOVE)
      landed.synchronized(landed += ((t, fileName(i), due, System.currentTimeMillis())))
    }

    def committed(t: String): Long = log.committedFiles(queries(t).id.toString)

    /** Block until every topology has committed `n(t)` files or the
      * deadline passes; returns whether all made it.
      */
    def awaitCommitted(n: Map[String, Int], deadline: Long): Boolean = {
      while (Topos.exists(t => committed(t) < n(t)) && System.currentTimeMillis() < deadline) {
        queries.values.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(10)
      }
      Topos.forall(t => committed(t) >= n(t))
    }

    def stop(): Unit = queries.values.foreach(_.stop())
  }

  def fileName(i: Int): String = f"f$i%05d.txt"

  /** The three topologies over a (streaming or batch) source directory. */
  def topology(spark: SparkSession, t: String, dir: String, stream: Boolean = true): DataFrame =
    t match {
      case "wordcount" =>
        val lines =
          if (stream) BoundedStream.textStream(spark, dir, Some(MaxFilesPerTrigger))
          else TextSource.lines(spark, dir)
        Relational.wordCount(lines, "line")
      case "topk" =>
        val posts =
          if (stream) spark.readStream.schema(CsvSource.redditRaw)
            .option("maxFilesPerTrigger", MaxFilesPerTrigger).csv(dir)
            .select(CsvSource.redditFields.map(col): _*)
          else CsvSource.reddit(spark, dir)
        Relational.countPerKey(
          posts.filter(Relational.nonNegative(Relational.toIntOrNull(col("score")))),
          "username")
      case "routes" =>
        val lines =
          if (stream) BoundedStream.textStream(spark, dir, Some(MaxFilesPerTrigger))
          else TextSource.lines(spark, dir)
        val parsed = LogLines.parseClf(lines, "line")
        Relational.countAndDistinct(
          Relational.routeProjection(
            parsed.filter(Relational.equalsFilter(col("status"), "200")), "host", "url"),
          key = "host", item = "route")
    }

  /** Only the source functions of each topology, for the parse rows/s figure. */
  private def parseOnly(spark: SparkSession, t: String, dir: String): DataFrame = t match {
    case "wordcount" => TextSource.lines(spark, dir)
    case "topk" => CsvSource.reddit(spark, dir)
    case "routes" => LogLines.parseClf(TextSource.lines(spark, dir), "line")
  }

  /** Row set of a topology result, keyed for comparison. */
  private def keyed(rows: Seq[Row]): Map[String, String] =
    rows.map(r => r.get(0).toString -> r.toSeq.tail.mkString("|")).toMap

  // ---- independent reference: the generator's own model ---------------------

  private def modelResult(t: String, bodies: Seq[String]): Map[String, String] = {
    val lines = bodies.iterator.flatMap(_.split("\n").iterator)
    t match {
      case "wordcount" =>
        val m = scala.collection.mutable.HashMap[String, Long]()
        lines.foreach { l =>
          val first = l.split(" ", -1)(0)
          if (!(first.length > 8 && (first.startsWith("http") || first.startsWith("2008"))))
            l.split(" ", -1).filter(_.nonEmpty).foreach(w => m(w) = m.getOrElse(w, 0L) + 1)
        }
        m.map { case (k, v) => k -> v.toString }.toMap
      case "topk" =>
        val m = scala.collection.mutable.HashMap[String, Long]()
        lines.foreach { l =>
          val f = l.split(",", -1)
          if (f(10).toIntOption.exists(_ >= 0)) m(f(12)) = m.getOrElse(f(12), 0L) + 1
        }
        m.map { case (k, v) => k -> v.toString }.toMap
      case "routes" =>
        val m = scala.collection.mutable.HashMap[String, (Long, Set[String])]()
        lines.foreach { l =>
          val f = l.trim.split("\\s+")
          if (f.length >= 9 && f(8) == "200") {
            val (c, s) = m.getOrElse(f(0), (0L, Set.empty[String]))
            m(f(0)) = (c + 1, s + (f(0) + f(6)))
          }
        }
        m.map { case (k, (c, s)) => k -> s"$c|${s.toSeq.sorted.mkString(",")}" }.toMap
    }
  }

  /** Committing batch per landed file, from the checkpoint's file-source log. */
  private def commitBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources/0")
    val Entry = """"path":"([^"]*)".*?"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => Entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  def run(spark: SparkSession, a: Main.Args, tr: Tracer): Outcome = {
    val led = new Ledger
    val log = new ProgressLog
    spark.streams.addListener(log)
    val phase1S = a.seconds * 0.7
    val n1 = math.max(1, (phase1S * RatePerTopo).toInt)
    val backlogs = if (a.trace) 2 else 1
    val total = WarmupFiles + n1 + backlogs * BacklogFiles
    val notes = scala.collection.mutable.ArrayBuffer[String]()

    // ---- set-up, repeated: payload pre-rendering, query start, warmup -----
    var rig: Rig = null
    var payload: Map[String, IndexedSeq[String]] = null
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      payload = Topos.zipWithIndex.map { case (t, ti) =>
        val r = new Random(a.seed * 1000003L + ti)
        t -> (0 until total).map { _ =>
          t match {
            case "wordcount" => Gen.wordcountFile(r, LinesPerFile)
            case "topk" => Gen.redditFile(r, LinesPerFile)
            case "routes" => Gen.clfFile(r, LinesPerFile)
          }
        }
      }.toMap
      if (rig != null) rig.stop()
      rig = new Rig(spark, a.work.resolve(s"crane/r$rep"), rep, log, payload)
      rig.stageAll()
      rig.start()
      val now = System.currentTimeMillis()
      Topos.foreach(t => (0 until WarmupFiles).foreach(i => rig.land(t, i, now)))
      if (!rig.awaitCommitted(Topos.map(_ -> WarmupFiles).toMap, now + 60000))
        sys.error("warmup files were not committed within 60 s")
      (System.nanoTime() - t0) / 1e9
    }
    val ids = rig.queries.map { case (t, q) => q.id.toString -> t }
    val rig0 = rig
    val landedBefore = rig.landed.size

    // ---- phase 1: open loop ---------------------------------------------
    tr.begin()
    val p1Start = System.currentTimeMillis() + 200
    val schedule = (for (i <- 0 until n1; (t, ti) <- Topos.zipWithIndex) yield
      Pending(t, WarmupFiles + i, p1Start + ((i + ti / 3.0) / RatePerTopo * 1000).toLong))
      .sortBy(_.due)
    val gen = new Thread(() => schedule.foreach { p =>
      val wait = p.due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      rig0.land(p.topo, p.idx, p.due)
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val p1Deadline = System.currentTimeMillis() + 5000
    val p1All = rig.awaitCommitted(Topos.map(_ -> (WarmupFiles + n1)).toMap, p1Deadline)

    // ---- phase 2: land backlog(s) at once, time the drain -----------------
    // traced runs land two backlogs: the first untraced, the second traced,
    // and the drain-time ratio is the tracing overhead
    var drains = Seq.empty[(Double, Boolean)]
    (0 until backlogs).foreach { b =>
      val traced = !a.trace || b == 1
      if (a.trace && b == 0) tr.end() else if (a.trace) tr.resume()
      val base = WarmupFiles + n1 + b * BacklogFiles
      val tLand = System.currentTimeMillis()
      for (t <- Topos; i <- base until base + BacklogFiles) rig.land(t, i, tLand)
      val ok = rig.awaitCommitted(Topos.map(_ -> (base + BacklogFiles)).toMap, tLand + 90000)
      led.check("phase-2 backlog drained", ok)
      val lastEnd = log.all.filter(p => ids.contains(p.query) && p.rows > 0).map(_.endMs).max
      drains :+= (((Topos.size * BacklogFiles * LinesPerFile) / ((lastEnd - tLand) / 1e3)), traced)
    }
    tr.end()
    // the queries still run and hold their state
    val heapMb = Stats.retainedHeapMb()

    // ---- resolve latencies from checkpoint logs + progress ----------------
    val prog = log.all.filter(p => ids.contains(p.query))
    val endOf = prog.map(p => (ids(p.query), p.batch) -> p.endMs).toMap
    val batchOf = Topos.map(t => t -> commitBatches(rig.ckpt(t))).toMap
    val p1Files = rig.landed.drop(landedBefore).take(n1 * Topos.size).toSeq
    val lat = p1Files.flatMap { case (t, name, due, _) =>
      batchOf(t).get(name).flatMap(b => endOf.get((t, b))).map(e => (due, (e - due).toDouble))
    }
    val lateMax = p1Files.map { case (_, _, due, at) => (at - due).toDouble }.max
    val uncommitted = p1Files.size - lat.size
    // backlog at each due instant: files due so far minus files committed
    val commitTimes = lat.map { case (due, l) => due + l }.sorted
    val backlog = p1Files.map(_._3).sorted.zipWithIndex.map { case (due, k) =>
      (k + 1) - commitTimes.count(_ <= due)
    }
    val third = math.max(1, backlog.size / 3)
    val (bFirst, bLast) = (Stats.mean(backlog.take(third).map(_.toDouble)),
      Stats.mean(backlog.takeRight(third).map(_.toDouble)))
    val overCapacity = !p1All || bLast > 2 * bFirst + 3 * Topos.size
    led.attempted += p1Files.size
    led.failed += (if (overCapacity) p1Files.size else uncommitted)
    if (overCapacity)
      notes += f"phase 1 OVER CAPACITY: backlog grew from $bFirst%.1f to $bLast%.1f files; latency not valid"

    // ---- reference checks (untimed): streaming == batch == model ----------
    val arrived = Topos.map(t => t -> payload(t).take(rig.landed.count(_._1 == t))).toMap
    var batchS = 0.0
    Topos.foreach { t =>
      val streamRes = rig.results(t).asScala.toMap
      val t0 = System.nanoTime()
      val batchRes = keyed(topology(spark, t, rig.in(t).toString, stream = false).collect().toSeq)
      batchS += (System.nanoTime() - t0) / 1e9
      val model = modelResult(t, arrived(t))
      led.check(s"$t streaming==batch", streamRes == batchRes,
        s"(${streamRes.size} vs ${batchRes.size} keys)")
      led.check(s"$t batch==model", batchRes == model,
        s"(${batchRes.size} vs ${model.size} keys)")
      if (t == "topk") {
        val top = Relational.topK(topology(spark, t, rig.in(t).toString, stream = false),
          TopK, desc = "cnt", tieBreak = "username").collect().map(_.getString(0)).toSeq
        val ref = model.toSeq.sortBy { case (u, c) => (-c.toLong, u) }.take(TopK).map(_._1)
        led.check("topk top-50", top == ref)
      }
    }

    val metrics =
      if (!a.trace) {
        val lats = lat.map(_._2)
        notes += f"stream latency over ${lats.size} files (pooled over 3 topologies), " +
          f"p${Stats.supportedPct(lats.size).getOrElse(0)} supported, p90 ${Stats.pct(lats, 90)}%.0f ms; generator late max $lateMax%.1f ms; " +
          "set-up " + setupS.map(x => f"$x%.2f").mkString("/") + " s; p50 by third " +
          lat.sortBy(_._1).grouped(math.max(1, lat.size / 3)).map(g => f"${Stats.median(g.map(_._2))}%.0f").mkString("/") +
          " ms; drains " + drains.map(d => f"${d._1}%.0f").mkString("/") + " rows/s"
        Seq(
          "latency_p50_ms" -> Stats.pct(lats, 50),
          "throughput_per_s" -> drains.head._1,
          "setup_s" -> Stats.median(setupS),
          "retained_heap_mb" -> heapMb)
      } else {
        // parse throughput: the same source functions, batch, noop sink
        val parseT0 = System.nanoTime()
        val parsedRows = Topos.map { t =>
          val df = parseOnly(spark, t, rig.in(t).toString)
          df.write.format("noop").mode("overwrite").save()
          arrived(t).size.toLong * LinesPerFile
        }.sum
        val parseS = (System.nanoTime() - parseT0) / 1e9
        // phase 1 is the traced stream window (the first backlog is not)
        val p1End = p1Files.map(_._4).max + 1
        val traced = prog.filter(p => p.startMs >= p1Start && p.startMs <= p1End)
        val data = traced.filter(_.rows > 0)
        def d(p: Progress, k: String) = p.durMs.getOrElse(k, 0L).toDouble
        val coord = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
        val streamJobs = tr.allJobs.count(j =>
          ids.contains(j.query) && j.start >= p1Start && j.start <= p1End)
        val lastState = Topos.map(t => prog.filter(p => ids(p.query) == t).maxBy(_.batch))
        val st = tr.sparkTotals
        val self = tr.selfSecondsByLayer
        val activeS = tr.activeS
        rig.stop()
        spark.streams.removeListener(log)
        val one = drainOneCore(spark, a, payload)
        Layers.metrics(
          Seq(
            "streaming.latency_p90_ms" -> Stats.pct(lat.map(_._2), 90),
            "streaming.trigger_ms_p50" -> Stats.median(data.map(d(_, "triggerExecution"))),
            "streaming.coord_ms_p50" -> Stats.median(data.map(p => coord.map(d(p, _)).sum)),
            "streaming.add_batch_ms_p50" -> Stats.median(data.map(d(_, "addBatch"))),
            "streaming.jobs_per_trigger" -> streamJobs.toDouble / math.max(1, data.size),
            "streaming.rows_per_trigger_p50" -> Stats.median(data.map(_.rows.toDouble)),
            "streaming.empty_trigger_frac" -> (traced.size - data.size).toDouble / math.max(1, traced.size),
            "streaming.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
            "streaming.state_rows_end" -> lastState.map(_.stateRows).sum.toDouble,
            "streaming.state_mem_mb_end" -> lastState.map(_.stateMemBytes).sum / 1048576.0,
            "streaming.drain_rows_per_s_1core" -> one,
            "sources.parse_rows_per_s" -> parsedRows / parseS,
            "relational.crane_batch_s" -> batchS,
            "harness.generator_late_ms_max" -> lateMax,
            "harness.trace_overhead_frac" -> (drains(0)._1 / drains(1)._1 - 1.0)),
          st, activeS, self)
      }
    if (!a.trace) spark.streams.removeListener(log)
    notes ++= led.mismatches
    Outcome(led.attempted, led.failed, led.failed == 0, metrics, notes.toSeq)
  }

  /** Phase 2 again on a single executor thread: the one-core baseline. The
    * main session is stopped first (one SparkContext per JVM).
    */
  private def drainOneCore(spark: SparkSession, a: Main.Args,
                           payload: Map[String, IndexedSeq[String]]): Double = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    val one = graft.GraftSession.local(1, "perfbench-crane-1core")
    try {
      val log = new ProgressLog
      one.streams.addListener(log)
      val rig = new Rig(one, a.work.resolve("crane/one"), 99, log,
        payload.map { case (t, p) => t -> p.take(BacklogFiles) })
      rig.stageAll()
      rig.start()
      val tLand = System.currentTimeMillis()
      for (t <- Topos; i <- 0 until BacklogFiles) rig.land(t, i, tLand)
      rig.awaitCommitted(Topos.map(_ -> BacklogFiles).toMap, tLand + 120000)
      val lastEnd = log.all.filter(_.rows > 0).map(_.endMs).max
      rig.stop()
      Topos.size * BacklogFiles * LinesPerFile / ((lastEnd - tLand) / 1e3)
    } finally one.stop()
  }
}
