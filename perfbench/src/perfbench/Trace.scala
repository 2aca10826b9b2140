package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One recorded public call: layer, name, the span that caused it and the
  * trace (version, pass or file batch) it belongs to. Times are wall-clock
  * milliseconds so they line up with Spark's listener event times.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      trace: String, start: Double, var end: Double) {
  def dur: Double = end - start
}

/** Spark work attributed to one job: where it ran and what it cost. */
final case class JobRec(id: Int, span: Int, query: String, start: Long,
                        var end: Long, stages: Seq[Int],
                        var done: Boolean = false)

final case class StageRec(tasks: Int, cpuNs: Long, gcMs: Long,
                          shuffleWriteBytes: Long, spillBytes: Long,
                          outputRecords: Long)

/** Spans around the benchmark's calls into the engine's public functions,
  * plus a SparkListener that ties every job to the span that submitted it.
  *
  * Attribution rides a Spark local property: the span id is set on the
  * calling thread, and threads the engine forks inside a call (its `Par`
  * pools) are created there and inherit the property, so their jobs land
  * in the verb's span. Streaming jobs carry their query id instead.
  *
  * With tracing off, `span` only runs its body: untraced runs pay nothing.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private val current = new ThreadLocal[Span]
  private var nextId = 0
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  @volatile private var active = false
  private var activeSince = 0L
  private var activeMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.synchronized {
        jobs(e.jobId) = JobRec(e.jobId, prop(Prop).map(_.toInt).getOrElse(0),
          prop("sql.streaming.queryId").getOrElse(""), e.time, e.time,
          e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized {
        jobs.get(e.jobId).foreach { j => j.end = e.time; j.done = true }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) {
        val i = e.stageInfo
        val m = i.taskMetrics
        val rec =
          if (m == null) StageRec(i.numTasks, 0, 0, 0, 0, 0)
          else StageRec(i.numTasks, m.executorCpuTime,
            m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.outputMetrics.recordsWritten)
        stages.synchronized { stages(i.stageId) = rec }
      }
  }

  if (on) spark.sparkContext.addSparkListener(listener)

  /** Start counting: spans and jobs before this call (set-up) are dropped. */
  def begin(): Unit = if (on) {
    spans.synchronized(spans.clear())
    jobs.synchronized(jobs.clear())
    stages.synchronized(stages.clear())
    activeMs = 0L
    resume()
  }

  /** Count again after `end`, keeping what was recorded. */
  def resume(): Unit = if (on) {
    activeSince = System.currentTimeMillis()
    active = true
  }

  /** Seconds spent counting, summed over begin/resume..end windows. */
  def activeS: Double = activeMs / 1e3

  /** Stop counting once the listener bus has delivered every job end
    * (bounded wait: the bus is asynchronous).
    */
  def end(): Unit = if (on) {
    val deadline = System.currentTimeMillis() + 5000
    while (allJobs.exists(!_.done) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // stage-completed events trail job ends
    active = false
    activeMs += System.currentTimeMillis() - activeSince
  }

  def span[T](layer: String, name: String, trace: String = "")(body: => T): T =
    if (!on || !active) body
    else {
      val sc = spark.sparkContext
      val parent = Option(current.get)
      val s = spans.synchronized {
        nextId += 1
        Span(nextId, parent.map(_.id).getOrElse(0), layer, name,
          if (trace.nonEmpty) trace else parent.map(_.trace).getOrElse(""),
          System.nanoTime() / 1e6 + Trace.clockSkewMs, 0)
      }
      current.set(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime() / 1e6 + Trace.clockSkewMs
        current.set(parent.orNull)
        sc.setLocalProperty(Prop, parent.map(_.id.toString).orNull)
        spans.synchronized(spans += s)
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def allJobs: Seq[JobRec] = jobs.synchronized(jobs.values.toList)
  def stage(id: Int): Option[StageRec] = stages.synchronized(stages.get(id))

  /** Spans named `name`, and the ids of each one's subtree. */
  private def subtrees(name: String): Seq[(Span, Set[Int])] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    def under(id: Int): Set[Int] =
      Set(id) ++ kids.getOrElse(id, Nil).flatMap(c => under(c.id))
    all.filter(_.name == name).map(s => s -> under(s.id))
  }

  /** Jobs, tasks, in-job seconds (union of job intervals) and the
    * driver-side gap for each span named `name`, subtree included.
    */
  def costs(name: String): Seq[SpanCost] = {
    val js = allJobs
    subtrees(name).map { case (s, ids) =>
      val mine = js.filter(j => ids.contains(j.span))
      val inJob = Trace.unionMs(mine.map(j => (j.start.toDouble, j.end.toDouble))) / 1e3
      val st = mine.flatMap(_.stages).flatMap(stage)
      SpanCost(s, mine.size, st.map(_.tasks).sum, inJob, s.dur / 1e3 - inJob,
        st.map(_.outputRecords).sum)
    }
  }

  /** Totals over every job seen since `begin`. */
  def sparkTotals: SparkTotals = {
    val js = allJobs
    val st = js.flatMap(_.stages).distinct.flatMap(stage)
    SparkTotals(js.size, st.size, st.map(_.tasks).sum,
      st.map(_.shuffleWriteBytes).sum / 1048576.0,
      st.map(_.spillBytes).sum / 1048576.0,
      st.map(_.gcMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9)
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer.
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Trace.unionMs(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s.layer -> (s.dur - covered) / 1e3
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val jobsBySpan = allJobs.groupBy(_.span)
    val lines = allSpans.sortBy(_.start).map { s =>
      val nj = jobsBySpan.getOrElse(s.id, Nil).size
      f"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", """ +
        f""""name": "${s.name}", "trace": "${s.trace}", "start_ms": ${s.start}%.3f, """ +
        f""""end_ms": ${s.end}%.3f, "own_jobs": $nj}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

final case class SpanCost(span: Span, jobs: Int, tasks: Int, inJobS: Double,
                          driverGapS: Double, outputRecords: Long)

final case class SparkTotals(jobs: Int, stages: Int, tasks: Int,
                             shuffleWriteMb: Double, spillMb: Double,
                             gcS: Double, cpuS: Double)

object Trace {
  /** Offset from the monotonic clock to wall-clock milliseconds, fixed once
    * so span times are monotonic yet comparable with listener event times.
    */
  private[perfbench] val clockSkewMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Wall-clock time covered by a set of possibly overlapping intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
