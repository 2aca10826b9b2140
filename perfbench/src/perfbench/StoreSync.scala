package perfbench

import java.nio.file.{Files, Path}

import graft.operators.{Curation, IndexSync, Similarity, StoreMaintenance, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._
import scala.util.Random

/** `store_sync`: a closed loop with one client over two CDC snapshot stores
  * (documents and embeddings), each followed by an index (BM25 text, IVF
  * vectors). Every version runs
  * `Curation.writeSnapshotDelta` → `StoreMaintenance.maintainSnapshotStore`
  * → `IndexSync.sync{Text,Ivf}IndexFromSnapshots` →
  * `StoreMaintenance.maintain{Text,Ivf}Index`, then a fixed set of seeded
  * BM25 and IVF searches. Churn is constant (`ChurnFrac` of live rows per
  * version), and a run covers a fixed number of whole maintenance periods:
  * freshness grows with the delta chain and falls after compaction, so a
  * wall-clock window would measure a different mix of chain lengths.
  */
object StoreSync {

  val NDocs = 1000
  val NVecs = 400
  val ChurnFrac = 0.03
  /** `maintainSnapshotStore` compacts once the chain exceeds this. */
  val MaxChain = 1
  /** Versions in one maintenance period: the chain grows 1..MaxChain+1. */
  val Period: Int = MaxChain + 1
  val Periods = 1
  val Buckets = 16
  val TextQueries = 4
  val VecQueries = 4
  val K = 10
  val SetupReps = 2

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val VecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
  private val IdSchema = StructType(Seq(StructField("id", LongType)))

  /** One store's churn for one version, as the generator logged it. */
  final case class Churn(upserts: Seq[(Long, Any)], deletes: Seq[Long],
                         added: Int, changed: Int)

  /** The generator's own model of both corpora, advanced from its churn log. */
  final class Model(seed: Long) {
    val docs = scala.collection.mutable.LinkedHashMap[Long, String]()
    val vecs = scala.collection.mutable.LinkedHashMap[Long, Array[Float]]()
    docs ++= Gen.documents(NDocs, seed)
    vecs ++= Gen.embeddings(NVecs, seed)
    private var nextDoc = NDocs.toLong
    private var nextVec = NVecs.toLong

    private def churn[V](live: scala.collection.mutable.LinkedHashMap[Long, V],
                         r: Random, fresh: () => V, next: () => Long): Churn = {
      val n = math.max(3, math.round(live.size * ChurnFrac).toInt)
      val nUpd = n * 4 / 10
      val nDel = n * 3 / 10
      val nAdd = n - nUpd - nDel
      val picked = r.shuffle(live.keys.toIndexedSeq).take(nUpd + nDel)
      val upd = picked.take(nUpd).map(id => id -> fresh())
      val del = picked.drop(nUpd)
      val add = (0 until nAdd).map(_ => next() -> fresh())
      del.foreach(live.remove)
      (upd ++ add).foreach { case (id, v) => live(id) = v }
      Churn(upd ++ add, del, nAdd, nUpd)
    }

    def docChurn(version: Long): Churn = {
      val r = new Random(seed * 7919L + version)
      churn(docs, r, () => Gen.docText(r), () => { nextDoc += 1; nextDoc - 1 })
    }

    def vecChurn(version: Long): Churn = {
      val r = new Random(seed * 104729L + version)
      churn(vecs, r, () => Gen.vector(r),
        () => { nextVec += 1; nextVec - 1 })
    }

    /** Seeded query vectors (ids below zero, so none is a corpus member). */
    def vecQueries(r: Random): Seq[(Long, Array[Float])] =
      (1 to VecQueries).map(i => -i.toLong -> Gen.vector(r))
  }

  /** The two stores and their indexes under one root, with the version the
    * indexes last applied.
    */
  final class Stores(val root: Path) {
    val docs: String = root.resolve("docs_store").toString
    val vecs: String = root.resolve("vecs_store").toString
    val textIdx: String = root.resolve("text_index").toString
    val ivfIdx: String = root.resolve("ivf_index").toString
    var appliedText = 1L
    var appliedIvf = 1L
  }

  private def docFrame(spark: SparkSession, rows: Seq[(Long, Any)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, t) => Row(id, t) }.asJava, DocSchema)

  private def vecFrame(spark: SparkSession, rows: Seq[(Long, Any)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) =>
      Row(id, v.asInstanceOf[Array[Float]].toSeq)
    }.asJava, VecSchema)

  private def idFrame(spark: SparkSession, ids: Seq[Long], name: String): DataFrame =
    spark.createDataFrame(ids.map(Row(_)).asJava, IdSchema).withColumnRenamed("id", name)

  /** Newest version present in a store's listing, fulls and deltas alike. */
  private def newest(store: String): Long =
    (Curation.snapshotVersions(store) ++ Curation.deltaVersions(store)).max

  private def chainLen(store: String): Int = {
    val full = Curation.snapshotVersions(store).max
    Curation.deltaVersions(store).count(_ > full)
  }

  private def fileCount(root: Path): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.toString).toSet

  /** Per-version record. */
  final case class VersionRec(freshnessS: Double, chainLen: Int,
                              deltaS: Double, maintainS: Double, syncTextS: Double,
                              syncIvfS: Double, idxMaintainS: Double,
                              liveSegments: Seq[Long], churnRows: Int,
                              filesWritten: Int, traced: Boolean)

  def run(spark: SparkSession, a: Main.Args, tr: Tracer): Outcome = {
    val led = new Ledger
    val notes = scala.collection.mutable.ArrayBuffer[String]()
    val qr = new Random(a.seed * 31L + 5)
    val textQueries = (1 to TextQueries).map(_ =>
      Seq.fill(2 + qr.nextInt(2))(Gen.DocVocab(qr.nextInt(Gen.DocVocab.length))).distinct)

    // ---- set-up, repeated: corpus, v1 stores, index builds; then warm-up
    // searches, whose time is added once -------------------------------------
    var st: Stores = null
    var model: Model = null
    var vecQ: Seq[(Long, Array[Float])] = null
    val buildS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      model = new Model(a.seed)
      vecQ = model.vecQueries(new Random(a.seed * 31L + 7))
      st = new Stores(a.work.resolve(s"store/r$rep"))
      Curation.writeSnapshot(docFrame(spark, model.docs.toSeq), st.docs, 1)
      Curation.writeSnapshot(vecFrame(spark, model.vecs.toSeq), st.vecs, 1)
      TextAnalysis.buildTextIndex(spark.read.schema(DocSchema).parquet(s"${st.docs}/version=1"),
        "doc_id", "text", st.textIdx, buckets = Buckets)
      Similarity.buildIvfIndexAdaptive(spark.read.schema(VecSchema).parquet(s"${st.vecs}/version=1"),
        "vec_id", "embedding", st.ivfIdx)
      (System.nanoTime() - t0) / 1e9
    }
    // one query of each kind warms the search path; the version path stays
    // cold for the first measured version (a run affords one maintenance
    // period, and a warm-up version would cost as much again)
    val warmT0 = System.nanoTime()
    searches(spark, st, textQueries.take(1), vecQ.take(1), tr, led,
      scala.collection.mutable.Map.empty)
    spark.catalog.clearCache()
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = Stats.median(buildS) + warmS

    // ---- measured: whole maintenance periods, then the traced copy --------
    val nVersions = Periods * Period
    val recs = scala.collection.mutable.ArrayBuffer[VersionRec]()
    val searchMs = scala.collection.mutable.ArrayBuffer[(String, Double, Boolean)]()
    // the BM25 answers of the latest measured round, checked after the run
    val lastText = scala.collection.mutable.Map[Seq[String], Seq[(Long, Long)]]()
    val rounds = if (a.trace) Seq(false, true) else Seq(false)
    val measuredT0 = System.nanoTime()
    rounds.foreach { traced =>
      if (traced) tr.begin()
      (0 until nVersions).foreach { _ =>
        version(spark, st, model, tr, led, traced, filesToo = traced).foreach(recs += _)
        searchMs ++= searches(spark, st, textQueries, vecQ, tr, led, lastText).map {
          case (k, ms) => (k, ms, traced)
        }
        spark.catalog.clearCache()
      }
      if (traced) tr.end()
    }

    val measuredS = (System.nanoTime() - measuredT0) / 1e9
    val heapMb = Stats.retainedHeapMb()

    // ---- reference check (untimed): the indexes against the model ----------
    val checkT0 = System.nanoTime()
    val modelDocs = docFrame(spark, model.docs.toSeq).cache()
    textQueries.foreach { terms =>
      val got = lastText.getOrElse(terms, Nil)
      val ref = TextAnalysis.bm25Search(modelDocs, "doc_id", "text", terms, k = K)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_micro"))).toSeq
      led.check(s"bm25 ${terms.mkString("+")}", got == ref, s"$got vs $ref")
    }
    val qdf = vecFrame(spark, vecQ)
    val got = Similarity.searchIvfIndex(spark, st.ivfIdx, qdf, "vec_id", "embedding",
      k = K, nprobe = 1 << 20).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos")))
      .groupBy(_._1)
    vecQ.foreach { case (qid, qv) =>
      val ref = model.vecs.toSeq.map { case (id, v) => id -> cosine(qv, v) }
        .sortBy { case (id, c) => (-c, id) }
      val mine = got.getOrElse(qid, Array.empty).sortBy(x => (-x._3, x._2)).toSeq
      // ids must match rank by rank, except where the reference's own
      // cosines tie below the 4-decimal rounding the search reports
      val ok = mine.size == K && mine.zipWithIndex.forall { case ((_, nid, c), i) =>
        math.abs(c - ref(i)._2) <= 1e-4 &&
          (nid == ref(i)._1 || ref.exists { case (id, rc) => id == nid && math.abs(rc - ref(i)._2) <= 1e-4 })
      }
      led.check(s"ivf query $qid", ok, s"${mine.take(3)} vs ${ref.take(3)}")
    }

    val checkS = (System.nanoTime() - checkT0) / 1e9
    val untraced = recs.filter(!_.traced)
    val search = searchMs.filter(!_._3).map(_._2)
    // BM25 and IVF searches form two clusters of latencies; a median pooled
    // over both lands between them, so each kind gets its own median
    def kindMedian(k: String, traced: Boolean) =
      Stats.median(searchMs.filter(s => s._3 == traced && s._1 == k).map(_._2).toSeq)
    notes += f"${untraced.size} versions (${Periods} periods of $Period, MaxChain $MaxChain), " +
      f"${search.size} searches, median BM25 ${kindMedian("text", false)}%.0f ms, " +
      f"IVF ${kindMedian("ivf", false)}%.0f ms; " +
      "freshness " + untraced.map(r => f"${r.freshnessS}%.2f").mkString("/") + " s; set-up builds " +
      buildS.map(x => f"$x%.2f").mkString("/") + f" s + warm-up searches $warmS%.2f s; " +
      f"measured $measuredS%.2f s; reference checks $checkS%.2f s"
    val metrics =
      if (!a.trace) Seq(
        "latency_p50_ms" -> (kindMedian("text", false) + kindMedian("ivf", false)) / 2,
        "throughput_per_s" ->
          Stats.mean(untraced.map(_.churnRows.toDouble)) / Stats.median(untraced.map(_.freshnessS)),
        "setup_s" -> setupS,
        "retained_heap_mb" -> heapMb)
      else {
        val t = recs.filter(_.traced)
        val vc = tr.costs("version")
        val searchJobs = tr.costs("search").map(_.jobs.toDouble)
        Layers.metrics(Seq(
          "snapshot.delta_write_s_p50" -> Stats.median(t.map(_.deltaS)),
          "snapshot.maintain_s_p50" -> Stats.median(t.map(_.maintainS)),
          "snapshot.chain_len_mean" -> Stats.mean(t.map(_.chainLen.toDouble)),
          "snapshot.freshness_per_chain_leg_s" -> Stats.slope(t.map(r => (r.chainLen.toDouble, r.freshnessS))),
          "index.sync_text_s_p50" -> Stats.median(t.map(_.syncTextS)),
          "index.sync_ivf_s_p50" -> Stats.median(t.map(_.syncIvfS)),
          "index.maintain_s_p50" -> Stats.median(t.map(_.idxMaintainS)),
          "index.search_text_ms_p50" -> kindMedian("text", true),
          "index.search_ivf_ms_p50" -> kindMedian("ivf", true),
          "index.search_jobs_p50" -> Stats.median(searchJobs),
          "index.live_segments_p50" -> Stats.median(t.flatMap(_.liveSegments).map(_.toDouble)),
          "store.jobs_per_version" -> Stats.mean(vc.map(_.jobs.toDouble)),
          "store.tasks_per_version" -> Stats.mean(vc.map(_.tasks.toDouble)),
          "store.in_job_s_per_version" -> Stats.mean(vc.map(_.inJobS)),
          "store.driver_gap_s_per_version" -> Stats.mean(vc.map(_.driverGapS)),
          "store.files_written_per_version" -> Stats.mean(t.map(_.filesWritten.toDouble)),
          "store.rewrite_amplification" -> vc.map(_.outputRecords).sum.toDouble / t.map(_.churnRows).sum,
          // the last version of each round: same chain position, both warm
          "harness.trace_overhead_frac" -> (t.last.freshnessS / untraced.last.freshnessS - 1.0)),
          tr.sparkTotals, tr.activeS, tr.selfSecondsByLayer)
      }
    if (a.trace) tr.writeSpans(a.work.resolve(s"spans-store_sync-${a.seed}.jsonl"))
    notes ++= led.mismatches
    Outcome(led.attempted, led.failed, led.failed == 0, metrics, notes.toSeq)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** One store's leg of a version: seconds per verb, the chain length the
    * delta made, the live segments its index reports after maintenance.
    */
  final case class Leg(deltaS: Double, maintainS: Double, syncS: Double,
                       idxMaintainS: Double, chain: Int, liveSegments: Long)

  /** One version: per store, write its delta, maintain it, sync its index
    * and maintain the index; documents first, then embeddings. Freshness
    * runs from the start of the first delta write until both indexes serve
    * the new version.
    */
  private def version(spark: SparkSession, st: Stores, model: Model, tr: Tracer,
                      led: Ledger, traced: Boolean, filesToo: Boolean): Option[VersionRec] = {
    // the next version comes from the store's listing AFTER maintenance:
    // a compaction writes its full at newest + 1 (see NOTES.md)
    val v = math.max(newest(st.docs), newest(st.vecs)) + 1
    val dc = model.docChurn(v)
    val vc = model.vecChurn(v)
    val before = if (filesToo) fileCount(st.root) else Set.empty[String]
    val trace = s"v$v"
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val out = tr.span("operators", name, trace)(body)
      (out, (System.nanoTime() - t0) / 1e9)
    }
    def leg(kind: String, store: String, idCol: String, c: Churn, upserts: DataFrame,
            sync: Long => Row, maintainIndex: () => Row): Leg = {
      val dels = idFrame(spark, c.deletes, idCol)
      val (_, deltaS) = timed("Curation.writeSnapshotDelta") {
        Curation.writeSnapshotDelta(spark, store, v, upserts, dels, idCol)
      }
      val chain = chainLen(store)
      val (_, maintainS) = timed("StoreMaintenance.maintainSnapshotStore") {
        StoreMaintenance.maintainSnapshotStore(spark, store, idCol, MaxChain).collect()
      }
      val (r, syncS) = timed(s"IndexSync.sync${kind}IndexFromSnapshots")(sync(newest(store)))
      // the sync receipt must name exactly the generator's churn
      val got = (r.getAs[Long]("n_added"), r.getAs[Long]("n_changed"), r.getAs[Long]("n_removed"))
      val want = (c.added.toLong, c.changed.toLong, c.deletes.size.toLong)
      led.check(s"v$v $kind sync receipt", got == want, s"$got vs $want")
      val (m, idxS) = timed(s"StoreMaintenance.maintain${kind}Index")(maintainIndex())
      Leg(deltaS, maintainS, syncS, idxS, chain, m.getAs[Long]("n_live_legs"))
    }
    val t0 = System.nanoTime()
    val out = led.attempt(s"version $v") {
      tr.span("harness", "version", trace) {
        (leg("Text", st.docs, "doc_id", dc, docFrame(spark, dc.upserts),
            target => {
              val r = IndexSync.syncTextIndexFromSnapshots(spark, st.textIdx, st.docs,
                st.appliedText, target, "doc_id", "text", Buckets).head()
              st.appliedText = target
              r
            },
            () => StoreMaintenance.maintainTextIndex(spark, st.textIdx, Buckets).head()),
          leg("Ivf", st.vecs, "vec_id", vc, vecFrame(spark, vc.upserts),
            target => {
              val r = IndexSync.syncIvfIndexFromSnapshots(spark, st.ivfIdx, st.vecs,
                st.appliedIvf, target, "vec_id", "embedding").head()
              st.appliedIvf = target
              r
            },
            () => StoreMaintenance.maintainIvfIndex(spark, st.ivfIdx).head()))
      }
    }
    val freshness = (System.nanoTime() - t0) / 1e9
    out.map { case (d, e) =>
      val files = if (filesToo) (fileCount(st.root) -- before).size else 0
      VersionRec(freshness, d.chain, d.deltaS + e.deltaS, d.maintainS + e.maintainS,
        d.syncS, e.syncS, d.idxMaintainS + e.idxMaintainS, Seq(d.liveSegments, e.liveSegments),
        dc.upserts.size + dc.deletes.size + vc.upserts.size + vc.deletes.size, files, traced)
    }
  }

  /** The fixed query set against the current indexes: (kind, ms) each.
    * Each BM25 answer is kept in `answers` under its terms.
    */
  private def searches(spark: SparkSession, st: Stores, textQueries: Seq[Seq[String]],
                       vecQ: Seq[(Long, Array[Float])], tr: Tracer, led: Ledger,
                       answers: scala.collection.mutable.Map[Seq[String], Seq[(Long, Long)]])
      : Seq[(String, Double)] = {
    val trace = s"v${st.appliedText}"
    val text = textQueries.flatMap { terms =>
      val t0 = System.nanoTime()
      led.attempt("searchTextIndex") {
        tr.span("harness", "search", trace) {
          tr.span("operators", "TextAnalysis.searchTextIndex") {
            TextAnalysis.searchTextIndex(spark, st.textIdx, terms, k = K, buckets = Buckets).collect()
          }
        }
      }.map { rows =>
        val ms = (System.nanoTime() - t0) / 1e6
        answers(terms) = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_micro"))).toSeq
        "text" -> ms
      }
    }
    val ivf = vecQ.flatMap { case (qid, qv) =>
      val q = vecFrame(spark, Seq(qid -> qv))
      val t0 = System.nanoTime()
      led.attempt("searchIvfIndex") {
        tr.span("harness", "search", trace) {
          tr.span("operators", "Similarity.searchIvfIndex") {
            Similarity.searchIvfIndex(spark, st.ivfIdx, q, "vec_id", "embedding", k = K).collect()
          }
        }
      }.map(_ => "ivf" -> (System.nanoTime() - t0) / 1e6)
    }
    text ++ ivf
  }
}
