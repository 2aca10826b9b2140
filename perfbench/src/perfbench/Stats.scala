package perfbench

import scala.collection.{Seq => CSeq}

/** Summary statistics and the result record every workload returns. */
object Stats {

  /** Linear-interpolated percentile (p in [0, 100]) of `xs`; NaN when empty. */
  def pct(xs: CSeq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: CSeq[Double]): Double = pct(xs, 50)

  def mean(xs: CSeq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Least-squares slope of y over x; NaN with fewer than two distinct x. */
  def slope(pts: CSeq[(Double, Double)]): Double = {
    val mx = mean(pts.map(_._1))
    val my = mean(pts.map(_._2))
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (pts.size < 2 || sxx == 0) Double.NaN
    else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** The highest percentile of {99, 95, 90, 75, 50} that leaves at least
    * ten samples above it, with the sample count: the reporting rule for
    * every timing this benchmark prints.
    */
  def supportedPct(n: Int): Option[Int] =
    Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10)

  /** Heap in use right after a full collection, in MiB: what the run
    * retains (engine state, caches, the harness's own model), free of the
    * collector's sizing decisions. The first collection lets Spark's
    * context cleaner release shuffles and broadcasts nothing references;
    * the second collects what that released.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The process high-water resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** What a workload run reports: operation counts, the reference verdict,
  * the end-to-end metrics (untraced) or per-layer metrics (traced) by name,
  * and free-form note lines printed before the JSON result. Units live in
  * BENCHMARK.json; the command attaches them.
  */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
                         metrics: Seq[(String, Double)],
                         notes: Seq[String])

/** Counts attempted and failed operations and collects reference-check
  * mismatches; a thrown public call counts as one failed operation.
  */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val mismatches = scala.collection.mutable.ArrayBuffer[String]()

  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        mismatches += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** An untimed reference check: a mismatch is a failed operation. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; mismatches += s"$what mismatch $detail" }
  }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def result(o: Outcome): String = {
    val ms = o.metrics.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": {$ms}}"""
  }
}

/** The per-layer fields every traced run shares: Spark engine totals and
  * per-layer self time.
  */
object Layers {
  def metrics(values: Seq[(String, Double)], st: SparkTotals, activeS: Double,
              self: Map[String, Double]): Seq[(String, Double)] =
    values ++ Seq(
      "spark.jobs" -> st.jobs.toDouble,
      "spark.stages" -> st.stages.toDouble,
      "spark.tasks" -> st.tasks.toDouble,
      "spark.shuffle_write_mb" -> st.shuffleWriteMb,
      "spark.spill_mb" -> st.spillMb,
      "spark.gc_s" -> st.gcS,
      "spark.task_cpu_frac" -> st.cpuS / (activeS * Main.Cores),
      "jvm.peak_rss_mb" -> Stats.peakRssMb()) ++
      self.toSeq.sortBy(_._1).map { case (l, v) => s"self.${l}_s" -> v }
}
