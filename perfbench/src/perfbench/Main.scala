package perfbench

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Runs one workload in one JVM at `local[4]`, prints every metric with its
  * unit, then one JSON result line (end-to-end metrics untraced, per-layer
  * metrics traced). Exits 1 when any reference check failed.
  */
object Main {

  /** Everything a workload needs from the command line. */
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path)

  val Cores = 4

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val run: (org.apache.spark.sql.SparkSession, Args, Tracer) => Outcome =
      a.workload match {
        case "crane_stream" => CraneStream.run
        case "store_sync" => StoreSync.run
        case "batch_curate" => BatchCurate.run
        case w => sys.error(s"unknown workload $w")
      }
    Files.createDirectories(a.work)
    val spark = graft.GraftSession.local(Cores, s"perfbench-${a.workload}")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val o =
      try run(spark, a, new Tracer(spark, a.trace))
      finally spark.stop()
    println(f"[perfbench] ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      f"jvm+session start ${sessionS}%.2f s")
    o.notes.foreach(n => println(s"[perfbench] $n"))
    println(Json.result(o))
    System.out.flush()
    sys.exit(if (o.correct) 0 else 1)
  }
}
