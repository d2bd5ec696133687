package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <etl|curate|search> --seed <n>
  * --seconds <s> --trace <0|1> --scratch <empty dir>`.
  *
  * One run is one workload in this JVM: set-up (input generation, table
  * and index creation, untimed warm-up), then a timed phase of whole
  * rounds of that workload's operations in a closed loop on this one
  * thread, then the checks against the independent computations. The last
  * line of stdout is the result JSON; exit code 1 when any check fails.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, scratch: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", new File(need("--scratch")).getAbsoluteFile)
  }

  /** Local mode with at most 4 task threads and never more than the
    * machine has; fixed shuffle partitions; every Spark directory inside
    * the run's scratch directory.
    */
  def session(scratch: File): SparkSession = {
    val threads = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").toURI.toString)
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(scratch, "hadoop-tmp").getPath)
      .config("spark.sql.catalogImplementation", "in-memory")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** CPU ticks when `main` started: the closest reading to JVM start. */
  lazy val startTicks: (Long, Long) = Recorder.cpuTicks()

  def main(argv: Array[String]): Unit = {
    startTicks
    val args = parse(argv)
    require(args.seconds >= 1, "--seconds must be at least 1")
    args.scratch.mkdirs()
    require(Option(args.scratch.list()).forall(_.isEmpty),
      s"scratch directory ${args.scratch} must be empty")
    val workload: Workload = args.workload match {
      case "etl"    => new Etl(args.seed, args.seconds)
      case "curate" => new Curate(args.seed, args.seconds)
      case "search" => new Search(args.seed, args.seconds)
      case other    => sys.error(s"unknown workload $other")
    }
    val spark = session(args.scratch)
    val trace = if (args.trace) Some(Trace.install(spark)) else None
    val rec = new Recorder(spark, trace)
    def stamp(what: String) =
      System.err.println(f"[perfbench] ${Main.sinceJvmStartMs() / 1000.0}%.2f s: $what")
    try {
      stamp("session started")
      workload.setup(spark, args.scratch, rec)
      stamp("set-up done")
      workload.warmup(spark, rec)
      stamp("warm-up done")
      val result = rec.timedPhase(workload.rounds) { i => workload.round(spark, i, rec) }
      stamp("timed phase done")
      val failures = workload.verify()
      stamp("checks done")
      failures.take(20).foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
      val metrics =
        if (args.trace) rec.layerMetrics(result, workload)
        else rec.endToEnd(result, workload)
      if (args.trace)
        System.err.println(s"[perfbench] traced run end-to-end: ${
          Json.metrics(rec.endToEnd(result, workload))}")
      println(Json.result(failures.isEmpty, result.attempted, result.failed, metrics))
      System.out.flush()
      if (failures.nonEmpty) sys.exit(1)
    } finally spark.stop()
  }

  /** Wall milliseconds since this JVM started (set-up includes JVM and
    * Spark start, not the launcher's).
    */
  def sinceJvmStartMs(): Long =
    System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
}
