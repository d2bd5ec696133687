package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: its inputs come from the seed alone; `rounds` whole
  * rounds of identical operation kinds make one run's fixed work.
  */
trait Workload {
  /** Rounds in the timed phase (fixed by `--seconds`, never by the clock). */
  def rounds: Int
  def setup(spark: SparkSession, scratch: File, rec: Recorder): Unit
  /** Runs every operation kind once, untimed, on small inputs. */
  def warmup(spark: SparkSession, rec: Recorder): Unit
  def round(spark: SparkSession, i: Int, rec: Recorder): Unit
  /** Independent checks of every recorded output; one line per failure. */
  def verify(): Seq[String]
  def inputBytes: Long
  /** Directories holding everything the workload persisted. */
  def persisted: Seq[File]
  def recall: Double
  /** The workload's own layer metrics (module spans, ratios, sizes). */
  def layers(rec: Recorder, trace: Option[Trace]): Map[String, Metric]
}

final case class Metric(value: Double, unit: String)

/** Outcome of the timed phase. Latencies are in nanoseconds, steal taken
  * out; `opNs` is their sum.
  */
final case class Result(
    attempted: Int, failed: Int,
    reads: Seq[Long], writes: Seq[Long],
    rows: Long, opNs: Long, cpuNs: Long, gcMs: Long,
    setupS: Double, heapPeakMb: Double)

/** Times operations, spans and the timed phase. Checks that run inside
  * the timed phase go through [[untimed]], whose CPU time is taken out of
  * the phase total.
  *
  * Every end-to-end time is wall time with the share of CPU time the
  * hypervisor stole over the same interval taken out ([[Recorder.unstolen]]):
  * on a shared virtual machine that share moves from 0 to 40% within
  * minutes, and raw wall latencies moved with it by up to 2×.
  */
final class Recorder(spark: SparkSession, val trace: Option[Trace]) {
  private val reads = mutable.ArrayBuffer.empty[Long]
  private val writes = mutable.ArrayBuffer.empty[Long]
  private val rawReads = mutable.ArrayBuffer.empty[Long]
  private val rawWrites = mutable.ArrayBuffer.empty[Long]
  /** Latencies (steal taken out) by operation label, for stderr only. */
  private val byLabel = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  private var rows = 0L
  private var failed = 0
  private var excludedCpuNs = 0L
  private var timing = false
  private val spanNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val spanCalls = mutable.Map.empty[String, Int].withDefaultValue(0)
  /** (start ms, end ms, kind) of every timed operation. */
  val windows = mutable.ArrayBuffer.empty[(Long, Long, String)]

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow(): Long = osBean.getProcessCpuTime
  private def gcMsNow(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Times one read or write. `body` returns the rows it moved: rows
    * handed to the engine by a write, rows returned to the caller by a
    * read. An exception counts the operation as failed. `label` groups
    * the latencies printed per label on stderr.
    */
  def op(kind: String, label: String = "")(body: => Long): Unit = {
    require(kind == "read" || kind == "write")
    spark.sparkContext.setLocalProperty(Trace.OpKey, if (timing) kind else null)
    val startMs = System.currentTimeMillis()
    val st0 = Recorder.cpuTicks()
    val t0 = System.nanoTime()
    val moved =
      try Some(body)
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $kind failed: $e")
          None
      }
    val dt = System.nanoTime() - t0
    val adjusted = Recorder.unstolen(dt, st0, Recorder.cpuTicks())
    spark.sparkContext.setLocalProperty(Trace.OpKey, null)
    if (timing) {
      windows += ((startMs, System.currentTimeMillis(), kind))
      moved match {
        case Some(n) =>
          rows += n
          (if (kind == "read") reads else writes) += adjusted
          (if (kind == "read") rawReads else rawWrites) += dt
          if (label.nonEmpty) byLabel.getOrElseUpdate(label, mutable.ArrayBuffer.empty) += adjusted
        case None => failed += 1
      }
    }
  }

  /** Times a call into one module's public function under `name`
    * (recorded in the timed phase only, steal taken out).
    */
  def span[T](name: String)(body: => T): T = {
    val st0 = Recorder.cpuTicks()
    val t0 = System.nanoTime()
    try body
    finally if (timing) {
      spanNs(name) += Recorder.unstolen(System.nanoTime() - t0, st0, Recorder.cpuTicks())
      spanCalls(name) += 1
    }
  }

  def spanMeanMs(name: String): Double =
    if (spanCalls(name) == 0) 0.0 else spanNs(name) / 1e6 / spanCalls(name)

  /** Runs a check inside the timed phase without charging it to the run. */
  def untimed[T](body: => T): T = {
    val c0 = cpuNow()
    try body
    finally if (timing) excludedCpuNs += cpuNow() - c0
  }

  def timedPhase(rounds: Int)(round: Int => Unit): Result = {
    trace.foreach(_.drain())
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val setupS = Recorder.unstolen(Main.sinceJvmStartMs() * 1000000L,
      Main.startTicks, Recorder.cpuTicks()) / 1e9
    val gc0 = gcMsNow(); val c0 = cpuNow()
    timing = true
    trace.foreach(_.begin())
    (0 until rounds).foreach(round)
    trace.foreach(_.end())
    timing = false
    val cpu = cpuNow() - c0 - excludedCpuNs
    val gc = gcMsNow() - gc0
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    trace.foreach(_.drain())
    System.err.println(f"[perfbench] raw wall p50: read ${Recorder.percentile(rawReads.toSeq, 50) / 1e6}%.1f ms, " +
      f"write ${Recorder.percentile(rawWrites.toSeq, 50) / 1e6}%.1f ms; " +
      f"stolen share of op time ${1 - (reads.sum + writes.sum).toDouble / (rawReads.sum + rawWrites.sum)}%.3f")
    byLabel.toSeq.sortBy(_._1).foreach { case (l, xs) =>
      System.err.println(f"[perfbench] p50 of $l: ${Recorder.percentile(xs.toSeq, 50) / 1e6}%.1f ms (${xs.size} ops)")
    }
    Result(reads.size + writes.size + failed, failed, reads.toSeq,
      writes.toSeq, rows, reads.sum + writes.sum, cpu, gc, setupS, heapPeak)
  }

  def endToEnd(r: Result, w: Workload): Map[String, Metric] = {
    val ops = math.max(1, r.attempted)
    val stored = w.persisted.map(Recorder.du).map(_._1).sum
    Map(
      "setup_s" -> Metric(r.setupS, "s"),
      "read_p50_ms" -> Metric(Recorder.percentile(r.reads, 50) / 1e6, "ms"),
      "read_tail_ms" -> Metric(
        Recorder.percentile(r.reads, Recorder.tailPercentile(r.reads.size)) / 1e6, "ms"),
      "write_p50_ms" -> Metric(Recorder.percentile(r.writes, 50) / 1e6, "ms"),
      "rows_per_s" -> Metric(r.rows / (r.opNs / 1e9), "rows/s"),
      "cpu_ms_per_op" -> Metric(r.cpuNs / 1e6 / ops, "ms"),
      "stored_bytes_per_input_byte" -> Metric(stored.toDouble / w.inputBytes, "ratio"),
      "recall" -> Metric(w.recall, "ratio"),
      "rss_peak_mb" -> Metric(Recorder.rssPeakMb(), "MB"))
  }

  def layerMetrics(r: Result, w: Workload): Map[String, Metric] = {
    val ops = math.max(1, r.attempted)
    val common = trace.map(_.perOp(ops, windows.toSeq)).getOrElse(Map.empty) ++ Map(
      "jvm.gc_ms_per_op" -> Metric(r.gcMs.toDouble / ops, "ms"),
      "jvm.heap_peak_mb" -> Metric(r.heapPeakMb, "MB"))
    Recorder.layerNames.map { case (n, u) => n -> Metric(0.0, u) }.toMap ++
      common ++ w.layers(this, trace)
  }
}

object Recorder {
  /** The per-layer metrics every traced run reports, with their units
    * (BENCHMARK.json lists the same). A layer a workload does not exercise
    * reads 0 on that workload.
    */
  val layerNames: Seq[(String, String)] = Seq(
    "connector.stage_ms" -> "ms", "connector.create_ms" -> "ms",
    "connector.load_ms" -> "ms", "connector.read_ms" -> "ms",
    "connector.staged_bytes_per_row" -> "bytes/row", "connector.table_files" -> "count",
    "llm.text.gate_ms" -> "ms", "llm.text.kept_per_input" -> "ratio",
    "llm.dedup.probe_ms" -> "ms", "llm.dedup.append_ms" -> "ms",
    "llm.dedup.candidates_per_doc" -> "ratio", "llm.dedup.verified_per_candidate" -> "ratio",
    "llm.dedup.index_bytes" -> "bytes", "llm.dedup.index_files" -> "count",
    "llm.ann.build_ms" -> "ms", "llm.ann.serve_ms" -> "ms", "llm.ann.append_ms" -> "ms",
    "llm.ann.index_bytes" -> "bytes", "llm.ann.index_files" -> "count",
    "spark.catalyst_ms_per_op" -> "ms", "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.driver_ms_per_op" -> "ms", "spark.task_cpu_ms_per_op" -> "ms",
    "spark.task_run_ms_per_op" -> "ms", "spark.input_bytes_per_op" -> "bytes",
    "spark.shuffle_read_bytes_per_op" -> "bytes",
    "spark.shuffle_write_bytes_per_op" -> "bytes", "spark.spill_bytes_per_op" -> "bytes",
    "jvm.gc_ms_per_op" -> "ms", "jvm.heap_peak_mb" -> "MB")

  /** Nearest-rank percentile (0 for no samples). */
  def percentile(xs: Seq[Long], p: Int): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)).toDouble
    }

  /** The highest percentile with at least ten samples beyond it; with
    * fewer than forty samples there is no tail, and the median stands in.
    */
  def tailPercentile(n: Int): Int =
    if (n < 40) 50
    else (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).get

  /** (bytes, files) of every regular file under `f`. */
  def du(f: File): (Long, Int) =
    if (f.isFile) (f.length, 1)
    else Option(f.listFiles()).toSeq.flatten.map(du)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Data files (not checksums or markers) under `f`. */
  def dataFiles(f: File): Int =
    if (f.isFile) { if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1 }
    else Option(f.listFiles()).toSeq.flatten.map(dataFiles).sum

  /** `wallNs` less the share of CPU time stolen between two [[cpuTicks]]
    * readings: stolen / (busy + stolen) ticks of all CPUs. A CPU-bound
    * interval that ran on a fraction f of the CPU it asked for would
    * have taken f of its wall time without the steal.
    */
  def unstolen(wallNs: Long, from: (Long, Long), to: (Long, Long)): Long = {
    val busy = to._1 - from._1; val stolen = to._2 - from._2
    if (busy + stolen <= 0) wallNs
    else math.round(wallNs * (busy.toDouble / (busy + stolen)))
  }

  /** (busy, stolen) ticks of all CPUs since boot, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } finally src.close()
  }

  /** Peak resident set of this process (Linux VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally status.close()
  }
}

object Json {
  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric is not finite: $d")
    java.lang.Double.toString(d)
  }

  def metrics(m: Map[String, Metric]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"value": ${num(v.value)}, "unit": "${v.unit}"}"""
    }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
      m: Map[String, Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(m)}}"""
}
