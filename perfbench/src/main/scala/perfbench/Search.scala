package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.llm.AnnIndex

/** Vector search: an IVF-PQ index built in set-up over clustered
  * 64-dimensional embeddings; reads serve top-10 for held-out queries,
  * writes append batches of new vectors between them.
  */
object Search {
  val dim = 64
  val k = 10

  /** Cosine rounded to 6 places, as the engine scores its rerank. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
    i = 0
    while (i < a.length) { na += a(i).toDouble * a(i); i += 1 }
    i = 0
    while (i < b.length) { nb += b(i).toDouble * b(i); i += 1 }
    BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Exact top-k by brute force: cosine descending, then id ascending. */
  def exactTopK(q: Array[Float], index: Seq[(Long, Array[Float])]): Seq[(Long, Double)] =
    index.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k)

  /** One served query: its vector, the ids indexed when it ran (a
    * prefix of the index order), the engine's answer, and, for a copy of
    * an appended vector, that vector's id.
    */
  final case class Served(qid: Long, q: Array[Float], indexedBefore: Int,
      got: Seq[(Long, Double)], copyOf: Option[Long])

  final class Gen(seed: Long) {
    private val r = new SplittableRandom(seed * 13 + 7)
    private def gauss(): Double = {
      // Box-Muller on the seeded stream
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    private val centers = Array.fill(24)(Array.fill(dim)(gauss()))
    def vector(): Array[Float] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(dim)(i => (c(i) + 0.6 * gauss()).toFloat)
    }
    def pick(n: Int): Int = r.nextInt(n)
  }

  def frame(spark: SparkSession, vs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(vs.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)))))

  /** Checks every served answer; returns (failures, mean recall@k). */
  def verify(served: Seq[Served], index: IndexedSeq[(Long, Array[Float])]): (Seq[String], Double) = {
    val fails = mutable.ArrayBuffer.empty[String]
    val pos = index.zipWithIndex.map { case ((id, _), i) => id -> i }.toMap
    val recalls = served.map { s =>
      val live = index.take(s.indexedBefore)
      val exact = exactTopK(s.q, live)
      if (s.got.size != k) fails += s"search query ${s.qid}: ${s.got.size} results, want $k"
      if (s.got.map(_._1).distinct.size != s.got.size)
        fails += s"search query ${s.qid}: repeated ids"
      if (s.got != s.got.sortBy { case (id, c) => (-c, id) })
        fails += s"search query ${s.qid}: results out of order"
      s.got.foreach { case (id, c) =>
        pos.get(id).filter(_ < s.indexedBefore) match {
          case None => fails += s"search query ${s.qid}: id $id was not indexed"
          case Some(i) =>
            val want = cosine(s.q, index(i)._2)
            if (math.abs(want - c) > 1e-6)
              fails += s"search query ${s.qid}: id $id scored $c, exact cosine $want"
        }
      }
      s.copyOf.foreach { id =>
        if (!s.got.headOption.exists(_._1 == id))
          fails += s"search query ${s.qid}: appended vector $id not at rank 1 (got ${s.got.headOption})"
      }
      (s.got.map(_._1).toSet intersect exact.map(_._1).toSet).size.toDouble / k
    }
    (fails.toSeq, if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size)
  }
}

final class Search(seed: Long, seconds: Int) extends Workload {
  import Search._

  private val initialVectors = 500
  private val appendSize = 25
  private val queriesPerRound = 10
  /** Appends interleaved with a round's serves, after its 4th, 7th and
    * 10th, so that write_p50_ms is a median of six writes, not of two.
    */
  private val appendsPerRound = 3
  /** A timed round takes about 12 s on a 4-core 2 GHz machine, so 20
    * seconds make 2 rounds: 20 reads and 6 writes.
    */
  val rounds: Int = math.max(1, math.ceil(seconds / 10.0).toInt)

  private val gen = new Gen(seed)
  private var scratch: File = _
  private def indexPath = new File(scratch, "ann-index").getPath
  /** Indexed vectors in the order they entered the index. */
  private val index = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private val served = mutable.ArrayBuffer.empty[Served]
  private var appended = Seq.empty[(Long, Array[Float])]
  private var nextQuery = 1000000000L
  private var verdict: (Seq[String], Double) = _
  private var buildMs = 0.0

  private def append(spark: SparkSession, rec: Recorder): Long = {
    val batch = (0 until appendSize).map(i => (index.size.toLong + i, gen.vector()))
    rec.span("llm.ann.append_ms")(AnnIndex.appendToIndex(frame(spark, batch), indexPath))
    index ++= batch
    appended = batch
    batch.size.toLong
  }

  private def serve(spark: SparkSession, q: Array[Float], copyOf: Option[Long],
      rec: Recorder): Long = {
    nextQuery += 1
    val qid = nextQuery
    val got = rec.span("llm.ann.serve_ms") {
      AnnIndex.serveTopK(spark, indexPath, frame(spark, Seq(qid -> q)), qid, k)
        .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    }
    served += Served(qid, q, index.size, got, copyOf)
    got.size.toLong
  }

  def setup(spark: SparkSession, scratchDir: File, rec: Recorder): Unit = {
    scratch = scratchDir
    index ++= (0 until initialVectors).map(i => (i.toLong, gen.vector()))
    val t0 = System.nanoTime()
    AnnIndex.writeIndex(frame(spark, index.toSeq), indexPath)
    buildMs = (System.nanoTime() - t0) / 1e6
  }

  /** Two serves and an append on the benchmark's index; the checks
    * cover these answers too.
    */
  def warmup(spark: SparkSession, rec: Recorder): Unit = {
    (0 until 2).foreach(_ => rec.op("read")(serve(spark, gen.vector(), None, rec)))
    rec.op("write")(append(spark, rec))
  }

  def round(spark: SparkSession, i: Int, rec: Recorder): Unit = {
    (0 until queriesPerRound).foreach { j =>
      // one query per round copies a vector appended by the last write
      val copy = if (j == queriesPerRound / 2) Some(appended(gen.pick(appended.size))) else None
      rec.op("read")(serve(spark, copy.fold(gen.vector())(_._2), copy.map(_._1), rec))
      if ((j + 1) * appendsPerRound / queriesPerRound > j * appendsPerRound / queriesPerRound)
        rec.op("write")(append(spark, rec))
    }
  }

  def verify(): Seq[String] = {
    verdict = Search.verify(served.toSeq, index.toIndexedSeq)
    verdict._1
  }

  def inputBytes: Long = index.size.toLong * (8 + 4 * dim)
  def persisted: Seq[File] = Seq(new File(indexPath))
  def recall: Double = verdict._2

  def layers(rec: Recorder, trace: Option[Trace]): Map[String, Metric] = {
    val (bytes, _) = Recorder.du(new File(indexPath))
    Map(
      "llm.ann.build_ms" -> Metric(buildMs, "ms"),
      "llm.ann.serve_ms" -> Metric(rec.spanMeanMs("llm.ann.serve_ms"), "ms"),
      "llm.ann.append_ms" -> Metric(rec.spanMeanMs("llm.ann.append_ms"), "ms"),
      "llm.ann.index_bytes" -> Metric(bytes.toDouble, "bytes"),
      "llm.ann.index_files" -> Metric(Recorder.dataFiles(new File(indexPath)).toDouble, "count"))
  }
}
