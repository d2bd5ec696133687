package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.llm.{Dedup, TextAnalysis}
import graft.streaming.Streams

/** Corpus curation: each read gates a document batch with the Gopher
  * rules and probes the kept documents against the persisted MinHash band
  * index; each round's write appends the kept, unflagged documents to
  * that index.
  */
object Curate {
  /** A near-duplicate pair has 3-token-shingle Jaccard at or above this.
    * The band index (2 rows × 3 bands) catches a pair with probability
    * 1 − (1 − J²)³, which is ½ near J = 0.5; planted near-duplicates sit
    * near J = 0.9.
    */
  val threshold = 0.5

  /** The documented gate rule (Gopher, Rae et al. 2021, table A1): 30 to
    * 100000 space-separated tokens, mean token length 3 to 10, at least
    * 80% purely alphabetic tokens, at least two of these stopwords.
    */
  val stopwords = Set("the", "a", "and", "of", "to")
  def gate(text: String): Boolean = {
    val toks = text.split(" ", -1)
    val n = toks.length.toLong
    val sumLen = toks.map(_.length.toLong).sum
    val alpha = toks.count(t => t.nonEmpty && t.forall(c => c >= 'a' && c <= 'z')).toLong
    val stop = toks.count(stopwords).toLong
    n >= 30 && n <= 100000 &&
      1000000L * sumLen / n >= 3000000L && 1000000L * sumLen / n <= 10000000L &&
      1000000L * alpha / n >= 800000L && stop >= 2
  }

  /** 3-token shingles, each token numbered through `ids` so a shingle
    * is one Long (exact while fewer than 2^21 distinct tokens).
    */
  def shingles(text: String, ids: mutable.Map[String, Int]): Set[Long] =
    text.split(" ").map(t => ids.getOrElseUpdate(t, ids.size).toLong)
      .sliding(3).filter(_.length == 3).map(w => (w(0) << 42) | (w(1) << 21) | w(2)).toSet

  def jaccard(a: Set[Long], b: Set[Long]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size

  /** `kind`: fresh, exact, near, or low-* (planted to fail the gate);
    * `src` is the indexed document a planted duplicate copies.
    */
  final case class Doc(id: Long, text: String, kind: String, src: Long)

  /** One probed batch as the engine answered it: the gate's and the
    * probe's rows exactly as returned, duplicates included.
    */
  final case class Probe(docs: Seq[Doc], keep: Seq[(Long, Boolean)],
      hits: Seq[(Long, Long)], indexedBefore: Int)

  /** Probability that the band index (3 bands of 2 MinHash rows) flags a
    * document whose exact Jaccard with each indexed document is one of
    * `js`: one band matches a pair with probability J², so the pair
    * escapes all three with (1 − J²)³.
    */
  def flagProbability(js: Iterable[Double]): Double =
    1.0 - js.foldLeft(1.0)((p, j) => p * math.pow(1 - j * j, 3))

  /** Flags below [[threshold]] that a run may hold when the banding
    * predicts `expected` of them: a Poisson tail of about one in a
    * million at every expectation the workload reaches.
    */
  def allowedFalseFlags(expected: Double): Int =
    math.floor(expected + 3 + 5 * math.sqrt(expected)).toInt

  final class Gen(seed: Long) {
    private val r = new SplittableRandom(seed * 17 + 3)
    private val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
      "pa", "qu", "di", "ber", "cor", "fin", "gal", "hom", "lis", "mar", "tek")
    val vocab: IndexedSeq[String] = {
      val words = mutable.LinkedHashSet.empty[String]
      while (words.size < 4000) {
        val w = (0 until 1 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.size))).mkString
        if (w.length >= 3 && !stopwords(w)) words += w
      }
      words.toIndexedSeq
    }
    private val stops = stopwords.toIndexedSeq.sorted
    private def word() = vocab(r.nextInt(vocab.size))

    /** 40 to 119 tokens, stopwords at positions 1 and 5 plus ~15% more. */
    def goodText(): String = (0 until 40 + r.nextInt(80)).map { i =>
      if (i == 1 || i == 5 || r.nextInt(100) < 15) stops(r.nextInt(stops.size)) else word()
    }.mkString(" ")

    /** Each planted low-quality kind fails exactly one gate rule by a margin. */
    def lowText(kind: Int): String = kind match {
      case 0 => (0 until 8 + r.nextInt(12)).map(i => if (i == 1) "the" else word()).mkString(" ")
      case 1 => (0 until 40 + r.nextInt(40)).map { i =>
          if (i == 1 || i == 5) "of" else if (i % 3 == 0) s"${word()}${r.nextInt(1000)}" else word()
        }.mkString(" ")
      case 2 => (0 until 40 + r.nextInt(80)).map(_ => word()).mkString(" ")
      case _ => (0 until 40 + r.nextInt(40)).map { i =>
          if (i == 1 || i == 5) "and" else (0 until 5).map(_ => word()).mkString.take(16)
        }.mkString(" ")
    }

    /** About one token in 40 replaced by another vocabulary word. */
    def nearText(src: String): String = {
      val toks = src.split(" ")
      val edits = math.max(1, toks.length / 40)
      (0 until edits).foreach { _ =>
        val i = r.nextInt(toks.length)
        if (!stopwords(toks(i))) toks(i) = word()
      }
      toks.mkString(" ")
    }

    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  }

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => Row(d.id, d.text)).asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  /** Check failures; planted duplicates caught per planted duplicate;
    * flagged documents, those whose best Jaccard with an indexed document
    * clears [[threshold]], those below it, and how many below it the
    * banding predicts.
    */
  final case class Verdict(failures: Seq[String], recall: Double, flagged: Int,
      verified: Int, falseFlags: Int, expectedFalse: Double)

  /** Checks every probe against the independent computation. */
  def verify(probes: Seq[Probe], indexed: IndexedSeq[Doc]): Verdict = {
    val fails = mutable.ArrayBuffer.empty[String]
    val pos = indexed.zipWithIndex.map { case (d, i) => d.id -> i }.toMap
    val ids = mutable.HashMap.empty[String, Int]
    val sh = indexed.map(d => shingles(d.text, ids))
    val inverted = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    sh.zipWithIndex.foreach { case (s, i) =>
      s.foreach(x => inverted.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += i) }
    var planted = 0; var caught = 0; var flaggedDocs = 0; var verified = 0
    var falseFlags = 0; var expectedFalse = 0.0
    def rowsCheck(what: String, ids: Seq[Long], want: Seq[Long]): Unit =
      if (ids.size != want.size || ids.distinct.size != ids.size || ids.toSet != want.toSet)
        fails += s"curate $what returned ${ids.size} rows (${ids.distinct.size} distinct ids) " +
          s"for ${want.size} docs"
    probes.foreach { p =>
      rowsCheck("gate", p.keep.map(_._1), p.docs.map(_.id))
      val keep = p.keep.toMap
      p.docs.foreach { d =>
        val want = gate(d.text)
        if (d.kind.startsWith("low") && want)
          fails += s"curate doc ${d.id} (${d.kind}) passes the gate rule it was planted to fail"
        if (!keep.get(d.id).contains(want))
          fails += s"curate doc ${d.id} (${d.kind}): engine keep=${keep.get(d.id)}, rule says $want"
      }
      val kept = p.docs.filter(d => gate(d.text))
      rowsCheck("probe", p.hits.map(_._1), kept.map(_.id))
      val hits = p.hits.toMap
      kept.foreach { d =>
        val flagged = hits.getOrElse(d.id, 0L) > 0
        val dup = d.kind == "exact" || d.kind == "near"
        if (dup) { planted += 1; if (flagged) caught += 1 }
        if (d.kind == "exact" && !flagged)
          fails += s"curate exact duplicate ${d.id} of ${d.src} was not caught"
        if (dup && !pos.get(d.src).exists(_ < p.indexedBefore))
          fails += s"curate duplicate ${d.id} copies ${d.src}, which was not indexed"
        val mine = shingles(d.text, ids)
        val js = mine.iterator.flatMap(x => inverted.getOrElse(x, Nil))
          .filter(_ < p.indexedBefore).toSet[Int].toSeq.map(i => jaccard(mine, sh(i)))
        if (flagged) flaggedDocs += 1
        if (js.nonEmpty && js.max >= threshold) { if (flagged) verified += 1 }
        else {
          // no indexed document clears the threshold: a flag here is an
          // LSH false positive, which the banding admits at a known rate
          expectedFalse += flagProbability(js)
          if (flagged) falseFlags += 1
        }
      }
    }
    if (falseFlags > allowedFalseFlags(expectedFalse))
      fails += f"curate flagged $falseFlags documents below Jaccard $threshold; the banding " +
        f"predicts $expectedFalse%.3f, at most ${allowedFalseFlags(expectedFalse)} allowed"
    Verdict(fails.toSeq, if (planted == 0) 1.0 else caught.toDouble / planted,
      flaggedDocs, verified, falseFlags, expectedFalse)
  }
}

final class Curate(seed: Long, seconds: Int) extends Workload {
  import Curate._

  /** The band index starts at the size of the repository's bench-tier
    * documents table (sf0.1: 5000 documents).
    */
  private val initialDocs = 5000
  private val batchesPerRound = 10
  /** Per batch: 28 fresh, 4 exact and 4 near duplicates, 4 low-quality. */
  private val fresh = 28
  private val dups = 4
  /** A timed round takes about 5 s on a 4-core 2 GHz machine, so 20
    * seconds make 4 rounds: 40 reads and 4 writes.
    */
  val rounds: Int = math.max(1, math.ceil(seconds / 5.0).toInt)

  private val gen = new Gen(seed)
  private var nextId = 0L
  private var inputBytesAcc = 0L
  private var scratch: File = _
  private def indexPath = new File(scratch, "band-index").getPath
  /** Documents in the band index, in the order they entered it. */
  private val indexed = mutable.ArrayBuffer.empty[Doc]
  private val probes = mutable.ArrayBuffer.empty[Probe]
  private var verdict: Verdict = _

  private def newDoc(text: String, kind: String, src: Long = -1L): Doc = {
    nextId += 1
    inputBytesAcc += text.length
    Doc(nextId, text, kind, src)
  }

  private def makeBatch(nFresh: Int, nDups: Int): Seq[Doc] = {
    val sources = indexed.filter(_.kind == "fresh").toIndexedSeq
    val docs = (0 until nFresh).map(_ => newDoc(gen.goodText(), "fresh")) ++
      (0 until nDups).map { _ => val s = gen.pick(sources); newDoc(s.text, "exact", s.id) } ++
      (0 until nDups).map { _ => val s = gen.pick(sources); newDoc(gen.nearText(s.text), "near", s.id) } ++
      (0 until 4).map(k => newDoc(gen.lowText(k), s"low-$k"))
    docs.sortBy(d => d.text.hashCode) // interleave kinds
  }

  def setup(spark: SparkSession, scratchDir: File, rec: Recorder): Unit = {
    scratch = scratchDir
    val corpus = (0 until initialDocs).map(_ => newDoc(gen.goodText(), "fresh"))
    Dedup.writeBandIndex(frame(spark, corpus), indexPath)
    indexed ++= corpus
  }

  /** One round of one small batch (one duplicate of each kind). */
  def warmup(spark: SparkSession, rec: Recorder): Unit = doRound(spark, 1, 7, 1, rec)

  def round(spark: SparkSession, i: Int, rec: Recorder): Unit =
    doRound(spark, batchesPerRound, fresh, dups, rec)

  /** Gates and probes `batches` batches (one read each), then appends
    * their kept, unflagged documents to the index (one write).
    */
  private def doRound(spark: SparkSession, batches: Int, nFresh: Int, nDups: Int,
      rec: Recorder): Unit = {
    val toAppend = mutable.ArrayBuffer.empty[Doc]
    (0 until batches).foreach { _ =>
      val docs = makeBatch(nFresh, nDups)
      var probe: Probe = null
      rec.op("read") {
        val keep = rec.span("llm.text.gate_ms") {
          TextAnalysis.gopherRules(frame(spark, docs)).select("doc_id", "keep")
            .collect().toSeq.map(r => r.getLong(0) -> r.getBoolean(1))
        }
        val keptIds = keep.filter(_._2).map(_._1).toSet
        val kept = docs.filter(d => keptIds(d.id))
        val hits = rec.span("llm.dedup.probe_ms") {
          Streams.streamingBandDedup(frame(spark, kept), Dedup.readBandIndex(spark, indexPath))
            .select("doc_id", "n_bands_hit").collect().toSeq
            .map(r => r.getLong(0) -> r.getLong(1))
        }
        probe = Probe(docs, keep, hits, indexed.size)
        (keep.size + hits.size).toLong
      }
      if (probe != null) {
        probes += probe
        val unflagged = probe.hits.filter(_._2 == 0L).map(_._1).toSet
        toAppend ++= probe.docs.filter(d => unflagged(d.id))
      }
    }
    rec.op("write") {
      rec.span("llm.dedup.append_ms")(Dedup.appendToBandIndex(frame(spark, toAppend.toSeq), indexPath))
      toAppend.size.toLong
    }
    indexed ++= toAppend
  }

  def verify(): Seq[String] = {
    verdict = Curate.verify(probes.toSeq, indexed.toIndexedSeq)
    System.err.println(f"[perfbench] curate: ${verdict.flagged} flagged, " +
      f"${verdict.falseFlags} below Jaccard $threshold (banding predicts ${verdict.expectedFalse}%.3f)")
    verdict.failures
  }

  def inputBytes: Long = inputBytesAcc
  def persisted: Seq[File] = Seq(new File(indexPath))
  def recall: Double = verdict.recall

  def layers(rec: Recorder, trace: Option[Trace]): Map[String, Metric] = {
    val inputs = probes.map(_.docs.size).sum
    val kept = probes.map(_.hits.size).sum
    val bandHits = probes.map(_.hits.map(_._2).sum).sum
    val (bytes, _) = Recorder.du(new File(indexPath))
    Map(
      "llm.text.gate_ms" -> Metric(rec.spanMeanMs("llm.text.gate_ms"), "ms"),
      "llm.text.kept_per_input" -> Metric(kept.toDouble / inputs, "ratio"),
      "llm.dedup.probe_ms" -> Metric(rec.spanMeanMs("llm.dedup.probe_ms"), "ms"),
      "llm.dedup.append_ms" -> Metric(rec.spanMeanMs("llm.dedup.append_ms"), "ms"),
      "llm.dedup.candidates_per_doc" -> Metric(bandHits.toDouble / kept, "ratio"),
      "llm.dedup.verified_per_candidate" -> Metric(
        if (verdict.flagged == 0) 0.0 else verdict.verified.toDouble / verdict.flagged, "ratio"),
      "llm.dedup.index_bytes" -> Metric(bytes.toDouble, "bytes"),
      "llm.dedup.index_files" -> Metric(Recorder.dataFiles(new File(indexPath)).toDouble, "count"))
  }
}
