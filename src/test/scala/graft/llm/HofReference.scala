package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import Similarity.{dot, planeComponent, toDouble}

/** Spec-only interpreted HOF references of the codegen kernels: each is
  * the semantic spec its kernel is pinned against (LlmSpec asserts exact
  * agreement on the real corpus; where an oracle states the same fold,
  * it states this form).
  */
object HofReference {

  /** [[Similarity.dot]] (ArrayDot): the same left-to-right fold. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** The micro-unit squared-norm fold of [[graft.functions.QuantNorm2]];
    * q_embed_norm_hist's oracle states the identical fold in DuckDB.
    */
  def quantNorm2Hof(c: Column): Column =
    aggregate(
      transform(c, x => floor(x.cast(DoubleType) * 1000000d).cast(LongType)),
      lit(0L), (acc, v) => acc + v * v)

  /** [[Similarity.lshBuckets]]: the quantized math makes both
    * integer-exact.
    */
  def lshBucketsHof(emb: DataFrame, nPlanes: Int = 8): DataFrame = {
    val dim = 64
    val planes = (0 until nPlanes).map(p =>
      array((0 until dim).map(d => lit(planeComponent(p, d))): _*))
    val v = toDouble(col("embedding"))
    def qdot(a: Column, pl: Column): Column =
      aggregate(zip_with(a, pl, (x, w) => floor(x * w * lit(1073741824.0))),
        lit(0L), (acc, t) => acc + t)
    val bits = planes.zipWithIndex.map { case (pl, i) =>
      when(qdot(v, pl) >= 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    emb.select(col("vec_id"), col("embedding"),
      bits.reduce(_ + _).as("bucket"))
  }

  /** [[Similarity.assignToCentroids]]'s argmax (NearestCentroid). */
  def assignToCentroidsHof(emb: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("cent_id"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val centsLit = typedLit(rows.map(_._2.toSeq).toSeq)
    val idOf = map(rows.zipWithIndex.flatMap { case ((id, _), i) =>
      Seq(lit(i), lit(id)) }.toSeq: _*)
    val v = toDouble(col("embedding"))
    val scores = transform(centsLit, cv =>
      dotHof(v, cv) / (sqrt(dotHof(v, v)) * sqrt(dotHof(cv, cv))))
    emb.select(col("vec_id"), col("embedding"),
      element_at(idOf,
        (array_position(scores, array_max(scores)) - 1).cast(IntegerType))
        .as("cent_id"))
  }

  /** The three int8 kernels: [[graft.functions.QuantizeVec]],
    * [[graft.functions.QuantCodes]] and [[graft.functions.DequantizeVec]].
    */
  def quantizeVecHof(c: Column): Column =
    transform(c, x => floor(x.cast(DoubleType) * 1000000d).cast(LongType))

  def quantCodesHof: Column = expr(
    """transform(__xq, (x, i) -> cast(CASE WHEN q_max[i] = q_min[i] THEN 0
      |  ELSE ((x - q_min[i]) * 255) div (q_max[i] - q_min[i]) END as int))""".stripMargin)

  def dequantizedHof: Column =
    expr("transform(codes, (c, i) -> q_min[i] + c * (q_max[i] - q_min[i]) / 255D)")

  /** [[Similarity.whitenEmbeddingsK]] (AxpyVec). */
  def whitenEmbeddingsKHof(emb: DataFrame,
      model: Similarity.PcaModelK): DataFrame = {
    val muLit = typedLit(model.mu.toSeq)
    val centered = emb.select(col("vec_id"),
      zip_with(toDouble(col("embedding")), muLit, (x, m) => x - m)
        .as("c"))
    val cleaned = model.components.foldLeft(centered) { (df, v) =>
      val vLit = typedLit(v.toSeq)
      df.select(col("vec_id"), col("c"), dot(col("c"), vLit).as("p"))
        .select(col("vec_id"),
          zip_with(col("c"), vLit, (x, vv) => x - col("p") * vv).as("c"))
    }
    cleaned.select(col("vec_id"), col("c").as("embedding"))
  }

  /** [[TextAnalysis.cooccurPairs]] (CooccurPairs); the oracle SQL states
    * the identical nesting.
    */
  def cooccurPairsHof(d: DataFrame,
      window: Int = TextAnalysis.cooccurWindow): DataFrame =
    d.select(split(col("text"), " ").as("t"))
      .select(explode(expr(
        s"""CASE WHEN size(t) >= 2 THEN
           |  flatten(transform(sequence(1, size(t) - 1),
           |    i -> transform(
           |      sequence(i + 1, least(i + $window, size(t))),
           |      j -> concat(element_at(t, i), ' ', element_at(t, j)))))
           |ELSE array() END""".stripMargin)).as("pair"))

  private val toks: Column = split(col("text"), " ")

  /** The round-16 text-stat kernels (LexHits, tokCount, the
    * length-minus-delimiters sum, AlphaHits) as split-and-filter HOFs.
    */
  def lexCountHof(lang: String): Column = {
    val words = TextAnalysis.lexicons(lang)
    size(filter(toks, x => x.isin(words: _*))).cast(DoubleType)
  }

  def tokCountHof: Column = size(toks).cast(LongType)

  def sumLenHof: Column =
    aggregate(transform(toks, x => length(x).cast(LongType)),
      lit(0L), (a, x) => a + x)

  def alphaCntHof: Column =
    size(filter(toks, x => x.rlike("^[a-z]+$"))).cast(LongType)

  /** [[Dedup.docLines]] (LineChunks); the oracle SQL states the
    * identical chunking.
    */
  def docLinesHof(d: DataFrame, width: Int): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast((size(t) + ${width - 1}) div $width as int) - 1), " +
          s"i -> array_join(slice(t, i * $width + 1, $width), ' '))")))
      .select(col("doc_id"), col("pos").as("line_no"), col("col").as("line"))
}
