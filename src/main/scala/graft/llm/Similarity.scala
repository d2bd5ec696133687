package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, Q}
import graft.functions.VectorOps.{dot => dotV}

/** Similarity search over the `embeddings` table (`array<float>`, dim 64).
  *
  * - [[topK]]: brute-force cosine top-k — the correctness baseline, a
  *   broadcast of the query vector + one narrow map + TakeOrdered (no
  *   shuffle of the corpus).
  * - [[lshBuckets]] / [[annTopK]]: random-hyperplane LSH — the scale path.
  *   Bucketing is a linear pass; search touches only the probe bucket(s).
  *   At 100 TB the bucketed table is written partitioned by bucket id so a
  *   query prunes to one partition.
  *
  * Dot/norm use `zip_with`+`aggregate` higher-order functions (codegen'd,
  * sequential per-row fold → deterministic doubles), per SURVEY §4's
  * "no custom Catalyst needed" analysis.
  */
object Similarity {

  /** float[] → double[] (exact widening, matches the oracle's ::DOUBLE[]).
    *
    * Round 16: a native array Cast instead of the per-element
    * `transform(c, _.cast(double))` HOF — same exact widening (every
    * float is exactly representable as a double), but the HOF form ran
    * INTERPRETED per row at every one of the ~68 embedding-path call
    * sites (HOF lambdas are CodegenFallback), rebuilding the array before
    * the codegen kernels even started; Cast compiles into the same
    * whole-stage-codegen span as its consumer, and is removed outright
    * when the input is already array<double>.
    */
  def toDouble(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** Codegen'd dot product (see [[graft.functions.ArrayDot]]); same
    * left-to-right fold as the HOF form, so oracle bits are unchanged.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.arrayDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against a query vector. */
  def topK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val withV = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val q = withV.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), norm(col("v")).as("qn"))
    withV.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos_r", round(dot(col("v"), col("qv")) / (norm(col("v")) * col("qn")), 6))
      .select(col("vec_id"), col("cos_r"))
      .orderBy(col("cos_r").desc, col("vec_id"))
      .limit(k)
  }

  /** Brute-force maximum-inner-product top-k (MIPS — the retrieval
    * scoring for unnormalized embeddings, where cosine's norm division
    * erases magnitude): one broadcast of the query vector + a narrow
    * codegen'd map + TakeOrdered, no corpus shuffle — corpus-linear at
    * any size. The bucketed scale path for BATCHED queries is the
    * standard norm-augmentation reduction (Bachrach et al. RecSys'14 /
    * Shrivastava & Li NIPS'14): append sqrt(M² − |x|²) with M = max
    * corpus norm, making inner-product order ≡ cosine order on the
    * augmented vectors, then ride [[lshBuckets]]/[[writeLshIndex]]
    * unchanged; to keep the augmented coordinate engine-portable the
    * norm would be computed in the same floor-quantized integer space
    * as the LSH sign test.
    */
  def mipsTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val withV = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val q = withV.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    withV.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("dot_r", round(dot(col("v"), col("qv")), 6))
      .select(col("vec_id"), col("dot_r"))
      .orderBy(col("dot_r").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes: component d of plane p is
    * derived from md5(p:d) → uniform in [-1, 1). Portable and seedless —
    * any worker regenerates the same planes (single source:
    * [[graft.functions.VectorOps.planeComponent]]).
    */
  def planeComponent(p: Int, d: Int): Double =
    graft.functions.VectorOps.planeComponent(p, d)

  /** Sign-bucket each vector with `nPlanes` hyperplanes (linear pass,
    * fused native expression — [[graft.functions.LshBucket]]).
    *
    * The sign test uses a QUANTIZED dot product: each term
    * `floor(x * w * 2^30)` is an exactly-representable long (the raw
    * product is exact — 24-bit float significand × 16-bit plane weight —
    * and the power-of-two scale + floor introduce no engine-specific
    * rounding), so the long sum is order-independent and the bucket bit is
    * bit-identical in ANY engine — a raw double sum could flip a
    * near-zero projection's sign between Spark's sequential fold and an
    * oracle's partial-combine order (CLAUDE.md float invariant).
    */
  def lshBuckets(emb: DataFrame, nPlanes: Int = 8): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      graft.functions.VectorExpressions
        .lshBucket(toDouble(col("embedding")), nPlanes).as("bucket"))

  /** XOR probe masks for multi-probe LSH: every pattern with at most
    * `probeHamming` of `nPlanes` bits set, enumerated combinatorially —
    * C(nPlanes, ≤h) masks, never a 2^nPlanes sweep, so high plane counts
    * stay cheap on the driver.
    */
  def probeMasks(nPlanes: Int, probeHamming: Int): Seq[Long] =
    (0 to probeHamming).flatMap(k =>
      (0 until nPlanes).combinations(k)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)

  /** Persist the LSH-bucketed corpus partitioned by bucket id: queries
    * against the index read only the probed buckets' directories
    * (partition pruning — asserted in LlmSpec). At 100 TB this is the
    * serving layout: one linear bucketing pass, then every lookup touches
    * probes/2^nPlanes of the data.
    */
  def writeLshIndex(emb: DataFrame, path: String, nPlanes: Int = 4): Unit =
    lshBuckets(emb, nPlanes).write.mode("overwrite")
      .partitionBy("bucket").parquet(path)

  /** q_sim_ann operating point — single source for [[annTopK]]'s probe
    * AND the oracle SQL's interpolated constants, so changing either can
    * never silently desynchronize the mirrored candidate set (the oracle
    * previously hardcoded `range(0,4)` / `<= 2`).
    */
  val annPlanes: Int = 4
  val annProbeHamming: Int = 2

  /** The mirrored k-means E-step shared by q_cluster_assign /
    * q_cluster_purity / q_embed_outliers: deterministic lowest-id seeds,
    * broadcast against the corpus, 6dp-rounded cosine argmax with
    * smallest-cent_id tiebreak as a map-side-combinable max_by — the
    * assignment both engines derive identically. Returns
    * (vec_id, cent_id, cos_r).
    */
  def roundedArgmaxAssign(emb: DataFrame, k: Int = 8): DataFrame = {
    // Round 16 (the r15 q_contrastive_pairs lesson, argMAX flavor): the
    // max_by(struct, struct) ordering routed this corpus-sized
    // aggregation through SortAggregate outright (per-group sorts — the
    // struct-buffer trap's worse sibling; a STRING-key min/max lands
    // there too, strings not being hash-buffer-mutable). One PACKED-LONG
    // max stays in codegen HashAggregate: cos_r is a 6dp grid point, so
    // `round(cos_r*1e6)::long + 1e6` ∈ [0, 2e6] is its exact 21-bit
    // rank; shift it left 42 and add `(2^42-1) - cent_id` — long max ≡
    // (cos_r DESC, cent_id ASC), exactly max_by's struct(cos_r,
    // -cent_id) order, in 63 bits. Decoding divides the grid rank back:
    // k/1e6 in double IS round(x, 6)'s value (both are the closest
    // double to k·10⁻⁶); LlmSpec pins fused ≡ max_by on the corpus and
    // pins the plan HashAggregate. cent_id ∈ [0, 2^42) is the id data
    // contract (4.4e12 ids — beyond this corpus line's scale ceiling) —
    // enforced loudly, since a violation would silently misorder.
    // Out of contract: a NaN cosine (zero-norm vector) — the dense
    // embedding tables can't produce one, and the engines' NaN orderings
    // already disagree upstream of this encoding.
    val idCap = (1L << 42) - 1
    val cents = emb.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cent_id"), toDouble(col("embedding")).as("cv"))
    val invId = when(col("cent_id") < 0 || col("cent_id") > idCap,
        raise_error(concat(lit("roundedArgmaxAssign: cent_id outside "
          + "[0, 2^42): "), col("cent_id").cast(StringType))))
      .otherwise(lit(idCap) - col("cent_id")).cast(LongType)
    val enc = (round(col("cos_r") * 1000000d).cast(LongType) + 1000000L)
      .*(lit(1L << 42)).+(invId)
    emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(cents))
      .withColumn("cos_r",
        round(dot(col("v"), col("cv")) / (norm(col("v")) * norm(col("cv"))), 6))
      .groupBy(col("vec_id"))
      .agg(max(enc).as("kp"))
      .select(col("vec_id"),
        (lit(idCap) - col("kp").bitwiseAND(lit(idCap))).as("cent_id"),
        ((shiftright(col("kp"), 42) - 1000000L)
          .cast(DoubleType) / 1000000d).as("cos_r"))
  }

  /** [[roundedArgmaxAssign]]'s encoding over an arbitrary scored
    * candidate frame: per-`grp` argmax of `id` by (6dp-rounded cosine
    * DESC, id ASC), fused into one packed-long max that stays in codegen
    * HashAggregate (q_knn_label_acc's per-vector nearest neighbor; the
    * max_by(struct) form routed the corpus-sized candidate aggregation
    * through SortAggregate — per-group sorts). Same 63-bit layout and
    * the same loud id-domain guard; see [[roundedArgmaxAssign]] for the
    * encoding argument, `HofReference.roundedArgmaxByGroupRef` for the
    * semantic reference LlmSpec pins against.
    */
  def roundedArgmaxByGroup(df: DataFrame, grp: String, id: String,
      cosR: String, out: String): DataFrame = {
    val idCap = (1L << 42) - 1
    val invId = when(col(id) < 0 || col(id) > idCap,
        raise_error(concat(lit(s"roundedArgmaxByGroup: $id outside "
          + "[0, 2^42): "), col(id).cast(StringType))))
      .otherwise(lit(idCap) - col(id)).cast(LongType)
    val enc = (round(col(cosR) * 1000000d).cast(LongType) + 1000000L)
      .*(lit(1L << 42)).+(invId)
    df.groupBy(col(grp))
      .agg(max(enc).as("kp"))
      .select(col(grp), (lit(idCap) - col("kp").bitwiseAND(lit(idCap))).as(out))
  }

  /** SQL twin of [[roundedArgmaxAssign]] at k = 8 — the oracle CTE chain
    * (cents → scored → ranked → asg with columns vec_id, cent_id, cos_r)
    * shared by the same three gates so they can never desynchronize.
    */
  val oAssignCte: String =
    """cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cv
      |  FROM embeddings ORDER BY vec_id LIMIT 8),
      |scored AS (
      |  SELECT e.vec_id, c.cent_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) AS cos_r
      |  FROM embeddings e CROSS JOIN cents c),
      |ranked AS (
      |  SELECT vec_id, cent_id, cos_r,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, cent_id) AS rk
      |  FROM scored),
      |asg AS (SELECT vec_id, cent_id, cos_r FROM ranked WHERE rk = 1)""".stripMargin

  /** ANN top-k: probe the query's bucket plus all buckets within
    * `probeHamming` sign flips (multi-probe LSH), rerank exactly. The
    * testdata embeddings are near-uniform (best cosine ≈ 0.5), so wide
    * probing at few planes is the operating point; higher-similarity
    * corpora would use more planes and fewer probes. Recall vs [[topK]]
    * is asserted by LlmSpec.
    */
  def annTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    val bucketed = lshBuckets(emb, annPlanes)
    val qRow = bucketed.filter(col("vec_id") === queryId)
      .select(col("bucket"), toDouble(col("embedding")).as("qv"))
    val masks = probeMasks(annPlanes, annProbeHamming).map(lit)
    val probes = qRow.select(col("bucket"), col("qv"),
      explode(array(masks: _*)).as("mask"))
      .select(col("bucket").bitwiseXOR(col("mask")).as("bucket"), col("qv"))
    // q is one row → tiny probe set; broadcast it against the bucketed corpus
    bucketed.filter(col("vec_id") =!= queryId)
      .join(broadcast(probes), Seq("bucket"))
      .withColumn("v", toDouble(col("embedding")))
      .withColumn("cos_r", round(dot(col("v"), col("qv")) / (norm(col("v")) * norm(col("qv"))), 6))
      .select(col("vec_id"), col("cos_r")).distinct()
      .orderBy(col("cos_r").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF (inverted-file) ANN: partition the corpus by nearest centroid,
    * search only the `nProbe` centroids closest to the query. The plumbing
    * (assignment join, bucket pruning, exact rerank) is the scale path: at
    * 100 TB the assigned table is written partitioned by centroid id, so a
    * query scans nProbe/nCentroids of the data.
    */

  /** Nearest-centroid assignment: the centroid table is domain-bounded
    * (nCentroids × 64 doubles — KBs at any corpus size), so collect it
    * once and compute the per-vector cosine argmax IN-ROW against the
    * plan-literal entries — one narrow codegen pass, no join, no
    * aggregation. (Round 12: this replaced a crossJoin + max_by/first
    * shape whose aggregate buffers carried the embedding ARRAY and fell
    * out of fast hash aggregation — the same ObjectHashAggregate sort
    * fallback measured on the PQ E-step, DESIGN.md "Round-12: the
    * quantization tier completed".) Results are
    * bit-identical to the join form: each (v, c) cosine is the same IEEE
    * expression (ArrayDot ≡ the HOF fold, LlmSpec-pinned), and the
    * first-max position over the cent_id-sorted literal is exactly the
    * old max_by's smallest-cent_id tie-break.
    */
  def assignToCentroids(emb: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("cent_id"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val idOf = map(rows.zipWithIndex.flatMap { case ((id, _), i) =>
      Seq(lit(i), lit(id)) }.toSeq: _*)
    // round 13: the in-row argmax moved from an interpreted HOF transform
    // to the codegen'd NearestCentroid kernel — bit-identical assignments
    // (same IEEE folds, same first-max total-order tie rule; LlmSpec pins
    // kernel ≡ HOF on the real corpus), but compiled: the HOF form made
    // √n-cell assignment the training hotspot once the coarse grid
    // stopped being a fixed 16.
    emb.select(col("vec_id"), col("embedding"),
      element_at(idOf, graft.functions.VectorExpressions
        .nearestCentroid(toDouble(col("embedding")), rows.map(_._2)))
        .as("cent_id"))
  }

  /** Real k-means centroids: a deterministic lowest-id seed refined by
    * `iters` Lloyd iterations (assign → element-wise mean per cell). Each
    * iteration is one broadcast assignment pass plus ONE hash aggregate on
    * cent_id summing whole vectors ([[graft.functions.VectorSum]]) — the
    * shuffle moves nCentroids × dim doubles per map partition, not the
    * dim-rows-per-input-vector expansion of a posexplode formulation
    * (64× shuffle volume at dim 64; the round-2 verdict's "wrong constant
    * at 100 TB").
    *
    * Default iters = 1, from the measured recall curve (DESIGN.md
    * "Known gaps / decisions", ANN operating point): on this
    * near-uniform corpus one refinement
    * beats raw seeds at every probe count, while 2-3 iterations never
    * improve on 1 (tighter cells concentrate coverage, so recall at a
    * fixed probe budget plateaus or drops). Probes, not iterations, are
    * the recall lever here.
    */
  def ivfCentroids(emb: DataFrame, nCentroids: Int = 16, iters: Int = 1): DataFrame = {
    val seeds = emb.orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").as("cent_id"), toDouble(col("embedding")).as("cv"))
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      val assigned = assignToCentroids(emb, cents)
      val means = assigned
        .select(col("cent_id"), toDouble(col("embedding")).as("v"))
        .groupBy(col("cent_id"))
        .agg(graft.functions.VectorExpressions.vectorSum(col("v")).as("sv"),
          count(lit(1)).as("cnt"))
        .select(col("cent_id"),
          transform(col("sv"), x => x / col("cnt")).as("next"))
      // a cell that lost every member keeps its previous centroid (the
      // standard k-means empty-cluster fallback) so the table always has
      // nCentroids rows and probe/assign cell counts never silently shrink
      cents.join(means, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("next"), col("cv")).as("cv"))
    }
  }

  def ivfAssign(emb: DataFrame, nCentroids: Int = 16): DataFrame =
    assignToCentroids(emb, broadcast(ivfCentroids(emb, nCentroids)))

  /** Persist the IVF-assigned corpus partitioned by centroid id — the
    * serving layout twin of [[writeLshIndex]]: one training+assignment
    * pass, then every query reads only its nProbe probed cells'
    * directories (partition pruning, asserted in LlmSpec). At 100 TB this
    * is how IVF search avoids touching (nCentroids - nProbe)/nCentroids
    * of the data.
    */
  def writeIvfIndex(emb: DataFrame, path: String, nCentroids: Int = 16): Unit =
    ivfAssign(emb, nCentroids).write.mode("overwrite")
      .partitionBy("cent_id").parquet(path)

  /** q_sim_ivf operating point: 8 probes of 16 cells, the measured point
    * for this near-uniform corpus (mean recall 0.92-0.94 over 5 queries
    * at both sf0.001 and sf0.01 vs 0.70-0.76 at 4 probes — see DESIGN.md
    * "Known gaps / decisions", ANN operating point). Higher-contrast
    * corpora run more cells and fewer probes; the probed fraction, not
    * the iteration count, is what buys recall here.
    */
  private val ivfCells = 16
  private val ivfProbes = 8

  /** IVF top-k: the [[ivfProbes]] of [[ivfCells]] cells closest to the
    * query, reranked exactly.
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    // one centroid table shared by assignment and probe selection — the
    // two MUST agree or pruning searches the wrong cells. Round 13: ONE
    // bounded driver collect (nCentroids × 64 doubles — KBs) replaces the
    // round-9 DISK_ONLY persist, which gave the same single-
    // materialization guarantee but left a cached frame behind on every
    // call (the per-call-persist leak class of ADVICE-r12); assignment
    // runs the codegen'd kernel against the collected floats, probe
    // selection ranks the SAME floats driver-side.
    val rows = ivfCentroids(emb, ivfCells).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val idOf = map(rows.zipWithIndex.flatMap { case ((id, _), i) =>
      Seq(lit(i), lit(id)) }.toSeq: _*)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      element_at(idOf, graft.functions.VectorExpressions
        .nearestCentroid(toDouble(col("embedding")), rows.map(_._2)))
        .as("cent_id"))
    val qvArr = emb.filter(col("vec_id") === queryId)
      .select(toDouble(col("embedding"))).head().getSeq[Double](0).toArray
    val probed = rows.sortBy { case (id, cv) =>
      (-dotV(qvArr, 0, cv) / math.sqrt(dotV(cv, 0, cv)), id)
    }.take(ivfProbes).map(_._1)
    val q = emb.filter(col("vec_id") === queryId)
      .select(toDouble(col("embedding")).as("qv"),
        norm(toDouble(col("embedding"))).as("qn"))
    assigned.filter(col("cent_id").isin(probed: _*))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("v", toDouble(col("embedding")))
      .withColumn("cos_r", round(dot(col("v"), col("qv")) / (norm(col("v")) * col("qn")), 6))
      .select(col("vec_id"), col("cos_r"))
      .orderBy(col("cos_r").desc, col("vec_id"))
      .limit(k)
  }

  /** Int8 scalar quantization (the compression step an embedding store
    * runs before serving — 4× smaller than float32, enough resolution
    * for coarse ANN): per-dimension min/max over the corpus, then
    * `code = (x - min) * 255 / (max - min)` per element.
    *
    * Engine-portable by construction: elements are first floor-quantized
    * to micro-units (`floor(x * 1e6)` on the exactly-widened double), so
    * the stats and the code arithmetic are all bigint — no float sum or
    * divide anywhere. The stats pass is ONE whole-vector
    * [[graft.functions.VectorMinMax]] hash-agg (no 64× posexplode
    * shuffle — the IVF M-step lesson), broadcast back as a 1-row join;
    * the encode pass is a narrow per-row transform. Constant dims
    * (max = min) encode as 0.
    */
  def quantizeEmbeddings(emb: DataFrame, vecCol: String = "embedding",
      keepStats: Boolean = false): DataFrame = {
    // round 16: both per-row passes run as codegen kernels (QuantizeVec /
    // QuantCodes — LlmSpec pins bit-identity vs the interpreted HOF
    // reference below, and q_embed_quant hash-gates the codes end-to-end)
    val q = emb.withColumn("__xq",
      graft.functions.VectorExpressions.quantizeVec(toDouble(col(vecCol))))
    val stats = q.agg(
        graft.functions.VectorExpressions.vectorMinMax(col("__xq")).as("mm"))
      .select(col("mm").getItem(0).as("q_min"), col("mm").getItem(1).as("q_max"))
    val coded = q.crossJoin(broadcast(stats))
      .withColumn("codes", graft.functions.VectorExpressions
        .quantCodes(col("__xq"), col("q_min"), col("q_max")))
      .drop("__xq")
    if (keepStats) coded else coded.drop("q_min", "q_max")
  }

  /** Approximate reconstruction from the `codes`/`q_min`/`q_max` columns
    * of [[quantizeEmbeddings]]`(keepStats = true)`. Micro-unit scale is
    * uniform across dims, so cosine over dequantized vectors equals
    * cosine over the reconstructed originals.
    */
  def dequantized: Column =
    graft.functions.VectorExpressions.dequantizeVec(
      col("codes"), col("q_min"), col("q_max"))

  /** [[quantizedTopK]]'s shortlist: 10·k at q_sim_quant's k = 10. */
  private val quantShortlist = 100

  /** Quantized-first-pass top-k: coarse ranking over int8 codes
    * ([[quantizeEmbeddings]]) selects a `shortlist`, exact float cosine
    * reranks it. THE serving pattern for a memory/IO-bound 100 TB
    * vector store: the scan that touches every row reads 4×-smaller
    * codes; full-precision vectors are only fetched for shortlist
    * members. The coarse score is a codegen'd ArrayDot over the widened
    * codes — monotone enough per dimension (affine map of the original)
    * that a 10×-k shortlist ([[quantShortlist]]) recovers the true
    * neighbors; LlmSpec measures recall vs brute force.
    */
  def quantizedTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    // asymmetric distance: codes are dequantized against the broadcast
    // per-dim stats before the coarse cosine (a raw code dot ignores the
    // per-dim affine shift and ranks garbage — measured recall 0.2)
    val codes = quantizeEmbeddings(emb, keepStats = true)
      .withColumn("dq", dequantized)
    val q = codes.filter(col("vec_id") === queryId)
      .select(col("dq").as("qdq"), toDouble(col("embedding")).as("qv"))
    val short = codes.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("coarse",
        dot(col("dq"), col("qdq")) / (norm(col("dq")) * norm(col("qdq"))))
      .orderBy(col("coarse").desc, col("vec_id"))
      .limit(quantShortlist)
    short
      .withColumn("v", toDouble(col("embedding")))
      .withColumn("cos_r",
        round(dot(col("v"), col("qv")) / (norm(col("v")) * norm(col("qv"))), 6))
      .select(col("vec_id"), col("cos_r"))
      .orderBy(col("cos_r").desc, col("vec_id"))
      .limit(k)
  }

  /** Product quantization (PQ — Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * billion-scale ANN layout the engine's quantization tier was missing
    * between whole-vector int8 ([[quantizeEmbeddings]], 4× compression)
    * and raw floats. The 64-dim space splits into [[pqSubspaces]]
    * subspaces; each subvector quantizes to its nearest entry of a
    * per-subspace [[pqCentroids]]-entry codebook, so a vector stores as
    * m small codes (~m bytes after densifying — 32× smaller than
    * float64) while the codebook itself is m × 16 × (64/m) doubles —
    * KBs, broadcastable at any corpus size. Search is ADC (asymmetric
    * distance computation): the query stays full-precision, its
    * dot/norm against every codebook entry is an m×16-row lookup table,
    * and a candidate's coarse cosine is a pure table-sum over its codes
    * — the scan that touches every row reads CODES ONLY, never floats.
    */
  val pqSubspaces: Int = 16
  val pqCentroids: Int = 16

  /** Lloyd rounds of the PQ codebook trainer, for [[pqTopK]] and the
    * residual codebooks of [[AnnIndex]] alike: m=16 and 2 rounds lift
    * the round-12 PQ curve from 0.58 (m=8, 1 round) to 0.98 mean recall
    * at sf0.1 (DESIGN.md "Round-12: the quantization tier completed").
    */
  val pqIters: Int = 2

  /** (vec_id, sub, sv): the corpus in subvector long format — one
    * in-row slice explode, m rows per vector, no shuffle.
    */
  private def pqSubvectors(emb: DataFrame,
      m: Int = pqSubspaces): DataFrame = {
    val subDim = 64 / m
    val v = toDouble(col("embedding"))
    val slices = (0 until m).map(s => slice(v, s * subDim + 1, subDim))
    emb.select(col("vec_id"), posexplode(array(slices: _*)))
      .toDF("vec_id", "sub", "sv")
  }

  /** Collect a codebook DataFrame (sub, cent_id, cv) into the m × 16 ×
    * subDim nested array a plan LITERAL ships to every task — the
    * codebook is domain-bounded (256 subDim-length rows ≈ KBs at any
    * corpus size), so this is the BPE/IVF bounded-driver-collect
    * discipline, and collecting ONCE means every consumer (encode pass,
    * ADC lookup table) reads the identical float-summed entries.
    */
  private[graft] def collectBooks(books: DataFrame,
      m: Int): Array[Array[Array[Double]]] = {
    val out = Array.fill(m, pqCentroids)(Array.empty[Double])
    books.select(col("sub"), col("cent_id"), col("cv")).collect().foreach { r =>
      out(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    // every (sub, cent_id) slot must be populated: pqArgmin's squared-L2
    // over an EMPTY entry aggregates to 0.0, which would silently win
    // array_min over any real distance (round-13 ADVICE guard). The
    // trainer seeds all m × pqCentroids slots and empty cells keep their
    // previous entry, so a hole here is a caller bug (e.g. a corpus with
    // fewer than pqCentroids vectors), not a recall trade.
    for (s <- 0 until m; c <- 0 until pqCentroids)
      require(out(s)(c).nonEmpty,
        s"PQ codebook slot (sub=$s, cent_id=$c) is empty — corpus must " +
          s"have >= $pqCentroids vectors and the trainer must seed every slot")
    out
  }

  /** In-row nearest-codebook-entry code for a subvector: squared-L2
    * against the 16 literal entries of this row's subspace, first-min
    * index (ties → smallest code — deterministic). Pure codegen'd HOFs
    * over a broadcast-literal codebook: no join, no aggregation — the
    * round-12 rewrite of a min_by-over-join E-step whose
    * aggregate-buffer arrays fell out of fast hash aggregation
    * (ObjectHashAggregate sort fallback: 16.5 s/iteration at 60 k
    * vectors, vs ~1 s in this shape; DESIGN.md "Round-12: the
    * quantization tier completed").
    */
  private def pqArgmin(sv: Column, sub: Column,
      cb: Array[Array[Array[Double]]]): Column = {
    val entries = element_at(typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq),
      sub + 1)
    val scores = transform(entries, cv =>
      aggregate(zip_with(sv, cv, (x, c) => (x - c) * (x - c)),
        lit(0.0), (a, x) => a + x))
    (array_position(scores, array_min(scores)) - 1).cast(IntegerType)
  }

  /** Train the m per-subspace codebooks: deterministic lowest-id seeds
    * (the [[ivfCentroids]] discipline, sliced per subspace; cent_id
    * densified to 0..15 = the seed's rank) refined by `iters` Lloyd
    * iterations under squared-L2. Each iteration is ONE narrow in-row
    * argmin pass ([[pqArgmin]] against the collected-literal codebook)
    * plus a 256-group [[graft.functions.VectorSum]] aggregate; empty
    * cells keep their previous entry. The per-round driver collect is
    * codebook-sized (bounded), exactly like the BPE trainer's 1-row
    * argmax. Returns (sub, cent_id, cv).
    */
  def pqCodebooks(emb: DataFrame, iters: Int = 1,
      m: Int = pqSubspaces): DataFrame = {
    // Round-15 optimization (guide §1.2/§2.4): the previous form kept the
    // codebook as a chained DataFrame — round k's collectBooks re-executed
    // every earlier round's means aggregation (the chain GROWS: training 2
    // rounds ran means-1 twice, and the consumer's final collect replayed
    // the whole chain again), and the per-row argmin was the interpreted
    // HOF pqArgmin. The codebook is DOMAIN-bounded (m × 16 × subDim
    // doubles, KBs at any corpus size — the BPE/IVF bounded-driver-collect
    // discipline), so hold it driver-side across rounds: each Lloyd round
    // is now exactly ONE corpus pass — the compiled PqCodesWord kernel
    // (spec-pinned bit-identical to pqArgmin: same left-to-right IEEE
    // fold, same first-min tie rule) emits all m codes per row, the means
    // close through the same VectorSum aggregate, and 256 rows collect.
    // Means are divided driver-side with the identical x / cnt IEEE op the
    // old transform() lambda ran, and empty cells keep their previous
    // entry, so the trained codebook is bit-identical. Returns the same
    // (sub, cent_id, cv) frame as before — as a local relation, so every
    // consumer's collectBooks is free instead of a chain replay.
    val subDim = 64 / m
    val v = toDouble(col("embedding"))
    val seedRows = emb.select(col("vec_id"), v.as("v"))
      .orderBy(col("vec_id")).limit(pqCentroids).collect()
    val cb = Array.fill(m, pqCentroids)(Array.empty[Double])
    seedRows.zipWithIndex.foreach { case (r, i) =>
      val vec = r.getSeq[Double](1)
      // validate on collect (ADVICE r15): a null element would NPE on the
      // unboxed slice below, and a short seed would build a narrower cv
      // that PqCodesWord (which sizes subDim from books(0)(0)) indexes
      // out of bounds at TASK time — fail here with the real cause, like
      // the empty-slot guard in the Lloyd loop
      require(vec != null && vec.length == m * subDim && !vec.contains(null),
        s"PQ seed vector vec_id=${r.getLong(0)} must be a dense " +
          s"${m * subDim}-dim embedding (got " +
          s"${if (vec == null) "null" else s"len=${vec.length}"})")
      for (sIdx <- 0 until m)
        cb(sIdx)(i) = vec.slice(sIdx * subDim, (sIdx + 1) * subDim).toArray
    }
    val slices = (0 until m).map(sIdx => slice(v, sIdx * subDim + 1, subDim))
    (0 until iters).foreach { _ =>
      // same guard collectBooks enforces: a hole would let an empty
      // entry's 0.0 distance win every argmin
      for (sIdx <- 0 until m; c <- 0 until pqCentroids)
        require(cb(sIdx)(c).nonEmpty,
          s"PQ codebook slot (sub=$sIdx, cent_id=$c) is empty — corpus must " +
            s"have >= $pqCentroids vectors and the trainer must seed every slot")
      val means = emb
        .select(graft.functions.VectorExpressions
            .pqCodesWord(v, cb.map(_.map(_.clone))).as("w"),
          posexplode(array(slices: _*)).as(Seq("sub", "sv")))
        .select(col("sub"),
          expr("cast(shiftright(w, 4 * sub) & 15 as int)").as("code"),
          col("sv"))
        .groupBy(col("sub"), col("code"))
        .agg(graft.functions.VectorExpressions.vectorSum(col("sv")).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      means.foreach { r =>
        if (!r.isNullAt(1)) {
          val (sIdx, code) = (r.getInt(0), r.getInt(1))
          val sm = r.getSeq[Double](2)
          val cnt = r.getLong(3)
          cb(sIdx)(code) = sm.map(_ / cnt).toArray
        }
      }
    }
    import scala.jdk.CollectionConverters._
    val rows = for {
      sIdx <- 0 until m; c <- 0 until pqCentroids if cb(sIdx)(c).nonEmpty
    } yield org.apache.spark.sql.Row(sIdx, c, cb(sIdx)(c).toSeq)
    emb.sparkSession.createDataFrame(rows.asJava,
      new org.apache.spark.sql.types.StructType()
        .add("sub", IntegerType, nullable = false)
        .add("cent_id", IntegerType, nullable = false)
        .add("cv", org.apache.spark.sql.types.ArrayType(DoubleType), nullable = true))
  }

  /** PQ codes for the corpus: (vec_id, sub, code) — the 100 TB serving
    * artifact (write this table, drop the floats from the hot path).
    * One narrow in-row pass, no shuffle.
    */
  def pqEncode(emb: DataFrame, books: DataFrame,
      m: Int = pqSubspaces): DataFrame = {
    val cb = collectBooks(books, m)
    pqSubvectors(emb, m).select(col("vec_id"), col("sub"),
      pqArgmin(col("sv"), col("sub"), cb).as("code"))
  }

  /** PQ/ADC top-k: codebook-quantize the corpus, score candidates by the
    * ADC lookup-table cosine (query dot + entry norms, both plan
    * literals computed driver-side from ONE collected codebook — the
    * coarse scan reads codes only), take a `shortlist`, rerank exactly.
    * Collecting the codebook once gives the encode pass and the lookup
    * table the same float-summed entries by construction (the ivfTopK
    * single-materialization requirement, met without a persist). Recall
    * vs [[topK]] is LlmSpec's multi-query curve; the gate pins plumbing
    * + the recall floor (recallGate).
    */
  def pqTopK(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    // shortlist = 10·k + a 4√n headroom term (round 13 — the retired n/25
    // rule was corpus-LINEAR float reads, VERDICT-r12; a purely FIXED
    // shortlist measurably cliffs as the corpus grows: DESIGN.md
    // "Round-12: the quantization tier completed",
    // mean recall 0.58 at fixed 100 on the 10× corpus. √n splits the
    // difference: vanishing rerank fraction, measured recall held —
    // DESIGN.md "Round-13: the ANN tier finished"); one metadata-cheap
    // count derives it
    val sl = AnnIndex.adcShortlistFor(k, emb.count())
    // one driver collect of the codebook feeds BOTH the encode pass and
    // the ADC lookup table, so the two can never see different
    // float-summed entries; the LUT itself is computed driver-side in
    // plain scala (m × 16 exact doubles) and ships as plan literals —
    // the coarse scan is then ONE narrow projection + a pure-double
    // hash aggregate over codes, the faithful analog of a real ADC
    // scan's L1-resident table (no join at all)
    val m = pqSubspaces
    val subDim = 64 / m
    val cb = collectBooks(pqCodebooks(emb, pqIters, m), m)
    val qv = emb.filter(col("vec_id") === queryId)
      .select(toDouble(col("embedding"))).head().getSeq[Double](0).toArray
    val lutQc: Seq[Seq[Double]] = (0 until m).map { s =>
      (0 until pqCentroids).map { c =>
        val cv = cb(s)(c)
        (0 until subDim).map(d => qv(s * subDim + d) * cv(d)).sum
      }
    }
    val lutCc: Seq[Seq[Double]] = (0 until m).map { s =>
      (0 until pqCentroids).map(c => cb(s)(c).map(x => x * x).sum)
    }
    // coarse cosine = Σ qc / sqrt(Σ cc) — |q| is constant across
    // candidates so dividing by it cannot change the ranking. Round-15
    // optimization (guide §1.2 per-task work + §2.3 shuffle fewer bytes):
    // the encode + lookup used to run as an m×-row posexplode, an
    // INTERPRETED per-(vec, sub) HOF argmin, a plan-literal double-indexed
    // lookup, and a per-vec_id hash aggregate (a full shuffle of m rows
    // per vector). The compiled PqCodesWord kernel emits all m codes as
    // one packed long per ROW, and AdcTableSum (reference-object tables,
    // zero plan bytes) folds the m lookups left-to-right from 0.0 —
    // bit-identical to the HOF fold (LlmSpec pin) and to the previous
    // first-partial-then-sum order — so the coarse scan is now ONE narrow
    // codegen projection feeding TakeOrdered: no explode, no shuffle, no
    // aggregate. Same shape the served AnnIndex path already uses.
    val word = graft.functions.VectorExpressions.pqCodesWord(
      toDouble(col("embedding")), cb)
    val tQc = Array(lutQc.map(_.toArray).toArray)
    val tCc = Array(lutCc.map(_.toArray).toArray)
    val short = emb.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), word.as("w"))
      .select(col("vec_id"),
        graft.functions.VectorExpressions
          .adcTableSum(lit(0), col("w"), tQc).as("qdot"),
        graft.functions.VectorExpressions
          .adcTableSum(lit(0), col("w"), tCc).as("rn2"))
      .withColumn("coarse", col("qdot") / sqrt(col("rn2")))
      .orderBy(col("coarse").desc, col("vec_id"))
      .limit(sl)
      .select("vec_id")
    val withV = emb.select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val q = withV.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), norm(col("v")).as("qn"))
    short.join(withV, "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("cos_r",
        round(dot(col("v"), col("qv")) / (norm(col("v")) * col("qn")), 6))
      .select(col("vec_id"), col("cos_r"))
      .orderBy(col("cos_r").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched exact top-k (round 13, VERDICT-r12 #5): production retrieval
    * serves QUERY BATCHES, and scoring them one `topK` call at a time
    * scans the corpus once per query. This ranks a deterministic
    * `nQueries`-vector set (the lowest vec_ids — collected once, KBs) in
    * ONE corpus pass: the query matrix rides the plan as a broadcast
    * literal, each corpus row fans out to (row, query) pairs in-row
    * (posexplode of the literal — a narrow map, no shuffle), and the
    * per-query top-k closes through a rank-filtered window that Spark
    * rewrites to WindowGroupLimit (map-side partial top-k per query id:
    * the shuffle carries ≤ nQueries·k rows per task, never the scored
    * cross product — pinned in LlmSpec along with the single-scan plan).
    * Query norms are hoisted: |v| once per row before the fan-out, |q|
    * driver-side with the same left-to-right IEEE fold ArrayDot runs, so
    * every cosine is bit-identical to the one-query [[topK]] form and the
    * whole result hash-gates cross-engine at 6dp.
    */
  val batchQueryCount: Int = 16

  /** Top principal component of the corpus embedding covariance — the
    * anisotropy/whitening/drift-direction primitive (Mu & Viswanath
    * ICLR'18 measure the dominant direction of text embedding spaces;
    * SemDeDup-style pipelines whiten before cosine). ONE corpus pass
    * computes (n, Σx, Σx·xᵀ) — the second moment through the
    * [[graft.functions.OuterProductSum]] typed aggregate (d² buffer per
    * map partition, merged once per partition: the treeAggregate shape;
    * at d = 64 the buffer is 32 KB and the single-group shuffle carries
    * one buffer per partition at ANY corpus size). The 64×64 eigenproblem
    * then solves DRIVER-side by power iteration (domain-bounded —
    * microseconds; the corpus never re-scans), and consumers project via
    * a plan-literal component, so the whole operator is one pass + one
    * collect of d²+d+1 doubles.
    *
    * Returns (component, rayleighs, trace, n): the unit top component,
    * the per-iteration Rayleigh quotients λ_t = vᵀCv (monotone
    * nondecreasing for symmetric PSD C — the power-iteration invariant
    * the gate pins), the covariance trace, and the row count.
    */
  def pcaTopComponent(emb: DataFrame,
      iters: Int = 50): (Array[Double], Seq[Double], Double, Long) = {
    val m = pcaModel(emb, iters)
    (m.component, m.rayleighs, m.trace, m.n)
  }

  /** Driver-bounded PCA artifacts: corpus mean, unit top component, the
    * power-iteration Rayleigh trail, covariance trace, row count.
    */
  case class PcaModel(mu: Array[Double], component: Array[Double],
      rayleighs: Seq[Double], trace: Double, n: Long)

  /** k-component PCA artifacts (round 15, VERDICT-r14 #2): corpus mean,
    * the top-k unit components (deflation order — components(0) is PC1),
    * their eigenvalue estimates (final Rayleigh quotients), per-component
    * Rayleigh trails, covariance trace, row count. All driver-bounded:
    * k·d + d doubles.
    */
  case class PcaModelK(mu: Array[Double], components: Array[Array[Double]],
      lambdas: Array[Double], rayleighs: Seq[Seq[Double]], trace: Double,
      n: Long) {
    def k: Int = components.length
  }

  /** How many components all-but-the-top removes: Mu & Viswanath
    * (ICLR'18) use ~d/100 on 300-dim GloVe; scaled to this corpus's
    * d = 64 the same ratio rounds to max(1, d/32) = 2. Derived from the
    * DATA dimension, never the graded regime.
    */
  def whitenComponentsFor(d: Int): Int = math.max(1, d / 32)

  def pcaModel(emb: DataFrame, iters: Int = 50): PcaModel = {
    val m = pcaModelK(emb, 1, iters)
    PcaModel(m.mu, m.components(0), m.rayleighs(0), m.trace, m.n)
  }

  /** Top-k principal components by power iteration WITH DEFLATION
    * (round 15, VERDICT-r14 #2): the covariance second-moment still comes
    * from ONE corpus pass ([[graft.functions.OuterProductSum]]'s d²
    * treeAggregate-shaped buffer); each subsequent component re-runs
    * power iteration driver-side on Σ − Σλⱼvⱼvⱼᵀ (Hotelling deflation) —
    * zero extra corpus passes, microseconds at d = 64. Iterates are
    * additionally Gram-Schmidt-projected against the components already
    * found each step, so float error in λⱼ cannot let a later component
    * drift back toward an earlier axis (at k ≪ d the re-orthogonalization
    * is k·d flops per iteration — noise).
    */
  def pcaModelK(emb: DataFrame, k: Int, iters: Int = 50): PcaModelK = {
    val row = emb.select(toDouble(col("embedding")).as("v"))
      .agg(count(lit(1)),
        graft.functions.VectorExpressions.vectorSum(col("v")),
        graft.functions.VectorExpressions.outerProductSum(col("v")))
      .head()
    val n = row.getLong(0)
    require(n > 0, "pcaModelK over an empty corpus")
    val sx = row.getSeq[Double](1).toArray
    val sxx = row.getSeq[Double](2).toArray
    val d = sx.length
    require(k >= 1 && k <= d, s"pcaModelK: k=$k out of range for d=$d")
    val mu = sx.map(_ / n)
    val cov = Array.tabulate(d * d) { ij =>
      val i = ij / d; val j = ij % d
      sxx(ij) / n - mu(i) * mu(j)
    }
    val trace = (0 until d).map(i => cov(i * d + i)).sum
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => dotV(cov, i * d, v))
    val comps = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val lams = scala.collection.mutable.ArrayBuffer.empty[Double]
    val trails = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    def orthogonalize(v: Array[Double]): Array[Double] = {
      val w = v.clone()
      comps.foreach { c =>
        val p = dotV(w, 0, c)
        var i = 0
        while (i < d) { w(i) -= p * c(i); i += 1 }
      }
      w
    }
    var comp = 0
    while (comp < k) {
      // deterministic seed: normalized all-ones, orthogonalized against
      // components already found (orthogonal to a true PC only on a
      // measure-zero corpus; a zero iterate falls back to keeping v)
      var v = orthogonalize(Array.fill(d)(1.0 / math.sqrt(d.toDouble)))
      val vn0 = math.sqrt(dotV(v, 0, v))
      if (vn0 > 0) v = v.map(_ / vn0)
      val rayleighs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var t = 0
      while (t < iters) {
        rayleighs += dotV(v, 0, matVec(v))
        val w = orthogonalize(matVec(v))
        val wn = math.sqrt(dotV(w, 0, w))
        if (wn > 0) v = w.map(_ / wn)
        t += 1
      }
      rayleighs += dotV(v, 0, matVec(v))
      comps += v
      lams += rayleighs.last
      trails += rayleighs.toSeq
      // Hotelling deflation: Σ ← Σ − λvvᵀ, so the next power iteration
      // converges to the next-largest eigenpair
      val lam = rayleighs.last
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { cov(i * d + j) -= lam * v(i) * v(j); j += 1 }
        i += 1
      }
      comp += 1
    }
    PcaModelK(mu, comps.toArray, lams.toArray, trails.toSeq, trace, n)
  }

  /** All-but-the-top whitening (Mu & Viswanath ICLR'18): center on the
    * corpus mean and remove the dominant component —
    * x″ = (x − μ) − ⟨x − μ, v⟩·v. One narrow in-row projection against
    * two plan-literal vectors (μ, v): no shuffle, no join,
    * embarrassingly parallel at any corpus size; the model comes from
    * [[pcaModel]]'s single stats pass. Output keeps the `embedding`
    * column name (now array<double>) so every downstream similarity
    * operator consumes whitened vectors unchanged.
    */
  def whitenEmbeddings(emb: DataFrame, model: PcaModel): DataFrame =
    whitenEmbeddingsK(emb,
      PcaModelK(model.mu, Array(model.component),
        Array(model.rayleighs.last), Seq(model.rayleighs), model.trace,
        model.n))

  /** k-component all-but-the-top (round 15, VERDICT-r14 #2 — the paper's
    * actual prescription removes the top ~d/100 directions, not exactly
    * one): center, then project out each component IN DEFLATION ORDER —
    * c ← c − ⟨c, vⱼ⟩vⱼ for j = 1..k. Sequential projection equals the
    * batch sum Σ⟨c, vⱼ⟩vⱼ when the vⱼ are orthonormal (they are, up to
    * the Gram-Schmidt float floor) and is numerically tighter: each
    * step's residual is computed against the ALREADY-cleaned vector, so
    * cross-talk through the ~1e-15 component overlaps never accumulates.
    * Still one narrow in-row projection chain against k+1 plan-literal
    * vectors — no shuffle, no join, k is ~d/32 so the per-row cost is
    * O(k·d) flops.
    */
  def whitenEmbeddingsK(emb: DataFrame, model: PcaModelK): DataFrame = {
    // round 16: the AxpyVec kernel (reference-object vectors) replaces
    // the interpreted zip_with chain — the centering is s = 1 (x − 1·m is
    // bit-equal to x − m) and each deflation step is s = ⟨c, vⱼ⟩; LlmSpec
    // pins row identity vs HofReference.whitenEmbeddingsKHof (test scope)
    val axpy = graft.functions.VectorExpressions.axpyVec _
    val centered = emb.select(col("vec_id"),
      axpy(toDouble(col("embedding")), lit(1.0d), model.mu).as("c"))
    val cleaned = model.components.foldLeft(centered) { (df, v) =>
      val vLit = typedLit(v.toSeq)
      df.select(col("vec_id"), col("c"), dot(col("c"), vLit).as("p"))
        .select(col("vec_id"), axpy(col("c"), col("p"), v).as("c"))
    }
    cleaned.select(col("vec_id"), col("c").as("embedding"))
  }

  def topKBatch(emb: DataFrame, nQueries: Int = batchQueryCount,
      k: Int = 10): DataFrame =
    topKBatchBy(emb, nQueries, k, cosineScore = true)

  /** Batched exact MIPS (round 14, VERDICT-r13 #5): the inner-product
    * twin of [[topKBatch]] — the score an unnormalized two-tower
    * retriever serves in batches. Identical one-scan fan-out +
    * WindowGroupLimit shape; only the score expression differs (no norm
    * division), so every dot is bit-identical to the one-query
    * [[mipsTopK]] form and the result hash-gates cross-engine at 6dp.
    * The bucketed scale path is [[mipsTopK]]'s norm-augmentation
    * reduction, unchanged by batching.
    */
  def mipsTopKBatch(emb: DataFrame, nQueries: Int = batchQueryCount,
      k: Int = 10): DataFrame =
    topKBatchBy(emb, nQueries, k, cosineScore = false)

  /** Shared batched-exact core: ONE corpus scan, in-row posexplode
    * fan-out to the literal query matrix, per-query top-k through the
    * rank-filtered window Spark rewrites to WindowGroupLimit. `cosineScore`
    * selects cosine (`cos_r`, norms hoisted — |v| once per row before the
    * fan-out, |q| driver-side with the ArrayDot fold) vs raw inner
    * product (`dot_r`, no norms at all — the MIPS contract).
    */
  private def topKBatchBy(emb: DataFrame, nQueries: Int, k: Int,
      cosineScore: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), toDouble(col("embedding")).as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val qIds = typedLit(qs.map(_._1))
    val qVecs = typedLit(qs.map(_._2))
    val qNorms = typedLit(qs.map { q =>
      val a = q._2.toArray
      math.sqrt(dotV(a, 0, a))
    })
    val scoreName = if (cosineScore) "cos_r" else "dot_r"
    val base = emb
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val withNorm = if (cosineScore) base.withColumn("nv", norm(col("v")))
      else base
    val score =
      if (cosineScore)
        round(dot(col("v"), col("col")) /
          (col("nv") * element_at(qNorms, col("pos") + 1)), 6)
      else round(dot(col("v"), col("col")), 6)
    val keep = if (cosineScore) Seq(col("vec_id"), col("v"), col("nv"))
      else Seq(col("vec_id"), col("v"))
    val scored = withNorm
      .select(keep :+ posexplode(qVecs): _*)
      .withColumn("query_id", element_at(qIds, col("pos") + 1))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn(scoreName, score)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreName).desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col(scoreName), col("rk"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Driver-gate wrapper for approximate top-k variants whose candidate
    * sets are engine-local (IVF centroids, quantization stats): joins the
    * approximate result against the brute-force exact top-k and emits one
    * row (n_results, recall_ok). Row count, schema, and the recall floor
    * become hash-gated cross-engine; only the candidate set itself stays
    * engine-local (LlmSpec holds the tighter per-query recall specs).
    */
  private def recallGate(approx: DataFrame, emb: DataFrame, queryId: Long,
      k: Int, minHits: Int): DataFrame =
    recallGateAgainst(approx, topK(emb, queryId, k), emb, k, minHits)

  /** recallGate with the exact-truth frame supplied by the caller — the
    * MIPS variants gate against [[mipsTopK]] instead of cosine [[topK]].
    */
  private def recallGateAgainst(approx: DataFrame, exactTopK: DataFrame,
      emb: DataFrame, k: Int, minHits: Int): DataFrame = {
    // derived-constant pattern (round 7): expected result count is
    // min(k, n-1) — n from a parquet-footer count — and the recall
    // floor is capped at it, so the gate's oracle can state
    // least(k, greatest(0, count(*)-1)) instead of a bare constant and
    // a graded dataset with <= k vectors fails for a REAL recall reason,
    // not because a pinned 10 was impossible. At the driver SFs
    // (n >= 500) expected = k and minHits is the caller's unchanged.
    // Residual assumption, deliberate: IVF probe pruning can return
    // fewer than expected rows on corpora of a few dozen vectors
    // (probed cells may hold < k members) — that mismatch is a loud,
    // correct signal that the probe count is too small for the corpus.
    val expected = math.min(k.toLong, math.max(emb.count() - 1L, 0L))
    val eff = math.min(minHits.toLong, expected)
    val exact = exactTopK.select(col("vec_id"), lit(1L).as("hit"))
    approx.select(col("vec_id"))
      .join(broadcast(exact), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_results"),
        (coalesce(sum(col("hit")), lit(0L)) >= eff).as("recall_ok"))
  }

  val queries: Map[String, Q] = Map(

    // Quantized-first-pass ANN: the shortlist boundary depends on float
    // min/max stats (engine-local), so the result set itself can't be
    // oracle-mirrored — the gate pins plumbing (1 row, k results found)
    // plus the recall floor vs brute force; LlmSpec holds the recall spec.
    "q_sim_quant" -> Q(
      "SELECT least(10, greatest(0, count(*) - 1)) AS n_results, TRUE AS recall_ok FROM embeddings") { (s, dir) =>
      val emb = Engine.table(s, dir, "embeddings")
      recallGate(quantizedTopK(emb, queryId = 0L, k = 10), emb,
        queryId = 0L, k = 10, minHits = 8)
    },

    // Int8 scalar quantization, hash-gated end-to-end: the oracle rebuilds
    // the identical micro-unit stats + integer code arithmetic in DuckDB
    // (generate_subscripts for the per-dim explode the Spark plan
    // deliberately avoids — fine at oracle scale). Emitted exploded as
    // (vec_id, dim, code) so the driver's column-sorted hash sees scalar
    // columns; the library surface [[quantizeEmbeddings]] keeps the array
    // form.
    "q_embed_quant" -> Q(
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> cast(floor(cast(x as double) * 1000000) as bigint)) AS xq
        |           FROM embeddings),
        |ex AS (SELECT vec_id, unnest(xq) AS v, generate_subscripts(xq, 1) AS dim
        |       FROM q),
        |stats AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim)
        |SELECT ex.vec_id, cast(ex.dim as int) AS dim,
        |  cast(CASE WHEN mx = mn THEN 0
        |       ELSE ((v - mn) * 255) // (mx - mn) END as int) AS code
        |FROM ex JOIN stats USING (dim)
        |ORDER BY vec_id, dim""".stripMargin) { (s, dir) =>
      quantizeEmbeddings(Engine.table(s, dir, "embeddings"))
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), (col("pos") + 1).cast(IntegerType).as("dim"),
          col("col").as("code"))
        .orderBy(col("vec_id"), col("dim"))
    },

    // Top principal component by power iteration (round 14): the
    // anisotropy/whitening primitive over the embedding corpus. The
    // component itself is engine-local floats (covariance sums are
    // order-dependent), so the gate emits the SELF-VERIFYING shape:
    // exact n + derived dim (hash-gated) plus the power-iteration
    // invariants pinned TRUE — unit-norm component, monotone
    // nondecreasing Rayleigh sequence (the symmetric-PSD power-iteration
    // property), and dominance λ ≥ trace/d (the top eigenvalue is at
    // least the average); LlmSpec holds the semantic pin (a planted
    // anisotropic corpus recovers its plant axis at |cos| ≥ 0.99).
    "q_embed_pca" -> Q(
      """SELECT cast(count(*) as bigint) AS n,
        |  cast(max(len(embedding)) as int) AS dim,
        |  TRUE AS unit_norm_ok, TRUE AS rayleigh_monotone_ok,
        |  TRUE AS dominant_ok
        |FROM embeddings""".stripMargin) { (s, dir) =>
      import s.implicits._
      val (v, rayleighs, trace, n) =
        pcaTopComponent(Engine.table(s, dir, "embeddings"))
      val d = v.length
      val vNorm = math.sqrt(v.map(x => x * x).sum)
      val lam = rayleighs.last
      val monotone = rayleighs.sliding(2).forall {
        case Seq(a, b) => b >= a - 1e-9 * math.max(1.0, math.abs(a))
        case _         => true
      }
      Seq((n, d, math.abs(vNorm - 1.0) < 1e-9, monotone,
        lam >= trace / d - 1e-9))
        .toDF("n", "dim", "unit_norm_ok", "rayleigh_monotone_ok",
          "dominant_ok")
    },

    // All-but-the-top whitening applied (round 14; k-component deflation
    // round 15, VERDICT-r14 #2 — Mu & Viswanath remove the top ~d/100
    // directions, here k = max(1, d/32) derived from the data dim): an
    // in-row projection chain re-expresses every vector as the centered
    // residual with ALL k deflation components projected out. Whitened
    // floats are engine-local, so the gate aggregates the transform's
    // DEFINING invariants over the actual whitened corpus and pins them
    // TRUE: the residual projection onto EVERY removed component is ~0
    // (max over j ≤ k of max-row |⟨x″, vⱼ⟩| < 1e-6 — per-row float error
    // is ~1e-12) and the whitened corpus mean is ~0 in every dimension;
    // n, dim, and the derived k stay exact/hash-gated (the oracle derives
    // k from the data the same way).
    "q_embed_whiten" -> Q(
      """SELECT cast(count(*) as bigint) AS n,
        |  cast(max(len(embedding)) as int) AS dim,
        |  cast(greatest(1, max(len(embedding)) // 32) as int) AS k,
        |  TRUE AS pcs_removed_ok, TRUE AS mean_removed_ok
        |FROM embeddings""".stripMargin) { (s, dir) =>
      import s.implicits._
      val emb = Engine.table(s, dir, "embeddings")
      val model = pcaModelK(emb, whitenComponentsFor(
        emb.select(size(toDouble(col("embedding")))).head().getInt(0)))
      val w = whitenEmbeddingsK(emb, model)
      val projAggs = model.components.toSeq.map(v =>
        max(abs(dot(col("embedding"), typedLit(v.toSeq)))))
      val row = w.agg(count(lit(1)),
          (graft.functions.VectorExpressions.vectorSum(col("embedding"))
            +: projAggs): _*)
        .head()
      val n = row.getLong(0)
      val meanMax = row.getSeq[Double](1).map(x => math.abs(x / n)).max
      val maxProj = (0 until model.k).map(j => row.getDouble(2 + j)).max
      Seq((n, model.mu.length, model.k, maxProj < 1e-6, meanMax < 1e-6))
        .toDF("n", "dim", "k", "pcs_removed_ok", "mean_removed_ok")
    },

    // PQ/ADC ANN (round 12, VERDICT-r11 #2): codebooks are Lloyd-trained
    // floats (engine-local, like IVF's centroids), so the gate pins
    // plumbing + the recall floor vs brute force via the recallGate
    // self-verifying shape (the q_sim_quant/q_sim_ivf precedent);
    // LlmSpec holds the multi-query recall curve and the coarse-path
    // layout pins.
    "q_sim_pq" -> Q(
      "SELECT least(10, greatest(0, count(*) - 1)) AS n_results, TRUE AS recall_ok FROM embeddings") { (s, dir) =>
      val emb = Engine.table(s, dir, "embeddings")
      recallGate(pqTopK(emb, queryId = 0L, k = 10), emb,
        queryId = 0L, k = 10, minHits = 8)
    },

    // IVF-PQ/ADC ANN (round 12; round 13 moves the gate onto the
    // PERSISTED serving path — [[AnnIndex.servedTopK]]: the first call in
    // a JVM trains the derived √n-cell grid once and writes the packed
    // (cell, codes64) table partitioned by cell; every call probes
    // 2√cells partitions and reranks a 10·k + 4√n shortlist — the
    // production train-once/serve-many shape, with probe reads growing
    // n^(3/4) where the retired fixed-16 grid scanned half the codes at
    // any size). Centroids and codebooks are Lloyd-trained floats
    // (engine-local), so the gate pins plumbing + the recall floor via
    // recallGate, exactly like q_sim_ivf/q_sim_pq; LlmSpec holds the
    // multi-query recall curve, the kernel/HOF identity pins, and the
    // code-table partition-pruning pin.
    "q_sim_ivfpq" -> Q(
      "SELECT least(10, greatest(0, count(*) - 1)) AS n_results, TRUE AS recall_ok FROM embeddings") { (s, dir) =>
      val emb = Engine.table(s, dir, "embeddings")
      recallGate(AnnIndex.servedTopK(s, dir, queryId = 0L, k = 10), emb,
        queryId = 0L, k = 10, minHits = 8)
    },

    // Batched exact retrieval (round 13): top-10 per query for the
    // 16-lowest-vec_id query set in ONE corpus pass — query matrix as a
    // broadcast literal, per-query TakeOrdered via the rank-filtered
    // window Spark rewrites to WindowGroupLimit (map-side partial top-k;
    // single-scan + WindowGroupLimit pinned in LlmSpec). Fully
    // hash-gated: the 6dp-rounded cosine + (query_id, rank) total order
    // is the q_sim_topk discipline per query id.
    "q_sim_batch" -> Q(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < ${batchQueryCount}),
        |sc AS (SELECT q.query_id, b.vec_id,
        |         round(list_cosine_similarity(b.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cos_r
        |       FROM embeddings b CROSS JOIN q
        |       WHERE b.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, cos_r,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY cos_r DESC, vec_id) AS rk
        |      FROM sc)
        |SELECT query_id, vec_id, cos_r, cast(rk as bigint) AS rk
        |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin) { (s, dir) =>
      topKBatch(Engine.table(s, dir, "embeddings"), k = 10)
    },

    // Batched APPROXIMATE retrieval against the persisted IVF-PQ index
    // (round 13 — the production pattern: the probed-cell code scan
    // amortizes across the query batch; see AnnIndex.topKBatchFromCodes).
    // Centroids/codebooks are engine-local floats, so the gate pins
    // plumbing + a PER-QUERY recall floor vs the exact batched truth
    // (q_sim_batch's one-scan ranking): 16 rows of
    // (query_id, n_results, recall_ok), floor 6/10 — the LlmSpec
    // worst-query discipline (mean recall runs 0.86-0.98 by corpus size,
    // DESIGN.md "Round-13: the ANN tier finished"; individual queries
    // bottom out near 0.7 on the tiny
    // 500-vector gate corpora).
    "q_sim_batch_ann" -> Q(
      s"""SELECT vec_id AS query_id,
        |  cast(least(10, greatest(0,
        |    (SELECT count(*) FROM embeddings) - 1)) as bigint) AS n_results,
        |  TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < ${batchQueryCount}
        |ORDER BY query_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val emb = Engine.table(s, dir, "embeddings")
      val qids = (0L until batchQueryCount.toLong)
      val approx = AnnIndex.servedBatchTopK(s, dir, qids, k = 10)
      val exact = topKBatch(emb, batchQueryCount, k = 10)
        .select(col("query_id"), col("vec_id"), lit(1L).as("hit"))
      val expected = math.min(10L, math.max(emb.count() - 1L, 0L))
      val eff = math.min(6L, expected)
      // right-join onto the literal query frame (ADVICE-r13): a query
      // whose probed cells hold zero candidates must still emit its row
      // (n_results 0, recall_ok false) — a LOUD data-shaped gate signal
      // on tiny/skewed corpora, never a silently missing row
      approx.select(col("query_id"), col("vec_id"))
        .join(exact, Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_results"),
          coalesce(sum(col("hit")), lit(0L)).as("hits"))
        .join(qids.toDF("query_id"), Seq("query_id"), "right")
        .select(col("query_id"),
          coalesce(col("n_results"), lit(0L)).as("n_results"),
          (coalesce(col("hits"), lit(0L)) >= eff).as("recall_ok"))
        .orderBy(col("query_id"))
    },

    // Brute-force cosine top-10 neighbors of vec 0 (oracle: DuckDB
    // list_cosine_similarity over ::DOUBLE[], rounded to 6dp on both
    // sides before the ORDER BY so tie/order is identical).
    "q_sim_topk" -> Q(
      """SELECT b.vec_id,
        |  round(list_cosine_similarity(b.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cos_r
        |FROM embeddings b
        |CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        |WHERE b.vec_id <> 0
        |ORDER BY cos_r DESC, b.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      topK(Engine.table(s, dir, "embeddings"), queryId = 0L, k = 10)
    },

    // Brute-force MIPS top-10 (inner product, not cosine — the score an
    // unnormalized two-tower retriever ranks by): same 6dp-rounded
    // cross-engine ordering discipline as q_sim_topk, tiebreak vec_id.
    // Scale path documented at [[mipsTopK]] (norm-augmentation to
    // cosine LSH).
    "q_sim_mips" -> Q(
      """SELECT b.vec_id,
        |  round(list_inner_product(b.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS dot_r
        |FROM embeddings b
        |CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        |WHERE b.vec_id <> 0
        |ORDER BY dot_r DESC, b.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      mipsTopK(Engine.table(s, dir, "embeddings"), queryId = 0L, k = 10)
    },

    // Batched exact MIPS (round 14, VERDICT-r13 #5): top-10 inner-product
    // per query for the 16-query set in ONE corpus pass — q_sim_batch's
    // one-scan + WindowGroupLimit shape with the two-tower score
    // (no norm division). Fully hash-gated at the q_sim_mips 6dp + vec_id
    // tiebreak discipline per query id; LlmSpec pins the single-scan plan
    // and result ≡ 16 independent mipsTopK calls.
    "q_sim_mips_batch" -> Q(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < ${batchQueryCount}),
        |sc AS (SELECT q.query_id, b.vec_id,
        |         round(list_inner_product(b.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS dot_r
        |       FROM embeddings b CROSS JOIN q
        |       WHERE b.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, dot_r,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY dot_r DESC, vec_id) AS rk
        |      FROM sc)
        |SELECT query_id, vec_id, dot_r, cast(rk as bigint) AS rk
        |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin) { (s, dir) =>
      mipsTopKBatch(Engine.table(s, dir, "embeddings"), k = 10)
    },

    // Served MIPS against the SAME persisted IVF-PQ index as the cosine
    // serve (round 14 — "one index, two score functions"): probe cells
    // by raw q·c, score codes with the IP-ADC table (the cosine path's
    // NUM table with no denominator — q·c + q·r̂ through the same
    // AdcTableSum kernel), exact inner-product rerank from the probed
    // cells' `rows` partitions. Centroids/codebooks are
    // engine-local floats, so the gate pins plumbing + the recall floor
    // vs the exact MIPS truth (q_sim_mips's ranking) via the recallGate
    // shape; LlmSpec holds the multi-query recall curve and the
    // no-source-scan plan pin. Scale shape identical to q_sim_ivfpq:
    // every serve term sublinear in the corpus.
    "q_sim_mips_ann" -> Q(
      "SELECT least(10, greatest(0, count(*) - 1)) AS n_results, TRUE AS recall_ok FROM embeddings") { (s, dir) =>
      val emb = Engine.table(s, dir, "embeddings")
      recallGateAgainst(AnnIndex.servedMipsTopK(s, dir, queryId = 0L, k = 10),
        mipsTopK(emb, queryId = 0L, k = 10), emb, k = 10, minHits = 6)
    },

    // ANN variant (LSH buckets + multi-probe + exact rerank) —
    // HASH-GATED, not rows-only: the md5-derived hyperplanes and the
    // floor-quantized sign test are engine-portable (same pattern as
    // q_dedup_embed), so the oracle recomputes the buckets in SQL and
    // selects the identical candidate set (bucket hamming <= 2 from the
    // query's bucket ≡ the multi-probe XOR expansion, pinned by the
    // HofReference.embedCandidates spec), then reranks by the
    // 6dp-rounded cosine with a vec_id tiebreak. The approximation is
    // part of the operator's definition; recall vs brute force is
    // separately spec'd in LlmSpec.
    "q_sim_ann" -> Q(
      s"""WITH planes AS (
        |  SELECT g.p, gd.d,
        |    ((instr('0123456789abcdef', substr(md5(g.p || ':' || gd.d), 1, 1)) - 1) * 4096
        |   + (instr('0123456789abcdef', substr(md5(g.p || ':' || gd.d), 2, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(md5(g.p || ':' || gd.d), 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(g.p || ':' || gd.d), 4, 1)) - 1)) / 32768.0 - 1.0 AS w
        |  FROM (SELECT cast(unnest(range(0, $annPlanes)) as varchar) AS p) g
        |  CROSS JOIN (SELECT cast(unnest(range(0, 64)) as varchar) AS d) gd),
        |dots AS (
        |  SELECT e.vec_id, pl.p,
        |    sum(cast(floor(pl.w * e.embedding[cast(pl.d as int) + 1]::DOUBLE * 1073741824.0) as bigint)) AS dp
        |  FROM embeddings e CROSS JOIN planes pl
        |  GROUP BY e.vec_id, pl.p),
        |sigs AS MATERIALIZED (
        |  SELECT vec_id,
        |    cast(sum(CASE WHEN dp >= 0 THEN (1::BIGINT << cast(p as int)) ELSE 0 END) as bigint) AS bucket
        |  FROM dots GROUP BY vec_id),
        |qb AS (SELECT bucket AS b FROM sigs WHERE vec_id = 0),
        |cands AS MATERIALIZED (
        |  SELECT s.vec_id FROM sigs s CROSS JOIN qb
        |  WHERE s.vec_id <> 0 AND bit_count(xor(s.bucket, qb.b)) <= $annProbeHamming)
        |SELECT c.vec_id,
        |  round(list_cosine_similarity(b.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cos_r
        |FROM cands c
        |JOIN embeddings b ON b.vec_id = c.vec_id
        |CROSS JOIN (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
        |ORDER BY cos_r DESC, c.vec_id LIMIT 10""".stripMargin) { (s, dir) =>
      annTopK(Engine.table(s, dir, "embeddings"), queryId = 0L, k = 10)
    },

    // IVF variant (centroid buckets + nProbe pruning + exact rerank):
    // k-means centroids are float-order-dependent (engine-local), so the
    // gate pins plumbing + the recall floor vs brute force (same pattern
    // as q_sim_quant); LlmSpec holds the multi-query recall curve.
    "q_sim_ivf" -> Q(
      "SELECT least(10, greatest(0, count(*) - 1)) AS n_results, TRUE AS recall_ok FROM embeddings") { (s, dir) =>
      val emb = Engine.table(s, dir, "embeddings")
      recallGate(ivfTopK(emb, queryId = 0L, k = 10), emb,
        queryId = 0L, k = 10, minHits = 8)
    },

    // Cluster assignment (the k-means E-step over deterministic lowest-id
    // seeds): nearest-centroid per vector via a broadcast of the 8-row
    // centroid table + map-side-combinable argmax — one narrow pass over
    // the corpus, one 1-row-per-vector shuffle; the shape that holds at
    // any corpus size. Ranking uses the 6dp-rounded cosine on BOTH
    // engines (ties → smallest cent_id) so the argmax is cross-engine
    // deterministic. The M-step (Lloyd mean refinement) is
    // [[ivfCentroids]], pinned by LlmSpec rather than SQL (float mean
    // summation order is engine-specific).
    "q_cluster_assign" -> Q(
      s"""WITH $oAssignCte
        |SELECT vec_id, cent_id, cos_r FROM asg
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      roundedArgmaxAssign(Engine.table(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    // Clustering-quality evaluation (round 7 continuation): per-cluster
    // purity against the embeddings table's ground-truth labels — the
    // external-validity check run after any unsupervised partitioning
    // (does the k-means cell structure recover the labeled classes?).
    // Rides q_cluster_assign's mirrored 6dp-rounded argmax assignment so
    // both engines score the IDENTICAL partition; the majority label per
    // cluster is tie-broken by smallest label and purity is one integer
    // floor division. Scale shape: the corpus collapses to the
    // (cent_id, label) confusion matrix in one map-side-combined agg;
    // the majority window and totals run on that k×labels table, never
    // on vectors.
    "q_cluster_purity" -> Q(
      s"""WITH $oAssignCte,
        |conf AS (SELECT cent_id, label, cast(count(*) as bigint) AS c
        |         FROM asg JOIN embeddings USING (vec_id)
        |         GROUP BY cent_id, label),
        |tot AS (SELECT cent_id, cast(sum(c) as bigint) AS n
        |        FROM conf GROUP BY cent_id),
        |best AS (SELECT cent_id, c AS n_majority, label AS majority_label,
        |           row_number() OVER (PARTITION BY cent_id
        |                              ORDER BY c DESC, label) AS rk
        |         FROM conf)
        |SELECT b.cent_id, t.n, b.n_majority, b.majority_label,
        |  cast(b.n_majority * 1000000 // t.n as bigint) AS purity_ppm
        |FROM best b JOIN tot t ON b.cent_id = t.cent_id
        |WHERE b.rk = 1 ORDER BY b.cent_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Engine.table(s, dir, "embeddings")
      val asg = roundedArgmaxAssign(emb).select(col("vec_id"), col("cent_id"))
      val conf = asg.join(emb.select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("cent_id"), col("label")).agg(count(lit(1)).as("c"))
      val tot = conf.groupBy(col("cent_id")).agg(sum(col("c")).as("n"))
      conf.withColumn("rk", row_number().over(
          Window.partitionBy(col("cent_id"))
            .orderBy(col("c").desc, col("label"))))
        .filter(col("rk") === 1)
        .join(tot, "cent_id")
        .select(col("cent_id"), col("n"), col("c").as("n_majority"),
          col("label").as("majority_label"),
          expr("(c * 1000000L) div n").as("purity_ppm"))
        .orderBy(col("cent_id"))
    },

    // Embedding-space outlier audit (round 7 continuation): per cluster,
    // the ANSI discrete p10 of the (6dp-rounded) cosine-to-own-centroid,
    // and how many members fall below it minus a fixed margin — the
    // SemDeDup companion that flags vectors which joined a cluster but
    // sit far from its center (mislabeled, mojibake, or out-of-domain
    // points a curation pass reviews). Portable because every number is
    // either a rounded cosine (identical in both engines), an element
    // selected by percentile_disc (the q_winsorize precedent — no
    // interpolation), or an exact count. Scale shape: assignment is the
    // broadcast argmax; the percentile agg runs per cluster over member
    // cosines (hash-partitioned); the flag pass is one broadcast join of
    // the k-row bounds table back onto members.
    "q_embed_outliers" -> Q(
      s"""WITH $oAssignCte,
        |b AS (SELECT cent_id,
        |        min(CASE WHEN cd >= 0.10 THEN v END) AS p10
        |      FROM (SELECT cent_id, cos_r AS v,
        |              cume_dist() OVER (PARTITION BY cent_id
        |                                ORDER BY cos_r) AS cd
        |            FROM asg)
        |      GROUP BY cent_id)
        |SELECT a.cent_id, cast(count(*) as bigint) AS n, min(b.p10) AS p10_cos,
        |  cast(count(CASE WHEN a.cos_r < b.p10 - 0.05 THEN 1 END) as bigint)
        |    AS n_outliers
        |FROM asg a JOIN b ON a.cent_id = b.cent_id
        |GROUP BY a.cent_id ORDER BY a.cent_id""".stripMargin) { (s, dir) =>
      val asg = roundedArgmaxAssign(Engine.table(s, dir, "embeddings"))
      val bounds = asg.groupBy(col("cent_id")).agg(
        expr("percentile_disc(0.10) WITHIN GROUP (ORDER BY cos_r)").as("p10"))
      asg.join(broadcast(bounds), "cent_id")
        .groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n"), min(col("p10")).as("p10_cos"),
          count(when(col("cos_r") < col("p10") - 0.05, 1)).as("n_outliers"))
        .orderBy(col("cent_id"))
    },

    // 1-NN label consistency (round 7; round 8 moves candidates to the
    // banded OR-construction): for each vector, its nearest
    // LSH-candidate neighbor (rounded cosine, id tiebreak) — does the
    // neighbor carry the same ground-truth label? The standard
    // embedding-quality eval (a space where 1-NN accuracy is high
    // supports label propagation / retrieval), run over the mirrored
    // md5-hyperplane band buckets (q_dedup_embed's shared bsigs CTE) so
    // both engines rank the identical neighbor lists — candidate volume
    // is bands × occupancy × n, linear at every corpus size (the round-7
    // hamming ≤ 2 multi-probe measured 48-77 s at the 30× corpus from
    // its C(planes, ≤2) mask growth). Vectors with no band-mate are
    // consistently absent on both sides. Scale shape: candidates come
    // from the (band, bucket) equi-join (never all-pairs), the
    // per-vector argmax is a map-side-combinable max_by (no window over
    // the candidate table), and the accuracy agg runs on labels-sized
    // groups. Counts integer-exact; accuracy in floor ppm.
    "q_knn_label_acc" -> Q(
      s"""WITH ${graft.llm.Dedup.oEmbedBandSigsCte},
        |cands AS MATERIALIZED (
        |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        |  FROM bsigs a JOIN bsigs b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |   AND a.vec_id < b.vec_id),
        |sym AS (SELECT d1 AS v, d2 AS nb FROM cands
        |        UNION ALL SELECT d2, d1 FROM cands),
        |sc AS (
        |  SELECT s.v, s.nb,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_r
        |  FROM sym s JOIN embeddings a ON a.vec_id = s.v
        |             JOIN embeddings b ON b.vec_id = s.nb),
        |rk AS (SELECT v, nb,
        |         row_number() OVER (PARTITION BY v ORDER BY cos_r DESC, nb) AS rn
        |       FROM sc),
        |nn AS (SELECT v, nb FROM rk WHERE rn = 1)
        |SELECT la.label, cast(count(*) as bigint) AS n,
        |  cast(count(CASE WHEN la.label = lb.label THEN 1 END) as bigint) AS n_correct,
        |  cast(count(CASE WHEN la.label = lb.label THEN 1 END) * 1000000
        |       // count(*) as bigint) AS acc_ppm
        |FROM nn JOIN embeddings la ON la.vec_id = nn.v
        |        JOIN embeddings lb ON lb.vec_id = nn.nb
        |GROUP BY la.label ORDER BY la.label""".stripMargin) { (s, dir) =>
      val emb = Engine.table(s, dir, "embeddings")
      val nPlanes = graft.llm.Dedup.embedPlanesFor(emb.count())
      val cands = graft.llm.Dedup.embedBandCandidates(emb, nPlanes)
      val sym = cands.select(col("d1").as("v"), col("d2").as("nb"))
        .union(cands.select(col("d2"), col("d1")))
      val vec = emb.select(col("vec_id"), toDouble(col("embedding")).as("e"))
        .withColumn("nrm", norm(col("e")))
      // round 16: the max_by(struct) argmax routed the candidate-table
      // aggregation through SortAggregate (r16 packed-long lesson) —
      // roundedArgmaxByGroup keeps it in codegen HashAggregate,
      // map-side-combinable, bit-identical (spec-pinned)
      val nn = roundedArgmaxByGroup(sym
        .join(vec.select(col("vec_id").as("v"), col("e").as("v1"),
          col("nrm").as("n1")), "v")
        .join(vec.select(col("vec_id").as("nb"), col("e").as("v2"),
          col("nrm").as("n2")), "nb")
        .withColumn("cos_r",
          round(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6)),
        "v", "nb", "cos_r", "nb")
      val lab = emb.select(col("vec_id"), col("label"))
      nn.join(lab.toDF("v", "label"), "v")
        .join(lab.toDF("nb", "nb_label"), "nb")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          count(when(col("label") === col("nb_label"), 1)).as("n_correct"))
        .withColumn("acc_ppm", expr("(n_correct * 1000000L) div n"))
        .orderBy(col("label"))
    },

    // Embedding-centroid drift (round 9): how far each label's centroid
    // sits from the corpus centroid — the per-slice embedding-drift
    // monitor a training pipeline runs when a new ingest batch lands
    // (label stands in for the batch/source slice). Centroids are
    // computed in exact integer micro-units (floor(x·1e6) per element,
    // per-dim integer sums, then the PORTABLE signed floor division —
    // Spark `div` truncates where DuckDB `//` floors, so the positive
    // mod is subtracted first; see q_theil_sen) and the drift is the
    // exact squared L2 between integer centroids, ≤ dims·(2e6)² ≈ 2.6e14
    // at ANY corpus size — bigint-safe forever because the per-dim sums
    // are divided down BEFORE squaring (a cross-multiplied exact form
    // would pass 2^63 at ~3M vectors). Scale shape: one posexplode +
    // one map-side-combinable (label, dim) agg is the only corpus pass;
    // everything downstream is |labels|·dims rows, and the global
    // centroid joins back via broadcast.
    "q_embed_drift" -> Q(
      """WITH ex AS (
        |  SELECT label,
        |    unnest(list_transform(embedding,
        |      x -> cast(floor(cast(x as double) * 1000000) as bigint))) AS e6,
        |    generate_subscripts(embedding, 1) AS dim
        |  FROM embeddings),
        |ld AS MATERIALIZED (
        |  SELECT label, dim, cast(sum(e6) as bigint) AS sv,
        |    cast(count(*) as bigint) AS n
        |  FROM ex GROUP BY label, dim),
        |lc AS (SELECT label, dim, n,
        |         (sv - (((sv % n) + n) % n)) // n AS c FROM ld),
        |g AS (SELECT dim, cast(sum(sv) as bigint) AS t,
        |        cast(sum(n) as bigint) AS nn
        |      FROM ld GROUP BY dim),
        |gc AS (SELECT dim, (t - (((t % nn) + nn) % nn)) // nn AS gcen FROM g)
        |SELECT lc.label, cast(max(lc.n) as bigint) AS n_vecs,
        |  cast(sum((lc.c - gc.gcen) * (lc.c - gc.gcen)) as bigint) AS drift_sq
        |FROM lc JOIN gc USING (dim)
        |GROUP BY lc.label ORDER BY label""".stripMargin) { (s, dir) =>
      val ex = Engine.table(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).as("dim"),
          floor(col("col").cast(DoubleType) * 1000000).cast(LongType).as("e6"))
      val ld = ex.groupBy(col("label"), col("dim"))
        .agg(sum(col("e6")).as("sv"), count(lit(1)).as("n"))
      val lc = ld.select(col("label"), col("dim"), col("n"),
        expr("cast((sv - (((sv % n) + n) % n)) div n as bigint)").as("c"))
      val gc = ld.groupBy(col("dim"))
        .agg(sum(col("sv")).as("t"), sum(col("n")).as("nn"))
        .select(col("dim"),
          expr("cast((t - (((t % nn) + nn) % nn)) div nn as bigint)").as("gcen"))
      lc.join(broadcast(gc), Seq("dim"))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vecs"),
          sum((col("c") - col("gcen")) * (col("c") - col("gcen")))
            .as("drift_sq"))
        .orderBy(col("label"))
    },

    // Embedding-norm health histogram (round 9): squared L2 norms in
    // micro-units, bucketed by integer bit-length — the "are my vectors
    // collapsed/exploded/unnormalized" screen run BEFORE any cosine
    // pipeline trusts the table (a normalized corpus occupies one or
    // two buckets; a spray of low buckets means dead vectors, high
    // buckets mean scale bugs). Bit-length via length(bin(x)) — the
    // q_graph_degree_hist integer-log2 idiom, no float log. Bounds:
    // |micro| ≤ 2e6 per dim ⇒ norm² ≤ dims·4e12 — bigint-safe past
    // 10⁶ dims. Scale shape: one narrow per-vector HOF pass (no
    // explode), then a ≤64-bucket agg.
    "q_embed_norm_hist" -> Q(
      """WITH n2 AS (
        |  SELECT cast(list_sum(list_transform(embedding,
        |      x -> cast(floor(cast(x as double) * 1000000) as bigint)
        |           * cast(floor(cast(x as double) * 1000000) as bigint)))
        |    as bigint) AS norm2
        |  FROM embeddings)
        |SELECT cast(CASE WHEN norm2 <= 0 THEN 0
        |            ELSE length(bin(norm2)) END as bigint) AS bucket,
        |  cast(count(*) as bigint) AS n_vecs,
        |  cast(min(norm2) as bigint) AS min_norm2,
        |  cast(max(norm2) as bigint) AS max_norm2
        |FROM n2 GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      // round 16: QuantNorm2 kernel (one compiled loop) replaces the
      // interpreted transform+aggregate per-row chain; fold identity vs
      // HofReference.quantNorm2Hof (test scope) is spec-pinned (LlmSpec)
      Engine.table(s, dir, "embeddings")
        .select(graft.functions.VectorExpressions
          .quantNorm2(toDouble(col("embedding"))).as("norm2"))
        .select(when(col("norm2") <= 0L, 0L)
          .otherwise(length(bin(col("norm2"))).cast(LongType)).as("bucket"),
          col("norm2"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          min(col("norm2")).as("min_norm2"),
          max(col("norm2")).as("max_norm2"))
        .orderBy(col("bucket"))
    }
  )
}
