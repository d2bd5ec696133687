package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Spec-only reference implementations for [[Components]]. */
object ComponentsReference {

  /** Min-label propagation with pointer jumping over an undirected edge
    * list `(d1, d2)` — the pre-round-6 production algorithm, now the
    * specs' differential reference for [[Components.connectedComponents]]
    * (same `(id, label)` contract, independent algorithm).
    *
    * Two iterative-algorithm disciplines keep rounds O(1) in driver cost
    * (first learned the hard way: without them the loop OOMs the driver
    * long before the executors feel anything):
    *  - the edge list is persisted ONCE — otherwise every round's action
    *    re-runs the whole upstream candidate pipeline (the banded SimHash
    *    join, for q_dedup_cc) from the source scan;
    *  - each round's labels are re-rooted as a `LogicalRDD` over a
    *    persisted RDD (`createDataFrame(rdd, schema)`). A DataFrame
    *    persist caches DATA but not the LOGICAL plan — chaining rounds
    *    directly nests join/union/agg plans one level deeper per round,
    *    and Catalyst re-analyzes the whole history every round (the same
    *    reason GraphX's Pregel periodically materializes). The RDD chain
    *    keeps recompute-on-loss lineage (previous round's blocks, then
    *    their ancestors), the same fault-tolerance story as DISK_ONLY
    *    persist everywhere else.
    */
  def connectedComponentsJump(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    val symSrc = edges.select(col("d1").as("src"), col("d2").as("dst"))
      .union(edges.select(col("d2").as("src"), col("d1").as("dst")))
    val symSchema = symSrc.schema
    val symRdd = symSrc.rdd.persist(StorageLevel.DISK_ONLY)
    // Size the loop's shuffles to the graph, not the session default:
    // withGraphLoopConf sizes the loop's shuffles to the 2× symmetric
    // edge count — on an isolated child session, so the parent's confs
    // are never touched
    val finalRdd = Components.withGraphLoopConf(spark, symRdd.count()) { (loop, _) =>
    val sym = loop.createDataFrame(symRdd, symSchema)
    val seed = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    val schema = seed.schema
    var labelsRdd = seed.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    var labels = loop.createDataFrame(labelsRdd, schema)
    var changed = 1L
    var prevSum: java.math.BigDecimal = null
    var it = 0
    while (changed > 0 && it < maxIters) {
      // propagate: take the min of own and neighbors' labels — merges
      // adjacent label trees, but alone needs diameter rounds (a chain
      // of pairwise near-dups at sf0.1 exceeds any fixed budget)
      val neighborLabels = sym
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .select(col("src").as("id"), col("label"))
      val propRdd = labels.select("id", "label").union(neighborLabels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val prop = loop.createDataFrame(propRdd, schema)
      // shortcut (pointer jumping): label ← label(label). Every label IS
      // a vertex id, so a self-join follows the pointer a hop; paths
      // compress geometrically and the propagate/shortcut alternation
      // converges in O(log diameter) rounds (the star-contraction idea
      // of Kiveris et al., SOCC'14, as DataFrame ops). Measured at
      // sf0.1: jumping from the STALE pre-propagate labels is ~30%
      // slower (more rounds), a second jump per round is ~35% slower
      // (plan duplication outweighs the round savings) — one fresh jump
      // is the operating point.
      // Round-4 measurement (per-round label sums): a SECOND materialized jump
      // per round left the round count at exactly 18 and ran 1.5 s
      // slower — the convergence tail is min-PROPAGATION along residual
      // chains (a new minimum still travels one edge-join hop per round),
      // not pointer-tree depth, so extra jumps have nothing to compress.
      // Cutting the tail needs edge-rewiring contraction
      // (large-star/small-star), which rewrites the edge set per round —
      // landed in round 6 as [[Components.connectedComponentsStars]] (6
      // rounds vs 18, ~1.8× faster).
      val nextRdd = prop
        .join(prop.select(col("id").as("label"), col("label").as("label2")),
          Seq("label"), "left")
        .select(col("id"), coalesce(col("label2"), col("label")).as("label"))
        .rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val next = loop.createDataFrame(nextRdd, schema)
      // convergence via the monotone label sum: labels only ever
      // decrease, so sum(label) strictly decreases iff any vertex
      // changed — one scan of the (persisted) next round, no join with
      // the previous labels. Decimal(38) keeps the sum exact for any
      // realistic id range × vertex count; this agg is also the action
      // materializing nextRdd's blocks.
      val sumNext = next
        .agg(sum(col("label").cast(DecimalType(38, 0))).as("s"))
        .head().getDecimal(0)
      // sum over ZERO rows is null: an empty edge list (no near-dup
      // pairs at all) is converged-by-vacuity, not a diameter problem
      changed =
        if (sumNext == null) 0L
        else if (prevSum == null || sumNext.compareTo(prevSum) < 0) 1L
        else 0L
      prevSum = sumNext
      labelsRdd.unpersist()
      propRdd.unpersist()
      labelsRdd = nextRdd
      labels = next
      it += 1
    }
    symRdd.unpersist()
    if (changed != 0) {
      // don't leak the final round's blocks on the failure path (the
      // converged labels RDD stays persisted for the caller and is
      // reclaimed by the ContextCleaner once unreferenced)
      labelsRdd.unpersist()
      throw new IllegalArgumentException(
        s"connected components did not converge in $maxIters rounds — " +
          "graph diameter exceeds the propagation budget; switch to " +
          "large-star/small-star for chain-shaped graphs")
    }
    labelsRdd
    }
    // re-root the converged labels on the parent session (see
    // withGraphLoopConf — downstream consumers plan under defaults)
    spark.createDataFrame(finalRdd,
      StructType(Seq(
        StructField("id", symSchema("src").dataType),
        StructField("label", symSchema("src").dataType))))
  }

  /** The max_by(struct) reference of [[Components.keepBestFromLabels]]'s
    * fused packed-long argmax (the spec pins exact agreement on the real
    * pair-graph labeling).
    */
  def keepBestFromLabelsRef(labels: DataFrame, docs: DataFrame): DataFrame = {
    val lab = labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val qual = docs.select(
        col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast(DoubleType).as("n_tok"),
        TextAnalysis.lexCount("en").as("n_stop"))
      .select(col("doc_id"), TextAnalysis.qualityPpmCol.as("quality_ppm"))
    lab.join(qual, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max_by(col("doc_id"), struct(col("quality_ppm"), col("doc_id") * -1))
          .as("keep_id"),
        max(col("quality_ppm")).as("best_quality_ppm"),
        count(lit(1)).as("cluster_size"))
      .orderBy(col("cluster_id"))
  }
}
