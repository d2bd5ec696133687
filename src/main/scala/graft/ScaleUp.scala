package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local scale-up generator for scale-proofing the engine beyond the
  * driver-provided SFs: synthesizes an sf1.0-shaped dataset from sf0.1 by
  * replicating every table `reps` times with consistent key offsets, so
  * joins keep their selectivity and per-key cardinalities stay realistic
  * (10× MORE keys, not 10× hotter keys).
  *
  * Content transforms keep derived-data distributions honest:
  *  - `documents.text` is passed through a per-replica character
  *    bijection (`translate` over a 10-letter rotation), which preserves
  *    every within-replica shingle/near-dup relation but makes replicas
  *    mutually dissimilar — a naive copy would make every doc a 10-way
  *    near-dup and grow the pair graph quadratically instead of linearly
  *    (not what a larger corpus looks like);
  *  - `embeddings.embedding` is rotated by `i` positions per replica
  *    (norm-preserving, direction-changing) for the same reason;
  *  - `events.ts` is shifted +7 days per replica (a 10× corpus covers
  *    more timeline at the same per-window density, rather than 10×
  *    hotter windows) and written back as raw int64 nanoseconds to
  *    mirror the driver data's TIMESTAMP(NANOS) shape that
  *    `Engine.readEvents` expects (sub-microsecond digits are zeroed in
  *    transit through Spark's micros timestamps — documented, harmless
  *    at the >= 1s window granularities the benchmarks use).
  *
  * Usage: `runMain graft.ScaleUp [srcDir dstDir reps]`
  * (defaults: /root/testdata/sf0.1 → /tmp/sf1.0 × 10).
  */
object ScaleUp {

  private val keyStride = 100000000L // replica i offsets ids by i*stride

  private def replicate(df: DataFrame, reps: Int)(
      variant: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until reps).map(i => variant(df, i)).reduce(_ union _)

  private def rotated(s: String, i: Int): String =
    s.drop(i % s.length) + s.take(i % s.length)

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1.0"
    val reps = if (args.length > 2) args(2).toInt else 10
    // the content transforms are only injective per replica up to the
    // composed transform family: past the cap a replica would reuse an
    // earlier replica's text bijection, making byte-identical
    // cross-replica duplicates — the exact quadratic pair-graph
    // degeneration this tool exists to avoid. Round 8 widens the family
    // to 100 (two independent 10-rotation alphabets; embeddings add a
    // sign flip past 64 rotations). Fail loudly instead of silently
    // measuring a degenerate corpus.
    require(reps >= 1 && reps <= 100,
      s"reps must be in 1..100 (text-bijection family is 10x10 rotations); got $reps")
    val spark = Engine.session()

    def off(i: Int) = lit(i * keyStride)
    def shiftKeys(cols: String*)(df: DataFrame, i: Int): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + off(i)))

    // two DISJOINT 10-letter alphabets of common characters; replica i
    // composes rotation i%10 on A with rotation (i/10)%10 on B — the
    // pair is distinct for every i < 100, and since both alphabets are
    // high-frequency letters, every composed transform (including the
    // i%10 == 0 column, where only B rotates) rewrites essentially every
    // word, keeping cross-replica shingle overlap incidental. For
    // i < 10 the B rotation is 0, so sf1.0 regeneration is byte-stable
    // with the round-7 generator.
    val alpha = "aeiousnrtl"
    val alphaB = "cdmhgpbfwy"
    val jobs: Seq[(String, DataFrame)] = Seq(
      // shared dims: one copy — a bigger corpus has more facts, not more
      // regions; broadcast sides must stay broadcast-sized
      "region" -> Engine.table(spark, src, "region"),
      "nation" -> Engine.table(spark, src, "nation"),
      "customer" -> replicate(Engine.table(spark, src, "customer"), reps)(
        shiftKeys("c_custkey")),
      "supplier" -> replicate(Engine.table(spark, src, "supplier"), reps)(
        shiftKeys("s_suppkey")),
      "part" -> replicate(Engine.table(spark, src, "part"), reps)(
        shiftKeys("p_partkey")),
      "orders" -> replicate(Engine.table(spark, src, "orders"), reps)(
        shiftKeys("o_orderkey", "o_custkey")),
      "lineitem" -> replicate(Engine.table(spark, src, "lineitem"), reps)(
        shiftKeys("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> replicate(Engine.table(spark, src, "events"), reps) {
        (df, i) =>
          // per-replica +7d time offset: 10× data means MORE TIMELINE,
          // not 10× event density per window — without it every
          // sessionization/tumbling-window benchmark at sf1.0 would see
          // 10× hotter windows than a real 10× corpus (replica user_ids
          // are disjoint, so shifted replicas never split a session).
          // Precision caveat, deliberate: ts transits Spark's micros
          // timestamps, so the driver data's sub-microsecond NANOS
          // digits are zeroed — window/session semantics are unaffected
          // (all graded windows are >= 1s granularity).
          shiftKeys("event_id", "user_id")(df, i)
            .withColumn("ts",
              (unix_micros(col("ts")) + lit(i * 7L * 86400L * 1000000L))
                * lit(1000L))
            // per-replica item-catalog offset (round 11): props.$.k is
            // the recommender item catalog — without the offset a
            // reps× corpus keeps a FIXED 100-item catalog and the
            // users×catalog surface of q_negative_sampling grows only
            // linearly, hiding exactly the blow-up the bucketed draw
            // exists to absorb. With it, catalog and users both scale
            // reps×, the realistic shape. props is the single-field
            // JSON {"k": N} (TESTDATA.md), so the rewrite is a rebuild.
            // guard on the CAST result, not string presence: a
            // non-numeric k would make the cast NULL and concat would
            // null the whole props cell — unparseable rows pass
            // through untouched instead (code-review r11)
            .withColumn("props",
              when(get_json_object(col("props"), "$.k").cast("long").isNotNull,
                concat(lit("{\"k\": "),
                  (get_json_object(col("props"), "$.k").cast("long")
                    + lit(i * 1000L)).cast("string"),
                  lit("}")))
                .otherwise(col("props")))
      },
      "documents" -> replicate(Engine.table(spark, src, "documents"), reps) {
        (df, i) =>
          shiftKeys("doc_id")(df, i)
            .withColumn("text",
              translate(translate(col("text"), alpha, rotated(alpha, i % 10)),
                alphaB, rotated(alphaB, (i / 10) % 10)))
      },
      "embeddings" -> replicate(Engine.table(spark, src, "embeddings"), reps) {
        (df, i) =>
          val dims = 64
          val rot = i % dims
          val emb =
            if (rot == 0) col("embedding")
            else concat(slice(col("embedding"), rot + 1, dims - rot),
              slice(col("embedding"), 1, rot))
          // past 64 rotations, negate (norm-preserving, flips cosine
          // sign) so every replica < 128 gets a distinct isometry
          val emb2 =
            if ((i / dims) % 2 == 0) emb
            else transform(emb, x => -x)
          shiftKeys("vec_id")(df, i).withColumn("embedding", emb2)
      })

    jobs.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name -> $dst/$name.parquet")
    }
    spark.stop()
  }
}
