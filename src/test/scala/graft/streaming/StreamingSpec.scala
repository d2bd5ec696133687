package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** One-shot fault injector for failure-path specs: while `armed`, the
  * first task that calls [[tap]] throws (then disarms), so exactly one
  * task attempt of exactly one batch dies mid-flight — the query
  * terminates (local mode has task maxFailures = 1) and the restart
  * exercises the engine's own checkpoint-replay machinery.
  */
object InjectFault {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  def tap[T](x: T): T = {
    if (armed.compareAndSet(true, false))
      throw new RuntimeException("injected mid-batch task failure")
    x
  }
}

/** Streaming-mode semantics that have no DuckDB oracle (SURVEY §2
  * s_watermark / s_dedup_stream): watermark-driven state eviction and
  * stateful dedup, driven through MemoryStream + processAllAvailable.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("tumbling window agg with watermark finalizes windows (append mode)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val q = Streams.streamingTumble(mem.toDF(), watermark = "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("t_tumble").start()
    try {
      // Window [0:00,1:00) gets two events; watermark then advances past
      // its end (2:00 - 30min >= 1:00) → the window finalizes and emits.
      mem.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(3, ts(120), 1, "click", 1.0))
      q.processAllAvailable()
      val out = spark.table("t_tumble").collect()
      assert(out.exists(r => r.getAs[Timestamp]("w_start") == ts(0) && r.getAs[Long]("n") == 2))
      // a late event behind the watermark is dropped, not re-emitted
      mem.addData(Ev(4, ts(10), 1, "click", 1.0))
      q.processAllAvailable()
      val n2 = spark.table("t_tumble")
        .filter(col("w_start") === ts(0)).agg(sum("n")).head().getLong(0)
      assert(n2 == 2, "late event beyond watermark must be discarded")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val q = Streams.streamingDedup(mem.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_dedup").start()
    try {
      mem.addData(Ev(1, ts(1), 1, "view", 1.0), Ev(1, ts(1), 1, "view", 1.0),
        Ev(2, ts(2), 1, "view", 1.0))
      q.processAllAvailable()
      mem.addData(Ev(2, ts(3), 2, "view", 9.0), Ev(3, ts(4), 2, "view", 1.0))
      q.processAllAvailable()
      val ids = spark.table("t_dedup").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streamingSigDedup drops signature-identical docs across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingSigDedup(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("t_sigdedup").start()
    try {
      mem.addData((1L, "the quick brown fox jumps"), (2L, "a totally different doc here"))
      q.processAllAvailable()
      // doc 3 has the same shingle set as doc 1 → identical signature →
      // dropped by state from a PREVIOUS batch; doc 4 is new; doc 5 is
      // too short to shingle (filtered before state)
      mem.addData((3L, "the quick brown fox jumps"),
        (4L, "yet another unseen document body"), (5L, "too short"))
      q.processAllAvailable()
      val ids = spark.table("t_sigdedup").select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streamingDecontam drops eval-overlapping docs and equals the batch q_decontam flag set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // unit semantics: contaminated dropped, clean kept, short docs kept
    val evalGrams = Array("alpha beta gamma delta")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingDecontam(
        mem.toDF().toDF("doc_id", "text"), evalGrams)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_decontam").start()
    try {
      mem.addData(
        (1L, "prefix alpha beta gamma delta suffix"), // contaminated
        (2L, "a perfectly clean document body here"), // clean
        (3L, "alpha beta gamma"))                     // too short for a 4-gram
      q.processAllAvailable()
      val ids = spark.table("t_decontam").select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(2L, 3L), s"got ${ids.toSeq}")
    } finally q.stop()

    // batch-twin equality on the real corpus: survivors of the stream
    // filter == non-eval docs minus q_decontam's flagged set
    val docs = graft.Engine.table(spark, TestSpark.sfDir, "documents")
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.TextExpressions.shingles(
        col("text"), graft.llm.Search.decontamK)).as("gram"))
    val evalSet = grams.filter(col("doc_id") % graft.llm.Search.benchMod === 0)
      .select("gram").distinct().as[String].collect()
    val train = docs.filter(col("doc_id") % graft.llm.Search.benchMod =!= 0)
    val flagged = graft.Registry.all("q_decontam").fn(spark, TestSpark.sfDir)
      .select("doc_id").as[Long].collect().toSet
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streams.streamingDecontam(
        mem2.toDF().toDF("doc_id", "text"), evalSet)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_decontam2").start()
    try {
      mem2.addData(train.select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq: _*)
      q2.processAllAvailable()
      val survived = spark.table("t_decontam2").select("doc_id")
        .as[Long].collect().toSet
      val expected = train.select("doc_id").as[Long].collect().toSet -- flagged
      assert(survived == expected,
        s"extra: ${(survived -- expected).take(3)}; missing: ${(expected -- survived).take(3)}")
    } finally q2.stop()
  }

  test("streamingSigDedup with watermark dedups within the horizon AND evicts after it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = Streams.streamingSigDedup(
      mem.toDF().toDF("doc_id", "ts", "text"),
      watermark = Some(("ts", "10 minutes")))
      .writeStream.outputMode("append")
      .format("memory").queryName("t_sigdedup_wm").start()
    try {
      mem.addData((1L, ts(0), "the quick brown fox jumps"))
      q.processAllAvailable()
      // duplicate inside the watermark horizon → dropped by state
      mem.addData((2L, ts(5), "the quick brown fox jumps"),
        (3L, ts(5), "a different document entirely"))
      q.processAllAvailable()
      val ids = spark.table("t_sigdedup_wm").select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 3L))
      // advance the watermark far past doc 1's state expiry (ts+10min)...
      mem.addData((4L, ts(120), "watermark mover document body"))
      q.processAllAvailable()
      // ...then the SAME signature must be re-emitted — proving state was
      // evicted (plain dropDuplicates would still suppress it forever,
      // which is exactly the unbounded-state bug this API choice fixes)
      mem.addData((5L, ts(125), "the quick brown fox jumps"))
      q.processAllAvailable()
      val after = spark.table("t_sigdedup_wm").select("doc_id").as[Long].collect().sorted
      assert(after.toSeq == Seq(1L, 3L, 4L, 5L),
        "evicted signature must be re-emitted after the horizon passes")
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val q = Streams.statefulUserTotals(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_state").start()
    try {
      mem.addData(UserEvent(1, 1.0), UserEvent(1, 2.0), UserEvent(2, 5.0))
      q.processAllAvailable()
      mem.addData(UserEvent(1, 4.0))
      q.processAllAvailable()
      val rows = spark.table("t_state")
        .groupBy("user_id").agg(max("n").as("n"), max("sum_value").as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set((1L, 3L, 7.0), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("file-source streaming: readStream over parquet dir matches batch") {
    import org.apache.spark.sql.functions._
    // stage the events table as a streaming source directory
    val dir = "/tmp/graft_test_stage/stream_src"
    val events = graft.Engine.table(spark, TestSpark.sfDir, "events")
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = Streams.streamingTumble(stream, watermark = "0 seconds")
      .writeStream.outputMode("complete")
      .format("memory").queryName("t_file_src").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("t_file_src")
        .agg(sum("n")).head().getLong(0)
      assert(streamed == events.count())
    } finally q.stop()
  }

  test("file source -> streamingSigDedup with checkpoint: state survives restart") {
    // end-to-end: real parquet file source, real checkpoint dir, real
    // (fault-tolerant) file sink — the deployment shape, not MemoryStream.
    val base = "/tmp/graft_test_stage/sigdedup_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(size(split(col("text"), " ")) >= 3) // signature-bearing docs only
    val batch1 = docs.filter(col("doc_id") < 50)
    batch1.write.mode("append").parquet(srcDir)
    def start() = Streams.streamingSigDedup(
        spark.readStream.schema(batch1.schema).parquet(srcDir))
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // batch 2 arrives while the query is DOWN: re-sends of batch-1 texts
    // under new ids, plus genuinely new docs
    val dups = batch1.filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + 100000)
    val fresh = docs.filter(col("doc_id") >= 50 && col("doc_id") < 75)
    dups.union(fresh).write.mode("append").parquet(srcDir)
    val q2 = start() // restart: offsets + dedup state recover from ckpt
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir)
    val sigCols = graft.llm.Dedup.minhashSeeds.indices.map(i => col(s"h$i"))
    // 1. re-sent texts were suppressed by state RESTORED across restart
    assert(out.filter(col("doc_id") >= 100000).count() == 0,
      "duplicate signatures re-emitted after restart — state was lost")
    // 2. output carries no duplicate signature at all
    val emitted = out.select(sigCols: _*).count()
    val emittedDistinct = out.select(sigCols: _*).distinct().count()
    assert(emitted == emittedDistinct, "duplicate signatures in output")
    // 3. completeness: one survivor per distinct input signature
    val expect = graft.llm.Dedup
      .minhashSignaturesStateless(batch1.unionByName(dups).unionByName(fresh))
      .select(graft.llm.Dedup.minhashSeeds.indices.map(i => col(s"h$i")): _*)
      .distinct().count()
    assert(emitted == expect, s"expected $expect distinct signatures, got $emitted")
  }

  test("streamingBandDedup equals batch q_dedup_incremental on the real corpus split") {
    import spark.implicits._
    // the batch twin's exact split: md5 doc_id bucket 9 is the "new
    // batch", everything else is the corpus whose band index we probe
    val docs = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val isNew = conv(substring(
        md5(col("doc_id").cast(org.apache.spark.sql.types.StringType)
          .cast(org.apache.spark.sql.types.BinaryType)), 1, 2), 16, 10)
      .cast(org.apache.spark.sql.types.LongType) % 10 === 9
    val probe = docs.filter(isNew)
    // the corpus side probes the PERSISTED signature artifact — the same
    // index the batch twin (and a production daily ingest) reads
    val idx = graft.llm.Dedup.bandIndexFromSigs(
      graft.llm.Components.minhashSigs(spark, TestSpark.sfDir).filter(!isNew))
    // feed the probe docs across TWO micro-batches (cross-batch parity,
    // not one lucky batch)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingBandDedup(
        mem.toDF().toDF("doc_id", "text"), idx)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_banddedup").start()
    try {
      val rows = probe.as[(Long, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("t_banddedup")
        .select(col("doc_id"), col("n_bands_hit"), col("is_dup"))
        .as[(Long, Long, Boolean)].collect().toSet
      val want = graft.Registry.all("q_dedup_incremental")
        .fn(spark, TestSpark.sfDir)
        .as[(Long, Long, Boolean)].collect().toSet
      assert(got == want,
        s"extra: ${(got -- want).take(3)}; missing: ${(want -- got).take(3)}")
      assert(want.exists(_._3) && want.exists(!_._3),
        "corpus split produced a degenerate all-dup/no-dup probe set")
    } finally q.stop()
  }

  test("streamingBandDedup evaluates a computed band index once per micro-batch, rows equal to the batch call") {
    import spark.implicits._
    val docs = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // a computed index (not a persisted one): each exchange of it the
    // plan does not reuse re-runs the corpus signature and distinct
    val idx = graft.llm.Dedup.bandIndex(docs.filter(col("doc_id") % 4 =!= 0L))
    val arrivals = docs.filter(col("doc_id") % 4 === 0L)
      .unionByName(docs.filter(col("doc_id") % 8 === 1L)
        .withColumn("doc_id", -col("doc_id")))
      .as[(Long, String)].collect()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingBandDedup(mem.toDF().toDF("doc_id", "text"), idx)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_bandreuse").start()
    try {
      mem.addData(arrivals.toSeq: _*); q.processAllAvailable()
      val plan = q.asInstanceOf[
          org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), plan)
      val got = spark.table("t_bandreuse")
        .select(col("doc_id"), col("n_bands_hit"), col("is_dup"))
        .as[(Long, Long, Boolean)].collect().toSet
      val want = Streams.streamingBandDedup(
          arrivals.toSeq.toDF("doc_id", "text"), idx)
        .select(col("doc_id"), col("n_bands_hit"), col("is_dup"))
        .as[(Long, Long, Boolean)].collect().toSet
      assert(got == want,
        s"extra: ${(got -- want).take(3)}; missing: ${(want -- got).take(3)}")
      assert(want.exists(_._3) && want.exists(!_._3))
    } finally q.stop()
  }

  test("streamingAnnProbe flags planted copies against the persisted index, equals its batch form, zero state") {
    import spark.implicits._
    val emb = graft.Engine.table(spark, TestSpark.sfDir, "embeddings")
    // the PERSISTED serving artifacts (the q_sim_ivfpq backing): build
    // once into the test stage, read codes back like a production probe
    val path = "/tmp/graft_test_stage/ann_probe_index"
    graft.util.Fs.deleteRecursively(path)
    val model = graft.llm.AnnIndex.writeIndex(emb, path)
    val codes = spark.read.parquet(s"$path/rows")
    // arrivals: 10 EXACT COPIES of corpus vectors under fresh ids (the
    // near-dup ingest case) — their top probe cell is their source's
    // cell by construction (same cosine argmax), so the feed must
    // surface the source as a high-cosine match
    val arrivals = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.streamingAnnProbe(
        mem.toDF().toDF("vec_id", "embedding"), model, codes)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_annprobe").start()
    try {
      val (b1, b2) = arrivals.splitAt(5)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      // STATELESS: the whole plan is a stream-static join — no state
      // store rows may exist (the s_dedup_incremental discipline)
      assert(q.lastProgress.stateOperators.isEmpty,
        "ann probe must run with zero state stores")
      val got = spark.table("t_annprobe")
        .as[(Long, Long, Int, Double)].collect().toSet
      // every planted copy surfaces its source vector as a hit, and the
      // reconstructed cosine of an exact copy clears the 0.8 gate well
      (0L until 10L).foreach { j =>
        val hit = got.find(r => r._1 == j + 100000L && r._2 == j)
        assert(hit.nonEmpty, s"copy of vector $j produced no hit on its source")
        assert(hit.get._4 >= 0.9,
          s"reconstruction cosine for an exact copy was ${hit.get._4}")
      }
      // cross-micro-batch feed ≡ the same operator applied in batch mode
      // (all-deterministic ops — structural parity, pinned anyway)
      val batch = Streams.streamingAnnProbe(
          arrivals.toSeq.toDF("vec_id", "embedding"), model, codes)
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(got === batch,
        s"extra: ${(got -- batch).take(3)}; missing: ${(batch -- got).take(3)}")
    } finally q.stop()
  }

  test("perArrivalTopK over the probe feed via foreachBatch equals the batch twin") {
    import spark.implicits._
    // the composed retrieval consumer (round 14, VERDICT-r13 #7):
    // probe feed → foreachBatch → the batch WindowGroupLimit kernel.
    // Valid because the probe is stateless stream-static: an arrival's
    // hits all land in its own micro-batch, so per-batch top-k is the
    // global per-arrival top-k.
    val emb = graft.Engine.table(spark, TestSpark.sfDir, "embeddings")
    val path = "/tmp/graft_test_stage/ann_topk_index"
    graft.util.Fs.deleteRecursively(path)
    val model = graft.llm.AnnIndex.writeIndex(emb, path)
    val codes = spark.read.parquet(s"$path/rows")
    val arrivals = emb.filter(col("vec_id") < 12)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    // a LOW threshold so each arrival carries many candidates and the
    // top-k cut does real work
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val k = 5
    val sink = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Long)]
    val q = Streams.streamingAnnProbe(
        mem.toDF().toDF("vec_id", "embedding"), model, codes, minCos = 0.1)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val top = Streams.perArrivalTopK(batch, k)
          .select(col("vec_id"), col("match_id"), col("cos6"), col("rk"))
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        sink.synchronized { sink ++= top }
        ()
      }.start()
    try {
      val (b1, b2) = arrivals.splitAt(6)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = sink.toSet
      val want = Streams.perArrivalTopK(
          Streams.streamingAnnProbe(arrivals.toSeq.toDF("vec_id", "embedding"),
            model, codes, minCos = 0.1), k)
        .select(col("vec_id"), col("match_id"), col("cos6"), col("rk"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(got === want,
        s"extra: ${(got -- want).take(3)}; missing: ${(want -- got).take(3)}")
      // the cut did real work: every arrival is capped at k and at least
      // one arrival had more candidates than k in the raw feed
      assert(got.groupBy(_._1).values.forall(_.size <= k))
      val rawCounts = Streams.streamingAnnProbe(
          arrivals.toSeq.toDF("vec_id", "embedding"), model, codes,
          minCos = 0.1)
        .groupBy("vec_id").count().collect().map(_.getLong(1))
      assert(rawCounts.exists(_ > k),
        "fixture degenerate: no arrival exceeded k candidates")
      // and the kernel's rank filter is the WindowGroupLimit rewrite
      val plan = Streams.perArrivalTopK(
          arrivals.toSeq.toDF("vec_id", "embedding")
            .withColumn("match_id", col("vec_id"))
            .withColumn("cos6", lit(1.0)), k)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), plan)
    } finally q.stop()
  }

  test("streamingAnnProbe with checkpoint: restart re-emits nothing, misses nothing") {
    import spark.implicits._
    val base = "/tmp/graft_test_stage/annprobe_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val emb = graft.Engine.table(spark, TestSpark.sfDir, "embeddings")
    val idxPath = s"$base/index"
    val model = graft.llm.AnnIndex.writeIndex(emb, idxPath)
    val codes = spark.read.parquet(s"$idxPath/rows")
    val arrivals = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val b1 = arrivals.filter(col("vec_id") < 100010L)
    val b2 = arrivals.filter(col("vec_id") >= 100010L)
    b1.write.mode("append").parquet(srcDir)
    def start() = Streams.streamingAnnProbe(
        spark.readStream.schema(b1.schema).parquet(srcDir), model, codes)
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    b2.write.mode("append").parquet(srcDir) // arrives while the query is DOWN
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
      .as[(Long, Long, Int, Double)].collect().toSeq.sorted
    val want = Streams.streamingAnnProbe(
        b1.unionByName(b2), model, codes)
      .as[(Long, Long, Int, Double)].collect().toSeq.sorted
    assert(got === want,
      s"restart changed the hit feed (got ${got.size}, want ${want.size})")
    assert(got.nonEmpty)
  }

  test("streamingAnnIngest appends arrivals into the persisted index; batch markers make replays no-ops") {
    import spark.implicits._
    val path = "/tmp/graft_test_stage/ann_ingest_index"
    graft.util.Fs.deleteRecursively(path)
    val emb = graft.Engine.table(spark, TestSpark.sfDir, "embeddings")
    graft.llm.AnnIndex.writeIndex(emb, path)
    val n0 = emb.count()
    val arrivals = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Streams.streamingAnnIngest(
        mem.toDF().toDF("vec_id", "embedding"), path)
      .option("checkpointLocation",
        "/tmp/graft_test_stage/ann_ingest_ckpt_" + System.nanoTime())
      .start()
    try {
      val (b1, b2) = arrivals.splitAt(5)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // both micro-batches landed, and every streamed code row carries
    // its rerank float (one artifact: no code without its float)
    val rows = spark.read.parquet(s"$path/rows")
    assert(rows.count() === n0 + 10)
    assert(rows.filter(col("v").isNotNull).count() === n0 + 10)
    // the serve path sees the streamed vectors without retraining:
    // querying an original surfaces its streamed exact copy at 1.0
    val all = emb.select(col("vec_id"), col("embedding")).unionByName(
      emb.filter(col("vec_id") < 10)
        .select((col("vec_id") + 500000L).as("vec_id"), col("embedding")))
    val served = graft.llm.AnnIndex.serveTopK(spark, path, all, 0L, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served.get(500000L).contains(1.0),
      s"streamed copy of vector 0 not served: $served")
    // a REPLAYED batchId is a no-op (the marker skip): re-deliver batch 0
    // by hand with the same id and counts must not move
    val replay = arrivals.take(5).toSeq.toDF("vec_id", "embedding")
    Streams.annIngestBatchHandler(path)(replay, 0L)
    assert(spark.read.parquet(s"$path/rows").count() === n0 + 10,
      "replayed batchId appended again despite its marker")
    // and streamed rows are bit-identical to the batch append path:
    // same cell, same packed code word as their source vectors
    val codes = spark.read.parquet(s"$path/rows")
    val byId = codes.filter(col("vec_id") < 10 || col("vec_id") >= 500000L)
      .collect().map(r => r.getLong(codes.columns.indexOf("vec_id")) ->
        (r.getLong(codes.columns.indexOf("codes64")),
          r.getInt(codes.columns.indexOf("cell")))).toMap
    (0L until 10L).foreach { j =>
      assert(byId(j + 500000L) === byId(j), s"streamed copy of $j drifted")
    }
  }

  test("streamingBandIngest: a doc streamed in batch N is a band hit for its near-dup in batch N+1; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = "/tmp/graft_test_stage/band_ingest_index"
    graft.util.Fs.deleteRecursively(path)
    val docs = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    graft.llm.Dedup.writeBandIndex(corpus, path)
    val n0 = graft.llm.Dedup.readBandIndex(spark, path).count()
    // "batch N" arrivals: odd docs under new ids; "batch N+1" probes:
    // exact copies of those arrivals (near-dup by construction — same
    // signature, so all 3 bands hit once the arrivals are ingested)
    val arrivals = docs.filter(col("doc_id") % 2 === 1
        && col("doc_id") < 201)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val probes = arrivals
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    def dupIds(): Set[Long] = Streams.streamingBandDedup(probes,
        graft.llm.Dedup.readBandIndex(spark, path))
      .filter(col("n_bands_hit") === 3)
      .select("doc_id").as[Long].collect().toSet
    val preHits = dupIds() // some may hit via corpus near-dups already
    val rows = arrivals.as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingBandIngest(
        mem.toDF().toDF("doc_id", "text"), path)
      .option("checkpointLocation",
        "/tmp/graft_test_stage/band_ingest_ckpt_" + System.nanoTime())
      .start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // every signature-bearing probe is now a FULL-signature hit
    val sigBearing = graft.llm.Dedup.minhashSignaturesStateless(probes)
      .select("doc_id").as[Long].collect().toSet
    val postHits = dupIds()
    assert(sigBearing.subsetOf(postHits),
      s"ingested arrivals not probeable: missing ${sigBearing.diff(postHits).take(5)}")
    assert(preHits.subsetOf(postHits))
    // DISTINCT invariant held across the appends
    val idx = graft.llm.Dedup.readBandIndex(spark, path)
    assert(idx.count() === idx.distinct().count())
    val grown = idx.count()
    assert(grown > n0)
    // a replayed batchId is marker-skipped; and even a MARKERLESS replay
    // (the crash window) appends zero rows — the anti-join makes the
    // band append naturally idempotent
    val replay = rows.take(rows.length / 2).toSeq.toDF("doc_id", "text")
    Streams.bandIngestBatchHandler(path)(replay, 0L)
    assert(graft.llm.Dedup.readBandIndex(spark, path).count() === grown)
    graft.llm.Dedup.appendToBandIndex(replay, path)
    assert(graft.llm.Dedup.readBandIndex(spark, path).count() === grown,
      "markerless replay appended duplicate (band, key) rows")
  }

  test("ann ingest markers are namespaced per stream lineage (ADVICE r14)") {
    import spark.implicits._
    // two lineages writing the same index both restart batchIds at 0 —
    // the round-14 path-shared marker would silently SKIP the second
    // lineage's batch 0 (a recall hole); per-stream namespacing must not
    val path = "/tmp/graft_test_stage/ann_ingest_ns_index"
    graft.util.Fs.deleteRecursively(path)
    val emb = graft.Engine.table(spark, TestSpark.sfDir, "embeddings")
    graft.llm.AnnIndex.writeIndex(emb, path)
    val n0 = emb.count()
    def batchOf(off: Long) = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + off).as("vec_id"), col("embedding"))
    Streams.annIngestBatchHandler(path, "lineage-a")(batchOf(700000L), 0L)
    Streams.annIngestBatchHandler(path, "lineage-b")(batchOf(800000L), 0L)
    assert(spark.read.parquet(s"$path/rows").count() === n0 + 10,
      "second lineage's batch 0 was skipped by the first lineage's marker")
    // replays WITHIN a lineage still no-op
    Streams.annIngestBatchHandler(path, "lineage-a")(batchOf(700000L), 0L)
    Streams.annIngestBatchHandler(path, "lineage-b")(batchOf(800000L), 0L)
    assert(spark.read.parquet(s"$path/rows").count() === n0 + 10)
  }

  test("streamingIndexMonitor: drifted append batches flip the retrain verdict (s_index_monitor)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = "/tmp/graft_test_stage/ann_monitor_index"
    graft.util.Fs.deleteRecursively(path)
    val emb = graft.Engine.table(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    graft.llm.AnnIndex.writeIndex(emb, path)
    val n0 = emb.count()
    // tick stream drives the monitor; appends happen between ticks (the
    // deployment composes this beside streamingAnnIngest on the same
    // arrival stream)
    val mem = MemoryStream[Long]
    val q = Streams.streamingIndexMonitor(mem.toDF(), path)
      .option("checkpointLocation",
        "/tmp/graft_test_stage/ann_monitor_ckpt_" + System.nanoTime())
      .start()
    try {
      mem.addData(1L); q.processAllAvailable() // fresh index: healthy
      (1 to 4).foreach { r =>
        graft.llm.AnnIndex.appendToIndex(
          emb.select((col("vec_id") + r * 10000000L).as("vec_id"),
            col("embedding")), path)
      }
      mem.addData(2L); q.processAllAvailable() // live = 5x trained: fires
    } finally q.stop()
    val log = spark.read.parquet(s"$path/monitor_log")
      .orderBy(col("batch_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(5)))
    assert(log.length === 2, log.mkString(","))
    assert(log(0) === ((0L, n0, false)), s"fresh index flagged: ${log(0)}")
    assert(log(1)._2 === 5 * n0)
    assert(log(1)._3, s"5x growth did not flip the verdict: ${log(1)}")
    // the monitor's verdict is exactly needsRetrainAt — the signal
    // retrainIndex consumes (round-15 lifecycle pairing)
    assert(graft.llm.AnnIndex.needsRetrainAt(spark, path))
  }

  test("streamingBandDedup with checkpoint: restart re-emits nothing, misses nothing") {
    // deployment shape: parquet file source, checkpointed parquet sink;
    // the op is STATELESS (three stream-static joins), so correctness
    // across restart rides on source offsets + the file sink's
    // transactional commit — exactly what this pins
    val base = "/tmp/graft_test_stage/banddedup_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    val docs = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val idx = graft.llm.Dedup.bandIndex(corpus)
    val probe = docs.filter(col("doc_id") % 2 === 1)
    val b1 = probe.filter(col("doc_id") < 101)
    val b2 = probe.filter(col("doc_id") >= 101 && col("doc_id") < 301)
    b1.write.mode("append").parquet(srcDir)
    def start() = Streams.streamingBandDedup(
        spark.readStream.schema(b1.schema).parquet(srcDir), idx)
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    b2.write.mode("append").parquet(srcDir) // arrives while the query is DOWN
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir)
    // exactly one annotated row per signature-bearing probe doc — no
    // re-emits from the restart, no gaps from the downtime
    import spark.implicits._
    val gotIds = out.select("doc_id").as[Long].collect().sorted.toSeq
    val wantIds = graft.llm.Dedup
      .minhashSignaturesStateless(b1.unionByName(b2))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(gotIds == wantIds,
      s"restart changed the emitted set (got ${gotIds.size}, want ${wantIds.size})")
    // spot-check the annotation against the batch probe on the same split
    val wantDup = graft.llm.Dedup.bandIndex(corpus)
      .join(graft.llm.Dedup.lshBands(
        graft.llm.Dedup.minhashSignaturesStateless(b1.unionByName(b2))),
        Seq("band_id", "key"))
      .select("doc_id").distinct().as[Long].collect().toSet
    val gotDup = out.filter(col("is_dup")).select("doc_id").as[Long].collect().toSet
    assert(gotDup == wantDup)
  }

  test("stream-static enrich join matches the batch twin and drops unmatched keys") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val customers = Seq((1L, "SEG_A"), (2L, "SEG_B"))
      .toDF("c_custkey", "c_mktsegment")
    val evs = Seq(
      Ev(1, ts(5), 1, "click", 2.0), Ev(2, ts(10), 2, "view", 3.0),
      Ev(3, ts(70), 1, "click", 1.0), Ev(4, ts(6), 99, "click", 9.9))
    val mem = MemoryStream[Ev]
    val q = Streams.streamingEnrichJoin(mem.toDF(), customers)
      .writeStream.outputMode("complete")
      .format("memory").queryName("t_enrich").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      val streamed = spark.table("t_enrich")
      val batch = Streams.enrichJoin(evs.toDF(), customers)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
        "streaming and batch enrich-join plans must produce identical rows")
      // user 99 has no dimension row: inner join drops it in both modes
      assert(streamed.agg(sum("n")).head().getLong(0) == 3)
    } finally q.stop()
  }

  test("stream-stream join correlates within the time bound and not outside it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val convs = MemoryStream[Ev]
    val q = Streams.streamStreamJoin(clicks.toDF(), convs.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_ssjoin").start()
    try {
      // user 1: conversion 5 min after the click (inside the 10-min
      // bound); user 2: conversion 20 min after (outside); user 3:
      // conversion with no matching key
      clicks.addData(Ev(1, ts(10), 1, "click", 0), Ev(2, ts(10), 2, "click", 0))
      convs.addData(Ev(3, ts(15), 1, "conv", 0), Ev(4, ts(30), 2, "conv", 0),
        Ev(5, ts(12), 3, "conv", 0))
      q.processAllAvailable()
      // advance both watermarks so the joinable region finalizes
      clicks.addData(Ev(6, ts(180), 9, "click", 0))
      convs.addData(Ev(7, ts(180), 9, "conv", 0))
      q.processAllAvailable()
      val rows = spark.table("t_ssjoin")
        .select("user_id", "l_type", "r_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(rows.contains((1L, "click", "conv")),
        "in-window conversion must join")
      assert(!rows.exists(_._1 == 2L),
        "conversion outside the 10-minute bound must not join")
      assert(!rows.exists(_._1 == 3L), "unmatched key must not join")
    } finally q.stop()
  }

  test("streaming upsert keeps the newest record per key across batches and ignores late replays") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = "/tmp/graft_test/stream_upsert"
    graft.util.Fs.deleteRecursively(path)
    val mem = MemoryStream[Ev]
    val q = Streams.streamingUpsert(mem.toDF(), path)
      .option("checkpointLocation", s"$path.ckpt-${System.nanoTime()}")
      .start()
    try {
      mem.addData(Ev(1, ts(10), 1, "v1", 1.0), Ev(2, ts(10), 2, "v1", 2.0))
      q.processAllAvailable()
      // batch 2: update key 1, insert key 3, and REPLAY an older key-2
      // record which must not regress the target
      mem.addData(Ev(3, ts(20), 1, "v2", 1.5), Ev(4, ts(30), 3, "v1", 3.0),
        Ev(5, ts(5), 2, "v0", 0.0))
      q.processAllAvailable()
      val out = spark.read.parquet(path).collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[String]("event_type"), r.getAs[Double]("value"))).toMap
      assert(out == Map(1L -> ("v2", 1.5), 2L -> ("v1", 2.0), 3L -> ("v1", 3.0)),
        s"unexpected target state: $out")
    } finally q.stop()
  }

  test("builtin session_window streaming equals the batch twin on closed sessions (real events)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = graft.Engine.table(spark, TestSpark.sfDir, "events")
    val batch = Streams.session(events)
      .select("s_start", "s_end", "user_id", "n", "sum_value")
      .collect().toSet
    val evs = events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Ev]
      .collect().sortBy(e => (e.ts.getTime, e.event_id))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val maxMs = evs.map(_.ts.getTime).max
    val mem = MemoryStream[Ev]
    val q = Streams.streamingSession(mem.toDF(), watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("t_session_builtin").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      // sentinel far past every session's end: the watermark advances and
      // every open session window finalizes and emits
      mem.addData(Ev(-1, new Timestamp(maxMs + 3600L * 1000), -1L, "x", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(-2, new Timestamp(maxMs + 2 * 3600L * 1000), -1L, "x", 0.0))
      q.processAllAvailable()
      val stream = spark.table("t_session_builtin")
        .filter($"user_id" =!= -1L)
        .select("s_start", "s_end", "user_id", "n", "sum_value")
        .collect().toSet
      assert(stream == batch,
        s"streaming session windows diverge: only-batch=${(batch -- stream).take(3)} " +
          s"only-stream=${(stream -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming MV delta converges to the batch aggregate and ignores replayed batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = "/tmp/graft_test/stream_mv_delta"
    graft.util.Fs.deleteRecursively(path)
    // the real sf0.001 events table, split into three arbitrary batches —
    // decimal sums are order-independent, so the MV must land bit-equal
    // to the one-shot batch aggregate no matter the split
    val evs = graft.Engine.table(spark, TestSpark.sfDir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Ev]
      .collect()
    val (b1, rest) = evs.splitAt(evs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 3)
    val mem = MemoryStream[Ev]
    val q = Streams.streamingMvDelta(mem.toDF(), path)
      .option("checkpointLocation", s"$path.ckpt-${System.nanoTime()}")
      .start()
    try {
      Seq(b1, b2, b3).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    val mv = spark.read.parquet(path)
    val expected = graft.Engine.table(spark, TestSpark.sfDir, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,4)")).cast("decimal(28,4)").as("sum_value"))
    assert(mv.exceptAll(expected).isEmpty && expected.exceptAll(mv).isEmpty,
      "incrementally-maintained MV must equal the batch aggregate")
    // a replayed batch id must be a no-op (at-least-once foreachBatch):
    // re-apply the LAST batch's data with an already-applied id
    Streams.applyMvDelta(b3.toSeq.toDF(), 2L, path)
    val after = spark.read.parquet(path)
    assert(after.exceptAll(expected).isEmpty && expected.exceptAll(after).isEmpty,
      "replayed batch must not double-count")
    // a genuinely NEW batch id still applies
    Streams.applyMvDelta(Seq(Ev(99999, ts(1), 424242L, "view", 2.5)).toDF(), 3L, path)
    val bumped = spark.read.parquet(path).filter($"user_id" === 424242L).collect()
    assert(bumped.length == 1 && bumped.head.getAs[Long]("n_events") == 1L,
      "new batch id must fold in")
  }

  test("MV delta: injected mid-batch task failure + engine restart yields the bit-identical MV") {
    // the round-7 replay tests re-called applyMvDelta by hand; this one
    // drives the REAL failure path: a task dies inside batch 2 (thrown
    // from a column expression), the query terminates (local mode:
    // task maxFailures = 1), and a restarted query on the same
    // checkpoint replays the batch through Spark's own WAL/commit-log
    // machinery. The MV must come out bit-identical to the one-shot
    // batch aggregate — nothing lost, nothing double-counted.
    import spark.implicits._
    val base = "/tmp/graft_test_stage/mv_delta_fail"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val mvPath = s"$base/mv"; val ckpt = s"$base/ckpt"
    val evs = graft.Engine.table(spark, TestSpark.sfDir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value").as[Ev]
      .collect()
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val tapUdf = udf((x: Long) => InjectFault.tap(x))
    def start() = Streams.streamingMvDelta(
        spark.readStream.schema(b1.toSeq.toDS().schema).parquet(srcDir)
          .withColumn("user_id", tapUdf($"user_id")),
        mvPath)
      .option("checkpointLocation", ckpt).start()
    b1.toSeq.toDS().write.mode("append").parquet(srcDir)
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    // arm the fault, deliver batch 2: its first task attempt throws and
    // the query dies mid-batch
    b2.toSeq.toDS().write.mode("append").parquet(srcDir)
    InjectFault.armed.set(true)
    val q2 = start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable(); q2.awaitTermination()
    }
    q2.stop()
    assert(err.getMessage.contains("injected") ||
      Option(err.getCause).exists(_.getMessage.contains("injected")) ||
      !InjectFault.armed.get(), s"query died for the wrong reason: $err")
    assert(!InjectFault.armed.get(), "fault never fired")
    // restart on the same checkpoint: the engine replays batch 2
    val q3 = start(); try q3.processAllAvailable() finally q3.stop()
    val mv = spark.read.parquet(mvPath)
    val expected = graft.Engine.table(spark, TestSpark.sfDir, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,4)")).cast("decimal(28,4)").as("sum_value"))
    assert(mv.exceptAll(expected).isEmpty && expected.exceptAll(mv).isEmpty,
      "MV after mid-batch failure + restart must equal the batch aggregate")
  }

  test("applyMvDelta recovers intact history from a crash between the swap renames") {
    import spark.implicits._
    val path = "/tmp/graft_test/mv_delta_crash"
    Seq(path, path + ".old", path + ".tmp").foreach(graft.util.Fs.deleteRecursively)
    Streams.applyMvDelta(
      Seq(Ev(1, ts(1), 10L, "view", 1.0), Ev(2, ts(2), 11L, "view", 2.0)).toDF(),
      0L, path)
    Streams.applyMvDelta(Seq(Ev(3, ts(3), 10L, "view", 3.0)).toDF(), 1L, path)
    val expected = spark.read.parquet(path).as[(Long, Long, java.math.BigDecimal)]
      .collect().toSet
    // simulate the worst crash instant of the promote: target renamed
    // aside, tmp never promoted — the old delete-then-rename protocol
    // would now read an EMPTY MV and rebuild history from one batch
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".old")))
    // the engine replays batch 1 (foreachBatch is at-least-once):
    // recoverSwap must restore the old MV first, then the marker drops
    // the replay — history intact, nothing double-counted
    Streams.applyMvDelta(Seq(Ev(3, ts(3), 10L, "view", 3.0)).toDF(), 1L, path)
    val after = spark.read.parquet(path).as[(Long, Long, java.math.BigDecimal)]
      .collect().toSet
    assert(after == expected,
      s"crash recovery lost or double-counted history: $after vs $expected")
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(path + ".old")),
      "recovery must consume the .old copy")
    // and a genuinely new batch still folds in on top of recovered state
    Streams.applyMvDelta(Seq(Ev(4, ts(4), 12L, "view", 4.0)).toDF(), 2L, path)
    assert(spark.read.parquet(path).count() == 3)
  }

  test("batch and streaming tumble agree on the same data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0),
      Ev(3, ts(65), 2, "view", 3.0), Ev(4, ts(70), 2, "view", 4.0))
    val batch = Streams.tumble(rows.toDF())
      .select("w_start", "event_type", "n").collect().toSet
    val mem = MemoryStream[Ev]
    val q = Streams.streamingTumble(mem.toDF(), watermark = "0 seconds")
      .writeStream.outputMode("complete")
      .format("memory").queryName("t_twin").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val stream = spark.table("t_twin").collect().toSet
      assert(stream == batch)
    } finally q.stop()
  }

  test("streamingSessionize emits exactly the batch q_sessionize rows (real events)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the full sf0.001 events table, fed chronologically in three
    // micro-batches; two far-future sentinel batches then push the
    // watermark so every open session times out and closes
    val evs = graft.Engine.table(spark, TestSpark.sfDir, "events")
      .select($"user_id", $"ts", $"event_id").as[SessEvent]
      .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val maxMs = evs.map(_.ts.getTime).max
    val (b1, rest) = evs.splitAt(evs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 3)
    val mem = MemoryStream[SessEvent]
    val q = Streams.streamingSessionize(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_sessionize").start()
    try {
      Seq(b1, b2, b3).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      // sentinel batch N advances the watermark at its END; timeouts fire
      // in batch N+1 — hence two sentinels
      val day = 24L * 3600 * 1000
      mem.addData(SessEvent(-1L, new Timestamp(maxMs + 2 * day), 0L))
      q.processAllAvailable()
      mem.addData(SessEvent(-1L, new Timestamp(maxMs + 4 * day), 1L))
      q.processAllAvailable()
      val got = spark.table("t_sessionize")
        .filter($"user_id" >= 0L)
        .select($"user_id", $"session_id", $"n_events",
          $"session_start", $"session_end", $"dur_us")
        .as[(Long, Long, Long, Timestamp, Timestamp, Long)].collect().toSet
      val want = graft.operators.EventAnalytics.queries("q_sessionize")
        .fn(spark, TestSpark.sfDir)
        .as[(Long, Long, Long, Timestamp, Timestamp, Long)].collect().toSet
      assert(got == want,
        s"streaming sessions diverge from batch: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streamingTransitions pair counts match batch q_event_transitions (real events)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // full sf0.001 events, chronological, three micro-batches — the
    // streamingSessionize parity discipline; NoTimeout state needs no
    // watermark sentinels
    val evs = graft.Engine.table(spark, TestSpark.sfDir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id").as[TypedEvent]
      .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val (b1, rest) = evs.splitAt(evs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 3)
    val mem = MemoryStream[TypedEvent]
    val q = Streams.streamingTransitions(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_transitions").start()
    try {
      Seq(b1, b2, b3).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      val got = spark.table("t_transitions")
        .groupBy($"from_type", $"to_type").count()
        .as[(String, String, Long)].collect().toSet
      val want = graft.operators.EventAnalytics.queries("q_event_transitions")
        .fn(spark, TestSpark.sfDir)
        .select($"from_type", $"to_type", $"n")
        .as[(String, String, Long)].collect().toSet
      assert(got == want,
        s"streaming transition counts diverge: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streamingSessionize rejects a watermark delay longer than the gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[SessEvent]
    val e = intercept[IllegalArgumentException] {
      Streams.streamingSessionize(mem.toDS(), watermark = "2 hours")
    }
    assert(e.getMessage.contains("watermark delay"))
  }

  test("streamingSessionize with checkpoint: ordinals and open sessions survive restart") {
    // the custom-state (flatMapGroupsWithState + EventTimeTimeout)
    // recovery path — distinct from the dropDuplicates restart test:
    // the open SessionState struct itself must come back from the store
    val base = "/tmp/graft_test_stage/sessionize_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = graft.Engine.table(spark, TestSpark.sfDir, "events")
      .select($"user_id", $"ts", $"event_id").as[SessEvent]
      .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val maxMs = evs.map(_.ts.getTime).max
    val (b1, b2) = evs.splitAt(evs.length / 2)
    def start() = Streams.streamingSessionize(
        spark.readStream.schema(b1.toSeq.toDS().schema).parquet(srcDir).as[SessEvent])
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    b1.toSeq.toDS().write.mode("append").parquet(srcDir)
    val q1 = start(); try q1.processAllAvailable() finally q1.stop()
    // second half + far-future sentinels arrive while the query is DOWN;
    // open sessions and per-user ordinals must resume from the store
    val day = 24L * 3600 * 1000
    (b2.toSeq ++ Seq(SessEvent(-1L, new Timestamp(maxMs + 2 * day), 0L)))
      .toDS().write.mode("append").parquet(srcDir)
    val q2 = start(); try q2.processAllAvailable() finally q2.stop()
    Seq(SessEvent(-1L, new Timestamp(maxMs + 4 * day), 1L))
      .toDS().write.mode("append").parquet(srcDir)
    val q3 = start(); try q3.processAllAvailable() finally q3.stop()
    val got = spark.read.parquet(outDir)
      .filter($"user_id" >= 0L)
      .select($"user_id", $"session_id", $"n_events",
        $"session_start", $"session_end", $"dur_us")
      .as[(Long, Long, Long, Timestamp, Timestamp, Long)].collect().toSet
    val want = graft.operators.EventAnalytics.queries("q_sessionize")
      .fn(spark, TestSpark.sfDir)
      .as[(Long, Long, Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(got == want,
      s"restart broke session state: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("streamingFunnel's latest emission per user matches batch q_funnel (real events)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = graft.Engine.table(spark, TestSpark.sfDir, "events")
      .select($"user_id", $"event_type", $"ts").as[FunnelEvent]
      .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val mem = MemoryStream[FunnelEvent]
    val q = Streams.streamingFunnel(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_funnel").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      // stage is monotone per user, so the latest emission = max stage
      val got = spark.table("t_funnel")
        .as[FunnelState].collect()
        .groupBy(_.user_id).map { case (_, rows) => rows.maxBy(_.stage) }
        .map(f => (f.user_id, f.t_view, f.t_click, f.t_purchase, f.stage))
        .toSet
      val want = graft.operators.EventAnalytics.queries("q_funnel")
        .fn(spark, TestSpark.sfDir)
        .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp], Int)]
        .collect()
        .map(r => (r._1, r._2, r._3, r._4, r._5))
        .toSet
      assert(got == want,
        s"streaming funnel diverges: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("streamingStreaks converges to batch q_streaks under SHUFFLED arrival order (round 7)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // feed the real per-user day set in a seeded RANDOM order: the
    // interval-merge state is order-independent, so even days that
    // bridge two already-seen streaks must land on the exact batch answer
    val days = graft.Engine.table(spark, TestSpark.sfDir, "events")
      .select($"user_id",
        datediff(to_date($"ts"), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .distinct().as[DayActive].collect()
    val shuffled = new scala.util.Random(7).shuffle(days.toSeq)
    val (b1, b2) = shuffled.splitAt(shuffled.length / 2)
    val mem = MemoryStream[DayActive]
    val q = Streams.streamingStreaks(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("t_streaks").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // n_active_days grows monotonically with the observed day set, so
      // the latest snapshot per user = its max-n_active_days row
      val got = spark.table("t_streaks").as[StreakRow].collect()
        .groupBy(_.user_id)
        .map { case (_, rows) => rows.maxBy(_.n_active_days) }
        .map(r => (r.user_id, r.n_active_days, r.longest_streak, r.n_streaks))
        .toSet
      val want = graft.operators.EventAnalytics.queries("q_streaks")
        .fn(spark, TestSpark.sfDir)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want,
        s"streaming streaks diverge: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
    } finally q.stop()
  }

  private def valueEvents(s: org.apache.spark.sql.SparkSession): Array[ValueEvent] = {
    import s.implicits._
    graft.Engine.table(s, TestSpark.sfDir, "events")
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as[ValueEvent].collect()
  }

  private def labelBatchWant(): (Map[Long, (Boolean, Option[Long])], Map[Long, (Boolean, Option[Long])]) = {
    // batch truth + its DECIDABLE subset: all TRUE rows, plus FALSE rows
    // whose user frontier passed horizon µs beyond the view
    val ev = valueEvents(spark)
    val usOf = ev.map(e => e.event_id -> MicroTs.toUs(e.ts)).toMap
    val frontier = ev.groupBy(_.user_id)
      .map { case (u, xs) => u -> xs.map(e => MicroTs.toUs(e.ts)).max }
    val batch = graft.Registry.all("q_label_horizon").fn(spark, TestSpark.sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val all = batch.map(r => r._1 -> (r._3, r._4)).toMap
    val decidable = batch.filter { case (eid, uid, label, _) =>
      label || frontier(uid) - usOf(eid) >
        graft.operators.EventAnalytics.labelHorizonUs
    }.map(r => r._1 -> (r._3, r._4)).toMap
    (all, decidable)
  }

  test("streamingLabelHorizon emits exactly the decidable subset of batch " +
    "q_label_horizon on a chronological split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = valueEvents(spark)
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    val mem = MemoryStream[ValueEvent]
    val q = Streams.streamingLabelHorizon(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_label").start()
    try {
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("t_label").as[LabelRow].collect()
        .map(r => r.event_id -> (r.label, r.tt_us)).toMap
      val (all, decidable) = labelBatchWant()
      assert(got == decidable,
        s"extra: ${(got.toSet -- decidable.toSet).take(3)}; " +
          s"missing: ${(decidable.toSet -- got.toSet).take(3)}")
      // non-degenerate: both classes emitted, and some views remain
      // genuinely undecidable (still open) at stream end
      assert(got.values.exists(_._1) && got.values.exists(!_._1))
      assert(decidable.size < all.size,
        "every view decidable — the open-state path was never exercised")
    } finally q.stop()
  }

  private def featBatchWant(): Map[Long, (Long, Long, Option[Long], Option[Long], Option[Long], Long)] =
    graft.Registry.all("q_feature_lags").fn(spark, TestSpark.sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getLong(6))).toMap

  test("streamingFeatureLags equals batch q_feature_lags row-for-row on a " +
    "chronological split (total parity)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = valueEvents(spark)
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    val mem = MemoryStream[ValueEvent]
    val q = Streams.streamingFeatureLags(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_feat").start()
    try {
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("t_feat").as[FeatRow].collect()
        .map(r => r.event_id -> (r.user_id, r.cents, r.lag1_cents,
          r.lag2_cents, r.prev3_sum, r.prev3_n)).toMap
      val want = featBatchWant()
      assert(got == want,
        s"extra: ${(got.toSet -- want.toSet).take(3)}; " +
          s"missing: ${(want.toSet -- got.toSet).take(3)}")
      // state genuinely crossed the batch boundary: some batch-2 row has
      // a lag fed by a batch-1 row
      val b1Ids = b1.map(_.event_id).toSet
      val b2Ids = b2.map(_.event_id).toSet
      assert(got.exists { case (eid, (_, _, l1, _, _, _)) =>
        b2Ids(eid) && l1.isDefined &&
          b1.exists(e => b1Ids(e.event_id) && Some(e.cents) == l1)
      })
    } finally q.stop()
  }

  test("streamingFeatureLags with checkpoint: the last-3 state survives restart") {
    val base = "/tmp/graft_test_stage/feat_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    import spark.implicits._
    val ev = valueEvents(spark)
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    b1.toSeq.toDS().write.mode("append").parquet(srcDir)
    def start() = Streams.streamingFeatureLags(
        spark.readStream.schema(b1.toSeq.toDS().schema).parquet(srcDir)
          .as[ValueEvent])
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    b2.toSeq.toDS().write.mode("append").parquet(srcDir) // arrives while DOWN
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir).as[FeatRow].collect()
      .map(r => r.event_id -> (r.user_id, r.cents, r.lag1_cents,
        r.lag2_cents, r.prev3_sum, r.prev3_n)).toMap
    assert(got == featBatchWant(), "restart diverged from batch twin")
  }

  test("streamingLabelHorizon with checkpoint: open-view state survives restart") {
    val base = "/tmp/graft_test_stage/label_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    import spark.implicits._
    val ev = valueEvents(spark)
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    b1.toSeq.toDS().write.mode("append").parquet(srcDir)
    def start() = Streams.streamingLabelHorizon(
        spark.readStream.schema(b1.toSeq.toDS().schema).parquet(srcDir)
          .as[ValueEvent])
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    b2.toSeq.toDS().write.mode("append").parquet(srcDir) // arrives while DOWN
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir).as[LabelRow].collect()
      .map(r => r.event_id -> (r.label, r.tt_us)).toMap
    val (_, decidable) = labelBatchWant()
    assert(got == decidable,
      s"restart diverged: extra=${(got.toSet -- decidable.toSet).take(3)} " +
        s"missing=${(decidable.toSet -- got.toSet).take(3)}")
  }

  test("streamingAnomaly equals batch q_anomaly_alerts on a chronological split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = valueEvents(spark)
    // split at the median µs — strictly-earlier rows in batch 1, so
    // every key sees chronological cross-batch arrival (the stated
    // parity contract); equal-ts rows never straddle the cut
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    val mem = MemoryStream[ValueEvent]
    val q = Streams.streamingAnomaly(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_anomaly").start()
    try {
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("t_anomaly").as[AnomalyAlert].collect().toSet
      val want = graft.Registry.all("q_anomaly_alerts")
        .fn(spark, TestSpark.sfDir).as[AnomalyAlert].collect().toSet
      assert(got == want,
        s"extra: ${(got -- want).take(3)}; missing: ${(want -- got).take(3)}")
      // non-degenerate: alerts fire in BOTH batches (state crossed the
      // micro-batch boundary, not one lucky batch)
      val b2Ids = b2.map(_.event_id).toSet
      assert(want.exists(a => b2Ids(a.event_id)) &&
        want.exists(a => !b2Ids(a.event_id)),
        "split produced a degenerate single-batch alert set")
    } finally q.stop()
  }

  test("streamingAnomaly with checkpoint: restart resumes the (n, sum) state exactly") {
    // deployment shape: parquet file source, checkpointed parquet sink;
    // the op is STATEFUL, so the restart exercises state-store recovery,
    // not just source offsets
    val base = "/tmp/graft_test_stage/anomaly_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    import spark.implicits._
    val ev = valueEvents(spark)
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    b1.toSeq.toDS().write.mode("append").parquet(srcDir)
    def start() = Streams.streamingAnomaly(
        spark.readStream.schema(b1.toSeq.toDS().schema).parquet(srcDir)
          .as[ValueEvent])
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    b2.toSeq.toDS().write.mode("append").parquet(srcDir) // arrives while DOWN
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir).as[AnomalyAlert].collect().toSet
    val want = graft.Registry.all("q_anomaly_alerts")
      .fn(spark, TestSpark.sfDir).as[AnomalyAlert].collect().toSet
    assert(got == want,
      s"restart diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  private def twaBatchWant(): Set[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    graft.Registry.all("q_twa").fn(spark, TestSpark.sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
  }

  test("streamingTwa's final snapshot per user equals batch q_twa on a chronological split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = valueEvents(spark)
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    val mem = MemoryStream[ValueEvent]
    val q = Streams.streamingTwa(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_twa").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      // dur_us grows monotonically per user: latest snapshot = max dur_us
      val got = spark.table("t_twa").as[TwaRow].collect()
        .groupBy(_.user_id)
        .map { case (_, rows) => rows.maxBy(_.dur_us) }
        .map(r => (r.user_id, r.n_steps, r.dur_us, r.wsum, r.twa_cents_ppm))
        .toSet
      assert(got == twaBatchWant(),
        s"extra=${(got -- twaBatchWant()).take(3)} missing=${(twaBatchWant() -- got).take(3)}")
      // non-degenerate: the state crossed the batch boundary — some user's
      // snapshot appears in both batches with growing integrals
      val perUser = spark.table("t_twa").as[TwaRow].collect().groupBy(_.user_id)
      assert(perUser.exists(_._2.map(_.dur_us).distinct.length >= 2),
        "no user's integral actually grew across micro-batches")
    } finally q.stop()
  }

  test("streamingTwa skips out-of-order readings instead of folding negative steps") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ve(id: Long, us: Long, cents: Long) =
      ValueEvent(1L, "view", MicroTs.toTs(us), id, cents)
    val mem = MemoryStream[ValueEvent]
    val q = Streams.streamingTwa(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_twa_late").start()
    try {
      mem.addData(ve(1, 1000000L, 100), ve(2, 3000000L, 200))
      q.processAllAvailable()
      // a reading OLDER than the last observed one arrives late: skipped
      mem.addData(ve(3, 2000000L, 999))
      q.processAllAvailable()
      mem.addData(ve(4, 4000000L, 300))
      q.processAllAvailable()
      val last = spark.table("t_twa_late").as[TwaRow].collect().maxBy(_.dur_us)
      // steps: 100 for 2s, then 200 for 1s — the late 999 never entered
      assert(last == TwaRow(1L, 2L, 3000000L, 100L * 2000000L + 200L * 1000000L,
        (BigInt(100L * 2000000L + 200L * 1000000L) * 1000000 / 3000000L).toLong))
    } finally q.stop()
  }

  test("streamingMatchPattern's final snapshot equals batch q_match_pattern " +
      "on a chronological split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = valueEvents(spark)
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    val mem = MemoryStream[ValueEvent]
    val q = Streams.streamingMatchPattern(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("t_match").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      // every snapshot field is monotone, so latest = max tuple per user
      val got = spark.table("t_match").as[MatchRow].collect()
        .groupBy(_.user_id)
        .map { case (_, rows) =>
          rows.maxBy(r => (r.n_v, r.max_drop_cents, r.max_rebound_cents)) }
        .map(r => (r.user_id, r.n_v, r.max_drop_cents, r.max_rebound_cents))
        .toSet
      val want = graft.Registry.all("q_match_pattern").fn(spark, TestSpark.sfDir)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want,
        s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      // the V detector crossed the micro-batch boundary: some user's
      // count grew between batches
      val perUser = spark.table("t_match").as[MatchRow].collect().groupBy(_.user_id)
      assert(perUser.exists(_._2.map(_.n_v).distinct.length >= 2),
        "no user's pattern count grew across micro-batches")
    } finally q.stop()
  }

  test("streamingMatchPattern with checkpoint: last-2 state survives restart") {
    val base = "/tmp/graft_test_stage/match_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    import spark.implicits._
    val ev = valueEvents(spark)
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    b1.toSeq.toDS().write.mode("append").parquet(srcDir)
    def start() = Streams.streamingMatchPattern(
        spark.readStream.schema(b1.toSeq.toDS().schema).parquet(srcDir)
          .as[ValueEvent])
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    b2.toSeq.toDS().write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir).as[MatchRow].collect()
      .groupBy(_.user_id)
      .map { case (_, rows) =>
        rows.maxBy(r => (r.n_v, r.max_drop_cents, r.max_rebound_cents)) }
      .map(r => (r.user_id, r.n_v, r.max_drop_cents, r.max_rebound_cents))
      .toSet
    val want = graft.Registry.all("q_match_pattern").fn(spark, TestSpark.sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want,
      s"restart diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("streamingTwa with checkpoint: restart resumes the integral state exactly") {
    val base = "/tmp/graft_test_stage/twa_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    import spark.implicits._
    val ev = valueEvents(spark)
    val cutoffUs = ev.map(e => MicroTs.toUs(e.ts)).sorted.apply(ev.length / 2)
    val (b1, b2) = ev.partition(e => MicroTs.toUs(e.ts) < cutoffUs)
    b1.toSeq.toDS().write.mode("append").parquet(srcDir)
    def start() = Streams.streamingTwa(
        spark.readStream.schema(b1.toSeq.toDS().schema).parquet(srcDir)
          .as[ValueEvent])
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    b2.toSeq.toDS().write.mode("append").parquet(srcDir) // arrives while DOWN
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // the append sink keeps every per-batch snapshot; the final one per
    // user (max dur_us) must equal the batch answer
    val got = spark.read.parquet(outDir).as[TwaRow].collect()
      .groupBy(_.user_id)
      .map { case (_, rows) => rows.maxBy(_.dur_us) }
      .map(r => (r.user_id, r.n_steps, r.dur_us, r.wsum, r.twa_cents_ppm))
      .toSet
    assert(got == twaBatchWant(),
      s"restart diverged: extra=${(got -- twaBatchWant()).take(3)}")
  }

  private def charsetRows(): Seq[(String, String)] = {
    import spark.implicits._
    graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("source"), col("text")).as[(String, String)].collect().toSeq
  }

  /** Dirty ingest batch for the charset monitor: one bare control char,
    * one U+FFFD pair, one clean line — exercises every counter.
    */
  private val dirtyCharsetRows: Seq[(String, String)] = Seq(
    ("bad_src", "ctrlhere"),
    ("bad_src", "transcode �� fail"),
    ("bad_src", "one clean doc"))

  test("streamingCharsetAudit equals the batch q_charset_audit rollup " +
    "across batches, including an injected dirty source") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val all = charsetRows() ++ dirtyCharsetRows
    val (b1, b2) = all.splitAt(all.length / 2)
    val mem = MemoryStream[(String, String)]
    val q = Streams.streamingCharsetAudit(mem.toDF().toDF("source", "text"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("t_charset").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val got = spark.table("t_charset").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
      val want = graft.llm.TextAnalysis.charsetAudit(
          all.toDF("source", "text")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
      assert(got == want,
        s"extra: ${(got -- want).take(3)}; missing: ${(want -- got).take(3)}")
      // the injected source actually tripped the flag counters
      assert(got.exists(r => r._1 == "bad_src" && r._6 > 0 && r._7 > 0 &&
        r._8 == 2L))
    } finally q.stop()
  }

  test("streamingCms counter cells are bit-identical to the batch sketch " +
    "across batches, and point queries obey the CMS guarantees") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val toks = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .as[String].collect().toSeq
    val (b1, b2) = toks.splitAt(toks.length / 2)
    val mem = MemoryStream[String]
    val q = Streams.streamingCms(mem.toDF().toDF("token"), "token")
      .writeStream.outputMode("complete")
      .format("memory").queryName("t_cms").start()
    try {
      Seq(b1, b2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val got = cells(spark.table("t_cms"))
      val want = cells(Streams.streamingCms(toks.toDF("token"), "token"))
      assert(got == want, "streaming counter table diverged from the batch sketch")
      // the sketch state is depth × width cells at most — never key-sized
      assert(got.size <= 3 * 1024)
      // point queries through the shared estimate path: est >= exact for
      // every key (the CMS one-sided error), exact for the corpus top-10
      // when collisions are rare at this SF
      val exact = toks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val keys = exact.keys.toSeq.toDF("token")
      val est = Streams.cmsEstimate(spark.table("t_cms"), keys, "token")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      exact.foreach { case (k, n) =>
        assert(est(k) >= n, s"CMS under-estimated '$k': ${est(k)} < $n")
      }
    } finally q.stop()
  }

  test("streamingCharsetAudit with checkpoint: counter state survives restart") {
    val base = "/tmp/graft_test_stage/charset_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    import spark.implicits._
    val all = charsetRows() ++ dirtyCharsetRows
    val (b1, b2) = all.splitAt(all.length / 2)
    val schema = b1.toDF("source", "text").schema
    b1.toDF("source", "text").write.mode("append").parquet(srcDir)
    // complete-mode monitor published per batch (parquet can't take
    // complete mode directly): overwrite the readout with each trigger
    def start() = Streams.streamingCharsetAudit(
        spark.readStream.schema(schema).parquet(srcDir))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("overwrite").parquet(outDir)
      }.start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    b2.toDF("source", "text").write.mode("append").parquet(srcDir) // while DOWN
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    val want = graft.llm.TextAnalysis.charsetAudit(all.toDF("source", "text"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet
    assert(got == want,
      s"restart diverged: extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
  }

  test("streamingQualityGate: kept set and scores equal the batch quality cut") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val d = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val mem = MemoryStream[(Long, String, Long)]
    val q = Streams.streamingQualityGate(
        mem.toDF().toDF("doc_id", "text", "n_chars"))
      .writeStream.outputMode("append")
      .format("memory").queryName("t_qgate").start()
    try {
      val rows = d.as[(Long, String, Long)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("t_qgate")
        .select(col("doc_id"), col("quality_ppm"))
        .as[(Long, Long)].collect().toMap
      val want = graft.Registry.all("q_quality_score").fn(spark, TestSpark.sfDir)
        .select(col("doc_id"), col("quality_ppm"))
        .as[(Long, Long)].collect()
        .filter(_._2 >= graft.llm.TextAnalysis.curateQualityPpm).toMap
      assert(got == want)
      // the gate is a real filter at this corpus: something dropped,
      // something kept
      assert(want.nonEmpty && want.size < rows.length)
    } finally q.stop()
  }

  test("streamingQualityModel: kept set and scores equal the batch model cut") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val d = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingQualityModel(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("t_qmodel").start()
    try {
      val rows = d.as[(Long, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("t_qmodel")
        .select(col("doc_id"), col("score_ppm"))
        .as[(Long, Long)].collect().toMap
      val want = graft.Registry.all("q_quality_model").fn(spark, TestSpark.sfDir)
        .select(col("doc_id"), col("score_ppm"), col("model_keep"))
        .as[(Long, Long, Boolean)].collect()
        .filter(_._3).map(r => (r._1, r._2)).toMap
      assert(got == want)
      // the model gate is a real filter at this corpus
      assert(want.nonEmpty && want.size < rows.length)
    } finally q.stop()
  }

  test("streamingSuffixProbe: planted mirrored span hits the index at the right positions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def toks(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i")
    val shared = (0 until 60).map(i => s"s$i")
    // corpus doc 1 holds the 60-token run; the index is its distinct
    // window keys — the q_dedup_suffix artifact a production lake persists
    val corpus = Seq((1L, (toks("a", 10) ++ shared ++ toks("b", 5)).mkString(" ")))
      .toDF("doc_id", "text")
    val index = graft.llm.Dedup.suffixWindows(corpus)
      .select(col("k")).distinct()
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingSuffixProbe(
        mem.toDF().toDF("doc_id", "text"), index)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_sprobe").start()
    try {
      // doc 100 mirrors the run at a different offset (11 hit windows,
      // positions 26..36); doc 101 shares nothing; doc 102 is sub-window
      mem.addData(
        (100L, (toks("c", 25) ++ shared ++ toks("d", 15)).mkString(" ")),
        (101L, toks("e", 80).mkString(" ")),
        (102L, toks("f", 20).mkString(" ")))
      q.processAllAvailable()
      val got = spark.table("t_sprobe")
        .select(col("doc_id"), col("pos"))
        .as[(Long, Int)].collect().toSet
      assert(got === (26 to 36).map(p => (100L, p)).toSet)
      // batch parity: the hit feed equals wins ⋈ index left-semi
      val streamed = Seq(
        (100L, (toks("c", 25) ++ shared ++ toks("d", 15)).mkString(" ")),
        (101L, toks("e", 80).mkString(" ")),
        (102L, toks("f", 20).mkString(" "))).toDF("doc_id", "text")
      val want = graft.llm.Dedup.suffixWindows(streamed)
        .join(index, Seq("k"), "left_semi")
        .select(col("doc_id"), col("pos"))
        .as[(Long, Int)].collect().toSet
      assert(got === want)
    } finally q.stop()
  }

  test("streamingPiiGate: blocks only Luhn-valid PANs, keeps checksum-failing digit runs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingPiiGate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("t_piigate").start()
    try {
      mem.addData(
        (1L, "pay with 4532015112830366 now"),        // valid 16 → blocked
        (2L, "order 4532015112830367 confirmed"),      // invalid check digit → kept
        (3L, "no digits at all"),                      // no candidate → kept
        // invalid candidates below are valid PANs with a mutated check
        // digit — only one last digit satisfies Luhn, so any other fails
        (4L, "two runs 4556737586899855 and 4532015112830361"), // one valid → blocked
        (5L, "ts 4532015112830360 then 5425233430109904"), // both invalid → kept
        // the 13-19 window the round-12 \d{16} gate missed entirely
        (6L, "amex 378282246310005 on file"),          // valid 15 → blocked
        (7L, "unionpay 6221261111111111113 ok"),       // valid 19 → blocked
        (8L, "ref 378282246310006 and 6221261111111111114"), // mutated 15+19 → kept
        // 20-digit run whose 19-PREFIX is Luhn-valid: the round-13 bare
        // window false-blocked this doc; maximal-run semantics keep it
        // with ZERO candidates (round 14, VERDICT-r13 #8)
        (9L, "nonce 62212611111111111130 ok"))
      q.processAllAvailable()
      val got = spark.table("t_piigate")
        .select(col("doc_id"), col("n_pan_cand"))
        .as[(Long, Int)].collect().toMap
      assert(got.keySet === Set(2L, 3L, 5L, 8L, 9L))
      assert(got(2L) === 1 && got(3L) === 0 && got(5L) === 2 &&
        got(8L) === 2 && got(9L) === 0)
    } finally q.stop()
  }

  test("streamingSuffixCut: planted mirrored span equals the batch keep1 rem-set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def toks(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i")
    val shared = (0 until 60).map(i => s"s$i")
    // corpus: doc 1 holds the 60-token run at offset 10, doc 2 repeats it
    // at offset 0 — the canonical for every shared-run key is doc 1 only
    // where doc 1's window starts first... doc 2 starts at pos 1 while
    // doc 1 starts at pos 11, but canonicalCopies argmins doc_id FIRST,
    // so doc 1 wins every key both docs carry
    val corpus = Seq(
      (1L, (toks("a", 10) ++ shared ++ toks("b", 5)).mkString(" ")),
      (2L, (shared ++ toks("c", 20)).mkString(" "))).toDF("doc_id", "text")
    val canon = graft.llm.Dedup.canonicalCopies(
      graft.llm.Dedup.suffixWindows(corpus))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.streamingSuffixCut(
        mem.toDF().toDF("doc_id", "text"), canon)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_scut").start()
    val streamedRows = Seq(
      (100L, (toks("d", 25) ++ shared ++ toks("e", 15)).mkString(" ")),
      (101L, toks("f", 80).mkString(" ")),
      (102L, toks("g", 20).mkString(" ")))
    try {
      mem.addData(streamedRows: _*)
      q.processAllAvailable()
      val got = spark.table("t_scut")
        .select(col("doc_id"), col("pos"), col("canon_doc"), col("canon_pos"))
        .as[(Long, Int, Long, Int)].collect().toSet
      // every cut window of doc 100 names doc 1 (the corpus argmin) as
      // its canonical; docs 101/102 emit nothing
      assert(got.nonEmpty && got.forall(r => r._1 == 100L && r._3 == 1L))
      assert(got.map(_._2) === (26 to 36).toSet)
      // batch-twin parity: keep1's rem-set over corpus ∪ streamed docs,
      // restricted to the streamed ids, is exactly the cut feed's
      // (doc_id, pos) set — the append-only invariant (streamed ids
      // succeed corpus ids) makes the two contracts coincide
      val all = corpus.unionByName(streamedRows.toDF("doc_id", "text"))
      val wins = graft.llm.Dedup.suffixWindows(all)
      val hot = wins.groupBy(col("k")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("k"))
      val dw = wins.join(hot, Seq("k"), "left_semi")
      val cp = graft.llm.Dedup.canonicalCopies(dw)
      val rem = dw.join(cp, Seq("k"))
        .filter(!(col("doc_id") === col("canon_doc") &&
          col("pos") === col("canon_pos")))
        .filter(col("doc_id") >= 100L)
        .select(col("doc_id"), col("pos"))
        .as[(Long, Int)].collect().toSet
      assert(got.map(r => (r._1, r._2)) === rem)
    } finally q.stop()
  }

  test("streamingSuffixCut with checkpoint: restart re-emits nothing, misses nothing") {
    import spark.implicits._
    val base = "/tmp/graft_test_stage/suffixcut_e2e"
    graft.util.Fs.deleteRecursively(base)
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    def toks(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i")
    val shared = (0 until 55).map(i => s"s$i")
    val corpus = Seq((1L, (shared ++ toks("a", 5)).mkString(" ")))
      .toDF("doc_id", "text")
    val canon = graft.llm.Dedup.canonicalCopies(
      graft.llm.Dedup.suffixWindows(corpus))
    val b1 = Seq((100L, (toks("b", 10) ++ shared).mkString(" ")))
      .toDF("doc_id", "text")
    b1.write.mode("append").parquet(srcDir)
    def start() = Streams.streamingSuffixCut(
        spark.readStream.schema(b1.schema).parquet(srcDir), canon)
      .writeStream.outputMode("append").format("parquet")
      .option("checkpointLocation", ckpt).option("path", outDir).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // batch 2 lands while the query is DOWN: another mirror + a clean doc
    Seq((200L, (shared ++ toks("c", 30)).mkString(" ")),
        (201L, toks("d", 80).mkString(" ")))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir)
      .select(col("doc_id"), col("pos"), col("canon_doc"))
      .as[(Long, Int, Long)].collect().toSeq
    // exactly-once across the restart: no row twice, none dropped —
    // docs 100 and 200 each carry the run's windows (6 each: 55-token
    // run ⇒ 6 window starts), doc 201 none
    assert(out.size === out.toSet.size, "restart re-emitted rows")
    val byDoc = out.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byDoc === Map(100L -> 6, 200L -> 6))
    assert(out.forall(_._3 == 1L))
  }

  test("streamingDsirGate: kept set and weights equal the batch DSIR scorer") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val d = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    // train the ratio table once (the batch artifact — complete over all
    // 1024 buckets), ship it as a plan-literal map
    val ratio = graft.llm.TextAnalysis.dsirRatioTable(d)
      .as[(Long, Long)].collect().toMap
    assert(ratio.size === graft.llm.TextAnalysis.dsirBuckets)
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.streamingDsirGate(
        mem.toDF().toDF("doc_id", "lang", "text"), ratio)
      .writeStream.outputMode("append")
      .format("memory").queryName("t_dsir").start()
    try {
      val rows = d.as[(Long, String, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("t_dsir")
        .select(col("doc_id"), col("weight_ppm"))
        .as[(Long, Long)].collect().toMap
      val want = graft.Registry.all("q_dsir_weights").fn(spark, TestSpark.sfDir)
        .select(col("doc_id"), col("weight_ppm"))
        .as[(Long, Long)].collect()
        .filter(_._2 >= graft.llm.TextAnalysis.dsirMinPpm).toMap
      assert(got == want)
      // the gate is a real filter at this corpus
      assert(want.nonEmpty && want.size < rows.length)
    } finally q.stop()
  }

  test("streamingBpeEncode: per-lang sums equal batch q_bpe_encode across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val d = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    // train the merge table once (the batch trainer, at the same
    // vocab-derived budget the batch operator uses), ship it as plan
    // literals — the stream applies the identical replace() chain
    val seqs = graft.llm.TextAnalysis.bpeSeqs(d)
    val (merges, _) = graft.util.Pin.scope { p =>
      graft.llm.TextAnalysis.bpeTrain(p,
        seqs, rounds = graft.llm.TextAnalysis.bpeBudgetFor(seqs))
    }
    val mem = MemoryStream[(Long, String, String)]
    val q = Streams.streamingBpeEncode(
        mem.toDF().toDF("doc_id", "lang", "text"), merges.map(_._2))
      .writeStream.outputMode("append")
      .format("memory").queryName("t_bpeenc").start()
    try {
      val rows = d.as[(Long, String, String)].collect()
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq: _*); q.processAllAvailable()
      mem.addData(b2.toSeq: _*); q.processAllAvailable()
      val got = spark.table("t_bpeenc").groupBy(col("lang"))
        .agg(sum(col("n_bpe_tokens")).as("n"))
        .as[(String, Long)].collect().toMap
      val want = graft.Registry.all("q_bpe_encode").fn(spark, TestSpark.sfDir)
        .select(col("lang"), col("n_bpe_tokens"))
        .as[(String, Long)].collect().toMap
      assert(got == want,
        s"extra: ${(got.toSet -- want.toSet).take(3)}; " +
          s"missing: ${(want.toSet -- got.toSet).take(3)}")
      assert(want.values.sum > 0L)
    } finally q.stop()
  }
}
