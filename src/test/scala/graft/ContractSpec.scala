package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the driver contract itself: the flagship smoke, key
  * consistency between queries and oracles, and oracle determinism
  * hygiene (every oracle is totally ordered or a bare aggregate).
  */
class ContractSpec extends AnyFunSuite {

  /** Every source file under src/main/scala: (relative path, text). */
  private lazy val mainSources: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"missing ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    walk(root).map(f =>
      root.toPath.relativize(f.toPath).toString ->
        java.nio.file.Files.readString(f.toPath))
  }

  test("SparkEntry.entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("sessions come from Engine.session; mains are the five entry points") {
    // one session factory, one set of runners: a new SparkSession.builder
    // or a new one-off main belongs in Engine.session or BenchOne instead
    def filesWith(token: String): Set[String] =
      mainSources.collect { case (p, s) if s.contains(token) => p }.toSet
    assert(filesWith("SparkSession.builder") == Set("graft/Engine.scala"))
    assert(filesWith("def main") ==
      Set("Bench", "BenchOne", "Verify", "Explain", "ScaleUp")
        .map(n => s"graft/$n.scala"))
  }

  test("on-disk indexes are published and named only by the index store") {
    // one key, one atomic publish, one drop: a second rename-publish or a
    // second graft_<family>_index_ path belongs in llm/IndexStore instead
    val store = Set("graft/llm/IndexStore.scala")
    assert(mainSources.collect { case (p, s) if s.contains(".renameTo(") => p }
      .toSet === store)
    val indexLiteral = "graft_\\S*_index_".r
    assert(mainSources.collect {
      case (p, s) if indexLiteral.findFirstIn(s).isDefined => p
    }.toSet === store)
  }

  test("cached rows are pinned and released only by the pin owner") {
    // one owner, three lifetimes (scoped, returned, memoized): a persist,
    // unpersist, localCheckpoint or cache call belongs in util/Pin
    // instead, so no site invents its own release rule
    val calls = Seq(".persist(", ".unpersist(", ".localCheckpoint(", ".cache(")
    assert(mainSources.collect {
      case (p, s) if calls.exists(s.contains) => p
    }.toSet === Set("graft/util/Pin.scala"))
  }

  test("the driver-side dot fold is written once in src/main") {
    // one copy of the 0.0-seeded left-to-right Σ a(off+i)·b(i) loop,
    // VectorOps.dot, whose fold is ArrayDot's: a probe ranking, an ADC
    // table or a query norm computed on the driver cannot drift from
    // the bits a plan computes, because there is no second loop to drift
    val fold =
      """\{\s*\w+ \+= \w+\([^()]*\) \* \w+\([^()]*\);\s*\w+ \+= 1\s*\}""".r
    val copies = mainSources.flatMap { case (p, s) =>
      fold.findAllIn(s).map(_ => p) }
    assert(copies === Seq("graft/functions/VectorExpressions.scala"))
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("registry has no duplicate ids across modules") {
    val maps = Seq(
      operators.Relational.queries, operators.Aggregates.queries,
      operators.SqlSurface.queries, operators.AsOf.queries,
      operators.EventAnalytics.queries,
      operators.Scale.queries, operators.Stats.queries,
      llm.CorpusStats.queries, functions.Scalars.queries,
      connector.Connector.queries, streaming.Streams.queries,
      functions.UserFunctions.queries, llm.TextAnalysis.queries,
      llm.Dedup.queries, llm.Components.queries, llm.Search.queries,
      llm.Similarity.queries, llm.Multimodal.queries)
    val keys = maps.flatMap(_.keys)
    val dups = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dups.isEmpty, s"duplicate query ids: $dups")
    assert(keys.size == Registry.all.size)
  }

  test("events reader restores the legacy nanos conf and still executes") {
    val spark = TestSpark.spark
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val ev = Engine.table(spark, TestSpark.sfDir, "events")
    // getOption surfaces the registered default ("false") when unset —
    // the leak would be a lingering "true"
    assert(!spark.conf.getOption(key).contains("true"),
      "shared-session conf must not leak from readEvents")
    assert(ev.count() > 0, "plan must stay executable after conf restore")
  }

  test("events reader: nanos-long and micros-timestamp generations read identically") {
    // The driver has shipped events.ts as parquet TIMESTAMP(NANOS) (which
    // resolves to int64 under the legacy conf) in some rounds and
    // TIMESTAMP(MICROS) in others. readEvents branches on the resolved
    // schema; both branches must yield the same rows. Re-encode the
    // current generation as the OTHER physical type and diff.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    val canon = Engine.table(spark, TestSpark.sfDir, "events")
    val dir = java.nio.file.Files.createTempDirectory("events_gen").toString
    try {
      // write the nanos-long twin (what ScaleUp also emits)
      canon.withColumn("ts", unix_micros(col("ts")) * expr("CAST(1000 AS BIGINT)"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val viaNanos = Engine.table(spark, dir, "events")
      assert(viaNanos.schema("ts").dataType === canon.schema("ts").dataType,
        "both branches must surface the same ts type")
      assert(viaNanos.exceptAll(canon).isEmpty && canon.exceptAll(viaNanos).isEmpty,
        "nanos-long and micros generations must read to identical rows")
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("array_dot rejects non-double arrays with an analysis error") {
    val spark = TestSpark.spark
    GraftExtensions.register(spark)
    val e = intercept[Exception](
      spark.sql("SELECT array_dot(array(1, 2), array(3, 4))").collect())
    assert(e.getMessage.contains("array_dot requires two array<double>"),
      e.getMessage)
  }

  test("saltedJoin rejects right/full outer join types") {
    val spark = TestSpark.spark
    val df = Engine.table(spark, TestSpark.sfDir, "nation")
    val e = intercept[IllegalArgumentException](
      operators.Scale.saltedJoin(df, df, "n_nationkey", joinType = "full"))
    assert(e.getMessage.contains("saltedJoin supports"))
  }

  test("concurrent queries on one shared session equal their serial results") {
    // Multi-tenant shape: Engine.table's plan cache (a TrieMap) and the
    // temp-view registry are shared across threads; four dissimilar
    // queries planned and executed simultaneously must produce exactly
    // the rows they produce serially. (Iterative-loop confs are already
    // isolated on child sessions — ComponentsSpec — this pins the plain
    // query path.)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = TestSpark.spark
    val names = Seq("q_agg_group", "q_topk", "q_fn_string", "q_mv_delta")
    val serial = names.map(n =>
      n -> Registry.all(n).fn(spark, TestSpark.sfDir).collect().toSeq)
    val parallel = Await.result(
      Future.sequence(names.map(n => Future {
        n -> Registry.all(n).fn(spark, TestSpark.sfDir).collect().toSeq
      })), 5.minutes)
    assert(parallel.toMap == serial.toMap,
      "concurrent execution must not perturb results")
  }

  test("every oracle is deterministic: ORDER BY present or single-row aggregate") {
    val bad = SparkEntry.oracleSql.filterNot { case (_, sql) =>
      val up = sql.toUpperCase
      up.contains("ORDER BY") ||
        (up.contains("COUNT(*)") && !up.contains("GROUP BY")) || // global agg
        !up.contains("FROM") // constant select: single row by construction
    }.keySet
    assert(bad.isEmpty, s"oracles without total ordering: $bad")
  }
}
