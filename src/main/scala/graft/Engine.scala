package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table-registry core of the engine.
  *
  * The reference (`/root/reference/pandas_redshift/core.py:51-59`) holds a
  * psycopg2 connection + cursor in module globals; our equivalent of the
  * "connection" is the [[SparkSession]], and the equivalent of Redshift's
  * catalog is the set of parquet tables under a scale-factor directory
  * registered as temp views. All query operators in [[graft.operators]] and
  * [[graft.llm]] resolve tables through [[Engine.table]] so the physical
  * source (parquet dir today; JDBC, CSV, or a real catalog on a cluster)
  * stays swappable in one place.
  *
  * Scale note: `table` is a plain `spark.read.parquet` — schema comes from
  * the parquet footer, scans are planned by the vectorized parquet reader
  * with predicate pushdown + column pruning, so every downstream operator
  * inherits pruned distributed scans for free. Nothing here materializes
  * data on the driver.
  */
object Engine {

  /** All testdata tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables that should be broadcast in joins. */
  val broadcastableDims: Set[String] = Set("region", "nation", "supplier")

  // Plan cache: re-resolving a table re-reads parquet footers; the
  // DataFrame (a lazy plan) is immutable, so reuse per (session, dir,
  // name) is safe and shaves fixed cost off every query.
  private val planCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    planCache.getOrElseUpdate((spark, sfDir, name),
      if (name == "events") readEvents(spark, sfDir)
      else spark.read.parquet(s"$sfDir/$name.parquet"))

  /** events.ts arrives in either of two physical parquet encodings depending
    * on how the dataset was generated: TIMESTAMP(NANOS, NTZ) (which Spark's
    * vectorized reader rejects — read as raw nanos via the legacy conf and
    * truncate to microseconds with integer division; ns epochs exceed 2^53,
    * so double math would lose precision) or plain TIMESTAMP(MICROS) (read
    * directly). Both land on the same µs-precision timestamp column DuckDB
    * sees, keeping oracle parity. The branch is picked from the resolved
    * schema, not a config, so regenerated testdata can't silently skew types.
    */
  private def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    // The legacy conf is consulted at schema resolution (read.parquet is
    // eager about footers), so it can be restored immediately — other
    // reads on the shared session keep normal nanos-rejection behavior.
    // It only affects NANOS columns; a MICROS file resolves identically
    // with or without it.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      val withTs = raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case _ =>
          // Plain TIMESTAMP(MICROS): parquet NTZ resolves to TIMESTAMP_NTZ;
          // normalize to TIMESTAMP (LTZ) so downstream operators see the
          // same type every generation of the data has presented
          // (timestamp_micros returns LTZ; unix_micros & friends require
          // it). Session TZ is pinned UTC, so the cast is value-exact.
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
      withTs.select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Register every testdata table as a temp view named after itself, so
    * `spark.sql` queries (the reference's passthrough surface,
    * `core.py:84`/`core.py:308`) resolve bare table names exactly like the
    * DuckDB oracle does.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))

  /** Local parallelism of every entry point: `SPARK_GRAFT_CPUS` when set,
    * else the JVM's available processors.
    */
  private lazy val defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session factory: Bench, BenchOne, Verify, Explain, ScaleUp
    * and library users all start here. One shuffle partition per local
    * core; AQE (Spark's default) re-plans partition counts and skew joins
    * from runtime stats. On a real cluster the same knobs come from
    * spark-submit.
    */
  def session(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // testdata tables are single small parquet files; smaller input
      // splits let scans/partial aggs use all local cores (on a real
      // cluster the 128m default is right)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One engine query: the Spark implementation plus (when the semantics are
  * SQL-expressible) the equivalent DuckDB oracle SQL the driver replays at
  * sf0.01. Oracle `None` ⇒ driver records a weaker rows-only check.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(fn, Some(oracle))
  def noOracle(fn: (SparkSession, String) => DataFrame): Q = Q(fn, None)
}
