package graft.connector

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.slf4j.LoggerFactory

import graft.Q

/** The staged-write/read pipeline — the reference's whole reason to exist
  * (`/root/reference/pandas_redshift/core.py:269-304`) re-expressed on
  * Spark's distributed execution:
  *
  *  - reference: driver encodes ONE in-memory CSV (`core.py:137-138`),
  *    uploads it serially (`core.py:139-141`), Redshift compute nodes then
  *    COPY it in parallel (`core.py:238-260`).
  *  - here: executors write partitioned CSV directly (no driver funnel),
  *    and the "COPY" is a parallel schema'd CSV scan + insert — the one
  *    genuinely distributed step of the reference is the *whole* pipeline.
  *
  * Connection globals (`core.py:52,63`) become an explicit
  * [[ConnectorSession]]; a local staging dir stands in for the S3 bucket
  * (zero-egress env) and carries the same subdirectory/credential fields
  * so COPY synthesis + masked logging stay behavior-identical.
  */
final case class ConnectorSession(
    spark: SparkSession,
    stagingDir: String,
    subdirectory: Option[String] = None,
    accessKeyId: Option[String] = None,
    secretAccessKey: Option[String] = None,
    iamRole: Option[String] = None,
    sessionToken: Option[String] = None,
    maskSecrets: Boolean = true) {
  /** ≙ `s3_subdirectory_var + csv_name` (`core.py:69-72,140`). */
  def stagedPath(csvName: String): String =
    subdirectory.fold(s"$stagingDir/$csvName")(sub => s"$stagingDir/$sub/$csvName")
}

object Connector {
  private val log = LoggerFactory.getLogger(getClass)

  /** ≙ the reference's module `logger` for the per-call `verbose=True`
    * emissions (`core.py:120,180,221,285`): verbose-gated messages flow
    * through this swappable sink so specs can assert both emission and
    * suppression (slf4j output is not capturable portably).
    */
  private[connector] var logSink: String => Unit = log.info(_)
  private def emit(verbose: Boolean, msg: => String): Unit =
    if (verbose) logSink(msg)

  /** ≙ `S3_ACCEPTED_KWARGS` (`core.py:13-19`): the whitelist of extra
    * staging-upload parameters `df_to_s3`/`pandas_to_redshift` pass through
    * to `put_object` (`core.py:128-130, 291-294`). Ported verbatim —
    * including the reference's `"CacheControl "` trailing-space entry,
    * which makes a real `CacheControl` kwarg silently ignored there; parity
    * means reproducing that filter exactly. The local staging dir has no
    * object-store metadata to attach, so accepted kwargs are logged (the
    * reference applies them silently); rejected/None ones are dropped.
    */
  val acceptedStagingKwargs: Set[String] = Set(
    "ACL", "Body", "CacheControl ", "ContentDisposition", "ContentEncoding",
    "ContentLanguage", "ContentLength", "ContentMD5", "ContentType",
    "Expires", "GrantFullControl", "GrantRead", "GrantReadACP",
    "GrantWriteACP", "Metadata", "ServerSideEncryption", "StorageClass",
    "WebsiteRedirectLocation", "SSECustomerAlgorithm", "SSECustomerKey",
    "SSECustomerKeyMD5", "SSEKMSKeyId", "RequestPayer", "Tagging")

  /** Accepted kwargs whose VALUES are secrets (encryption keys / key ids)
    * — masked in logs under the same toggles as the COPY credentials.
    */
  val sensitiveStagingKwargs: Set[String] =
    Set("SSECustomerKey", "SSECustomerKeyMD5", "SSEKMSKeyId")

  /** ≙ the dict-comprehension filter `{k: v for k, v in kwargs.items() if
    * k in S3_ACCEPTED_KWARGS and v is not None}` (`core.py:128-130`).
    */
  def filterStagingKwargs(kwargs: Map[String, Option[String]]): Map[String, String] =
    kwargs.collect { case (k, Some(v)) if acceptedStagingKwargs(k) => k -> v }

  /** ≙ the pandas index written as the leading CSV column when
    * `index=True` (`core.py:120,133,137` writes it; `core.py:184-189`
    * names the table column `index` when the frame's index is unnamed).
    * Spark has no row index, so this synthesizes the RangeIndex
    * equivalent: a contiguous 0..n-1 BIGINT in partition order, via RDD
    * `zipWithIndex` — one count pass for partition offsets plus a narrow
    * map, NO shuffle and no single-partition window bottleneck, so it
    * holds at any scale.
    *
    * Ordering contract: "partition order" is the upstream plan's output
    * order — stable for a scan, plan-dependent after a shuffle. A caller
    * that needs pandas' row-order RangeIndex must pre-order the frame
    * (`df.orderBy(...)`) before writing with `index = true`; without an
    * explicit ordering the index is merely a distinct contiguous id, the
    * same caveat pandas users hit after any reindexing operation. The
    * RDD hop also severs columnar/codegen execution for the staged
    * write — acceptable on the write path (the CSV sink is row-oriented
    * anyway), not a pattern for hot query paths.
    */
  def withRowIndex(df: DataFrame, name: String = "index"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(
      StructField(name, LongType, nullable = false) +: df.schema.fields)
    val rdd = df.rdd.zipWithIndex.map { case (row, i) => Row.fromSeq(i +: row.toSeq) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** ≙ `connect_to_s3` (`core.py:62-79`). */
  def connectStaging(
      spark: SparkSession,
      stagingDir: String,
      subdirectory: Option[String] = None,
      accessKeyId: Option[String] = None,
      secretAccessKey: Option[String] = None,
      iamRole: Option[String] = None,
      sessionToken: Option[String] = None): ConnectorSession =
    ConnectorSession(spark, stagingDir, subdirectory, accessKeyId,
      secretAccessKey, iamRole, sessionToken)

  /** ≙ `df_to_s3` (`core.py:120-144`): DataFrame → headered CSV in staging.
    * Executors write one file per partition in parallel — at 100 TB this is
    * the only shape that works; the reference's StringIO buffer is the
    * anti-pattern SURVEY §6 calls out.
    */
  /** CSV writer options shared by the staged write and the save_local
    * copy, so both files are byte-equivalent. pandas to_csv neither trims
    * whitespace nor nulls-out empty strings (core.py:137-138) — match
    * that fidelity.
    */
  private def csvFidelity(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      delimiter: String) =
    w.option("header", "true")
      .option("sep", delimiter)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("emptyValue", "\"\"")

  def stageCsv(
      cs: ConnectorSession,
      df: DataFrame,
      csvName: String,
      delimiter: String = ",",
      saveLocal: Option[String] = None,
      extraKwargs: Map[String, Option[String]] = Map.empty,
      verbose: Boolean = true): String = {
    val path = cs.stagedPath(csvName)
    filterStagingKwargs(extraKwargs).foreach { case (k, v) =>
      // key material must not reach the logs in cleartext — same policy
      // as Ddl.maskAwsCredentials on the COPY text
      val shown =
        if (sensitiveStagingKwargs(k) && cs.maskSecrets && LogConfig.maskSecrets) "********"
        else v
      emit(verbose, s"staging kwarg $k=$shown")
    }
    // ≙ save_local (core.py:131-135): optional extra copy alongside the
    // staged one — a second distributed write, not a driver download.
    saveLocal.foreach { localDir =>
      csvFidelity(df.write.mode(SaveMode.Overwrite), delimiter)
        .csv(s"$localDir/$csvName")
      emit(verbose, s"saved file $csvName in $localDir") // core.py:134-135
    }
    csvFidelity(df.write.mode(SaveMode.Overwrite), delimiter).csv(path)
    emit(verbose, s"saved file $csvName in staging $path") // core.py:142-144
    path
  }

  /** ≙ `s3_to_redshift` (`core.py:220-266`): synthesize + log the masked
    * COPY command for parity, then perform its Spark equivalent — a
    * parallel schema'd CSV scan, laid out and inserted into the target
    * table in one pass (no intermediate cache). The whole load, CSV
    * parse included, runs under a per-table lock that holds within one
    * JVM only: loads into one table run one after the other, loads into
    * different tables in parallel. Two processes must not run staged
    * appends to the same table (their commits share
    * `<table>/_temporary/0`, and the first to commit deletes it).
    */
  def loadStaged(
      cs: ConnectorSession,
      tableName: String,
      csvName: String,
      delimiter: String = ",",
      quoteChar: String = "\"",
      dateFormat: String = "auto",
      timeFormat: String = "auto",
      region: Option[String] = None,
      distStyle: String = "even",
      distKey: String = "",
      sortKey: String = "",
      verbose: Boolean = true): Unit = {
    val path = cs.stagedPath(csvName)
    val copy = Ddl.copySql(tableName, path, delimiter, quoteChar, dateFormat,
      timeFormat, cs.accessKeyId, cs.secretAccessKey, cs.iamRole, region,
      cs.sessionToken)
    // both the session flag and the global set_log_level toggle
    // (core.py:40) must be on for masking to be skipped
    emit(verbose,
      Ddl.maskAwsCredentials(copy, cs.maskSecrets && LogConfig.maskSecrets))
    emit(verbose, "FILLING THE TABLE IN REDSHIFT") // core.py:255-258
    val schema = cs.spark.table(tableName).schema
    val reader = cs.spark.read
      .option("header", "true")
      .option("sep", delimiter)
      .option("quote", quoteChar)
      // COPY aborts the load on a malformed row (and the reference rolls
      // the transaction back, core.py:259-266); PERMISSIVE would smuggle
      // nulls in instead
      .option("mode", "FAILFAST")
      .schema(schema)
    // COPY's dateformat/timeformat 'auto' ≙ Spark's default inference;
    // explicit formats map onto the reader options (core.py:244-249).
    if (dateFormat != "auto") reader.option("dateFormat", toJavaFormat(dateFormat))
    if (timeFormat != "auto") reader.option("timestampFormat", toJavaFormat(timeFormat))
    else reader.option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    // The Redshift layout clauses get their Spark analogs on load:
    // distkey → hash repartition, sortkey → sortWithinPartitions.
    val laid = applyLayout(reader.csv(path), distStyle, distKey,
      if (sortKey.isEmpty) Nil else sortKey.split(",").toSeq.map(_.trim))
    // Transactional parity with COPY's rollback (core.py:259-266) is
    // Spark's file commit protocol: tasks write under
    // `<table>/_temporary`, and only job commit publishes their files. A
    // malformed row (FAILFAST) or a bad cast fails the insert job; the
    // job abort deletes `<table>/_temporary`, so nothing is published and
    // the target stays byte-identical. With the even or distkey layout
    // the parse runs in the shuffle-map stage, before any write task
    // starts; with the no-shuffle layouts it runs inside the write
    // tasks, whose files the same abort discards.
    tableLock(tableName).synchronized {
      laid.write.mode(SaveMode.Append).insertInto(tableName)
    }
  }

  /** One lock per target table. Spark's file commit protocol stages every
    * job that writes a table under the same `<table>/_temporary/0`, and
    * the first job to commit deletes that directory, task files of a
    * concurrent append to the same table included (that append then fails
    * with "No such file"). Loads into one table from this JVM therefore
    * run one at a time, the CSV parse included (it runs inside the
    * insert job); loads into different tables still run concurrently.
    * Writers in other processes are not covered.
    */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def tableLock(tableName: String): AnyRef =
    tableLocks.computeIfAbsent(tableName.toLowerCase(java.util.Locale.ROOT),
      _ => new Object)

  /** Redshift COPY format tokens → java.time patterns (the two formats the
    * reference README documents; pass-through otherwise).
    */
  private def toJavaFormat(fmt: String): String =
    fmt.replace("YYYY", "yyyy").replace("DD", "dd").replace("HH24", "HH")
      .replace("MI", "mm").replace("SS", "ss")

  /** ≙ `create_redshift_table` (`core.py:171-217`): unconditional drop,
    * then create from the schema. The Redshift layout clauses are logged
    * for parity and mapped to their Spark analogs on load (see
    * [[applyLayout]]); the catalog table itself is parquet.
    */
  def createTable(
      cs: ConnectorSession,
      df: DataFrame,
      tableName: String,
      columnTypes: Option[Seq[String]] = None,
      distStyle: String = "even",
      distKey: String = "",
      sortInterleaved: Boolean = false,
      sortKey: String = "",
      verbose: Boolean = true): Unit = {
    val cols = df.schema.fields.toSeq.map(_.name)
      .zip(columnTypes.getOrElse(TypeMap.columnTypes(df.schema)))
    // Synthesized for log/golden parity (incl. diststyle validation).
    val ddl = Ddl.createTableSql(tableName, cols, distStyle, distKey,
      sortInterleaved, sortKey)
    emit(verbose, ddl) // core.py:212-214
    emit(verbose, "CREATING A TABLE IN REDSHIFT")
    cs.spark.sql(s"DROP TABLE IF EXISTS $tableName")
    cleanWarehousePath(cs.spark, tableName)
    cs.spark.sql(s"CREATE TABLE $tableName (${df.schema.toDDL}) USING parquet")
  }

  /** Redshift physical-layout → Spark partitioning (SURVEY §1):
    * diststyle even → round-robin repartition; distkey → hash repartition
    * on the key (co-located joins); sortkey → sortWithinPartitions (parquet
    * min/max zone maps); diststyle all has no write-side analog (it is the
    * broadcast-join hint at read time).
    */
  def applyLayout(
      df: DataFrame,
      distStyle: String = "even",
      distKey: String = "",
      sortKey: Seq[String] = Nil,
      numPartitions: Option[Int] = None): DataFrame = {
    val parts = numPartitions.getOrElse(df.sparkSession.sessionState.conf.numShufflePartitions)
    val dist =
      if (distKey.nonEmpty) df.repartition(parts, col(distKey))
      else if (distStyle == "even") df.repartition(parts)
      else df
    if (sortKey.nonEmpty) dist.sortWithinPartitions(sortKey.map(col): _*) else dist
  }

  /** ≙ `pandas_to_redshift` (`core.py:269-304`): validate → uuid-staged
    * CSV → create-unless-append → parallel load. `index = true` prepends
    * the RangeIndex-equivalent column named `index` (`core.py:184-189`;
    * [[withRowIndex]]); `extraKwargs` is the whitelisted staging
    * pass-through (`core.py:291-294`); `verbose` threads the reference's
    * per-call log toggle (`core.py:285,294,300,304`) down all three
    * stages. Appends to one table from one JVM are safe to call
    * concurrently (their loads run one after the other; appends to
    * different tables run in parallel); two processes must not append
    * to the same table (see [[loadStaged]]).
    */
  def writeTable(
      cs: ConnectorSession,
      df: DataFrame,
      tableName: String,
      columnTypes: Option[Seq[String]] = None,
      index: Boolean = false,
      append: Boolean = false,
      delimiter: String = ",",
      quoteChar: String = "\"",
      dateFormat: String = "auto",
      timeFormat: String = "auto",
      region: Option[String] = None,
      distStyle: String = "even",
      distKey: String = "",
      sortInterleaved: Boolean = false,
      sortKey: String = "",
      extraKwargs: Map[String, Option[String]] = Map.empty,
      verbose: Boolean = true): Unit = {
    val validated = ColumnRules.validateColumnNames(df)
    val indexed = if (index) withRowIndex(validated) else validated
    val csvName = s"$tableName-${UUID.randomUUID()}.csv" // core.py:291
    stageCsv(cs, indexed, csvName, delimiter, extraKwargs = extraKwargs,
      verbose = verbose)
    if (!append)
      createTable(cs, indexed, tableName, columnTypes, distStyle, distKey,
        sortInterleaved, sortKey, verbose = verbose)
    loadStaged(cs, tableName, csvName, delimiter, quoteChar, dateFormat,
      timeFormat, region, distStyle, distKey, sortKey, verbose = verbose)
  }

  /** ≙ `redshift_to_pandas` (`core.py:82-87`): arbitrary (optionally
    * parameterized) SQL → DataFrame. Results stay distributed — the
    * reference's `fetchall()` driver materialization is exactly what we
    * do NOT do.
    */
  def sqlRead(
      spark: SparkSession,
      sqlQuery: String,
      params: Map[String, Any] = Map.empty): DataFrame =
    if (params.isEmpty) spark.sql(sqlQuery) else spark.sql(sqlQuery, params)

  /** Positional-parameter overload of [[sqlRead]] ≙ the psycopg2 tuple
    * form of `redshift_to_pandas(sql, query_params)` (`core.py:84` binds
    * `%s` placeholders positionally). Spark 4's positional binding uses
    * `?` markers bound left-to-right by `spark.sql(q, Array)`; values
    * bind as literals (never spliced as SQL text), the same
    * injection-safety the reference gets from psycopg2's binding.
    */
  def sqlRead(
      spark: SparkSession,
      sqlQuery: String,
      params: Seq[Any]): DataFrame =
    if (params.isEmpty) spark.sql(sqlQuery)
    else spark.sql(sqlQuery, params.toArray)

  /** ≙ `exec_commit` (`core.py:307-309`); Spark has no commit concept —
    * file-sink writes are staged-then-renamed by the commit protocol
    * (SURVEY §7 transactionality note). DDL/DML commands execute eagerly
    * when `spark.sql` returns; no collect — a SELECT passed through here
    * must not materialize on the driver.
    */
  def execCommit(spark: SparkSession, sqlQuery: String): Unit = {
    val df = spark.sql(sqlQuery)
    // Commands (DDL/DML) already ran eagerly inside spark.sql —
    // commandExecuted is then a CommandResult. Anything Spark plans
    // lazily (exec_commit accepts arbitrary SQL, including a plain
    // SELECT) must still execute like the reference's cursor.execute
    // does: force it WITHOUT materializing rows on the driver.
    val ranEagerly = df.queryExecution.commandExecuted
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.CommandResult]
    if (!ranEagerly) df.foreach(_ => ())
  }

  /** ≙ `close_up_shop` (`core.py:312-324`) for the staging side: drop the
    * staged files. The SparkSession is shared and survives (callers own
    * its lifecycle, unlike the reference's global connection teardown).
    */
  def close(cs: ConnectorSession): Unit =
    graft.util.Fs.deleteRecursively(cs.stagingDir)

  private def cleanWarehousePath(spark: SparkSession, tableName: String): Unit = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    graft.util.Fs.deleteRecursively(s"$wh/$tableName")
  }

  // ---- oracle-checked query entries ---------------------------------

  import org.apache.spark.sql.functions._
  import graft.operators.Exact._

  val queries: Map[String, Q] = Map(
    // Staged CSV sink alone (≙ df_to_s3, core.py:120-144): stage the part
    // table as headered CSV, read it back schema'd — aggregate must equal
    // the parquet source-of-truth (lossless staging leg).
    "q_csv_sink" -> Q(
      """SELECT p_brand, count(*) AS n,
        |  cast(sum(p_size) as bigint) AS total_size,
        |  max(p_name) AS max_name
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      val cs = connectStaging(s, "/tmp/graft_stage/connector",
        subdirectory = Some("sink"))
      val part = graft.Engine.table(s, dir, "part")
      val staged = stageCsv(cs, part, "part-sink.csv", delimiter = "|")
      s.read.option("header", "true").option("sep", "|")
        .schema(part.schema).csv(staged)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("p_size")).cast("long").as("total_size"),
          max(col("p_name")).as("max_name"))
        .orderBy(col("p_brand"))
    },

    // Full write pipeline (≙ pandas_to_redshift): customer → staged CSV →
    // created table → parallel load → read-back aggregate must match the
    // source-of-truth oracle exactly (proves the CSV leg is lossless).
    "q_df_write" -> Q(
      s"""SELECT c_mktsegment, count(*) AS n, ${oSumMoney("c_acctbal")} AS bal,
         |  count(DISTINCT c_nationkey) AS n_nations
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      val cs = connectStaging(s, "/tmp/graft_stage/connector",
        subdirectory = Some("loads"))
      val customer = graft.Engine.table(s, dir, "customer")
      writeTable(cs, customer, "conn_customer")
      s.table("conn_customer")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sumMoney(col("c_acctbal")).as("bal"),
          countDistinct(col("c_nationkey")).as("n_nations"))
        .orderBy(col("c_mktsegment"))
    },

    // DDL/DML passthrough (≙ exec_commit, core.py:307-309; README's CTAS
    // with UNION example, README.md:102-109).
    "q_exec_ddl" -> Q(
      """SELECT k AS nationkey, count(*) AS n FROM (
        |  SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000.0
        |  UNION ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
      graft.Engine.registerAll(s, dir)
      s.sql("DROP TABLE IF EXISTS ddl_union_tbl")
      cleanWarehousePath(s, "ddl_union_tbl")
      execCommit(s,
        """CREATE TABLE ddl_union_tbl USING parquet AS
          |SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000.0
          |UNION ALL
          |SELECT s_nationkey FROM supplier""".stripMargin)
      s.table("ddl_union_tbl").groupBy(col("k")).agg(count(lit(1)).as("n"))
        .select(col("k").as("nationkey"), col("n"))
        .orderBy(col("nationkey"))
    }
  )
}
