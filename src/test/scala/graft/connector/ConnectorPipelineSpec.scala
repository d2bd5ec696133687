package graft.connector

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end staged-write pipeline (≙ pandas_to_redshift,
  * core.py:269-304) against real testdata on a live session.
  */
class ConnectorPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cs = Connector.connectStaging(spark, "/tmp/graft_test_stage",
    subdirectory = Some("sub"),
    accessKeyId = Some("AKIATEST"), secretAccessKey = Some("SECRETTEST"))

  test("writeTable overwrite: staged CSV load round-trips exactly") {
    val customer = graft.Engine.table(spark, TestSpark.sfDir, "customer")
    Connector.writeTable(cs, customer, "t_conn_rt")
    val back = spark.table("t_conn_rt")
    assert(back.count() == customer.count())
    // exact content: anti-joins in both directions are empty
    assert(back.except(customer).isEmpty && customer.except(back).isEmpty)
  }

  test("writeTable append doubles the row count (core.py:279,296-297)") {
    val nation = graft.Engine.table(spark, TestSpark.sfDir, "nation")
    Connector.writeTable(cs, nation, "t_conn_app")
    Connector.writeTable(cs, nation, "t_conn_app", append = true)
    assert(spark.table("t_conn_app").count() == 2 * nation.count())
  }

  test("stageCsv saveLocal writes the optional extra copy (core.py:131-135)") {
    val region = graft.Engine.table(spark, TestSpark.sfDir, "region")
    Connector.stageCsv(cs, region, "region-local.csv",
      saveLocal = Some("/tmp/graft_test_stage/local_copy"))
    val back = spark.read.option("header", "true").schema(region.schema)
      .csv("/tmp/graft_test_stage/local_copy/region-local.csv")
    assert(back.count() == region.count())
  }

  test("saveLocal copy is byte-equivalent to the staged CSV (fidelity options shared)") {
    import spark.implicits._
    // empty strings and padded whitespace are exactly what diverges when
    // the two writes use different options
    val tricky = Seq((1L, "", "  padded  "), (2L, "x", "y"))
      .toDF("id", "empty_s", "pad_s")
    Connector.stageCsv(cs, tricky.repartition(1), "tricky.csv",
      saveLocal = Some("/tmp/graft_test_stage/local_tricky"))
    def lines(dir: String): Seq[String] = {
      val files = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".csv")).sorted
      files.flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).toSeq.sorted
    }
    val staged = lines(cs.stagedPath("tricky.csv"))
    val local = lines("/tmp/graft_test_stage/local_tricky/tricky.csv")
    assert(staged == local, s"staged=$staged local=$local")
    // and the fidelity guarantees themselves hold in BOTH copies
    assert(staged.exists(_.contains("\"\"")), "empty string must be quoted, not null")
    assert(staged.exists(_.contains("  padded  ")), "whitespace must survive")
  }

  test("writeTable rejects reserved column names before staging") {
    val bad = graft.Engine.table(spark, TestSpark.sfDir, "region")
      .withColumnRenamed("r_name", "join")
    val e = intercept[IllegalArgumentException](
      Connector.writeTable(cs, bad, "t_conn_bad"))
    assert(e.getMessage.contains("reserve word"))
  }

  test("writeTable index=true prepends a contiguous 'index' column (core.py:184-189)") {
    val nation = graft.Engine.table(spark, TestSpark.sfDir, "nation")
    Connector.writeTable(cs, nation, "t_conn_idx", index = true)
    val back = spark.table("t_conn_idx")
    // reference names the unnamed-index column literally `index`, first
    assert(back.columns.head == "index")
    assert(back.columns.tail.toSeq == nation.columns.toSeq)
    val idx = back.select("index").collect().map(_.getLong(0)).sorted.toSeq
    assert(idx == (0L until nation.count()).toSeq)
  }

  test("filterStagingKwargs replicates the S3_ACCEPTED_KWARGS filter (core.py:13-19,128-130)") {
    val out = Connector.filterStagingKwargs(Map(
      "ServerSideEncryption" -> Some("AES256"),  // accepted
      "ContentType" -> None,                     // None dropped
      "NotAKwarg" -> Some("x"),                  // unknown dropped
      // the reference whitelist carries 'CacheControl ' WITH a trailing
      // space, so the real kwarg never matches — parity includes the bug
      "CacheControl" -> Some("no-cache")))
    assert(out == Map("ServerSideEncryption" -> "AES256"))
  }

  /** Hand-stages `parts` as the part files of `csvName`, each under the
    * table's header.
    */
  private def stageParts(csvName: String, header: Seq[String],
      parts: Seq[Seq[String]]): Unit = {
    val dir = cs.stagedPath(csvName)
    graft.util.Fs.deleteRecursively(dir)
    new java.io.File(dir).mkdirs()
    parts.zipWithIndex.foreach { case (rows, i) =>
      val w = new java.io.PrintWriter(f"$dir/part-$i%05d.csv")
      try (header.mkString(",") +: rows).foreach(w.println) finally w.close()
    }
  }

  private def tableDir(table: String): java.io.File =
    new java.io.File(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).location)

  /** Every `_temporary` directory under `dir`, at any depth. */
  private def temporaries(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap(d =>
      if (d.getName == "_temporary") Seq(d) else temporaries(d))

  test("failed load leaves the target table untouched (COPY rollback, core.py:259-266)") {
    val nation = graft.Engine.table(spark, TestSpark.sfDir, "nation")
    Connector.writeTable(cs, nation, "t_conn_txn")
    def rows = spark.table("t_conn_txn").collect().map(_.toString).sorted.toSeq
    val before = rows
    def assertUntouched(load: String): Unit = {
      assert(rows == before, s"$load: failed load must leave the target byte-identical")
      val left = temporaries(tableDir("t_conn_txn"))
      assert(left.isEmpty, s"$load: the aborted insert left ${left.mkString(",")}")
    }
    // one part file whose only row cannot cast to the table schema
    stageParts("bad-load.csv", nation.columns.toSeq,
      Seq(Seq("not_a_number,oops,also_not_a_number,text")))
    intercept[Exception](
      Connector.loadStaged(cs, "t_conn_txn", "bad-load.csv"))
    assertUntouched("one bad file")
    // four part files, the malformed row in the last: without a shuffle
    // ("all") the good files' write tasks can commit before the bad one
    // fails, so only the job abort keeps them out of the table; with the
    // even layout the parse fails in the shuffle-map stage instead
    val good = nation.collect().map(_.mkString(",")).toSeq
    stageParts("bad-last-part.csv", nation.columns.toSeq,
      good.grouped(9).toSeq :+ Seq(good.head, "not_a_number,oops,also_not_a_number,text"))
    val staged = cs.stagedPath("bad-last-part.csv")
    assert(spark.read.option("header", "true").option("mode", "FAILFAST")
      .schema(spark.table("t_conn_txn").schema)
      .csv((0 until 3).map(i => f"$staged/part-$i%05d.csv"): _*).count() == good.size,
      "only the last part may hold a malformed row")
    Seq("all", "even").foreach { style =>
      intercept[Exception](Connector.loadStaged(cs, "t_conn_txn",
        "bad-last-part.csv", distStyle = style, verbose = false))
      assertUntouched(s"distStyle $style")
    }
  }

  test("a warm staged append runs 3 Spark jobs: the CSV stage write, the layout shuffle, the insert") {
    val nation = graft.Engine.table(spark, TestSpark.sfDir, "nation")
    Connector.writeTable(cs, nation, "t_conn_jobs", verbose = false)
    Connector.writeTable(cs, nation, "t_conn_jobs", append = true, verbose = false)
    def details(r: graft.Counted.Run[_]): String =
      r.stageDetails.map(_.linesIterator.take(3).mkString(" | ")).mkString("\n")
    val append = graft.Counted(spark)(Connector.writeTable(cs, nation,
      "t_conn_jobs", append = true, verbose = false))
    assert(append.jobs === 3, s"warm append ran ${append.jobs} jobs:\n${details(append)}")
    // a replace also drops and creates the table; recorded, not pinned
    val replace = graft.Counted(spark)(Connector.writeTable(cs, nation,
      "t_conn_jobs", verbose = false))
    info(s"a warm replace runs ${replace.jobs} jobs")
    assert(spark.table("t_conn_jobs").count() == nation.count())
  }

  test("applyLayout: distkey hash-partitions, sortkey sorts within partitions") {
    val orders = graft.Engine.table(spark, TestSpark.sfDir, "orders")
    val laid = Connector.applyLayout(orders, distKey = "o_custkey",
      sortKey = Seq("o_orderdate"), numPartitions = Some(8))
    assert(laid.rdd.getNumPartitions == 8)
    // same custkey never spans two partitions (co-located joins)
    val spans = laid.select(col("o_custkey"))
      .withColumn("pid", spark_partition_id())
      .groupBy("o_custkey").agg(countDistinct(col("pid")).as("nparts"))
      .filter(col("nparts") > 1).count()
    assert(spans == 0)
  }

  test("verbose toggle gates per-call emission; emitted COPY stays masked (core.py:120,180,221,285)") {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    val old = Connector.logSink
    Connector.logSink = m => { buf += m; () }
    try {
      val region = graft.Engine.table(spark, TestSpark.sfDir, "region")
      Connector.writeTable(cs, region, "t_conn_verb", verbose = false)
      assert(buf.isEmpty, s"verbose=false must suppress all emission, got: $buf")
      Connector.writeTable(cs, region, "t_conn_verb", verbose = true)
      assert(buf.exists(_.contains("CREATING A TABLE IN REDSHIFT")))
      assert(buf.exists(_.contains("FILLING THE TABLE IN REDSHIFT")))
      assert(buf.exists(_.contains("saved file")))
      // the verbose path still masks credentials (core.py:256 calls
      // mask_aws_credentials inside the verbose branch)
      assert(buf.exists(_.contains("access_key_id '********'")),
        buf.mkString("\n"))
      assert(!buf.exists(_.contains("SECRETTEST")))
    } finally Connector.logSink = old
  }

  test("execCommit executes lazily-planned statements too (core.py:307-309)") {
    // DDL/DML run eagerly inside spark.sql; a plain SELECT is planned
    // lazily, yet exec_commit parity means it must still execute. The
    // side-channel: an accumulator bumped per evaluated row.
    val acc = spark.sparkContext.longAccumulator("graft_exec_probe")
    spark.udf.register("graft_exec_probe", (x: Long) => { acc.add(1); x })
    graft.Engine.registerAll(spark, TestSpark.sfDir)
    Connector.execCommit(spark,
      "SELECT graft_exec_probe(r_regionkey) FROM region")
    assert(acc.value == 5, s"SELECT through execCommit never ran (${acc.value})")
  }

  test("sqlRead with named parameters (core.py:82-87 query_params)") {
    graft.Engine.registerAll(spark, TestSpark.sfDir)
    val n = Connector.sqlRead(spark,
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > :p",
      Map("p" -> 100000.0)).head().getLong(0)
    val direct = spark.table("orders").filter(col("o_totalprice") > 100000.0).count()
    assert(n == direct)
  }

  test("sqlRead with positional parameters (core.py:84 psycopg2 tuple form)") {
    graft.Engine.registerAll(spark, TestSpark.sfDir)
    // Two ? markers bound left-to-right, like psycopg2 binds %s.
    val n = Connector.sqlRead(spark,
      "SELECT count(*) AS n FROM orders" +
        " WHERE o_totalprice > ? AND o_orderpriority = ?",
      Seq(100000.0, "1-URGENT")).head().getLong(0)
    val direct = spark.table("orders")
      .filter(col("o_totalprice") > 100000.0 &&
        col("o_orderpriority") === "1-URGENT").count()
    assert(n == direct)
  }

  test("sqlRead with empty positional parameters runs unparameterized") {
    graft.Engine.registerAll(spark, TestSpark.sfDir)
    val n = Connector.sqlRead(spark,
      "SELECT count(*) AS n FROM region", Seq.empty).head().getLong(0)
    assert(n == 5)
  }
}
