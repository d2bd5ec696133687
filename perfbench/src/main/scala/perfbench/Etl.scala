package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.connector.{Connector, ConnectorSession}

/** The reference's own surface: orders/lineitem-shaped batches pushed
  * through `Connector.writeTable` (append to the fact tables, replace of
  * the daily extract `orders_today`), and parameterised
  * `Connector.sqlRead` queries whose rows are pulled to the caller, as
  * `redshift_to_pandas` does.
  */
object Etl {
  /** Money and quantities are in cents (decimal scale 2), timestamps
    * in microseconds: the model's sums are exact Long arithmetic.
    */
  final case class Order(key: Long, cust: Long, status: String,
      total: Long, date: Long, prio: String, comment: String)
  final case class Line(order: Long, lineNo: Int, part: Long,
      qty: Long, price: Long, disc: Long, ship: Long,
      flag: String, status: String, comment: String)

  val orderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType),
    StructField("o_comment", StringType)))
  val lineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType),
    StructField("l_quantity", DecimalType(12, 2)),
    StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_discount", DecimalType(4, 2)),
    StructField("l_shipdate", TimestampType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_comment", StringType)))

  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val nCustomers = 1500
  private val commentWords = Seq("furiously", "final", "deposits", "carefully",
    "pending", "requests", "blithely", "ironic", "accounts", "quickly",
    "regular", "packages", "slyly", "express", "theodolites", "bold")
  private val day = 86400L * 1000000L
  private val epoch1995 = 788918400L * 1000000L // 1995-01-01T00:00:00Z in µs

  def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }
  def micros(t: Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L

  private def money(r: SplittableRandom, lo: Long, hi: Long): Long =
    lo + r.nextLong(hi - lo + 1)

  def dec(cents: Long, scale: Int = 2): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(cents, scale)

  private def comment(r: SplittableRandom): String =
    (0 until 2 + r.nextInt(5)).map { i =>
      val w = commentWords(r.nextInt(commentWords.size))
      if (i > 0 && r.nextInt(4) == 0) s", $w" else if (i > 0) s" $w" else w
    }.mkString

  /** `n` orders with keys from `firstKey`, each with 1 to 7 lines. */
  def batch(r: SplittableRandom, firstKey: Long, n: Int): (Seq[Order], Seq[Line]) = {
    val orders = (0 until n).map { i =>
      Order(firstKey + i, 1L + r.nextInt(nCustomers), Seq("F", "O", "P")(r.nextInt(3)),
        money(r, 100000L, 50000000L),
        epoch1995 + r.nextLong(1826L) * day + r.nextLong(86400L) * 1000000L,
        priorities(r.nextInt(priorities.size)), comment(r))
    }
    val lines = orders.flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        Line(o.key, ln, 1L + r.nextInt(20000), money(r, 100L, 5000L),
          money(r, 90000L, 10495000L), money(r, 0L, 10L),
          o.date + (1L + r.nextInt(120)) * day,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)), comment(r))
      }
    }
    (orders, lines)
  }

  def orderRow(o: Order): Row = Row(o.key, o.cust, o.status, dec(o.total),
    ts(o.date), o.prio, o.comment)
  def lineRow(l: Line): Row = Row(l.order, l.lineNo, l.part, dec(l.qty),
    dec(l.price), dec(l.disc), ts(l.ship), l.flag, l.status, l.comment)

  /** Bytes of a row as the generator's CSV line (the input-size unit). */
  def csvBytes(r: Row): Long =
    r.toSeq.map {
      case t: Timestamp => 26
      case v => v.toString.length
    }.sum + r.size

  /** A canonical text form of a result cell, so rows compare exactly
    * across BigDecimal scales and timestamp classes.
    */
  def cell(v: Any): String = v match {
    case null => "NULL"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: Timestamp => micros(t).toString
    case x => x.toString
  }
  def render(r: Row): String = r.toSeq.map(cell).mkString("|")

  /** One parameterised read. */
  final case class Query(kind: Int, params: Map[String, Any]) {
    def sql: String = kind match {
      case 0 => s"""SELECT o_orderkey, o_totalprice, o_orderdate, o_comment
                   |FROM orders WHERE o_custkey = :cust
                   |ORDER BY o_orderkey""".stripMargin
      case 1 => s"""SELECT o.o_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice
                   |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                   |WHERE o.o_custkey = :cust
                   |ORDER BY o.o_orderkey, l.l_linenumber""".stripMargin
      case 2 => s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
                   |  sum(l_quantity) AS qty, sum(l_extendedprice) AS base,
                   |  sum(l_extendedprice * (1 - l_discount)) AS disc
                   |FROM lineitem WHERE l_shipdate < :cutoff
                   |GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2""".stripMargin
      case 3 => s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                   |WHERE o_orderpriority = :prio AND o_orderdate >= :since
                   |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin
      case 4 => s"""SELECT t.o_orderpriority, count(*) AS n, sum(l.l_extendedprice) AS rev
                   |FROM orders_today t JOIN lineitem l
                   |  ON t.o_orderkey = l.l_orderkey
                   |GROUP BY t.o_orderpriority ORDER BY 1""".stripMargin
    }
  }

  /** Parameters that never select nothing, so no read takes an
    * empty-result shortcut on some seeds and not on others: the customer
    * of an existing order, a ship-date cutoff in 1997–1998, an order-date
    * floor in 1995–1997.
    */
  def query(r: SplittableRandom, kind: Int, orders: collection.IndexedSeq[Order]): Query =
    kind match {
      case 0 | 1 => Query(kind, Map("cust" -> orders(r.nextInt(orders.size)).cust))
      case 2 => Query(kind, Map("cutoff" -> ts(epoch1995 + (731L + r.nextLong(730L)) * day)))
      case 3 => Query(kind, Map("prio" -> priorities(r.nextInt(priorities.size)),
        "since" -> ts(epoch1995 + r.nextLong(1096L) * day)))
      case _ => Query(kind, Map.empty)
    }

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32; c.update(s.getBytes("UTF-8")); c.getValue
  }

  /** Running column sums of one table in the layout of a
    * [[checksumSql]] row: the count, then one sum per checked column,
    * with the timestamp column's sum (microseconds, which can overflow a
    * Long) at `microsAt`. `scales(i)` is the decimal scale of column i.
    */
  final class Sums(name: String, scales: Seq[Int], microsAt: Int) {
    private var n = 0L
    private val longs = new Array[Long](scales.size)
    private var micros = BigInt(0)
    def add(xs: Array[Long], ts: Long): Unit = {
      n += 1; micros += ts
      var i = 0
      while (i < longs.length) { longs(i) += xs(i); i += 1 }
    }
    def text: String = {
      val cols = longs.indices.map(i => cell(dec(longs(i), scales(i))))
      (Seq(name, n.toString) ++ cols.take(microsAt) ++ Seq(micros.toString) ++
        cols.drop(microsAt)).mkString("|")
    }
  }

  /** The tables as plain Scala rows: the independent computation every
    * read and every table checksum is compared with. Orders are indexed
    * by customer and lines by order, so each read costs the model its
    * answer's size, not the table's.
    */
  final class Model {
    val orders = mutable.ArrayBuffer.empty[Order]
    val lines = mutable.ArrayBuffer.empty[Line]
    var today: Seq[Order] = Nil
    private val byCust = mutable.Map.empty[Long, mutable.ArrayBuffer[Order]]
    private val byOrder = mutable.Map.empty[Long, mutable.ArrayBuffer[Line]]
    private val orderScales = Seq(0, 0, 2, 0)
    private val orderSums = new Sums("orders", orderScales, 3)
    private val lineSums = new Sums("lineitem", Seq(0, 0, 0, 2, 2, 2, 0), 6)

    private def orderCols(o: Order) =
      Array(o.key, o.cust, o.total, crc(o.status + o.prio + o.comment))

    def addOrders(os: Seq[Order]): Unit = os.foreach { o =>
      orders += o
      byCust.getOrElseUpdate(o.cust, mutable.ArrayBuffer.empty) += o
      orderSums.add(orderCols(o), o.date)
    }

    def addLines(ls: Seq[Line]): Unit = ls.foreach { l =>
      lines += l
      byOrder.getOrElseUpdate(l.order, mutable.ArrayBuffer.empty) += l
      lineSums.add(Array(l.order, l.lineNo.toLong, l.part, l.qty, l.price, l.disc,
        crc(l.flag + l.status + l.comment)), l.ship)
    }

    def expected(q: Query): Seq[String] = {
      def row(xs: Any*) = xs.map(cell).mkString("|")
      def ofCust(c: Any) = byCust.getOrElse(c.asInstanceOf[Long], mutable.ArrayBuffer.empty)
      q.kind match {
        case 0 =>
          ofCust(q.params("cust")).sortBy(_.key)
            .map(o => row(o.key, dec(o.total), o.date, o.comment)).toSeq
        case 1 =>
          ofCust(q.params("cust")).flatMap(o => byOrder.getOrElse(o.key, Nil))
            .sortBy(l => (l.order, l.lineNo))
            .map(l => row(l.order, l.lineNo, dec(l.qty), dec(l.price))).toSeq
        case 2 =>
          val cut = micros(q.params("cutoff").asInstanceOf[Timestamp])
          // (count, qty, price, price × (1 − disc) at scale 4) per group
          val acc = mutable.TreeMap.empty[(String, String), Array[Long]]
          lines.foreach { l =>
            if (l.ship < cut) {
              val a = acc.getOrElseUpdate((l.flag, l.status), new Array[Long](4))
              a(0) += 1; a(1) += l.qty; a(2) += l.price; a(3) += l.price * (100 - l.disc)
            }
          }
          acc.toSeq.map { case ((f, st), a) =>
            row(f, st, a(0), dec(a(1)), dec(a(2)), dec(a(3), 4)) }
        case 3 =>
          val p = q.params("prio")
          val since = micros(q.params("since").asInstanceOf[Timestamp])
          orders.filter(o => o.prio == p && o.date >= since)
            .sortBy(o => (-o.total, o.key)).take(25)
            .map(o => row(o.key, o.cust, dec(o.total))).toSeq
        case 4 =>
          today.groupBy(_.prio).toSeq.sortBy(_._1).flatMap { case (p, os) =>
            val ls = os.flatMap(o => byOrder.getOrElse(o.key, Nil))
            if (ls.isEmpty) None else Some(row(p, ls.size.toLong, dec(ls.map(_.price).sum)))
          }
      }
    }

    def checksums: Seq[String] = {
      val todaySums = new Sums("orders_today", orderScales, 3)
      today.foreach(o => todaySums.add(orderCols(o), o.date))
      Seq(orderSums.text, todaySums.text, lineSums.text)
    }
  }

  /** Connector phases of a write, told apart by the physical plan of
    * each SQL execution: the staged CSV write, the drop/create of a
    * replace, and the rest (the validating scan and the insert).
    */
  def isStage(plan: String): Boolean =
    plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains(", CSV,")
  def isCreate(plan: String): Boolean =
    plan.contains("DropTable") || plan.contains("CreateDataSourceTable")

  /** One line per checked output that differs from the model. */
  def verify(outputs: Seq[(String, Seq[String], Seq[String])]): Seq[String] =
    outputs.collect { case (what, exp, got) if exp != got =>
      s"etl $what: expected ${exp.size} rows ${exp.take(2).mkString("; ")}, " +
        s"got ${got.size} rows ${got.take(2).mkString("; ")}"
    }

  /** Engine-side checksum of one table: one text row in the layout of
    * [[Model.checksums]].
    */
  def checksumSql(table: String): String = {
    def text(table: String, cols: Seq[String]) =
      (s"'$table'" +: cols).map(c => s"cast($c AS string)")
        .mkString("SELECT concat_ws('|', ", ", ", s") AS c FROM $table")
    def orders(t: String) = text(t, Seq("count(*)", "sum(o_orderkey)", "sum(o_custkey)",
      "sum(o_totalprice)", "sum(cast(unix_micros(o_orderdate) AS decimal(38, 0)))",
      "sum(crc32(concat(o_orderstatus, o_orderpriority, o_comment)))"))
    val lineitem = text("lineitem", Seq("count(*)", "sum(l_orderkey)", "sum(l_linenumber)",
      "sum(l_partkey)", "sum(l_quantity)", "sum(l_extendedprice)", "sum(l_discount)",
      "sum(cast(unix_micros(l_shipdate) AS decimal(38, 0)))",
      "sum(crc32(concat(l_returnflag, l_linestatus, l_comment)))"))
    if (table == "lineitem") lineitem else orders(table)
  }

  /** [[cell]]'s canonical form of one field of an engine checksum row. */
  def canonical(field: String): String =
    if (field.matches("-?[0-9]+(\\.[0-9]+)?"))
      new java.math.BigDecimal(field).stripTrailingZeros.toPlainString
    else field
}

final class Etl(seed: Long, seconds: Int) extends Workload {
  import Etl._

  /** The tables start at the repository's correctness-tier size (sf0.01:
    * 15000 orders, about 60000 lines); orders per appended batch cycle
    * around the smoke tier's 1500 (sf0.001), the same in every run.
    */
  private val initialOrders = 15000
  private val todayOrders = 1500
  private val batchSizes = Seq(1500, 500)
  private val readsPerRound = 20
  /** A timed round takes about 10 s on a 4-core 2 GHz machine, so 20
    * seconds make 2 rounds: 40 reads and 6 writes.
    */
  val rounds: Int = math.max(1, math.ceil(seconds / 10.0).toInt)

  private val rng = new SplittableRandom(seed * 31 + 1)
  private val model = new Model
  private var nextKey = 1L
  private var inputBytesAcc = 0L
  private var rowsStaged = 0L
  private var cs: ConnectorSession = _
  private var scratch: File = _
  /** (what, expected, got) of every checked output. */
  private val outputs = mutable.ArrayBuffer.empty[(String, Seq[String], Seq[String])]

  private def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
      table: String, append: Boolean, session: ConnectorSession): Long = {
    Connector.writeTable(session, frame(spark, rows, schema), table,
      append = append, verbose = false)
    rows.size.toLong
  }

  /** Compares `table`'s row count and column checksums with the model's. */
  private def check(spark: SparkSession, table: String, what: String): Unit = {
    val got = spark.sql(checksumSql(table)).collect().toSeq
      .map(_.getString(0).split("\\|", -1).map(canonical).mkString("|"))
    outputs += ((s"$table $what", model.checksums.filter(_.startsWith(s"$table|")), got))
  }

  def setup(spark: SparkSession, scratchDir: File, rec: Recorder): Unit = {
    scratch = scratchDir
    cs = Connector.connectStaging(spark, new File(scratch, "staging").getPath)
    val (os, ls) = batch(rng, nextKey, initialOrders)
    nextKey += initialOrders
    val today = os.takeRight(todayOrders)
    write(spark, os.map(orderRow), orderSchema, "orders", append = false, cs)
    write(spark, ls.map(lineRow), lineSchema, "lineitem", append = false, cs)
    write(spark, today.map(orderRow), orderSchema, "orders_today", append = false, cs)
    model.addOrders(os); model.addLines(ls); model.today = today
    account(os.map(orderRow) ++ ls.map(lineRow) ++ today.map(orderRow))
    Seq("orders", "lineitem", "orders_today").foreach(t => check(spark, t, "after initial load"))
  }

  private def account(rows: Seq[Row]): Unit = {
    inputBytesAcc += rows.map(csvBytes).sum
    rowsStaged += rows.size
  }

  /** The replace path already ran in set-up: an append of 20 orders and
    * one read of each kind, checked like the timed rounds.
    */
  def warmup(spark: SparkSession, rec: Recorder): Unit = {
    val (os, _) = batch(rng, nextKey, 20)
    nextKey += os.size
    val oRows = os.map(orderRow)
    rec.op("write")(write(spark, oRows, orderSchema, "orders", append = true, cs))
    model.addOrders(os)
    account(oRows)
    rec.untimed(check(spark, "orders", "after the warm-up append"))
    reads(spark, "warm-up", 5, rec)
  }

  /** Appends an orders batch and its lines, replaces orders_today with
    * the same orders, then runs the round's parameterised reads.
    */
  def round(spark: SparkSession, i: Int, rec: Recorder): Unit = {
    val label = s"round $i"
    val (os, ls) = batch(rng, nextKey, batchSizes(i % batchSizes.size))
    nextKey += os.size
    val oRows = os.map(orderRow); val lRows = ls.map(lineRow)
    rec.op("write", s"orders append ${os.size}")(
      write(spark, oRows, orderSchema, "orders", append = true, cs))
    model.addOrders(os)
    rec.untimed(check(spark, "orders", s"after the $label append"))
    rec.op("write", s"lineitem append ${ls.size}")(
      write(spark, lRows, lineSchema, "lineitem", append = true, cs))
    model.addLines(ls)
    rec.untimed(check(spark, "lineitem", s"after the $label append"))
    rec.op("write", s"orders_today replace ${os.size}")(
      write(spark, oRows, orderSchema, "orders_today", append = false, cs))
    model.today = os
    rec.untimed(check(spark, "orders_today", s"after the $label replace"))
    account(oRows ++ lRows ++ oRows)
    reads(spark, label, readsPerRound, rec)
  }

  private def reads(spark: SparkSession, label: String, n: Int, rec: Recorder): Unit =
    (0 until n).foreach { k =>
      val q = query(rng, k % 5, model.orders)
      var got: Seq[String] = Nil
      rec.op("read", s"query ${q.kind}") {
        got = rec.span("connector.read_ms") {
          Connector.sqlRead(spark, q.sql, q.params).collect().toSeq.map(render)
        }
        got.size.toLong
      }
      val exp = rec.untimed(model.expected(q))
      outputs += ((s"$label query ${q.kind} ${q.params}", exp, got))
    }

  def verify(): Seq[String] = Etl.verify(outputs.toSeq)

  def inputBytes: Long = inputBytesAcc

  def persisted: Seq[File] = Seq("orders", "lineitem", "orders_today")
    .map(t => new File(scratch, s"warehouse/$t")) :+ new File(scratch, "staging")

  /** Share of checked outputs (reads and table checksums) equal to the
    * independent computation.
    */
  def recall: Double = outputs.count(o => o._2 == o._3).toDouble / outputs.size

  def layers(rec: Recorder, trace: Option[Trace]): Map[String, Metric] = {
    val tables = persisted.init
    val staged = Recorder.du(new File(scratch, "staging"))._1
    val phases = trace.map { t =>
      val execs = t.sqlIn(rec.windows.toSeq, "write")
      def ms(p: String => Boolean) =
        execs.filter(e => p(e._3)).map(e => e._2 - e._1).sum.toDouble
      val writes = rec.windows.count(_._3 == "write").max(1)
      Map(
        "connector.stage_ms" -> Metric(ms(Etl.isStage) / writes, "ms"),
        "connector.create_ms" -> Metric(ms(Etl.isCreate) / writes, "ms"),
        "connector.load_ms" ->
          Metric(ms(p => !Etl.isStage(p) && !Etl.isCreate(p)) / writes, "ms"))
    }.getOrElse(Map.empty)
    phases ++ Map(
      "connector.read_ms" -> Metric(rec.spanMeanMs("connector.read_ms"), "ms"),
      "connector.staged_bytes_per_row" -> Metric(staged.toDouble / rowsStaged, "bytes/row"),
      "connector.table_files" -> Metric(tables.map(Recorder.dataFiles).sum.toDouble, "count"))
  }
}
