package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.{Engine, Q}
import graft.util.Pin

/** Scale utilities for the 100 TB operating point: skew-salted joins and
  * bucketed co-located joins. Correctness-neutral plan rewrites — the
  * specs assert both result-equivalence with the naive plan and the
  * intended physical shape.
  */
object Scale {

  /** Salted equi-join for skewed keys. The big side gets a random salt in
    * [0, salt); the small side is exploded `salt`-fold so every
    * (key, salt) bucket finds its partner. Breaks a hot key across `salt`
    * reducers at the cost of replicating the small side — the classic
    * remedy when AQE's skew-join split isn't available (e.g. the skew is
    * in a hash aggregate's input, or pre-3.0 clusters).
    *
    * AQE note: `spark.sql.adaptive.skewJoin` already splits skewed SMJ
    * partitions at runtime; use explicit salting when the join is
    * broadcast-ineligible AND a single key exceeds one executor's memory.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salt: Int = 16, joinType: String = "inner"): DataFrame = {
    // Replicating the small side is only sound when its unmatched rows
    // can't surface: a right/full outer join would emit every unmatched
    // small row `salt` times.
    require(Set("inner", "left", "left_outer", "left_semi", "left_anti")
      .contains(joinType),
      s"saltedJoin supports inner/left/left_semi/left_anti, not $joinType")
    val saltedBig = big.withColumn("__salt",
      (rand(seed = 42) * salt).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** Hive-style partitioned layout (≙ Redshift sortkey zone maps at the
    * directory level, SURVEY §1/§4): filters on the partition column prune
    * whole directories before any IO — at 100 TB, date-partitioned facts
    * turn time-range queries into scans of only the touched days.
    */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)

  /** Write both sides bucketed+sorted on the join key so subsequent joins
    * are Exchange-free (co-located, the Spark analog of matching Redshift
    * distkeys — `core.py:205-207`). Buckets ≙ fixed hash partitioning
    * persisted in the table layout; at 100 TB this turns every fact-fact
    * join on the key into a zip of pre-sorted buckets.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int = 8): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(s"$wh/$table")
    graft.util.Fs.deleteRecursively(loc.getPath)
    // Round-15 optimization (guide §6 small files; the CLAUDE.md
    // partitionBy sliver-file finding applied to buckets): without a
    // preceding repartition on the bucket key, EVERY scan task writes its
    // own file per bucket it sees — task-count × buckets sliver files,
    // each sorted separately. repartition(buckets, key) is the same
    // murmur3-pmod placement bucketBy computes, so each write task holds
    // exactly one bucket: one file per bucket, one sort per file, and the
    // downstream bucketed scan opens `buckets` files instead of the
    // sliver set. Data written is identical (placement only).
    df.repartition(buckets, col(key))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .option("path", loc.getAbsolutePath)
      .saveAsTable(table)
  }

  /** 32-bit Morton (Z-order) interleave of two 16-bit dimensions, emitted
    * as a SQL expression string — ONE term-list generator serves both the
    * Spark plan (`shiftright` spelling) and the DuckDB oracle (`>>`
    * spelling), so the curve definition cannot drift between engines.
    * Pure integer arithmetic: bit k of x lands at position 2k, bit k of y
    * at 2k+1, each extracted with shift+mask and placed with a
    * power-of-two multiply (no float anywhere).
    */
  private def mortonTerms(x: String, y: String,
      shr: (String, Int) => String): String =
    (0 until 16).map { k =>
      s"(${shr(x, k)} & 1) * ${1L << (2 * k)} + (${shr(y, k)} & 1) * ${1L << (2 * k + 1)}"
    }.mkString(" + ")

  def mortonSpark(x: String, y: String): String =
    mortonTerms(x, y, (c, k) => s"shiftright($c, $k)")

  def mortonDuck(x: String, y: String): String =
    mortonTerms(x, y, (c, k) => s"($c >> $k)")

  /** Z-ORDER layout (the multi-dim generalization of sortkey zone maps —
    * what Delta/Iceberg `OPTIMIZE ZORDER BY` does): range-partition +
    * sort on the Morton code of the clustering dims, so every output
    * file's min/max footer stats are tight in BOTH dimensions at once and
    * a predicate on EITHER dim prunes most files. A single-column sort
    * clusters only its leading dim; at 100 TB the interleaved curve is
    * what keeps `WHERE custkey = ?` AND `WHERE orderdate = ?` queries
    * both sub-linear on the same copy of the data.
    */
  def writeZOrdered(df: DataFrame, path: String, zCol: Column,
      parts: Int = 8): Unit =
    df.repartitionByRange(parts, zCol).sortWithinPartitions(zCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Distributed prefix-min over a global order WITHOUT a single-partition
    * window (the two-pass parallel-scan pattern): range-partition the
    * (UNIQUE-key, value) pairs descending by key, take the
    * within-partition running min, collect only the P per-partition
    * minima to the driver (bounded by the partition COUNT like
    * bloomPrefilter's bitset — never by data size), and combine each
    * row's within-partition prefix with the prefix-min of all
    * higher-key partitions. Emits `min_above` = min of `v` over rows
    * with STRICTLY greater `k` (null when none). Key uniqueness is
    * REQUIRED (pre-aggregate first — every caller here feeds a
    * groupBy(k) output) so a range boundary can never split a key group
    * and the lag-row is always a strictly-greater key.
    * The oracle-side twin of this primitive is the
    * plain `min(...) OVER (ORDER BY k DESC ROWS UNBOUNDED PRECEDING TO
    * 1 PRECEDING)` window this plan refuses to run globally.
    */
  def minAboveStrict(pairs: DataFrame, k: String, v: String,
      parts: Int = 32): DataFrame = Pin.scope { p =>
    val sorted = pairs.select(col(k), col(v))
      .repartitionByRange(parts, col(k).desc)
      .sortWithinPartitions(col(k).desc)
      .withColumn("__pid", spark_partition_id())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col(k).desc)
    val withinPlan = sorted
      .withColumn("__cum", min(col(v)).over(
        w.rowsBetween(Long.MinValue, 0)))
      .withColumn("__above_in_part", lag(col("__cum"), 1).over(w))
    // Materialize ONCE and re-root both consumers on the persisted RDD
    // (the Components loop discipline): the per-partition-minima collect
    // below and the caller's eventual execution of the returned join are
    // SEPARATE queries, and each would otherwise re-run
    // repartitionByRange with freshly sampled boundaries — a boundary
    // that shifts by one key between the two executions pairs pids with
    // the WRONG prefix map (observed: one spurious skyline survivor at
    // sf0.01, nonreproducible run to run). The persisted blocks pin one
    // partitioning for both; they are handed out with the caller's plan
    // (the CC-labels policy).
    val pinned = p.rows(withinPlan)
    val within = pinned.on(pairs.sparkSession)
    // P rows to the driver — partition-count-bounded, like Spark's own
    // range-boundary sampling
    val partMins = within.groupBy(col("__pid"))
      .agg(min(col(v)).as("__pmin"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val prefix = partMins.scanLeft((Int.MinValue, Long.MaxValue)) {
      case ((_, acc), (pid, m)) => (pid, math.min(acc, m))
    }
    val prefixOfEarlier = partMins.map(_._1).zip(
      prefix.map(_._2).dropRight(1)).toMap // pid -> min over pids < pid
    val spark = pairs.sparkSession
    import scala.jdk.CollectionConverters._
    val pm = spark.createDataFrame(
      prefixOfEarlier.toSeq.map { case (pid, m) =>
        org.apache.spark.sql.Row(pid, if (m == Long.MaxValue) null else Long.box(m))
      }.asJava,
      new org.apache.spark.sql.types.StructType()
        .add("__pid", IntegerType, nullable = false)
        .add("__prefmin", LongType, nullable = true))
    p.handOut(pinned)
    within.join(broadcast(pm), Seq("__pid"), "left")
      .withColumn("min_above", least(col("__above_in_part"), col("__prefmin")))
      .select(col(k), col(v), col("min_above"))
  }

  /** Banded band-join: `|leftDate - rightDate| <= band` as an EQUI-join.
    * Each row maps to a `width`-day bucket of the epoch-day line; with
    * `band <= width` a row's ±band window overlaps at most two buckets,
    * so one side expands to its (≤ 2) covered buckets, the bucket ids
    * equi-join, and the exact predicate filters the candidates. This is
    * how a big×big temporal join avoids BroadcastNestedLoopJoin: shuffle
    * partitioned by bucket (≈ time-locality, which parquet date sorting
    * preserves), candidate count bounded by rows-per-bucket, never |L|×|R|.
    */
  def bandedDateBand(left: DataFrame, leftDate: Column,
      right: DataFrame, rightDate: Column, band: Int, width: Int = 7)
      : DataFrame = {
    // strictly less: at band == width a ±band window already spans 3
    // buckets (ld=width: lo=0, hi=2), breaking the ≤2-probe-rows bound
    // this plan's cost model is built on
    require(band < width,
      s"band $band not below bucket width $width: a window would span >2 buckets")
    val epoch = lit("1970-01-01").cast("date")
    // right rows carry one bucket; left rows probe their (1-2) covered
    // buckets — floor((d-band)/width) and floor((d+band)/width)
    val ld = datediff(leftDate.cast("date"), epoch).cast(LongType)
    val lo = floor((ld - band).cast("double") / width).cast(LongType)
    val hi = floor((ld + band).cast("double") / width).cast(LongType)
    val lExp = left.withColumn("__bucket", explode(sequence(lo, hi)))
    val rExp = right.withColumn("__bucket",
      floor(datediff(rightDate.cast("date"), epoch).cast(LongType)
        .cast("double") / width).cast(LongType))
    lExp.join(rExp, Seq("__bucket"))
      .filter(abs(datediff(leftDate.cast("date"), rightDate.cast("date"))) <= band)
      .drop("__bucket")
  }

  /** Two-level stratified quota sampling — the heavy-stratum form of
    * q_sample_strat's single-level rank. A stratum with billions of rows
    * makes `row_number over (partition by stratum)` a single-reducer
    * sort; instead, rank within (stratum, hash-prefix) SUB-strata first
    * (16 sub-strata from the first hex nibble — each reducer sorts
    * ~1/16th) and keep `quota` per sub-stratum, then merge-rank the
    * ≤ 16×quota survivors per stratum. Lossless: a row in the stratum's
    * global top-`quota` (by the same md5 order) is necessarily in its
    * sub-stratum's top-`quota`, so level 1 never drops a final survivor
    * — ScaleSpec pins exact output equality with the single-level rank.
    */
  def stratifiedQuotaTwoLevel(df: DataFrame, stratumCol: String,
      idCol: String, quota: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = df
      .withColumn("__h", md5(col(idCol).cast("string").cast("binary")))
      .withColumn("__p", substring(col("__h"), 1, 1))
    sub
      .withColumn("__rk1", row_number().over(
        Window.partitionBy(col(stratumCol), col("__p"))
          .orderBy(col("__h"), col(idCol))))
      .filter(col("__rk1") <= quota)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(stratumCol))
          .orderBy(col("__h"), col(idCol))).cast(LongType))
      .filter(col("rk") <= quota)
      .drop("__h", "__p", "__rk1")
  }

  /** Small-file compaction — the hygiene pass every long-running ingest
    * needs: streaming/append jobs leave thousands of KB-sized files whose
    * per-file open/footer cost dominates scans. Rewrite to `targetFiles`
    * hash partitions, with `maxRecordsPerFile` as the upper bound so one
    * output partition can still split (repartition bounds the file COUNT
    * from below, maxRecordsPerFile bounds file SIZE from above). At
    * 100 TB this runs per table-partition (date), not whole-table, so
    * each compaction job is bounded; the rewrite is one round-robin
    * shuffle with no skew sensitivity.
    */
  def compact(df: DataFrame, path: String, targetFiles: Int,
      maxRecordsPerFile: Long = 0L): Unit =
    df.repartition(targetFiles)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Bloom-filter prefilter for a semi join — sideways information
    * passing: hash the (selective) build side's keys into an `mBits`-wide
    * bloom bitset stored as ≤ mBits/64 (widx, word) rows, broadcast it,
    * and keep only probe rows whose `nHashes` positions are all set. No
    * shuffle touches the probe until after the reduction; false positives
    * only cost effectiveness (the exact join decides membership), false
    * negatives are impossible — every build key sets exactly the bits the
    * probe checks. This is the explicit form of Spark's runtime row-level
    * filtering, usable when the optimizer can't inject one (e.g. across a
    * non-join boundary or a hand-built pipeline).
    */
  def bloomPrefilter(probe: DataFrame, probeKey: String,
      build: DataFrame, buildKey: String,
      mBits: Int = 1 << 16, nHashes: Int = 3): DataFrame = {
    require(mBits % 64 == 0 && mBits > 0, s"mBits must be a positive multiple of 64: $mBits")
    // the bitset is collected to the driver and broadcast as a literal —
    // cap it at 2^27 bits (16 MB of longs, ~93M build keys at 1% fp with
    // nHashes=3) so a caller-chosen mBits can never allocate gigabytes
    // driver-side; beyond that, use Spark's own runtime bloom filters or
    // shard the build side
    require(mBits <= (1 << 27),
      s"mBits must be <= 2^27 (16 MB driver bitset): $mBits")
    // xxhash64 hashes the TYPED bytes: INT 7 and BIGINT 7 are join-equal
    // but hash-distinct, which would turn "no false negatives" into
    // silent row loss. Demand identical key types instead of guessing a
    // common cast.
    require(probe.schema(probeKey).dataType == build.schema(buildKey).dataType,
      s"bloom keys must have identical types: ${probe.schema(probeKey).dataType}" +
        s" vs ${build.schema(buildKey).dataType}")
    val m = lit(mBits.toLong)
    def positions(key: Column): Seq[Column] =
      (0 until nHashes).map(i => pmod(xxhash64(key, lit(i)), m))
    // ONE distributed aggregation builds the bitset (≤ mBits/64 longs ≈
    // 8 KB at the default), then it rides into the probe as an array
    // literal — the same driver-side collect Spark's own runtime bloom
    // filters (and our IVF centroid table) do for bounded aggregates.
    // The probe side is then a single narrow filter: no joins, no temp
    // columns, and the build side is scanned exactly once.
    val words = new Array[Long](mBits / 64)
    build.select(explode(array(positions(col(buildKey)): _*)).as("pos"))
      .select((col("pos") / 64).cast(LongType).as("widx"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("bit"))
      .groupBy(col("widx")).agg(expr("bit_or(bit)").as("word"))
      .collect().foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    val wordsLit = typedLit(words)
    val checks = positions(col(probeKey)).map { p =>
      element_at(wordsLit, (p / 64).cast(IntegerType) + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L),
          (p % 64).cast(IntegerType))) =!= 0
    }
    probe.filter(checks.reduce(_ && _))
  }

  /** [[bloomPrefilter]] followed by the exact left-semi join: identical
    * result to `probe SEMI JOIN build`, with the shuffle fed only the
    * bloom survivors.
    */
  def bloomSemiJoin(probe: DataFrame, probeKey: String,
      build: DataFrame, buildKey: String,
      mBits: Int = 1 << 16, nHashes: Int = 3): DataFrame = {
    val pre = bloomPrefilter(probe, probeKey, build, buildKey, mBits, nHashes)
    // bind the left side explicitly: an unresolved col(probeKey) is
    // ambiguous whenever both sides share the key name
    pre.join(build, pre(probeKey) === build(buildKey), "left_semi")
  }

  /** Distributed global row_number — the scale-safe form of the
    * single-partition window Spark plans for `row_number() OVER (ORDER BY
    * …)` with no PARTITION BY (every row through ONE reducer; the classic
    * 100 TB cliff, and the one shape WindowExec itself warns about).
    *
    * Two-phase instead: range-repartition + sort within partitions on the
    * caller's total order, then `zipWithIndex` (one lightweight count job
    * for per-partition offsets, Spark's standard global-index primitive).
    * Ranks are independent of the sampled range boundaries because
    * partitions are range-ordered and internally sorted — the
    * concatenation IS the total order. `order` must be total (include a
    * unique tiebreak) or ranks within ties are partition-placement-
    * dependent; ScaleSpec pins equality with the window form and the
    * absence of any SinglePartition exchange.
    */
  def rankGlobal(df: DataFrame, order: Column*): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    val schema = sorted.schema.add("rank", LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Distributed global lead(1) over UNIQUE long keys — the successor
    * primitive behind gap/neighbor scans, WITHOUT the single-partition
    * `lead() OVER (ORDER BY k)` window AND without rankGlobal's
    * zipWithIndex + adjacent-rank equi-join (round 16, VERDICT-r15 #4:
    * the rank join re-shuffled both sides on rank just to pair
    * neighbors that range partitioning already co-located). Range
    * partitioning makes every key in partition p smaller than every key
    * in partition p+1, so a row's successor is its within-partition
    * lead — except each partition's LAST row, whose successor is the
    * head (min key) of the next non-empty partition: P heads collect to
    * the driver (partition-count-bounded, the minAboveStrict rule) and
    * stitch the boundaries back as a broadcast. Key uniqueness is
    * REQUIRED (distinct/pre-aggregate first) so the order is total and
    * a range boundary can never split a key group — the same contract
    * as minAboveStrict, with the same single-materialization persist:
    * the heads collect and the caller's eventual execution must see ONE
    * sampled partitioning. Emits the input columns plus `nxt` (null for
    * the global maximum).
    */
  def leadGlobal(df: DataFrame, k: String, parts: Int = 32): DataFrame =
      Pin.scope { p =>
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(parts, col(k))
      .sortWithinPartitions(col(k))
      .withColumn("__pid", spark_partition_id())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col(k))
    val withinPlan = sorted.withColumn("__lead", lead(col(k), 1).over(w))
    val pinned = p.rows(withinPlan)
    val within = pinned.on(spark)
    val heads = within.groupBy(col("__pid")).agg(min(col(k)).as("__h"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    // pid -> head of the NEXT non-empty partition (range order = pid order)
    val nextHead = heads.zip(heads.drop(1))
      .map { case ((pid, _), (_, h2)) => (pid, h2) }
    import scala.jdk.CollectionConverters._
    val nh = spark.createDataFrame(
      nextHead.toSeq.map { case (pid, h) =>
        org.apache.spark.sql.Row(pid, Long.box(h))
      }.asJava,
      new org.apache.spark.sql.types.StructType()
        .add("__pid", IntegerType, nullable = false)
        .add("__nxthead", LongType, nullable = true))
    p.handOut(pinned)
    within.join(broadcast(nh), Seq("__pid"), "left")
      .withColumn("nxt", coalesce(col("__lead"), col("__nxthead")))
      .drop("__pid", "__lead", "__nxthead")
  }

  val queries: Map[String, Q] = Map(

    // Join-size estimation via count-min inner product (round 7
    // continuation) — the sideways-planning primitive: before shuffling
    // two 100 TB fact tables, estimate |L ⋈ R| from two ~KB sketches
    // (Σ_b cntL(r,b)·cntR(r,b), minimized over depth rows — an upper
    // bound on Σ_k cntL(k)·cntR(k), tight when collisions are rare).
    // Unlike q_heavy_hitters' engine-local builtin sketch, the hashes
    // here are md5-derived, so BOTH engines compute the bit-identical
    // sketch and the estimate itself is hash-gated, not just bounded.
    // Scale shape: per-key count aggs (map-side combined) collapse each
    // side to its key spectrum; the sketches are depth×256 rows; the
    // exact check joins the two key-count tables (key-cardinality, the
    // thing the sketch avoids at planning time — here it IS the gate).
    "q_join_size_est" -> Q {
      // first 8 hex chars of md5(seed:key) as a bigint in [0, 16^8)
      def oHash8(seed: String, k: String): String =
        (0 until 8).map { i =>
          val mult = math.pow(16, 7 - i).toLong
          s"(instr('0123456789abcdef', substr(md5($seed || ':' || $k), ${i + 1}, 1)) - 1) * $mult"
        }.mkString("(", " + ", ")")
      val h = oHash8("cast(g.r as varchar)", "cast(k as varchar)")
      s"""WITH l AS (SELECT l_orderkey AS k FROM lineitem
         |           WHERE l_shipdate >= timestamp '1997-01-01 00:00:00'),
         |r AS (SELECT o_orderkey AS k FROM orders
         |      WHERE o_orderpriority = '1-URGENT'),
         |lc AS (SELECT k, cast(count(*) as bigint) AS c FROM l GROUP BY k),
         |rc AS (SELECT k, cast(count(*) as bigint) AS c FROM r GROUP BY k),
         |-- width derives from the key cardinality (the embedPlanesFor
         |-- rule: no fixed sketch size to outgrow), so the collision term
         |-- n_l*n_r/w stays ~n_l*n_r/keys as the corpus scales
         |ks AS (SELECT greatest(256, (SELECT count(*) FROM lc),
         |                       (SELECT count(*) FROM rc)) AS w),
         |-- products/sums lift to HUGEINT (≙ Spark decimal(38)) BEFORE
         |-- summing: at 100 TB per-key/bucket count products overflow
         |-- bigint (the q_rarity_score lift discipline)
         |ex AS (SELECT cast(coalesce(sum(cast(lc.c as hugeint) * rc.c), 0) as bigint) AS exact_size
         |       FROM lc JOIN rc USING (k)),
         |ls AS (SELECT g.r, $h % (SELECT w FROM ks) AS b,
         |         cast(sum(c) as bigint) AS c
         |       FROM lc CROSS JOIN (SELECT unnest(range(0, 3)) AS r) g
         |       GROUP BY 1, 2),
         |rs AS (SELECT g.r, $h % (SELECT w FROM ks) AS b,
         |         cast(sum(c) as bigint) AS c
         |       FROM rc CROSS JOIN (SELECT unnest(range(0, 3)) AS r) g
         |       GROUP BY 1, 2),
         |ip AS (SELECT ls.r, sum(cast(ls.c as hugeint) * rs.c) AS est
         |       FROM ls JOIN rs ON ls.r = rs.r AND ls.b = rs.b GROUP BY ls.r)
         |SELECT (SELECT cast(count(*) as bigint) FROM l) AS n_l,
         |  (SELECT cast(count(*) as bigint) FROM r) AS n_r,
         |  (SELECT cast(w as bigint) FROM ks) AS w,
         |  ex.exact_size,
         |  (SELECT cast(coalesce(min(est), 0) as bigint) FROM ip) AS est_size,
         |  (SELECT cast((cast((SELECT count(*) FROM l) as hugeint)
         |                * (SELECT count(*) FROM r)) // w
         |          as bigint) FROM ks) AS err_bound
         |FROM ex ORDER BY n_l""".stripMargin
    } { (s, dir) =>
      def hash8(seed: Column, k: Column): Column =
        conv(substring(md5(concat(seed.cast("string"), lit(":"),
          k.cast("string")).cast("binary")), 1, 8), 16, 10).cast(LongType)
      def keyCounts(df: DataFrame, key: String): DataFrame =
        df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
      val lc = keyCounts(Engine.table(s, dir, "lineitem")
        .filter(expr("l_shipdate >= timestamp '1997-01-01 00:00:00'")), "l_orderkey")
      val rc = keyCounts(Engine.table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT"), "o_orderkey")
      val wDf = lc.agg(count(lit(1)).as("nk1"))
        .crossJoin(broadcast(rc.agg(count(lit(1)).as("nk2"))))
        .select(greatest(lit(256L), col("nk1"), col("nk2")).as("w"))
      // fused CmsHashes codegen expression: one pass emits all depth
      // hash values per key (bit-identical to the hash8 chain — the
      // exploded concat+md5+hex+conv form is retained above as the
      // oracle-mirror documentation and pinned equal in FunctionsSpec)
      def sketch(kc: DataFrame): DataFrame =
        kc.select(posexplode(graft.functions.TextExpressions
            .cmsHashes(col("k"), 3)).as(Seq("r", "h")), col("c"))
          .crossJoin(broadcast(wDf))
          .select(col("r").cast(LongType).as("r"),
            col("h") % col("w") as "b", col("c"))
          .groupBy(col("r"), col("b")).agg(sum(col("c")).as("c"))
      // decimal(38) lift before the sums (≙ the oracle's HUGEINT): at
      // 100 TB per-key/bucket count products overflow bigint
      val prod = col("c").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("c2")
      val exact = lc.join(rc.withColumnRenamed("c", "c2"), "k")
        .agg(coalesce(sum(prod), lit(0L)).cast(LongType).as("exact_size"))
      val ip = sketch(lc)
        .join(sketch(rc).withColumnRenamed("c", "c2"), Seq("r", "b"))
        .groupBy(col("r")).agg(sum(prod).as("est"))
        .agg(coalesce(min(col("est")), lit(0L)).cast(LongType).as("est_size"))
      val nl = lc.agg(sum(col("c")).as("n_l"))
      val nr = rc.agg(sum(col("c")).as("n_r"))
      nl.crossJoin(broadcast(nr))
        .crossJoin(broadcast(wDf))
        .crossJoin(broadcast(exact))
        .crossJoin(broadcast(ip))
        .select(col("n_l"), col("n_r"), col("w"), col("exact_size"),
          col("est_size"),
          expr("cast((cast(n_l as decimal(38,0)) * n_r) div w as bigint)")
            .as("err_bound"))
        .orderBy(col("n_l"))
    },

    // Distributed global ranking (round 7): rank every document by size
    // with a unique tiebreak — the primitive behind pack/shard/topk-cut
    // steps. The oracle states it as the single-partition window;
    // the graded plan is rankGlobal's range-partition + zipWithIndex,
    // which never funnels the corpus through one reducer.
    "q_rank_global" -> Q(
      """SELECT doc_id, n_chars,
        |  cast(row_number() OVER (ORDER BY n_chars DESC, doc_id) as bigint)
        |    AS rank
        |FROM documents ORDER BY rank""".stripMargin) { (s, dir) =>
      rankGlobal(
        Engine.table(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        col("n_chars").desc, col("doc_id"))
        .orderBy(col("rank"))
    },

    // Size-balanced shard assignment (round 7): round-robin the
    // size-DESC global rank across 16 output shards (longest-processing-
    // time-style: each shard receives one doc per 16-rank stripe, so
    // per-shard totals stay within one max-document of each other — the
    // balance a training-data writer needs so no output file stalls the
    // epoch). Emits per-shard counts + exact char totals; balance spread
    // is pinned in ScaleSpec, exact totals are pinned here by the oracle.
    "q_shard_balance" -> Q(
      """WITH r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents)
        |SELECT cast((rank - 1) % 16 as bigint) AS shard_id,
        |  cast(count(*) as bigint) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS sum_chars
        |FROM r GROUP BY 1 ORDER BY shard_id""".stripMargin) { (s, dir) =>
      rankGlobal(
        Engine.table(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        col("n_chars").desc, col("doc_id"))
        .withColumn("shard_id", (col("rank") - 1) % 16)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("shard_id"))
    },

    // Bloom-prefiltered semi join: lineitems of high-value orders. The
    // bloom stage is correctness-neutral (exact semi join follows), so
    // the oracle is the plain EXISTS — hash-identical by construction;
    // ScaleSpec pins the reduction and the no-false-negative contract.
    "q_join_bloom" -> Q(
      """SELECT l_returnflag, count(*) AS n,
        |  cast(sum(cast(round(l_quantity, 0) as bigint)) as bigint) AS sum_qty
        |FROM lineitem WHERE EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_orderkey = l_orderkey AND o_totalprice > 400000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val sel = Engine.table(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"))
      bloomSemiJoin(Engine.table(s, dir, "lineitem"), "l_orderkey",
          sel, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity"), 0).cast(LongType)).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // Compaction round-trip: lineitem scattered into many small files,
    // compacted to 4 bounded-size files, read back and aggregated — the
    // oracle (parquet source of truth) proves losslessness; ScaleSpec
    // separately pins the file-count/size contract.
    "q_compact" -> Q(
      """SELECT l_returnflag, count(*) AS n,
        |  cast(sum(cast(round(l_quantity, 0) as bigint)) as bigint) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val path = "/tmp/graft_stage/compact"
      compact(Engine.table(s, dir, "lineitem"), path, targetFiles = 4)
      s.read.parquet(path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity"), 0).cast(LongType)).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },

    // Big×big temporal band join (orders to lineitems shipped within ±3
    // days). The graded plan applies BOTH band-join levers: (1) partial
    // aggregation pushed below the join — the per-order result depends
    // only on o_orderdate, so lineitems first collapse to per-DAY
    // (count, qty) rows (corpus-linear, map-side combined; days ≪ rows),
    // and (2) the band predicate runs as a lossless bucket equi-join
    // ([[bandedDateBand]], band <= width ⇒ ≤ 2 probe buckets/row). The
    // join then moves |orders| × ≤2 probe rows against a day-count table
    // instead of |orders| × |lineitem| candidate pairs — at sf0.1 that is
    // ~100k joined rows versus the ~25M the direct banded pair join
    // produced (measured 6.2 s → the pushed-down form; the generic
    // pair-level band join remains bandedDateBand, spec'd in ScaleSpec).
    // The oracle states the same ±3-day semantics as a per-day rollup
    // probed at the 7 explicit day offsets — an EQUI-join DuckDB hash-
    // plans (the raw `abs(datediff) <= 3` theta form was a nested loop
    // that ran past 900 s at the 30× replica's 18M lineitems; the
    // rewrite is semantics-identical: ship_day ∈ [d-3, d+3] ⇔ one of the
    // 7 probe days matches, and the inner join drops no-neighbor orders
    // in both forms).
    "q_join_range" -> Q(
      """WITH po AS (SELECT o_orderkey, cast(o_orderdate as date) AS od
        |            FROM orders WHERE o_totalprice > 450000.0),
        |pd AS MATERIALIZED (
        |  SELECT cast(l_shipdate as date) AS ship_day,
        |    cast(count(*) as bigint) AS n_day,
        |    cast(sum(cast(round(l_quantity, 0) as bigint)) as bigint) AS qty_day
        |  FROM lineitem GROUP BY 1),
        |probe AS (SELECT o_orderkey, od + to_days(cast(g.d as int)) AS day
        |          FROM po CROSS JOIN (SELECT unnest(range(-3, 4)) AS d) g)
        |SELECT o_orderkey, cast(sum(n_day) as bigint) AS n_nearby,
        |  cast(sum(qty_day) as bigint) AS sum_qty
        |FROM probe JOIN pd ON pd.ship_day = probe.day
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val orders = Engine.table(s, dir, "orders")
        .filter(col("o_totalprice") > 450000.0)
      val perDay = Engine.table(s, dir, "lineitem")
        .groupBy(col("l_shipdate").cast("date").as("ship_day"))
        .agg(count(lit(1)).as("n_day"),
          sum(round(col("l_quantity"), 0).cast(LongType)).as("qty_day"))
      bandedDateBand(orders, col("o_orderdate"),
          perDay, col("ship_day"), band = 3)
        .groupBy(col("o_orderkey"))
        .agg(sum(col("n_day")).as("n_nearby"),
          sum(col("qty_day")).as("sum_qty"))
        .orderBy(col("o_orderkey"))
    },

    // Skew-salted aggregate join, oracle-gated: the salted plan must be
    // result-identical to the plain join (salt only routes rows across
    // reducers; ScaleSpec separately proves the skew-stress win). The
    // supplier side is exploded 16-fold and joined on (key, salt) — the
    // remedy when a hot key exceeds one executor and the small side is
    // too big to broadcast outright.
    "q_join_skew" -> Q(
      """SELECT s_nationkey, count(*) AS n,
        |  cast(sum(cast(round(l_quantity, 0) as bigint)) as bigint) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, dir) =>
      val li = Engine.table(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_quantity"))
      val supp = Engine.table(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      saltedJoin(li, supp, "l_suppkey", salt = 16)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity"), 0).cast(LongType)).as("sum_qty"))
        .orderBy(col("s_nationkey"))
    },

    // Gaps-in-sequence detection (data-quality audit: which orderkeys
    // are referenced by no lineitem). The oracle states the textbook
    // single-partition lead() window; the graded plan finds each id's
    // successor DISTRIBUTED — rankGlobal (range partition +
    // zipWithIndex, never one reducer) then an adjacent-rank equi-join,
    // so neighbor pairing is a plain hash shuffle on rank that survives
    // any id count. A gap is a successor more than 1 away.
    "q_id_gaps" -> Q(
      """WITH ids AS (SELECT DISTINCT l_orderkey AS id FROM lineitem),
        |x AS (SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM ids)
        |SELECT id + 1 AS gap_start, nxt - 1 AS gap_end,
        |  nxt - id - 1 AS n_missing
        |FROM x WHERE nxt - id > 1 ORDER BY gap_start""".stripMargin) { (s, dir) =>
      // Round 16 (VERDICT-r15 #4): leadGlobal replaces rankGlobal +
      // adjacent-rank equi-join — the join re-shuffled both sides on
      // rank to pair neighbors that range partitioning already
      // co-located; successor stitching is now a within-partition lead
      // + a P-row broadcast of partition heads. Same rows (the global
      // maximum has null nxt and is filtered on both paths).
      val ids = Engine.table(s, dir, "lineitem")
        .select(col("l_orderkey").as("id")).distinct()
      leadGlobal(ids, "id")
        .filter(col("nxt") - col("id") > 1L)
        .select((col("id") + 1L).as("gap_start"),
          (col("nxt") - 1L).as("gap_end"),
          (col("nxt") - col("id") - 1L).as("n_missing"))
        .orderBy(col("gap_start"))
    },

    // Z-order clustering audit (round 7): min-max-normalize both dims to
    // a common 16-bit grid (what Delta/Iceberg OPTIMIZE ZORDER does with
    // per-column range ids — raw values of unequal bit width would let
    // the wider dim dominate the curve and degenerate it to a single-dim
    // sort), Morton-interleave, and report each curve bucket's row count
    // + per-dim min/max — the zone-map tightness a Z-ordered layout
    // gives every file. Both engines compute the same 32-bit curve from
    // one shared term generator (mortonSpark/mortonDuck); the 1-row
    // min/max stats ride the legal crossJoin(broadcast(tiny)) shape.
    // writeZOrdered is the layout writer the audit models, spec'd for
    // actual per-file span reduction in BOTH dims in ScaleSpec.
    "q_zorder" -> Q(
      s"""WITH base AS (SELECT o_custkey,
         |  datediff('day', DATE '1970-01-01', cast(o_orderdate as date)) AS eday
         |  FROM orders),
         |b AS (SELECT min(o_custkey) AS ck_mn, max(o_custkey) AS ck_mx,
         |             min(eday) AS day_mn, max(eday) AS day_mx FROM base),
         |q AS (SELECT o_custkey, eday,
         |  ((o_custkey - ck_mn) * 65535) // greatest(ck_mx - ck_mn, 1) AS xq,
         |  ((eday - day_mn) * 65535) // greatest(day_mx - day_mn, 1) AS yq
         |  FROM base CROSS JOIN b),
         |z AS (SELECT o_custkey, eday, ${mortonDuck("xq", "yq")} AS z FROM q)
         |SELECT z // 16777216 AS zbucket, count(*) AS n,
         |  min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
         |  min(eday) AS day_min, max(eday) AS day_max
         |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin) { (s, dir) =>
      val base = Engine.table(s, dir, "orders")
        .select(col("o_custkey"),
          expr("datediff(cast(o_orderdate as date), to_date('1970-01-01'))")
            .cast(LongType).as("eday"))
      val b = base.agg(min(col("o_custkey")).as("ck_mn"),
        max(col("o_custkey")).as("ck_mx"),
        min(col("eday")).as("day_mn"), max(col("eday")).as("day_mx"))
      base.crossJoin(broadcast(b))
        .withColumn("xq",
          expr("((o_custkey - ck_mn) * 65535) div greatest(ck_mx - ck_mn, 1)"))
        .withColumn("yq",
          expr("((eday - day_mn) * 65535) div greatest(day_mx - day_mn, 1)"))
        .withColumn("z", expr(mortonSpark("xq", "yq")))
        .groupBy(expr("z div 16777216").as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_custkey")).as("ck_min"), max(col("o_custkey")).as("ck_max"),
          min(col("eday")).as("day_min"), max(col("eday")).as("day_max"))
        .orderBy(col("zbucket"))
    },

    // Co-located (bucketed) fact-fact join (round 7): both sides are
    // written bucketBy(8, key) + sortBy — the persisted analog of
    // matching Redshift distkeys (core.py:205-207's diststyle KEY) — so
    // the join AND the follow-on per-key aggregate plan with ZERO
    // Exchange (ScaleSpec pins the shuffle-free physical plan; this
    // gate pins the result). At 100 TB this is the difference between
    // re-shuffling the fact table on every join and reading pre-hashed
    // buckets.
    "q_join_bucketed" -> Q(
      """SELECT o.o_orderkey, count(*) AS n_lines,
        |  cast(sum(cast(round(l.l_quantity, 0) as bigint)) as bigint) AS sum_qty
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin) { (s, dir) =>
      val orders = Engine.table(s, dir, "orders").select(col("o_orderkey"))
      val li = Engine.table(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      writeBucketed(orders, "g_bkt_orders", "o_orderkey")
      writeBucketed(li, "g_bkt_lineitem", "o_orderkey")
      s.table("g_bkt_orders").join(s.table("g_bkt_lineitem"), "o_orderkey")
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_quantity"), 0).cast(LongType)).as("sum_qty"))
        .orderBy(col("o_orderkey"))
    },

    // 2-D skyline / Pareto frontier (round 7): orders not strictly
    // dominated on (maximize totalprice, minimize orderdate) — the
    // classic multi-criteria operator (Börzsönyi et al., ICDE'01,
    // "The Skyline Operator"). A row is dominated iff some order has
    // BOTH a strictly higher price and a strictly earlier day, so
    // membership reduces to one scalar per price level: min day among
    // strictly-higher prices. The oracle states that as the global
    // ORDER BY price DESC running-min window; the graded plan computes
    // the identical scalar with minAboveStrict — range-partitioned
    // two-pass prefix scan over the DISTINCT price levels, driver cost
    // bounded by the partition count — and never runs a
    // single-partition window at any data size. Prices in exact integer
    // cents; everything else integer days.
    "q_skyline" -> Q(
      """WITH r AS (SELECT o_orderkey,
        |    cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)
        |      AS price_cents,
        |    datediff('day', DATE '1970-01-01', cast(o_orderdate as date))
        |      AS day
        |  FROM orders),
        |ux AS (SELECT price_cents, min(day) AS gmin FROM r GROUP BY price_cents),
        |mda AS (SELECT price_cents,
        |    min(gmin) OVER (ORDER BY price_cents DESC
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS min_above
        |  FROM ux)
        |SELECT o_orderkey, price_cents, cast(day as bigint) AS day
        |FROM r JOIN mda USING (price_cents)
        |WHERE min_above IS NULL OR day <= min_above
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val r = Engine.table(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
            .cast(LongType).as("price_cents"),
          expr("datediff(cast(o_orderdate as date), to_date('1970-01-01'))")
            .cast(LongType).as("day"))
      val ux = r.groupBy(col("price_cents")).agg(min(col("day")).as("gmin"))
      val mda = minAboveStrict(ux, "price_cents", "gmin")
        .select(col("price_cents"), col("min_above"))
      r.join(mda, "price_cents")
        .filter(col("min_above").isNull || col("day") <= col("min_above"))
        .select(col("o_orderkey"), col("price_cents"), col("day"))
        .orderBy(col("o_orderkey"))
    },

    // Join-key skew audit (round 8 continuation): the one-pass profile
    // you price a join with BEFORE running it at 100 TB — key count,
    // multiplicity percentiles (ANSI disc), the hottest key's share in
    // ppm, and Σc² (the EXACT self-join/equi-join fan-out on this key) —
    // the decision input for q_join_skew's salting and AQE skew
    // thresholds, next to q_join_size_est's sketch ESTIMATE of the same
    // number. All exact integers; Σc² and the share are
    // decimal(38,0)/HUGEINT-lifted (c² sums pass 2^63 near 3e9-row hot
    // keys). Scale shape: one map-side-combinable key agg, then a
    // single-row rollup whose percentile buffers hold distinct
    // MULTIPLICITIES (domain-bounded), never keys or rows.
    "q_skew_audit" -> Q(
      """WITH kc AS MATERIALIZED (
        |  SELECT l_orderkey AS k, cast(count(*) as bigint) AS c
        |  FROM lineitem GROUP BY l_orderkey),
        |p AS (SELECT c, cume_dist() OVER (ORDER BY c) AS cd FROM kc)
        |SELECT cast((SELECT count(*) FROM kc) as bigint) AS n_keys,
        |  cast((SELECT sum(c) FROM kc) as bigint) AS n_rows,
        |  (SELECT min(CASE WHEN cd >= 0.5 THEN c END) FROM p) AS p50_mult,
        |  (SELECT min(CASE WHEN cd >= 0.99 THEN c END) FROM p) AS p99_mult,
        |  cast((SELECT max(c) FROM kc) as bigint) AS max_mult,
        |  cast((SELECT sum(cast(c as hugeint) * c) FROM kc) as bigint)
        |    AS self_join_rows,
        |  cast((SELECT (cast(1000000 as hugeint) * max(c)) // sum(c) FROM kc)
        |    as bigint) AS max_share_ppm
        |ORDER BY n_keys""".stripMargin) { (s, dir) =>
      Engine.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
        .createOrReplaceTempView("graft_skew_kc")
      s.sql(
        """SELECT count(*) AS n_keys, sum(c) AS n_rows,
          |  cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY c)
          |       as bigint) AS p50_mult,
          |  cast(percentile_disc(0.99) WITHIN GROUP (ORDER BY c)
          |       as bigint) AS p99_mult,
          |  max(c) AS max_mult,
          |  cast(sum(cast(c as decimal(38,0)) * c) as bigint)
          |    AS self_join_rows,
          |  cast((cast(1000000 as decimal(38,0)) * max(c)) div sum(c)
          |    as bigint) AS max_share_ppm
          |FROM graft_skew_kc ORDER BY n_keys""".stripMargin)
    },

    // Bitmap-index COUNT DISTINCT (round 9): the classic OLAP exact
    // distinct for dense integer keys — pack each 32-key block of the
    // user-id domain into one bigint word (bit = membership), bit_or
    // the words per (group, word), popcount-sum the result. Both the
    // bitmap path and the naive count(distinct) are emitted so the
    // result is self-documenting; the gate hashes their (always-equal)
    // values. Why it matters at 100 TB: bit_or is map-side combinable
    // and the shuffled state is (groups × domain/32) WORDS — for a
    // 1e9-user domain that is ~31M longs per group versus shuffling
    // every distinct (group, user) pair for count(distinct); the same
    // packing underlies roaring-bitmap engines. 32-bit blocks (not 64)
    // keep `1 << bit` clear of the sign bit on both engines.
    "q_bitmap_distinct" -> Q(
      """WITH b AS (
        |  SELECT event_type, user_id // 32 AS word,
        |    bit_or(cast(1 as bigint) << (user_id % 32)) AS bm
        |  FROM events GROUP BY 1, 2),
        |bc AS (SELECT event_type,
        |         cast(count(*) as bigint) AS n_words,
        |         cast(sum(bit_count(bm)) as bigint) AS n_users_bitmap
        |       FROM b GROUP BY event_type),
        |ex AS (SELECT event_type,
        |         cast(count(DISTINCT user_id) as bigint) AS n_users_exact
        |       FROM events GROUP BY event_type)
        |SELECT event_type, n_words, n_users_bitmap, n_users_exact
        |FROM bc JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Engine.table(s, dir, "events")
      val bm = ev
        .select(col("event_type"), expr("user_id div 32").as("word"),
          expr("shiftleft(1L, int(user_id % 32))").as("m"))
        .groupBy(col("event_type"), col("word"))
        .agg(bit_or(col("m")).as("bm"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_words"),
          sum(bit_count(col("bm")).cast(LongType)).as("n_users_bitmap"))
      val ex = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users_exact"))
      bm.join(ex, "event_type")
        .select(col("event_type"), col("n_words"), col("n_users_bitmap"),
          col("n_users_exact"))
        .orderBy(col("event_type"))
    }
  )
}
