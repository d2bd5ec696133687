package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, Q}

/** Distribution / hypothesis-test statistics over the event log — the
  * "is this metric shift real?" family a warehouse analyst runs through
  * the reference's SQL passthrough (`/root/reference/pandas_redshift/
  * core.py:84`; `EXT` in SURVEY §2). Every statistic here is emitted in
  * integer-exact form (counts, floor-ppm, ×2-scaled ranks) so the DuckDB
  * oracle gate is hash-hard — no engine ever rounds a float.
  *
  * Scale shapes: every operator aggregates the corpus down to a BOUNDED
  * intermediate first — value-domain cells (Mann-Whitney ranks), first
  * digits (Benford), calendar days (CUSUM), per-user chains (burstiness,
  * attribution) — and runs its windows over that bounded table, never
  * over raw corpus rows (CLAUDE.md global-order rule).
  */
object Stats {

  private def events(s: SparkSession, dir: String): DataFrame =
    Engine.table(s, dir, "events")

  /** q_anomaly_alerts / s_anomaly thresholds, shared with the streaming
    * twin (streaming/Streams.scala streamingAnomaly) and both oracles:
    * alert when a value exceeds `anomalyMult`× the user's running mean
    * over at least `anomalyMinN` prior events of the same type. The test
    * is the integer cross-multiplication cents·n > mult·Σprior — no mean
    * is ever divided out, so both engines (and the streaming state
    * machine) share one exact arithmetic.
    */
  val anomalyMinN: Long = 5L
  val anomalyMult: Long = 3L

  /** q_survival_km churn horizon: a user whose last event sits at least
    * this many days before the corpus frontier counts as churned; later-
    * active users are right-censored. Shared with the oracle SQL.
    */
  val churnGapDays: Long = 7L

  /** Benford expected first-digit shares, floor-ppm. Computed once in
    * Scala and interpolated into BOTH the graded plan and the oracle SQL
    * as the same CASE literal, so neither engine evaluates log10.
    */
  private val benfordPpm: Map[Int, Long] =
    (1 to 9).map(d => d -> math.floor(math.log10(1.0 + 1.0 / d) * 1e6).toLong).toMap
  private val benfordCase: String =
    "CASE digit " +
      (1 to 9).map(d => s"WHEN $d THEN ${benfordPpm(d)}L").mkString(" ") + " END"
  private val benfordCaseSql: String =
    "CASE digit " +
      (1 to 9).map(d => s"WHEN $d THEN ${benfordPpm(d)}").mkString(" ") + " END"

  val queries: Map[String, Q] = Map(

    // Mann-Whitney U (Wilcoxon rank-sum) of each event type's value
    // distribution against the 'view' baseline — the standard
    // nonparametric "did this type's values shift?" test. Emitted as
    // U×2 so tie groups (average rank = integer + 1/2) stay integer: the
    // 2×-average-rank of a tie group spanning positions (c, c+g] is
    // 2c + g + 1. Scale shape: values collapse to cents cells FIRST
    // (one map-side-combinable agg after a ×|types| broadcast fan-out),
    // so the rank window runs per comparison over the value domain
    // (≤ 49k cells here), never corpus rows; the legal
    // crossJoin(broadcast(tiny type list)) is the only non-equi shape.
    // All sums bounded: R2 ≤ n_a · 2(n_a+n_b) < 2^63 far past 10^8 rows.
    "q_mann_whitney" -> Q(
      """WITH v AS (SELECT event_type, cast(floor(value * 100) as bigint) AS cents
        |           FROM events WHERE value IS NOT NULL),
        |ty AS (SELECT DISTINCT event_type AS grp FROM v
        |       WHERE event_type <> 'view'),
        |cells AS (
        |  SELECT ty.grp, v.cents,
        |    sum(CASE WHEN v.event_type = ty.grp THEN 1 ELSE 0 END) AS na,
        |    sum(CASE WHEN v.event_type = 'view' THEN 1 ELSE 0 END) AS nb
        |  FROM v CROSS JOIN ty
        |  WHERE v.event_type = ty.grp OR v.event_type = 'view'
        |  GROUP BY ty.grp, v.cents),
        |r AS (
        |  SELECT grp, na, nb,
        |    2 * sum(na + nb) OVER (PARTITION BY grp ORDER BY cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (na + nb) + 1 AS rank2
        |  FROM cells)
        |SELECT grp AS event_type,
        |  cast(sum(na) as bigint) AS n_a, cast(sum(nb) as bigint) AS n_b,
        |  cast(sum(na * rank2) - sum(na) * (sum(na) + 1) as bigint) AS u2_a,
        |  cast(2 * sum(na) * sum(nb)
        |       - (sum(na * rank2) - sum(na) * (sum(na) + 1)) as bigint) AS u2_b
        |FROM r GROUP BY grp ORDER BY event_type""".stripMargin) { (s, dir) =>
      val v = events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"), floor(col("value") * 100).cast(LongType).as("cents"))
      val types = v.filter(col("event_type") =!= "view")
        .select(col("event_type").as("grp")).distinct()
      val cells = v.crossJoin(broadcast(types))
        .filter(col("event_type") === col("grp") || col("event_type") === lit("view"))
        .groupBy(col("grp"), col("cents"))
        .agg(sum(when(col("event_type") === col("grp"), 1L).otherwise(0L)).as("na"),
          sum(when(col("event_type") === lit("view"), 1L).otherwise(0L)).as("nb"))
      // window over value-domain cells per comparison — bounded input
      val w = Window.partitionBy(col("grp")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("rank2",
          lit(2L) * sum(col("na") + col("nb")).over(w) - (col("na") + col("nb")) + 1L)
        .groupBy(col("grp"))
        .agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"),
          sum(col("na") * col("rank2")).as("r2a"))
        .select(col("grp").as("event_type"), col("n_a"), col("n_b"),
          (col("r2a") - col("n_a") * (col("n_a") + 1L)).as("u2_a"),
          (lit(2L) * col("n_a") * col("n_b")
            - (col("r2a") - col("n_a") * (col("n_a") + 1L))).as("u2_b"))
        .orderBy(col("event_type"))
    },

    // Benford first-digit audit of the value column — the classic
    // fabricated-data / instrumentation-bug screen. First digit is taken
    // ARITHMETICALLY from the cents integer (first char of its decimal
    // string — identical in both engines; never from a double's string
    // form, which engines format differently). Expected shares are a
    // Scala-side floor-ppm CASE literal shared by both engines (no
    // runtime log10). Scale shape: one 9-group agg + a 1-row total
    // broadcast — the legal crossJoin(broadcast(tiny)).
    "q_benford" -> Q(
      s"""WITH c AS (SELECT cast(floor(value * 100) as bigint) AS cents
         |           FROM events WHERE value IS NOT NULL AND value > 0),
         |d AS (SELECT cast(substring(cast(cents as varchar), 1, 1) as int)
         |        AS digit
         |      FROM c WHERE cents > 0),
         |n AS (SELECT digit, cast(count(*) as bigint) AS n FROM d
         |      GROUP BY digit),
         |t AS (SELECT cast(sum(n) as bigint) AS total FROM n)
         |SELECT digit, n,
         |  cast((n * 1000000) // total as bigint) AS share_ppm,
         |  cast($benfordCaseSql as bigint) AS benford_ppm,
         |  cast(abs((n * 1000000) // total - ($benfordCaseSql)) as bigint)
         |    AS dev_ppm
         |FROM n, t ORDER BY digit""".stripMargin) { (s, dir) =>
      val counts = events(s, dir)
        .filter(col("value").isNotNull && col("value") > 0)
        .select(floor(col("value") * 100).cast(LongType).as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast(StringType), 1, 1)
          .cast(IntegerType).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      counts.crossJoin(broadcast(total))
        .withColumn("share_ppm", expr("(n * 1000000L) div total"))
        .withColumn("benford_ppm", expr(benfordCase))
        .select(col("digit"), col("n"), col("share_ppm"), col("benford_ppm"),
          abs(col("share_ppm") - col("benford_ppm")).as("dev_ppm"))
        .orderBy(col("digit"))
    },

    // CUSUM mean-shift detector on daily event counts, per type: the
    // change-point day t maximizing |S_t| where S_t = Σ_{i≤t}(D·n_i − T)
    // — the textbook CUSUM drift statistic scaled by D (observed-day
    // count) so it stays integer (D·cum_t − t·T form; no mean division
    // ever happens). Ties break to the earliest day on both engines.
    // Scale shape: the corpus collapses to (type, day) counts in one
    // map-side-combinable agg; every window after runs over that
    // calendar-bounded table.
    "q_cusum_shift" -> Q(
      """WITH daily AS (
        |  SELECT event_type, cast(ts as date) AS d,
        |    cast(count(*) as bigint) AS n
        |  FROM events GROUP BY event_type, cast(ts as date)),
        |s AS (
        |  SELECT event_type, d,
        |    count(*) OVER (PARTITION BY event_type) AS nd,
        |    sum(n) OVER (PARTITION BY event_type) AS tot,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY d
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
        |  FROM daily),
        |x AS (
        |  SELECT event_type, d, abs(nd * cum - rn * tot) AS s_abs, nd, tot,
        |    row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs(nd * cum - rn * tot) DESC, d) AS rk
        |  FROM s)
        |SELECT event_type, d AS shift_day, cast(s_abs as bigint) AS s_abs_max,
        |  cast(nd as bigint) AS n_days, cast(tot as bigint) AS total_events
        |FROM x WHERE rk = 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val wt = Window.partitionBy(col("event_type"))
      val wc = wt.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val st = daily
        .withColumn("nd", count(lit(1)).over(wt))
        .withColumn("tot", sum(col("n")).over(wt))
        .withColumn("cum", sum(col("n")).over(wc))
        .withColumn("rn", row_number().over(wt.orderBy(col("d"))).cast(LongType))
        .withColumn("s_abs", abs(col("nd") * col("cum") - col("rn") * col("tot")))
      st.withColumn("rk",
          row_number().over(wt.orderBy(col("s_abs").desc, col("d"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("d").as("shift_day"),
          col("s_abs").as("s_abs_max"), col("nd").as("n_days"),
          col("tot").as("total_events"))
        .orderBy(col("event_type"))
    },

    // Burstiness of each event type's per-user inter-arrival process:
    // CV² = Var(gap)/E[gap]² in floor-ppm (CV² = 1 ⇒ Poisson, > 1 ⇒
    // bursty). Gaps are whole SECONDS (µs diff floor-divided by 1e6 —
    // positive operands, so Spark `div` ≡ DuckDB `//`), which bounds the
    // moment sums: Σg² ≤ Σg·span_s and n·Σg² stays far inside
    // decimal(38,0)/HUGEINT at any corpus the span can hold. One
    // user-partitioned lag (per-user chains, never global), one
    // map-side-combinable moment agg; the n·Σg² − (Σg)² closing form is
    // computed in the SAME lifted-integer expression tree on both
    // engines.
    "q_burstiness" -> Q(
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |       PARTITION BY user_id, event_type ORDER BY ts, event_id))
        |      // 1000000 AS gap_s
        |  FROM events),
        |m AS (
        |  SELECT event_type, cast(count(gap_s) as bigint) AS n_gaps,
        |    cast(sum(gap_s) as hugeint) AS sg,
        |    cast(sum(gap_s * gap_s) as hugeint) AS sg2
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n_gaps,
        |  cast(CASE WHEN n_gaps = 0 THEN 0 ELSE sg // n_gaps END as bigint)
        |    AS mean_gap_s,
        |  cast(CASE WHEN sg = 0 THEN 0
        |       ELSE ((n_gaps * sg2 - sg * sg) * 1000000) // (sg * sg) END
        |    as bigint) AS cv2_ppm
        |FROM m ORDER BY event_type""".stripMargin) { (s, dir) =>
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("gap_s",
          expr("(unix_micros(ts) - lag(unix_micros(ts)) OVER (" +
            "PARTITION BY user_id, event_type ORDER BY ts, event_id)) div 1000000"))
        .filter(col("gap_s").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(col("gap_s")).as("n_gaps"),
          sum(col("gap_s").cast(DecimalType(38, 0))).as("sg"),
          sum((col("gap_s") * col("gap_s")).cast(DecimalType(38, 0))).as("sg2"))
        .select(col("event_type"), col("n_gaps"),
          expr("cast(CASE WHEN n_gaps = 0 THEN 0 ELSE sg div n_gaps END as bigint)")
            .as("mean_gap_s"),
          expr("cast(CASE WHEN sg = 0 THEN 0 " +
            "ELSE ((n_gaps * sg2 - sg * sg) * 1000000) div (sg * sg) END as bigint)")
            .as("cv2_ppm"))
        .orderBy(col("event_type"))
    },

    // Value-spike anomaly alerts: an event whose value exceeds
    // anomalyMult× the same user's running mean of PRIOR same-type
    // values (after anomalyMinN priors) — the batch twin of the
    // streaming monitor (s_anomaly, streaming/Streams.scala
    // streamingAnomaly; its per-key (n, Σcents) state is exactly this
    // window's prefix). Integer cross-multiplied (cents·n > mult·Σ), so
    // no mean division and the gate hashes. Scale shape: one
    // user-partitioned window; per-user state bounded by that user's
    // history on every engine.
    "q_anomaly_alerts" -> Q(
      s"""WITH v AS (SELECT user_id, event_type, event_id, ts,
         |    cast(floor(value * 100) as bigint) AS cents
         |  FROM events WHERE value IS NOT NULL),
         |w AS (
         |  SELECT user_id, event_type, event_id, cents,
         |    row_number() OVER win - 1 AS n_prior,
         |    coalesce(sum(cents) OVER (PARTITION BY user_id, event_type
         |      ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS sum_prior_cents
         |  FROM v
         |  WINDOW win AS (PARTITION BY user_id, event_type
         |                 ORDER BY ts, event_id))
         |SELECT user_id, event_type, event_id, cents,
         |  cast(n_prior as bigint) AS n_prior,
         |  cast(sum_prior_cents as bigint) AS sum_prior_cents
         |FROM w
         |WHERE n_prior >= $anomalyMinN
         |  AND cents * n_prior > $anomalyMult * sum_prior_cents
         |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir).filter(col("value").isNotNull)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"),
          floor(col("value") * 100).cast(LongType).as("cents"))
        .withColumn("n_prior", (row_number().over(w) - 1).cast(LongType))
        .withColumn("sum_prior_cents",
          coalesce(sum(col("cents"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .filter(col("n_prior") >= anomalyMinN &&
          col("cents") * col("n_prior") > lit(anomalyMult) * col("sum_prior_cents"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("cents"),
          col("n_prior"), col("sum_prior_cents"))
        .orderBy(col("user_id"), col("event_id"))
    },

    // Multi-touch marketing attribution: for each converting user (first
    // 'purchase'), credit the click/view touches that PRECEDE the
    // conversion — first-touch and last-touch counts plus linear credit
    // (1e6 // n_touches floor-ppm per touch, summed per channel; credit
    // is conserved up to the documented floor). Users whose purchase has
    // no preceding touch contribute nothing on either engine. Scale
    // shape: conversions are one user-keyed agg; the touch join and all
    // three windows shuffle on user_id only with per-user bounded state.
    "q_attribution" -> Q(
      """WITH conv AS (
        |  SELECT user_id, min(ts) AS conv_ts FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |touch AS (
        |  SELECT e.user_id, e.event_type, e.ts, e.event_id
        |  FROM events e JOIN conv c ON e.user_id = c.user_id
        |  WHERE e.event_type IN ('click', 'view') AND e.ts < c.conv_ts),
        |m AS (
        |  SELECT event_type,
        |    row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS rn_first,
        |    row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn_last,
        |    count(*) OVER (PARTITION BY user_id) AS n_touch
        |  FROM touch)
        |SELECT event_type,
        |  cast(count(*) as bigint) AS n_touches,
        |  cast(sum(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) as bigint)
        |    AS first_touch,
        |  cast(sum(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) as bigint)
        |    AS last_touch,
        |  cast(sum(1000000 // n_touch) as bigint) AS linear_ppm
        |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = events(s, dir)
      val conv = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("conv_ts"))
      val touch = ev.filter(col("event_type").isin("click", "view"))
        .join(conv, "user_id").filter(col("ts") < col("conv_ts"))
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      val byUser = Window.partitionBy(col("user_id"))
      val asc = byUser.orderBy(col("ts"), col("event_id"))
      val desc = byUser.orderBy(col("ts").desc, col("event_id").desc)
      touch
        .withColumn("rn_first", row_number().over(asc))
        .withColumn("rn_last", row_number().over(desc))
        .withColumn("n_touch", count(lit(1)).over(byUser))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(when(col("rn_first") === 1, 1L).otherwise(0L)).as("first_touch"),
          sum(when(col("rn_last") === 1, 1L).otherwise(0L)).as("last_touch"),
          sum(expr("1000000L div n_touch")).as("linear_ppm"))
        .orderBy(col("event_type"))
    },

    // Rolling correlation (round 9): 7-day trailing Pearson r² (ppm, with
    // the covariance's SIGN as its own integer column) between the daily
    // view and purchase counts — "do these two metrics move together this
    // week?". All integer moment algebra over the day grid: cov and the
    // two variances are n·Σxy − Σx·Σy forms on decimal(38,0)-lifted
    // window sums, and r² closes through the STAGED non-negative floor
    // division ((cov² // vx) · 1e6) // vy — the q_spearman_ttr
    // discipline, identical on both engines, which keeps every
    // intermediate inside decimal(38,0) for daily counts up to ~1e8
    // (cov² ≤ 49²·C⁴ ≈ 2.4e35; a single-shot cov²·1e6 would overflow at
    // 1e8 already). Zero variance in the window → NULL r² on both
    // engines. Scale shape: the corpus collapses to the calendar day
    // grid in one map-side agg; the rolling window runs over DAYS
    // (bounded input — the documented bounded-window site pattern).
    "q_rolling_corr" -> Q(
      """WITH d AS (
        |  SELECT cast(ts as date) AS day,
        |    cast(count(CASE WHEN event_type = 'view' THEN 1 END) as bigint) AS x,
        |    cast(count(CASE WHEN event_type = 'purchase' THEN 1 END) as bigint) AS y
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT day, x, y,
        |    cast(count(*) OVER r as bigint) AS k,
        |    cast(sum(x) OVER r as hugeint) AS sx,
        |    cast(sum(y) OVER r as hugeint) AS sy,
        |    cast(sum(x * y) OVER r as hugeint) AS sxy,
        |    cast(sum(x * x) OVER r as hugeint) AS sxx,
        |    cast(sum(y * y) OVER r as hugeint) AS syy
        |  FROM d
        |  WINDOW r AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT day, x, y, k,
        |    k * sxy - sx * sy AS cov,
        |    k * sxx - sx * sx AS vx,
        |    k * syy - sy * sy AS vy
        |  FROM w)
        |SELECT day, x, y, k,
        |  cast(cov as bigint) AS cov,
        |  cast(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END
        |    as bigint) AS corr_sign,
        |  cast(CASE WHEN vx > 0 AND vy > 0
        |       THEN (((cov * cov) // vx) * 1000000) // vy END as bigint)
        |    AS r2_ppm
        |FROM m ORDER BY day""".stripMargin) { (s, dir) =>
      val d = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(when(col("event_type") === "view", 1)).as("x"),
          count(when(col("event_type") === "purchase", 1)).as("y"))
      val r = Window.orderBy(col("day")).rowsBetween(-6, 0)
      val dec = DecimalType(38, 0)
      d.select(col("day"), col("x"), col("y"),
          count(lit(1)).over(r).as("k"),
          sum(col("x")).over(r).cast(dec).as("sx"),
          sum(col("y")).over(r).cast(dec).as("sy"),
          sum(col("x") * col("y")).over(r).cast(dec).as("sxy"),
          sum(col("x") * col("x")).over(r).cast(dec).as("sxx"),
          sum(col("y") * col("y")).over(r).cast(dec).as("syy"))
        .select(col("day"), col("x"), col("y"), col("k"),
          (col("k") * col("sxy") - col("sx") * col("sy")).as("cov"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("vx"),
          (col("k") * col("syy") - col("sy") * col("sy")).as("vy"))
        .select(col("day"), col("x"), col("y"), col("k"),
          col("cov").cast(LongType).as("cov"),
          when(col("cov") > 0, 1L).when(col("cov") < 0, -1L).otherwise(0L)
            .as("corr_sign"),
          when(col("vx") > 0 && col("vy") > 0,
            expr("cast((((cov * cov) div vx) * 1000000) div vy as bigint)"))
            .as("r2_ppm"))
        .orderBy(col("day"))
    },

    // Mann-Kendall trend test (round 9): per event type, is the daily
    // revenue series monotonically trending? S = Σ_{i<j} sign(c_j − c_i)
    // over day pairs, plus the tie-corrected variance numerator
    // var18 = 18·Var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) — all
    // integers, so the whole test statistic is hash-gated (the z-score
    // is S/sqrt(var18/18), a driver-side epilogue). Scale shape: the
    // corpus collapses to the (type, day) calendar grid in ONE
    // map-side-combinable agg; the pair join is equi on type with a
    // day-range residual over that bounded grid (≤ days²/2 pairs per
    // type at ANY corpus size — a year is ~66k pairs), never corpus
    // rows. Types with a single day keep a row via the left join
    // (S=0, 0 pairs). Sums bounded: n³ at calendar scale ≈ 1e8.
    "q_mann_kendall" -> Q(
      """WITH d AS MATERIALIZED (
        |  SELECT event_type, cast(ts as date) AS day,
        |    cast(sum(cast(floor(value * 100) as bigint)) as bigint) AS c
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY event_type, cast(ts as date)),
        |p AS (
        |  SELECT a.event_type,
        |    CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END AS sg
        |  FROM d a JOIN d b
        |    ON b.event_type = a.event_type AND b.day > a.day),
        |sp AS (SELECT event_type, cast(sum(sg) as bigint) AS s_stat,
        |         cast(count(*) as bigint) AS n_pairs
        |       FROM p GROUP BY event_type),
        |t AS (SELECT event_type, c, cast(count(*) as bigint) AS tie
        |      FROM d GROUP BY event_type, c),
        |v AS (SELECT event_type, cast(sum(tie) as bigint) AS n_days,
        |        cast(sum(tie * (tie - 1) * (2 * tie + 5)) as bigint) AS tie_term
        |      FROM t GROUP BY event_type)
        |SELECT v.event_type, v.n_days,
        |  cast(coalesce(sp.n_pairs, 0) as bigint) AS n_pairs,
        |  cast(coalesce(sp.s_stat, 0) as bigint) AS s_stat,
        |  cast(v.n_days * (v.n_days - 1) * (2 * v.n_days + 5) - v.tie_term
        |    as bigint) AS var18
        |FROM v LEFT JOIN sp USING (event_type)
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val d = events(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100).cast(LongType)).as("c"))
      val a = d.select(col("event_type"), col("day").as("d1"), col("c").as("c1"))
      val b = d.select(col("event_type").as("et2"), col("day").as("d2"),
        col("c").as("c2"))
      val sp = a.join(b, col("et2") === col("event_type") && col("d2") > col("d1"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("c2") > col("c1"), 1L)
            .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("s_stat"),
          count(lit(1)).as("n_pairs"))
      val v = d.groupBy(col("event_type"), col("c"))
        .agg(count(lit(1)).as("tie"))
        .groupBy(col("event_type"))
        .agg(sum(col("tie")).as("n_days"),
          sum(col("tie") * (col("tie") - 1) * (lit(2L) * col("tie") + 5L))
            .as("tie_term"))
      v.join(sp, Seq("event_type"), "left")
        .select(col("event_type"), col("n_days"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("s_stat"), lit(0L)).as("s_stat"),
          (col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5L)
            - col("tie_term")).as("var18"))
        .orderBy(col("event_type"))
    },

    // Theil-Sen robust slope (round 9): per event type, the median of
    // all pairwise daily-revenue slopes — the robust trend estimator
    // paired with q_mann_kendall's significance test. slope_ppm uses the
    // PORTABLE signed floor division (num − pmod(num, den)) div den:
    // subtracting the positive mod first makes the numerator exactly
    // divisible, so the quotient is the FLOOR on both engines REGARDLESS
    // of each engine's native rounding rule for inexact division (both
    // Spark `div` and DuckDB bigint/hugeint `//` truncate toward zero as
    // measured here, but the pmod subtraction pins floor semantics
    // without relying on that; % follows the dividend's sign identically
    // in both). The median is the lower order statistic at
    // rank (m+1) div 2 — deterministic regardless of tie permutation.
    // Scale shape: same calendar-grid pair join as q_mann_kendall; the
    // rank window partitions BY TYPE over ≤ days²/2 pairs (calendar-
    // bounded, never corpus-sized).
    "q_theil_sen" -> Q(
      """WITH d AS MATERIALIZED (
        |  SELECT event_type, cast(ts as date) AS day,
        |    cast(sum(cast(floor(value * 100) as bigint)) as bigint) AS c
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY event_type, cast(ts as date)),
        |p AS (
        |  SELECT a.event_type,
        |    (b.c - a.c) * 1000000 AS num,
        |    cast(b.day - a.day as bigint) AS den
        |  FROM d a JOIN d b
        |    ON b.event_type = a.event_type AND b.day > a.day),
        |sl AS (
        |  SELECT event_type,
        |    cast((num - (((num % den) + den) % den)) // den as bigint)
        |      AS slope_ppm
        |  FROM p),
        |r AS (
        |  SELECT event_type, slope_ppm,
        |    row_number() OVER (PARTITION BY event_type ORDER BY slope_ppm)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS m
        |  FROM sl)
        |SELECT event_type, cast(m as bigint) AS n_pairs,
        |  cast(slope_ppm as bigint) AS slope_ppm
        |FROM r WHERE rn = (m + 1) // 2
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val d = events(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100).cast(LongType)).as("c"))
      val a = d.select(col("event_type"), col("day").as("d1"), col("c").as("c1"))
      val b = d.select(col("event_type").as("et2"), col("day").as("d2"),
        col("c").as("c2"))
      val sl = a.join(b, col("et2") === col("event_type") && col("d2") > col("d1"))
        .select(col("event_type"),
          ((col("c2") - col("c1")) * 1000000L).as("num"),
          datediff(col("d2"), col("d1")).cast(LongType).as("den"))
        .select(col("event_type"),
          expr("cast((num - (((num % den) + den) % den)) div den as bigint)")
            .as("slope_ppm"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("slope_ppm"))
      sl.select(col("event_type"), col("slope_ppm"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy(col("event_type"))).as("m"))
        .filter(col("rn") === expr("cast((m + 1) div 2 as int)"))
        .select(col("event_type"), col("m").as("n_pairs"), col("slope_ppm"))
        .orderBy(col("event_type"))
    },

    // Kendall tau-b concordance (round 9): are daily view counts and
    // daily purchase counts moving together? Over all day pairs i<j the
    // concordant / discordant / tie-x / tie-y / tie-both counts — the
    // five exact integers the tau-b closure needs (tau_b = (nc−nd)/
    // sqrt((P−tx)(P−ty)), a driver-side epilogue like q_mann_whitney's
    // p-value). Scale shape: the corpus collapses to the calendar-day
    // grid in one map-side agg; the pair enumeration is the legal
    // crossJoin(broadcast(day grid)) — the grid is calendar-bounded
    // (≤ days²/2 pairs at ANY corpus size), never corpus rows.
    "q_kendall_tau" -> Q(
      """WITH d AS MATERIALIZED (
        |  SELECT cast(ts as date) AS day,
        |    cast(count(CASE WHEN event_type = 'view' THEN 1 END) as bigint) AS x,
        |    cast(count(CASE WHEN event_type = 'purchase' THEN 1 END) as bigint) AS y
        |  FROM events GROUP BY 1),
        |p AS (SELECT (b.x - a.x) AS dx, (b.y - a.y) AS dy
        |      FROM d a JOIN d b ON b.day > a.day)
        |SELECT
        |  cast(count(*) as bigint) AS n_pairs,
        |  cast(count(CASE WHEN dx * dy > 0 THEN 1 END) as bigint) AS n_conc,
        |  cast(count(CASE WHEN dx * dy < 0 THEN 1 END) as bigint) AS n_disc,
        |  cast(count(CASE WHEN dx = 0 AND dy <> 0 THEN 1 END) as bigint) AS n_tie_x,
        |  cast(count(CASE WHEN dx <> 0 AND dy = 0 THEN 1 END) as bigint) AS n_tie_y,
        |  cast(count(CASE WHEN dx = 0 AND dy = 0 THEN 1 END) as bigint) AS n_tie_xy
        |FROM p ORDER BY n_pairs""".stripMargin) { (s, dir) =>
      val d = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(when(col("event_type") === "view", 1)).as("x"),
          count(when(col("event_type") === "purchase", 1)).as("y"))
      val b = d.select(col("day").as("d2"), col("x").as("x2"), col("y").as("y2"))
      d.crossJoin(broadcast(b)).filter(col("d2") > col("day"))
        .select((col("x2") - col("x")).as("dx"), (col("y2") - col("y")).as("dy"))
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("dx") * col("dy") > 0, 1)).as("n_conc"),
          count(when(col("dx") * col("dy") < 0, 1)).as("n_disc"),
          count(when(col("dx") === 0 && col("dy") =!= 0, 1)).as("n_tie_x"),
          count(when(col("dx") =!= 0 && col("dy") === 0, 1)).as("n_tie_y"),
          count(when(col("dx") === 0 && col("dy") === 0, 1)).as("n_tie_xy"))
        .orderBy(col("n_pairs"))
    },

    // Wald-Wolfowitz runs test (round 9): is the daily-revenue series
    // random around its median, or does it trend/oscillate? Days equal
    // to the (lower) median are dropped — the standard convention; the
    // emitted (n_above, n_below, n_runs) triple closes to the z-score
    // driver-side. Scale shape: one map-side corpus collapse to the
    // calendar-day grid; BOTH windows (the median rank select and the
    // run-boundary lag) and the 1-row median broadcast run over that
    // bounded grid — documented bounded-global-window site.
    "q_runs_test" -> Q(
      """WITH d AS MATERIALIZED (
        |  SELECT cast(ts as date) AS day,
        |    cast(sum(cast(floor(value * 100) as bigint)) as bigint) AS c
        |  FROM events GROUP BY 1),
        |m AS (SELECT c AS med FROM (
        |        SELECT c, row_number() OVER (ORDER BY c, day) AS rn,
        |               count(*) OVER () AS m
        |        FROM d) WHERE rn = (m + 1) // 2),
        |sg AS (SELECT day, CASE WHEN c > med THEN 1 ELSE 0 END AS sgn
        |       FROM d, m WHERE c <> med),
        |r AS (SELECT sgn, lag(sgn) OVER (ORDER BY day) AS p FROM sg)
        |SELECT cast(count(*) as bigint) AS n_days,
        |  cast(sum(sgn) as bigint) AS n_above,
        |  cast(count(*) - sum(sgn) as bigint) AS n_below,
        |  cast(count(CASE WHEN p IS NULL OR p <> sgn THEN 1 END) as bigint)
        |    AS n_runs
        |FROM r ORDER BY n_days""".stripMargin) { (s, dir) =>
      val d = events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100).cast(LongType)).as("c"))
      val med = d.select(col("c"),
          row_number().over(Window.orderBy(col("c"), col("day"))).as("rn"),
          count(lit(1)).over(Window.partitionBy()).as("m"))
        .filter(col("rn") === expr("cast((m + 1) div 2 as int)"))
        .select(col("c").as("med"))
      val sg = d.crossJoin(broadcast(med)).filter(col("c") =!= col("med"))
        .select(col("day"), when(col("c") > col("med"), 1L).otherwise(0L).as("sgn"))
      sg.select(col("sgn"), lag(col("sgn"), 1).over(Window.orderBy(col("day"))).as("p"))
        .agg(count(lit(1)).as("n_days"), sum(col("sgn")).as("n_above"),
          (count(lit(1)) - sum(col("sgn"))).as("n_below"),
          count(when(col("p").isNull || col("p") =!= col("sgn"), 1)).as("n_runs"))
        .orderBy(col("n_days"))
    },

    // Kruskal-Wallis (round 9): the k-sample generalization of
    // q_mann_whitney — do the k event types draw values from one
    // distribution? Emits per type (n, 2×rank-sum over the POOLED
    // ranking) plus the pooled N and the tie-correction ratio
    // Σ(t³−t)/(N³−N) in floor ppm; H = (12/(N(N+1)))·Σ(R̄ᵢ−(N+1)/2)²·nᵢ
    // then /(1−tie) closes driver-side from these integers, like
    // q_mann_whitney's p-value. Scale shape: values collapse to cents
    // cells FIRST; the pooled rank window runs over the value domain
    // (bounded, allowed partition-less site); tie cubes lift to
    // decimal(38,0)/HUGEINT (Σt³ ≤ N³ overflows bigint past ~2M rows,
    // ×1e6 ≤ 1e33 at 1e9 rows — inside both wide types); the 1-row
    // (N, tie) epilogue is the legal crossJoin(broadcast(tiny)).
    "q_kruskal_wallis" -> Q(
      """WITH v AS (SELECT event_type, cast(floor(value * 100) as bigint) AS cents
        |           FROM events WHERE value IS NOT NULL),
        |cells AS MATERIALIZED (
        |  SELECT cents, cast(count(*) as bigint) AS cnt FROM v GROUP BY cents),
        |r AS (SELECT cents,
        |        2 * sum(cnt) OVER (ORDER BY cents
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          - cnt + 1 AS rank2
        |      FROM cells),
        |tc AS (SELECT cast(sum(cnt) as bigint) AS n_total,
        |         sum(cast(cnt as hugeint) * cnt * cnt) AS c3
        |       FROM cells),
        |g AS (SELECT event_type, cents, cast(count(*) as bigint) AS nt
        |      FROM v GROUP BY 1, 2),
        |pt AS (SELECT event_type, cast(sum(nt) as bigint) AS n,
        |         cast(sum(nt * rank2) as bigint) AS r2_sum
        |       FROM g JOIN r USING (cents) GROUP BY 1)
        |SELECT pt.event_type, pt.n, pt.r2_sum, tc.n_total,
        |  cast(CASE WHEN tc.n_total <= 1 THEN 0
        |       ELSE ((tc.c3 - tc.n_total) * 1000000)
        |            // (cast(tc.n_total as hugeint) * tc.n_total * tc.n_total
        |               - tc.n_total) END as bigint) AS tie_ppm
        |FROM pt, tc ORDER BY pt.event_type""".stripMargin) { (s, dir) =>
      val v = events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"),
          floor(col("value") * 100).cast(LongType).as("cents"))
      val cells = v.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = cells.select(col("cents"),
        (lit(2L) * sum(col("cnt")).over(w) - col("cnt") + 1L).as("rank2"))
      val perType = v.groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("nt"))
        .join(ranked, "cents")
        .groupBy(col("event_type"))
        .agg(sum(col("nt")).as("n"), sum(col("nt") * col("rank2")).as("r2_sum"))
      val tot = cells.agg(sum(col("cnt")).as("n_total"),
          sum(col("cnt").cast(DecimalType(38, 0)) * col("cnt") * col("cnt")).as("c3"))
        .select(col("n_total"),
          expr("""cast(CASE WHEN n_total <= 1 THEN 0
                 | ELSE ((c3 - n_total) * 1000000)
                 |      div (cast(n_total as decimal(38,0)) * n_total * n_total
                 |           - n_total) END as bigint)""".stripMargin).as("tie_ppm"))
      perType.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n"), col("r2_sum"),
          col("n_total"), col("tie_ppm"))
        .orderBy(col("event_type"))
    },

    // Metric correlation matrix (round 9): pairwise Pearson r² (ppm +
    // sign) between the daily counts of EVERY event-type pair — the
    // all-metrics health grid behind "which KPIs move together"
    // (q_rolling_corr is the windowed two-metric trace; this is the
    // static all-pairs matrix). Zero-filled over the full observed
    // calendar so a type's quiet days count as 0, not as missing. Same
    // integer moment algebra and staged Cauchy-Schwarz-bounded floors
    // as q_rolling_corr (cov²//vx ≤ vy keeps every intermediate
    // in-range); per-term products lift to decimal(38,0)/HUGEINT before
    // the sums. Scale shape: corpus collapses to the (type, day) grid
    // in one map-side agg; the zero-fill is the legal
    // crossJoin(broadcast(tiny type list)); the pair join is grid-sized
    // equi-on-day with |types|²/2 output groups.
    "q_corr_matrix" -> Q(
      """WITH g AS (SELECT event_type, cast(ts as date) AS day,
        |    cast(count(*) as bigint) AS n
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM g),
        |ty AS (SELECT DISTINCT event_type FROM g),
        |f AS (SELECT ty.event_type, days.day, coalesce(g.n, 0) AS n
        |      FROM days CROSS JOIN ty
        |      LEFT JOIN g ON g.event_type = ty.event_type AND g.day = days.day),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        cast(count(*) as bigint) AS k,
        |        cast(sum(cast(a.n as hugeint)) as hugeint) AS sx,
        |        cast(sum(cast(b.n as hugeint)) as hugeint) AS sy,
        |        sum(cast(a.n as hugeint) * b.n) AS sxy,
        |        sum(cast(a.n as hugeint) * a.n) AS sxx,
        |        sum(cast(b.n as hugeint) * b.n) AS syy
        |      FROM f a JOIN f b ON a.day = b.day AND a.event_type < b.event_type
        |      GROUP BY 1, 2),
        |m AS (SELECT type_a, type_b, k,
        |        k * sxy - sx * sy AS cov,
        |        k * sxx - sx * sx AS vx,
        |        k * syy - sy * sy AS vy
        |      FROM p)
        |SELECT type_a, type_b, k,
        |  cast(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END
        |    as bigint) AS corr_sign,
        |  cast(CASE WHEN vx > 0 AND vy > 0
        |       THEN (((cov * cov) // vx) * 1000000) // vy END as bigint)
        |    AS r2_ppm
        |FROM m ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
      val dec = DecimalType(38, 0)
      val g = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val days = g.select(col("day")).distinct()
      val ty = g.select(col("event_type")).distinct()
      val f = days.crossJoin(broadcast(ty))
        .join(g, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
      val a = f.toDF("type_a", "day", "xa")
      val b = f.toDF("type_b", "day", "xb")
      val p = a.join(b, "day").filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("k"),
          sum(col("xa").cast(dec)).as("sx"),
          sum(col("xb").cast(dec)).as("sy"),
          sum(col("xa").cast(dec) * col("xb")).as("sxy"),
          sum(col("xa").cast(dec) * col("xa")).as("sxx"),
          sum(col("xb").cast(dec) * col("xb")).as("syy"))
      p.select(col("type_a"), col("type_b"), col("k"),
          (col("k") * col("sxy") - col("sx") * col("sy")).as("cov"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("vx"),
          (col("k") * col("syy") - col("sy") * col("sy")).as("vy"))
        .select(col("type_a"), col("type_b"), col("k"),
          expr("cast(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END" +
            " as bigint)").as("corr_sign"),
          expr("cast(CASE WHEN vx > 0 AND vy > 0" +
            " THEN (((cov * cov) div vx) * 1000000) div vy END as bigint)")
            .as("r2_ppm"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // Kaplan-Meier / Nelson-Aalen risk table per event type (round 9):
    // a user's FEATURE lifetime = days between their first and last
    // event of that type; a user whose last such event sits
    // ≥ churnGapDays before the corpus frontier CHURNED from the
    // feature at that lifetime, later-active users are right-CENSORED
    // there — the survival-analysis shape (retention WITH censoring,
    // which q_cohort/q_churn ignore). Emits per (type, lifetime): the
    // at-risk count, churn/censor counts, and the Nelson-Aalen
    // cumulative hazard as a SUM OF PER-TERM FLOORS Σ floor(1e6·d/n) —
    // the estimator's discrete form, integer-exact on both engines (the
    // KM survival PRODUCT closes driver-side from the same columns,
    // like q_mann_whitney's p-value). Scale shape: the corpus collapses
    // to one row per (user, type) in a map-side min/max agg, then to
    // the per-type lifetime grid (≤ calendar days per type); the
    // risk-set complement and hazard cumsum windows partition BY TYPE
    // over that bounded grid; the frontier is the legal 1-row
    // crossJoin(broadcast).
    "q_survival_km" -> Q(
      s"""WITH u AS MATERIALIZED (
         |  SELECT user_id, event_type,
         |    min(cast(ts as date)) AS d0, max(cast(ts as date)) AS d1
         |  FROM events GROUP BY 1, 2),
         |f AS (SELECT max(d1) AS frontier FROM u),
         |lt AS (SELECT event_type, date_diff('day', d0, d1) AS lifetime,
         |         CASE WHEN date_diff('day', d1, frontier) >= $churnGapDays
         |              THEN 1 ELSE 0 END AS churned
         |       FROM u, f),
         |g AS (SELECT event_type, lifetime,
         |        cast(sum(churned) as bigint) AS n_churn,
         |        cast(count(*) - sum(churned) as bigint) AS n_cens
         |      FROM lt GROUP BY 1, 2),
         |r AS (SELECT event_type, lifetime, n_churn, n_cens,
         |        sum(n_churn + n_cens) OVER (PARTITION BY event_type) -
         |          coalesce(sum(n_churn + n_cens) OVER (PARTITION BY event_type
         |            ORDER BY lifetime
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS n_risk
         |      FROM g)
         |SELECT event_type, cast(lifetime as bigint) AS lifetime_days,
         |  cast(n_risk as bigint) AS n_risk, n_churn, n_cens,
         |  cast(sum((n_churn * 1000000) // n_risk) OVER (PARTITION BY event_type
         |    ORDER BY lifetime
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint)
         |    AS cumhaz_ppm
         |FROM r ORDER BY event_type, lifetime_days""".stripMargin) { (s, dir) =>
      val u = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      val f = u.agg(max(col("d1")).as("frontier"))
      val lt = u.crossJoin(broadcast(f))
        .select(col("event_type"), datediff(col("d1"), col("d0")).as("lifetime"),
          when(datediff(col("frontier"), col("d1")) >= churnGapDays, 1L)
            .otherwise(0L).as("churned"))
      val g = lt.groupBy(col("event_type"), col("lifetime"))
        .agg(sum(col("churned")).as("n_churn"),
          (count(lit(1)) - sum(col("churned"))).as("n_cens"))
      val wAll = Window.partitionBy(col("event_type"))
      val wPrev = Window.partitionBy(col("event_type")).orderBy(col("lifetime"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("lifetime"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("n_risk",
          sum(col("n_churn") + col("n_cens")).over(wAll) -
            coalesce(sum(col("n_churn") + col("n_cens")).over(wPrev), lit(0L)))
        .withColumn("cumhaz_ppm",
          sum(expr("(n_churn * 1000000L) div n_risk")).over(wCum))
        .select(col("event_type"),
          col("lifetime").cast(LongType).as("lifetime_days"),
          col("n_risk"), col("n_churn"), col("n_cens"), col("cumhaz_ppm"))
        .orderBy(col("event_type"), col("lifetime_days"))
    },

    // Permutation test (round 10): the assumption-free significance
    // companion to q_abtest_lift/q_mann_whitney — does the md5-parity
    // arm split's per-user revenue difference exceed what RANDOM splits
    // produce? 20 deterministic permutations re-derive the arm from
    // md5('p<i>:' || user_id) (no RNG — both engines replay the same
    // reshuffles), statistic t = |S_A·n_B − S_B·n_A|·1e6 // (n_A·n_B)
    // (the cross-multiplied |mean diff| in floor-ppm of cents — exact
    // integers end to end), p = (#{t_i ≥ t_obs}+1)/(k+1) in milli (the
    // add-one Phipson-Smyth estimator). Scale shape: ONE corpus pass to
    // the per-user metric; the 21-way seed explode runs over the USER
    // table, never events; every agg map-side-combinable; 21-row close.
    "q_permutation_test" -> Q(
      """WITH u AS MATERIALIZED (
        |  SELECT user_id, cast(sum(CASE WHEN value IS NOT NULL
        |      THEN cast(floor(value * 100) as bigint) ELSE 0 END) as bigint) AS m
        |  FROM events GROUP BY user_id),
        |g AS (SELECT unnest(range(0, 21)) AS seed),
        |a AS (
        |  SELECT g.seed,
        |    (instr('0123456789abcdef', substr(md5(
        |       CASE WHEN g.seed = 0 THEN cast(user_id as varchar)
        |            ELSE 'p' || cast(g.seed as varchar) || ':'
        |                 || cast(user_id as varchar) END), 1, 1)) - 1) % 2 AS arm,
        |    u.m
        |  FROM u CROSS JOIN g),
        |t AS (
        |  SELECT seed,
        |    cast(count(CASE WHEN arm = 0 THEN 1 END) as hugeint) AS n_a,
        |    cast(count(CASE WHEN arm = 1 THEN 1 END) as hugeint) AS n_b,
        |    cast(sum(CASE WHEN arm = 0 THEN m ELSE 0 END) as hugeint) AS s_a,
        |    cast(sum(CASE WHEN arm = 1 THEN m ELSE 0 END) as hugeint) AS s_b
        |  FROM a GROUP BY seed),
        |ts AS (SELECT seed,
        |    CASE WHEN n_a = 0 OR n_b = 0 THEN 0
        |         ELSE (abs(s_a * n_b - s_b * n_a) * 1000000)
        |              // (n_a * n_b) END AS t
        |  FROM t),
        |ob AS (SELECT t AS t_obs FROM ts WHERE seed = 0)
        |SELECT cast(20 as bigint) AS n_perms,
        |  cast(ob.t_obs as bigint) AS t_obs,
        |  cast(count(CASE WHEN ts.seed > 0 AND ts.t >= ob.t_obs THEN 1 END)
        |    as bigint) AS n_ge,
        |  cast(((count(CASE WHEN ts.seed > 0 AND ts.t >= ob.t_obs THEN 1 END)
        |         + 1) * 1000) // 21 as bigint) AS p_milli
        |FROM ts, ob GROUP BY ob.t_obs ORDER BY n_perms""".stripMargin) { (s, dir) =>
      val k = 20
      val dec = DecimalType(38, 0)
      val u = events(s, dir).groupBy(col("user_id"))
        .agg(sum(when(col("value").isNotNull,
          floor(col("value") * 100).cast(LongType)).otherwise(0L)).as("m"))
      val seeds = s.range(0, k + 1).select(col("id").as("seed"))
      val key = when(col("seed") === 0, col("user_id").cast(StringType))
        .otherwise(concat(lit("p"), col("seed").cast(StringType), lit(":"),
          col("user_id").cast(StringType)))
      val t = u.crossJoin(broadcast(seeds))
        .select(col("seed"), col("m"),
          (conv(substring(md5(key.cast(BinaryType)), 1, 1), 16, 10)
            .cast(LongType) % 2).as("arm"))
        .groupBy(col("seed"))
        .agg(count(when(col("arm") === 0, 1)).cast(dec).as("n_a"),
          count(when(col("arm") === 1, 1)).cast(dec).as("n_b"),
          sum(when(col("arm") === 0, col("m")).otherwise(0L)).cast(dec).as("s_a"),
          sum(when(col("arm") === 1, col("m")).otherwise(0L)).cast(dec).as("s_b"))
        .select(col("seed"),
          expr("CASE WHEN n_a = 0 OR n_b = 0 THEN cast(0 as decimal(38,0)) " +
            "ELSE (abs(s_a * n_b - s_b * n_a) * 1000000) div (n_a * n_b) END")
            .as("t"))
      val tObs = t.filter(col("seed") === 0)
        .select(col("t").as("t_obs"))
      t.filter(col("seed") > 0).crossJoin(broadcast(tObs))
        .groupBy(col("t_obs"))
        .agg(count(when(col("t") >= col("t_obs"), 1)).as("n_ge"))
        .select(lit(k.toLong).as("n_perms"),
          col("t_obs").cast(LongType).as("t_obs"), col("n_ge"),
          expr(s"((n_ge + 1) * 1000) div ${k + 1}").as("p_milli"))
        .orderBy(col("n_perms"))
    },

    // Binary change-point detection (round 10): per event type, the day
    // split maximizing the between-segment separation of daily revenue —
    // the "when did this metric move" screen next to q_cusum_shift's
    // sequential detector. Candidate k (after each day) scores
    // (S_L·n_R − S_R·n_L)² // (n_L·n_R) — the n-scaled between-group
    // variance with the constant n dropped (ordering unchanged) — in
    // decimal(38,0)/HUGEINT with a (score DESC, day ASC) total tiebreak,
    // so both engines select the identical argmax row; only bigint-safe
    // columns are emitted (split day, day counts, floored segment means
    // in cents — nonneg revenue, scale-0 floor division). Bound
    // (corrected round 11, ADVICE r10): the binding constraint is the
    // QUOTIENT, not the square — Spark's `div` is BIGINT-valued, so the
    // argmax key dterm²/(nl·(nt−nl)) must stay under 2^63 (adversarial
    // worst case all-revenue-on-one-day makes that st²·(nt−1), i.e.
    // per-type revenue ≲ 1.5e8 cents at a 400-day calendar), and
    // dterm² = (sl·nt − st·nl)² must fit decimal(38) (|dterm| < 1e19).
    // Past either bound Spark nulls/ANSI-throws while DuckDB's hugeint
    // keeps the exact key — re-scale cents to a coarser unit first
    // (both engines floor identically, so they still agree on the
    // split; the key is (1/s²)-equivariant under c→c/s). Scale shape:
    // corpus collapses to the (type, day) calendar grid in one map-side
    // agg; windows partition BY TYPE over day cells (calendar-bounded,
    // never corpus rows).
    "q_changepoint" -> Q(
      """WITH d AS MATERIALIZED (
        |  SELECT event_type, cast(ts as date) AS day,
        |    cast(sum(cast(floor(value * 100) as bigint)) as bigint) AS c
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY event_type, cast(ts as date)),
        |w AS (SELECT event_type, day,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY day) AS sl,
        |    count(*) OVER (PARTITION BY event_type ORDER BY day) AS nl,
        |    sum(c) OVER (PARTITION BY event_type) AS st,
        |    count(*) OVER (PARTITION BY event_type) AS nt
        |  FROM d),
        |sc AS (SELECT event_type, day, sl, nl, st, nt,
        |    (cast(sl as hugeint) * (nt - nl) - cast(st - sl as hugeint) * nl)
        |    * (cast(sl as hugeint) * (nt - nl) - cast(st - sl as hugeint) * nl)
        |    // (cast(nl as hugeint) * (nt - nl)) AS key
        |  FROM w WHERE nl < nt),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY key DESC, day) AS rk FROM sc)
        |SELECT event_type, day AS split_day, cast(nt as bigint) AS n_days,
        |  cast(sl // nl as bigint) AS mean_l_cents,
        |  cast((st - sl) // (nt - nl) as bigint) AS mean_r_cents
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
      val dec = DecimalType(38, 0)
      val d = events(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 100).cast(LongType)).as("c"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wAll = Window.partitionBy(col("event_type"))
      val sc = d.select(col("event_type"), col("day"),
          sum(col("c")).over(wOrd).as("sl"),
          count(lit(1)).over(wOrd).as("nl"),
          sum(col("c")).over(wAll).as("st"),
          count(lit(1)).over(wAll).as("nt"))
        .filter(col("nl") < col("nt"))
        .withColumn("dterm",
          col("sl").cast(dec) * (col("nt") - col("nl"))
            - (col("st") - col("sl")).cast(dec) * col("nl"))
        .withColumn("key",
          expr("(dterm * dterm) div (cast(nl as decimal(38,0)) * (nt - nl))"))
      val rk = Window.partitionBy(col("event_type"))
        .orderBy(col("key").desc, col("day"))
      sc.withColumn("rk", row_number().over(rk)).filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("split_day"),
          col("nt").cast(LongType).as("n_days"),
          expr("cast(sl div nl as bigint)").as("mean_l_cents"),
          expr("cast((st - sl) div (nt - nl) as bigint)").as("mean_r_cents"))
        .orderBy(col("event_type"))
    })
}
