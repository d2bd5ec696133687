package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, Q}
import graft.util.Pin

/** Text analytics for LLM-data pipelines over the `documents` table
  * (BASELINE.json north star; not present in the reference — `EXT` in
  * SURVEY §2): language ID, quality scoring, token counting, document
  * fingerprinting, per-corpus stats.
  *
  * Everything is built from codegen'd builtins (split/filter/
  * regexp_extract_all/md5); per-doc work is embarrassingly parallel — no
  * shuffle except the final aggregates — so it scales linearly with
  * input splits.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Engine.table(s, dir, "documents")

  private val toks: Column = split(col("text"), " ")

  /** PAN length window: real card numbers run 13-19 digits (Visa 13/16,
    * Amex 15, Maestro 13-19, UnionPay up to 19) — the round-12 16-only
    * checksum missed everything but classic Visa/MC (VERDICT-r12 #7).
    */
  val panMinLen: Int = 13
  val panMaxLen: Int = 19

  /** PAN candidates are MAXIMAL digit runs of PAN length (round 14,
    * VERDICT-r13 #8 / ADVICE-r13): the round-13 bare `[0-9]{13,19}`
    * window had no digit-boundary guards, so a 20-25-digit non-PAN run
    * (a nonce, a long order id) yielded a greedy 19-digit window that
    * could accidentally pass Luhn (false block), and a real PAN embedded
    * in a longer run was windowed with a misaligned check digit (missed
    * detection). RE2 (DuckDB) supports no lookarounds, so the
    * engine-portable boundary test is run-extraction itself: extract all
    * maximal `[0-9]+` runs, keep those whose WHOLE length sits in the
    * 13-19 window — a 20-digit run is one 20-long token and is rejected,
    * never re-windowed. Spark twin [[panCandidates]], oracle twin
    * [[oPanCandidates]].
    */
  private[graft] val digitRunRegex: String = "[0-9]+"

  private[graft] def panCandidates(c: Column): Column =
    filter(regexp_extract_all(c, lit(digitRunRegex), lit(0)),
      x => length(x) >= panMinLen && length(x) <= panMaxLen)

  private[graft] def oPanCandidates(e: String): String =
    s"list_filter(regexp_extract_all($e, '$digitRunRegex'), " +
      s"x -> len(x) between $panMinLen and $panMaxLen)"

  /** q_pii_pan's planted candidates — six real-format Luhn-VALID PANs at
    * lengths 13/15/16/16/19/19 followed by their six last-digit
    * mutations (+1 mod 10 on the check digit always breaks Luhn: the
    * check digit is never doubled, so the mod-10 sum moves by exactly 1).
    * Shared with the oracle SQL and the s_pii_gate streaming spec.
    */
  private[graft] val plantedPans: Seq[String] = Seq(
    "4222222222222", "378282246310005", "4111111111111111",
    "5425233430109903", "6221261111111111113", "6759649826438452955",
    "4222222222223", "378282246310006", "4111111111111112",
    "5425233430109904", "6221261111111111114", "6759649826438452956")

  /** Luhn (mod-10) checksum over a 13-19-digit string column — q_pii_pan's
    * validation layer. Length-parametric position arithmetic unrolled over
    * the 19 places (a digit doubles when its offset FROM THE RIGHT is odd,
    * i.e. (len − i) is odd for 1-based i; past-length places contribute 0
    * behind a lazy CASE so the out-of-range substring cast never
    * evaluates), so the whole predicate stays one codegen expression with
    * no UDF, no HOF lambda on the hot path, and an exact oracle twin
    * ([[oLuhn]]). Strings outside the 13-19 window are not PANs.
    */
  private[graft] def luhnValid(s: Column): Column = {
    val len = length(s)
    val total = (1 to panMaxLen).map { i =>
      val d = substring(s, i, 1).cast(IntegerType)
      val dbl = when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
      when(lit(i) <= len, when((len - i) % 2 === 1, dbl).otherwise(d))
        .otherwise(0)
    }.reduce(_ + _)
    len >= panMinLen && len <= panMaxLen && total % 10 === 0
  }

  /** Oracle-SQL twin of [[luhnValid]] over a 13-19-char varchar
    * expression (DuckDB: out-of-range substr casts ERROR rather than
    * null, so the same lazy CASE guards them).
    */
  private def oLuhn(e: String): String = {
    val terms = (1 to panMaxLen).map { i =>
      val d = s"cast(substr($e, $i, 1) as int)"
      s"(case when $i <= len($e) then " +
        s"(case when (len($e) - $i) % 2 = 1 then " +
        s"(case when 2 * $d > 9 then 2 * $d - 9 else 2 * $d end) " +
        s"else $d end) else 0 end)"
    }
    s"(len($e) between $panMinLen and $panMaxLen and " +
      terms.mkString("(", " + ", s") % 10 = 0)")
  }

  /** Tiny per-language function-word lexicons for the n-gram/stopword
    * language-ID heuristic. Deterministic and engine-portable; real
    * deployments would swap in fastText-style profiles — the *plumbing*
    * (score → argmax with stable tie-break) is the operator.
    */
  val lexicons: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "et", "est", "un"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Target mixture (relative parts) and total doc budget for the
    * q_mix_weighted training-mix draw; shared with its oracle SQL.
    */
  val mixWeights: Map[String, Int] =
    Map("de" -> 2, "en" -> 4, "es" -> 1, "fr" -> 2, "zh" -> 1)
  val mixBudget: Int = 100

  /** q_mix_tokens per-language token budget; shared with its oracle SQL. */
  val mixTokenBudget: Long = 5000L

  /** q_mix_epochs repeat cap (4 epochs, in ppm) — past this, repeating a
    * scarce source degrades more than it balances (Muennighoff 2023's
    * ~4-epoch rule); shared with the oracle SQL.
    */
  val mixEpochsCapPpm: Long = 4000000L

  /** q_pipeline_curate's quality cut (ppm; ~p60 of the corpus) — shared
    * with the oracle SQL.
    */
  val curateQualityPpm: Long = 400000L

  /** q_dsir_weights hashed-feature space: unigram + bigram OCCURRENCES
    * (multiplicity kept — DSIR counts, not vocabularies) hashed into
    * 1024 buckets via the first 4 md5 nibbles mod 1024 (engine-portable;
    * the oracle recomputes the identical mapping with the instr-nibble
    * polynomial). The dimensionality is a model constant (DSIR uses a
    * fixed 10^4), not data-derived.
    */
  val dsirBuckets: Int = 1024
  def dsirBucketCol(g: Column): Column =
    conv(substring(md5(g.cast(BinaryType)), 1, 4), 16, 10)
      .cast(LongType) % dsirBuckets
  def dsirFeatures(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), col("lang"), col("text"))
    val uni = base.select(col("doc_id"), col("lang"),
      explode(toks).as("g"))
    val bi = base.filter(size(toks) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextExpressions.shingles(col("text"), 2)).as("g"))
    uni.unionByName(bi).withColumn("b", dsirBucketCol(col("g")))
  }

  /** The trained DSIR artifact: the COMPLETE 1024-row bucket → ratio_ppm
    * table (spine-joined, so unseen buckets carry the add-1-smoothed
    * default and a serving-time lookup can never miss). Shared by the
    * batch scorer (q_dsir_weights) and the streaming ingest gate
    * (s_dsir_gate, which ships it as a plan-literal map).
    */
  def dsirRatioTable(d: DataFrame,
      isTarget: Column = col("lang") === "en"): DataFrame = {
    // reference and target counts in ONE corpus pass (conditional sum),
    // so training the table costs one explode + one 1024-cell agg
    val feat = dsirFeatures(d)
    val spine = d.sparkSession.range(dsirBuckets).select(col("id").as("b"))
    val cnt = feat.groupBy(col("b")).agg(
      count(lit(1)).as("c_ref"),
      sum(when(isTarget, 1L).otherwise(0L)).as("c_tgt"))
    val tot = cnt.agg(sum(col("c_ref")).as("n_ref"),
      coalesce(sum(col("c_tgt")), lit(0L)).as("n_tgt"))
    spine.join(cnt, Seq("b"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("ratio_ppm", expr(
        "cast(((coalesce(c_tgt, 0) + 1) * cast(1000000 as decimal(38,0))" +
          " * (n_ref + 1024))" +
          " div ((coalesce(c_ref, 0) + 1) * cast(n_tgt + 1024 as decimal(38,0))) as bigint)"))
      .select(col("b"), col("ratio_ppm"))
  }

  /** s_dsir_gate keep threshold: ratio ≥ 1× (at least as target-like as
    * the reference mix); shared with StreamingSpec.
    */
  val dsirMinPpm: Long = 1000000L

  // ---- BPE kernel, shared by the trainer (q_bpe_merges) and the
  // ---- encoder (q_bpe_encode) so the two can never drift

  /** Char-split BPE symbol sequences in WORD-HISTOGRAM form (round 11,
    * the Sennrich trick): one `(seq, cnt)` row per DISTINCT (keep…,
    * word) of the corpus — space-delimited symbols weighted by word
    * multiplicity. Pair counts, merges, and every downstream total are
    * Σ(per-word value × cnt), identical to the per-instance form, but
    * each training round now passes over the VOCABULARY (≤ tens of
    * thousands of rows at any corpus size) instead of the corpus —
    * the difference between a 50k-merge trainer being feasible and
    * not at 100 TB. The corpus is touched exactly once (the histogram
    * groupBy, map-side combinable).
    */
  private[graft] def bpeSeqs(d: DataFrame, keep: Seq[String] = Nil): DataFrame =
    d.select(keep.map(col) :+ explode(split(col("text"), " ")).as("word"): _*)
      .filter(col("word") =!= "")
      .groupBy((keep :+ "word").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(keep.map(col) ++ Seq(
        expr("trim(regexp_replace(word, '(.)', '$1 '))").as("seq"),
        col("cnt")): _*)

  /** Derived merge budget (the embedPlanesFor/simhashBitsFor
    * discipline): 8 merges up to a 16 384-word vocabulary, 12 above —
    * mirrored verbatim in the oracle's `bud` CTE, so the regime switch
    * is stated from the data on both engines, never pinned to the
    * graded SF. (A production tokenizer iterates the same kernel to a
    * vocab-target merge count; the cap here keeps the oracle's
    * unrolled CTE chain bounded.)
    */
  private[graft] val bpeMaxRounds = 12

  /** Budget from the [[bpeSeqs]] HISTOGRAM, not the corpus — exactly
    * how the oracle's `bud` CTE reads `wc` (code-review r11: the old
    * form re-exploded the whole corpus for a word count the vocab-sized
    * histogram already determines). `seq` is an injective recoding of
    * `word` (char-spacing), so distinct seq ≡ distinct word; for the
    * per-lang encoder histogram the DISTINCT collapses cross-lang
    * repeats of the same word, matching `count(DISTINCT word)`.
    * Persist the histogram before calling so the count and the
    * trainer's first round share one materialization.
    */
  private[graft] def bpeBudgetFor(seqs: DataFrame): Int = {
    val vocab = seqs.select(col("seq")).distinct().count()
    if (vocab <= 16384L) 8 else bpeMaxRounds
  }

  // split once into an array column; the transform lambda reads the
  // materialized array (re-splitting inside the lambda evaluates
  // split() per PAIR, not per sequence)
  private val bpePairsExpr = "transform(sequence(0, size(l) - 2), " +
    "i -> concat(element_at(l, i + 1), ' ', element_at(l, i + 2)))"

  /** One unrolled oracle BPE round over the weighted histogram
    * `s${k-1}(…, seq, cnt)`: weighted pair count → 1-row argmax `b$k` →
    * conditionally merged `s$k`. Rounds PAST the data-derived budget
    * (the `bud` CTE) or past vocabulary exhaustion (`b$k` empty → NULL
    * scalar subquery) pass sequences through unchanged, so the same
    * 12-round unroll states every regime; all tables are VOCAB-sized.
    */
  private def oBpeRound(k: Int, lang: Boolean): String = {
    val langSel = if (lang) "lang, " else ""
    s"""p$k AS (SELECT unnest(list_transform(range(1, len(l)),
       |         i -> l[i] || ' ' || l[i + 1])) AS pair, cnt
       |       FROM (SELECT string_split(seq, ' ') AS l, cnt FROM s${k - 1})),
       |b$k AS MATERIALIZED (
       |  SELECT pair, cast(sum(cnt) as bigint) AS n FROM p$k
       |  GROUP BY pair ORDER BY n DESC, pair LIMIT 1),
       |s$k AS MATERIALIZED (
       |  SELECT ${langSel}CASE WHEN (SELECT b FROM bud) >= $k
       |           AND (SELECT pair FROM b$k) IS NOT NULL
       |         THEN trim(replace(' ' || seq || ' ',
       |                ' ' || (SELECT pair FROM b$k) || ' ',
       |                ' ' || replace((SELECT pair FROM b$k), ' ', '') || ' '))
       |         ELSE seq END AS seq, cnt
       |  FROM s${k - 1})""".stripMargin
  }

  /** The round's adopted merge: most frequent adjacent symbol pair
    * (count DESC, pair ASC tiebreak), counted in the WEIGHTED histogram
    * form (Σ cnt over distinct words). The adopted merge is ONE row —
    * collecting it is the bounded driver cost a real BPE trainer pays
    * per round, and it keeps each round's plan to a single vocab pass
    * instead of nesting every earlier round's argmax subplan inside
    * later consumers. None once the vocabulary has fused to single
    * symbols (no adjacent pair left anywhere).
    */
  private[graft] def bpeBestPair(seqs: DataFrame): Option[(String, Long)] =
    seqs.select(split(col("seq"), " ").as("l"), col("cnt"))
      .filter(size(col("l")) >= 2)
      .select(explode(expr(bpePairsExpr)).as("pair"), col("cnt"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(1).collect()
      .headOption.map(r => (r.getString(0), r.getLong(1)))

  /** Apply one merge leftmost-NON-OVERLAPPING (both engines' literal
    * replace() scans identically and never rescans its own output, so
    * 'a a a' merges once, not twice — documented, deterministic, and
    * mirrored in the oracle chains). Sentinel spaces at the edges keep a
    * pair pattern from matching inside a longer symbol. Passthrough
    * columns are preserved.
    */
  private[graft] def bpeApplyMerge(seqs: DataFrame, pair: String): DataFrame =
    seqs.withColumn("seq", trim(org.apache.spark.sql.functions.replace(
      concat(lit(" "), col("seq"), lit(" ")),
      lit(" " + pair + " "),
      lit(" " + pair.replace(" ", "") + " "))))

  /** Run up to `rounds` BPE training rounds over the weighted histogram
    * `seqs0` (stops early if the vocabulary fuses out of pairs).
    * Per-round cache (measured 3.6 → 2.9 s at sf0.1 in the
    * per-instance era; the histogram rows are vocab-sized, so the cache
    * is tiny now): round k+1's pair count reads round k's cached
    * sequences instead of replaying the whole regexp+replace chain;
    * each round's blocks release as soon as the NEXT round's cache is
    * materialized (the pageRank round discipline). Returns (adopted
    * merges, the post-final-merge sequence plan — one narrow projection
    * over the last cached round, which stays pinned in `p` until the
    * caller's scope exits).
    */
  private[graft] def bpeTrain(p: Pin.Scope, seqs0: DataFrame, rounds: Int = 3)
      : (Seq[(Int, String, Long)], DataFrame) = {
    var seqs = seqs0
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val cached = p.frame(seqs,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bpeBestPair(cached) match { // action — materializes `cached`
        case Some((pair, n)) =>
          prev.foreach(p.release)
          prev = Some(cached)
          seqs = bpeApplyMerge(cached, pair)
          merges += ((k, pair, n))
          k += 1
        case None =>
          p.release(cached)
          exhausted = true
      }
    }
    (merges.toSeq, seqs)
  }

  // ---- formulas shared between their defining query and the composed
  // q_pipeline_curate, so the pipeline can't silently drift from the
  // operators it claims to compose (one definition per engine side) ----

  /** Quality blend over (n_tok, n_stop, n_chars) columns, floor-ppm
    * (q_quality_score + q_pipeline_curate).
    */
  private[llm] def qualityPpmCol: Column =
    floor((
      lit(0.3) * least(col("n_tok") / 100.0, lit(1.0))
        + lit(0.4) * (col("n_stop") / col("n_tok"))
        + lit(0.3) * least(((col("n_chars") - col("n_tok") + 1.0) / col("n_tok")) / 8.0,
          lit(1.0))) * 1000000).cast(LongType)
  private[llm] val oQualityPpm: String =
    """cast(floor((
      |    0.3 * least(n_tok / 100.0, 1.0)
      |  + 0.4 * (n_stop / n_tok)
      |  + 0.3 * least(((n_chars - n_tok + 1.0) / n_tok) / 8.0, 1.0)) * 1000000) as bigint)""".stripMargin

  /** Append `quality_ppm` ([[qualityPpmCol]]) to any frame carrying
    * (text, n_chars) — the per-row projection the streaming quality gate
    * (s_quality_gate) shares verbatim with q_quality_score, so the two
    * cannot drift. One codegen'd map pass, no shuffle, stream-safe.
    */
  private[graft] def withQualityPpm(d: DataFrame): DataFrame =
    d.withColumn("n_tok", size(split(col("text"), " ")).cast(DoubleType))
      .withColumn("n_stop", lexCount("en"))
      .withColumn("quality_ppm", qualityPpmCol)
      .drop("n_tok", "n_stop")

  /** Whitespace-normalized lowercase md5 fingerprint
    * (q_fingerprint + q_pipeline_curate). The whitespace class is the
    * EXPLICIT [ \t\n\r\f], not \s: Java regex \s includes vertical tab
    * \x0B while RE2/DuckDB \s excludes it, so \s would diverge on text
    * containing \x0B. lower() is assumed ASCII-folding (both engines
    * agree on ASCII; locale-sensitive pairs like dotted İ would differ).
    */
  private val fingerprintCol: Column =
    md5(lower(regexp_replace(col("text"), "[ \\t\\n\\r\\f]+", " ")).cast(BinaryType))
  private val oFingerprint: String =
    "md5(lower(regexp_replace(text, '[ \\t\\n\\r\\f]+', ' ', 'g')))"

  /** First-md5-byte bucket of an id (q_sample_hash + q_pipeline_curate);
    * bucket % 10 < 8 is the train split.
    */
  private def bucketCol(id: Column): Column =
    conv(substring(md5(id.cast(StringType).cast(BinaryType)), 1, 2), 16, 10)
      .cast(LongType)
  private def oBucket(idExpr: String): String =
    s"(instr('0123456789abcdef', substr(md5(cast($idExpr as varchar)), 1, 1)) - 1) * 16" +
      s" + (instr('0123456789abcdef', substr(md5(cast($idExpr as varchar)), 2, 1)) - 1)"

  /** q_normalize's canonicalization chain: lowercase, non-alphanumerics
    * to spaces, collapse space runs, trim. `[^a-z0-9 ]` and `" +"` parse
    * identically in Java regex and DuckDB's RE2, so both engines agree
    * byte-for-byte (multi-byte UTF-8 chars are non-matching codepoints in
    * both — stripped whole, never split).
    */
  def normalizeCol(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** q_charset_audit core over any (source, text) frame: per-source
    * encoding-health counters — the mojibake/corruption screen a
    * curation pipeline runs per ingest source before any text op trusts
    * the bytes. Three explicit codepoint classes, each written so Java
    * regex and RE2 parse them identically (the ADVICE-r8 lesson: never
    * `\s` — Java includes \x0B, RE2 doesn't; explicit ranges only):
    * non-ASCII `[^\x00-\x7F]`, bare control chars
    * `[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]` (tab/LF/CR excluded — those are
    * legitimate text), and the U+FFFD replacement char `\x{FFFD}` (the
    * smoking gun of a bad transcode). Counting is subtraction of
    * codepoint lengths after class removal — both engines count
    * codepoints, so multi-byte chars count once. Scale shape: per-doc
    * counters are one codegen'd map pass; everything after is a
    * source-sized agg; ppm is nonneg scale-0 floor division.
    */
  def charsetAudit(d: DataFrame): DataFrame =
    charsetRollup(charsetPerDoc(d)).orderBy(col("source"))

  /** The per-doc counter projection of [[charsetAudit]] — one codegen'd
    * map pass, shared verbatim by the streaming twin (s_charset) so the
    * batch and streaming readouts can never drift.
    */
  def charsetPerDoc(d: DataFrame): DataFrame = {
    def nClass(pat: String): Column =
      length(col("text")) - length(regexp_replace(col("text"), pat, ""))
    d.select(col("source"),
      length(col("text")).cast(LongType).as("nc"),
      nClass("[^\\x00-\\x7F]").cast(LongType).as("na"),
      nClass("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]").cast(LongType).as("nk"),
      nClass("\\x{FFFD}").cast(LongType).as("nr"))
  }

  /** The per-source rollup of [[charsetAudit]] — a plain aggregation, so
    * it runs identically over a static frame and a streaming one (where
    * the |sources|-bounded aggregation state IS the monitor). No sort:
    * streaming aggregations can't order; batch callers add it.
    */
  def charsetRollup(per: DataFrame): DataFrame =
    per.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("na")).as("n_non_ascii"),
        sum(col("nk")).as("n_ctrl"),
        sum(col("nr")).as("n_repl"),
        sum(when(col("nk") > 0L || col("nr") > 0L, 1L).otherwise(0L))
          .as("n_docs_flagged"))
      .select(col("source"), col("n_docs"), col("n_chars"), col("n_non_ascii"),
        expr("CASE WHEN n_chars = 0 THEN 0 ELSE (n_non_ascii * 1000000) div n_chars END")
          .cast(LongType).as("non_ascii_ppm"),
        col("n_ctrl"), col("n_repl"), col("n_docs_flagged"))

  /** q_normalize core over any (doc_id, text, n_chars) frame: normalized
    * length + digest, and the size of each post-normalization duplicate
    * group (count over a hash-partitioned window on the digest — one
    * shuffle, no sort).
    */
  def normalizedDups(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    d.select(col("doc_id"), col("n_chars").cast(LongType).as("n_chars_raw"),
      normalizeCol(col("text")).as("norm"))
      .select(col("doc_id"), col("n_chars_raw"),
        length(col("norm")).cast(LongType).as("n_chars_norm"),
        md5(col("norm").cast(BinaryType)).as("norm_md5"))
      .withColumn("n_norm_dup",
        count(lit(1)).over(Window.partitionBy(col("norm_md5"))).cast(LongType))
  }

  /** q_rarity_score core over any (doc_id, text) frame: per-doc mean
    * corpus token frequency in ppm of the corpus token count, integer-
    * exact (decimal(38) ≙ HUGEINT lift before one floor division — 1e6 *
    * sum_c overflows bigint once the corpus passes ~3e6 tokens per
    * doc-token; `div` floors like DuckDB's `//`).
    *
    * Scale shape: the oracle's per-OCCURRENCE tok⋈counts join would
    * shuffle the raw token stream on a stopword-skewed key; instead the
    * map-side-combinable (doc, term) tf aggregate runs first, so the
    * vocab join carries one row per doc-distinct term ("the" appears
    * once per doc, not once per occurrence) and Σc rewrites exactly as
    * Σ tf·c. The tf·c product lifts to decimal(38) BEFORE the sum —
    * tf·c can pass 2^63 once a stopword's corpus count does.
    */
  def rarityScores(d: DataFrame): DataFrame = {
    val tf = d.select(col("doc_id"), explode(toks).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val uc = tf.groupBy(col("w")).agg(sum(col("tf")).as("c"))
    val nUni = uc.agg(sum(col("c")).as("n_uni"))
    tf.join(uc, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"),
        sum(col("tf").cast(DecimalType(38, 0)) * col("c")).as("sum_c"))
      .crossJoin(broadcast(nUni))
      .withColumn("mean_freq_ppm", expr(
        "cast(((cast(1000000 as decimal(38,0)) * sum_c))" +
          " div (cast(n_tok as decimal(38,0)) * n_uni) as bigint)"))
      .select(col("doc_id"), col("n_tok"), col("mean_freq_ppm"))
  }

  /** q_lm_score core over any (doc_id, text) frame (round 12, VERDICT-r11
    * #6 — the bigram-LM upgrade of [[rarityScores]]' unigram stand-in for
    * CCNet-style perplexity bucketing): per doc, the mean add-one-smoothed
    * bigram surprisal in integer BITS — surprisal of bigram (a, b) =
    * bit_length((c1(a) + V) div (c2(a, b) + 1)), the q_graph_degree_hist
    * `length(bin(x))` idiom, so the whole statistic is integer-exact in
    * both engines (no float log anywhere; bit-length log2 is monotone in
    * the smoothed odds, which is what perplexity BUCKETING consumes).
    * c1(a) is the context count (occurrences of `a` followed by
    * anything), c2 the bigram count, V the corpus unigram vocabulary —
    * all derived from the data, never pinned.
    *
    * Scale shape (the rarityScores discipline): the per-OCCURRENCE
    * bigram stream collapses to the map-side-combinable (doc, bigram) tf
    * aggregate FIRST, so the count joins carry one row per doc-distinct
    * bigram — never the raw stopword-skewed occurrence stream — and
    * Σ surprisal rewrites exactly as Σ tf·bits; c1 derives from the
    * vocab-sized c2 table (Σ_b c2(a,b)), not a second corpus pass; V is
    * a 1-row broadcast. Everything else is the ×1e6 decimal(38,0) lift
    * before one floor division.
    */
  def lmScores(d: DataFrame): DataFrame = {
    val bg = d.filter(size(toks) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.shingles(col("text"), 2)).as("bg"))
    val tf2 = bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf"))
    val c2 = tf2.groupBy(col("bg")).agg(sum(col("tf")).as("c2"))
    val c1 = c2.withColumn("a", split(col("bg"), " ").getItem(0))
      .groupBy(col("a")).agg(sum(col("c2")).as("c1"))
    val vocab = d.select(explode(toks).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    tf2.join(c2, "bg")
      .withColumn("a", split(col("bg"), " ").getItem(0))
      .join(c1, "a")
      .crossJoin(broadcast(vocab))
      .withColumn("bits",
        length(bin(expr("(c1 + v) div (c2 + 1)"))).cast(LongType))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .withColumn("mean_surprisal_ppm", expr(
        "cast((cast(1000000 as decimal(38,0)) * sum_bits)" +
          " div cast(n_bigrams as decimal(38,0)) as bigint)"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_bits"),
        col("mean_surprisal_ppm"))
  }

  /** q_nb_classify's hashed-feature space: tokens hash to this many
    * buckets via the first two md5 hex digits (the [[bucketCol]] idiom on
    * the WORD instead of the id) — the standard hashing trick, so the
    * model table is (classes × 256) rows at ANY vocabulary size and rides
    * every join as a broadcast. Shared with the oracle SQL.
    */
  private[graft] val nbBuckets: Int = 256

  /** q_nb_classify's planted 3-class corpus: class `c<doc_id % 3>`,
    * marked by 3-5 appended copies of the class's marker token plus one
    * WRONG-class noise marker on 2-in-7 docs (deterministic from doc_id —
    * the q_pii_redact/q_dedup_url plant discipline, same concat in the
    * oracle SQL). The real text rides along as shared-vocabulary noise.
    * Rationale for planting: the corpus's natural `lang` label is
    * measured UNLEARNABLE from text (identical per-language lexicon hit
    * rates across doc langs; the q_lang_id stopword heuristic scores 35%
    * ≈ majority class, a float NB over raw tokens 41%).
    */
  private[graft] def nbPlantedCorpus(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      concat(lit("c"), (col("doc_id") % 3).cast(StringType)).as("cls"),
      concat(col("text"),
        expr("repeat(concat(' mk', cast(doc_id % 3 as string)), " +
          "cast(3 + doc_id % 3 as int))"),
        when(col("doc_id") % 7 < 2,
          concat(lit(" mk"), ((col("doc_id") + 1) % 3).cast(StringType)))
          .otherwise(lit(""))).as("text"))

  /** Trained multi-class Naive Bayes over hashed tokens (round 15,
    * VERDICT-r14 #4 — the missing member of the trained-model family
    * beside q_quality_model's linear scorer and q_lm_score's bigram LM):
    * train on the deterministic md5 80% split (q_sample_hash's buckets),
    * predict the `cls` label of the held-out 20%. Add-one-smoothed
    * multinomial NB scored in integer BIT-LENGTH surprisal
    * (q_lm_score's discipline — bits(c, b) =
    * bit_length((N_c + B) div (cnt(c, b) + 1)), plus a doc-count prior
    * term bit_length((D + C) div (d_c + 1))), so the whole statistic is
    * integer-exact and hash-gates cross-engine; prediction is the
    * (score asc, class asc) lexicographic argmin — Spark closes it with
    * one partial-aggregable min(struct), the oracle with the equivalent
    * rn = 1 window.
    *
    * Scale shape (the rarityScores discipline): the per-occurrence token
    * stream collapses to the map-side-combinable (doc, bucket) tf
    * aggregate FIRST, so the model join carries one row per doc-distinct
    * bucket (≤ 256/doc at ANY doc length) — never the raw stopword-skewed
    * occurrence stream; the complete (class × bucket) smoothed model and
    * the prior table are domain-bounded broadcasts; the final argmin is a
    * 1-shuffle groupBy with C-row groups. No window functions anywhere in
    * the graded plan.
    */
  def nbClassify(d: DataFrame): DataFrame = {
    val sc = nbScores(d)
    // round 16: min(struct(score_bits, c)) routed the test-doc-sized
    // argmin through SortAggregate (the packed-long lesson; a struct
    // buffer with a STRING member is not hash-mutable). The class domain
    // is 'c0'..'c2' by construction ([[nbPlantedCorpus]]) whose
    // lexicographic order IS the digit order, and score_bits ≥ 1 (every
    // term a positive bin-length) — so min(score_bits·4 + digit) over a
    // long ≡ min(struct(score_bits ASC, c ASC)), in codegen
    // HashAggregate. Bounds are guarded loudly (a violation would
    // silently misorder); decode with shiftright/bitmask, never `/`
    // (CLAUDE.md packed-long rule). [[nbClassifyRef]] keeps the
    // min(struct) form as the spec-pinned semantic reference.
    val cIdx = substring(col("c"), 2, 18).cast(LongType)
    val enc = when(col("score_bits") < 1L
          || col("score_bits") >= (1L << 61) || cIdx < 0L || cIdx > 3L,
        raise_error(concat(
          lit("nbClassify: (score_bits, c) outside the packed domain: "),
          col("score_bits").cast(StringType), lit(" "), col("c"))))
      .otherwise(shiftleft(col("score_bits"), 2) + cIdx)
    sc.groupBy(col("doc_id"), col("cls"))
      .agg(min(enc).as("kp"))
      .select(col("doc_id"), col("cls"),
        concat(lit("c"), col("kp").bitwiseAND(lit(3L)).cast(StringType))
          .as("pred_cls"),
        shiftright(col("kp"), 2).as("score_bits"))
      .withColumn("correct", col("pred_cls") === col("cls"))
  }

  /** [[nbClassify]]'s scored frame — (doc_id, cls, c, score_bits) for
    * every (test doc × class): the shared input of the fused finisher
    * and [[nbClassifyRef]].
    */
  private[graft] def nbScores(d: DataFrame): DataFrame = {
    val isTrain = bucketCol(col("doc_id")) % 10 < 8
    val tf = d.select(col("doc_id"), col("cls"), isTrain.as("is_train"),
        explode(toks).as("w"))
      .withColumn("b", bucketCol(col("w")))
      .groupBy(col("doc_id"), col("cls"), col("is_train"), col("b"))
      .agg(count(lit(1)).as("tf"))
    val cnt = tf.filter(col("is_train"))
      .groupBy(col("cls").as("c"), col("b"))
      .agg(sum(col("tf")).as("cnt"))
    val nc = cnt.groupBy(col("c")).agg(sum(col("cnt")).as("n_c"))
    // COMPLETE smoothed (class × bucket) grid: unseen buckets must score
    // their add-one surprisal, not drop out of the join
    val bits = nc
      .select(col("c"), col("n_c"),
        explode(sequence(lit(0L), lit(nbBuckets - 1L))).as("b"))
      .join(cnt, Seq("c", "b"), "left")
      .select(col("c"), col("b"),
        length(bin(expr(s"(n_c + $nbBuckets) div (coalesce(cnt, 0L) + 1)")))
          .cast(LongType).as("bits"))
    val dc = d.filter(isTrain)
      .groupBy(col("cls").as("c")).agg(count(lit(1)).as("d_c"))
    val tot = dc.agg(sum(col("d_c")).as("d_tot"),
      count(lit(1)).as("n_classes"))
    val prior = dc.crossJoin(broadcast(tot))
      .select(col("c"),
        length(bin(expr("(d_tot + n_classes) div (d_c + 1)")))
          .cast(LongType).as("prior_bits"))
    tf.filter(!col("is_train"))
      .join(broadcast(bits), Seq("b"))
      .groupBy(col("doc_id"), col("cls"), col("c"))
      .agg(sum(col("tf") * col("bits")).as("tok_bits"))
      .join(broadcast(prior), Seq("c"))
      .withColumn("score_bits", col("tok_bits") + col("prior_bits"))
  }

  /** The min(struct) reference of [[nbClassify]]'s fused packed-long
    * argmin — semantics twin over the same scored frame; the spec pins
    * exact agreement on the planted corpus.
    */
  private[graft] def nbClassifyRef(sc: DataFrame): DataFrame =
    sc.groupBy(col("doc_id"), col("cls"))
      .agg(min(struct(col("score_bits"), col("c"))).as("m"))
      .select(col("doc_id"), col("cls"), col("m.c").as("pred_cls"),
        col("m.score_bits").as("score_bits"),
        (col("m.c") === col("cls")).as("correct"))

  /** q_cooccur_window's forward context window (positions ahead of the
    * center token that form a pair) — shared with the oracle SQL.
    */
  val cooccurWindow: Int = 3

  /** q_cooccur_window core over any (text) frame: one exploded
    * "center context" pair row per in-window position pair, generated
    * inside the row by a codegen'd nested array transform — no positional
    * self-join, no shuffle. The tokenization is hoisted into its own
    * projection so `split` runs ONCE per row: referencing it by attribute
    * inside the lambdas keeps the pair stage O(n_tok·window), where
    * inlining split at each element_at would be O(n_tok²·window) char
    * work per doc (measured 8.1 s → sub-second at sf0.1). CollapseProject
    * leaves the split un-inlined because the reference is non-cheap and
    * multiply-used. The `size >= 2` guard matters: Spark's
    * sequence(1, 0) would generate a DESCENDING range, not an empty one.
    */
  def cooccurPairs(d: DataFrame, window: Int = cooccurWindow): DataFrame =
    // round 16: the nested transform+flatten lambda ran interpreted per
    // corpus row — the CooccurPairs kernel is the compiled form
    // (byte-slice pairs, identical order); HofReference.cooccurPairsHof
    // is the spec-pinned reference
    d.select(explode(graft.functions.TextExpressions
      .cooccurPairs(col("text"), window)).as("pair"))

  /** Gopher rule-filter thresholds (Rae et al. 2021 table A1, ppm-scaled
    * where the paper uses ratios) — shared with the oracle SQL.
    */
  val gopherMinTok = 30L
  val gopherMaxTok = 100000L
  val gopherMeanLoPpm = 3000000L   // mean word length ≥ 3 chars
  val gopherMeanHiPpm = 10000000L  // … and ≤ 10 chars
  val gopherAlphaMinPpm = 800000L  // ≥80% of tokens purely alphabetic
  val gopherMinStop = 2L           // ≥2 English stopword hits

  /** q_gopher_rules core over any (doc_id, text) frame: integer-exact ppm
    * signals + per-rule booleans + the AND'd keep flag. One narrow
    * projection, no shuffle.
    */
  def gopherRules(d: DataFrame): DataFrame = {
    // round 16: the three token-array signals become codegen byte scans
    // — tokCount/alphaHits kernels plus the exact Σlen identity
    // (every char is a token char or one of the n_tok−1 single-space
    // delimiters, so Σ token length = length(text) − (n_tok − 1),
    // empty-token cases included). HOF references (test scope): HofReference.tokCountHof /
    // sumLenHof / alphaCntHof, spec-pinned on the corpus.
    val nTok = graft.functions.TextExpressions.tokCount(col("text"))
    val sumLen = length(col("text")).cast(LongType) - (nTok - 1L)
    val alphaCnt = graft.functions.TextExpressions.alphaHits(col("text"))
    // two steps so the div operands are named columns in expr scope
    d.select(col("doc_id"), nTok.as("n_tok"), sumLen.as("sum_len"),
      alphaCnt.as("alpha_cnt"), lexCount("en").cast(LongType).as("stop_hits"))
      .select(col("doc_id"), col("n_tok"),
        expr("(1000000 * sum_len) div n_tok").as("mean_len_ppm"),
        expr("(1000000 * alpha_cnt) div n_tok").as("alpha_ppm"),
        col("stop_hits"))
      .withColumn("r_len",
        col("n_tok").between(gopherMinTok, gopherMaxTok))
      .withColumn("r_mean",
        col("mean_len_ppm").between(gopherMeanLoPpm, gopherMeanHiPpm))
      .withColumn("r_alpha", col("alpha_ppm") >= gopherAlphaMinPpm)
      .withColumn("r_stop", col("stop_hits") >= gopherMinStop)
      .withColumn("keep",
        col("r_len") && col("r_mean") && col("r_alpha") && col("r_stop"))
  }

  /** Trained-model quality scorer (round 11, VERDICT r10 #5): a linear
    * model over integer corpus signals, scored in-plan — the learned
    * companion to the heuristic [[qualityPpmCol]] blend. Weights are a
    * deterministic "trained" literal table (in production they'd come
    * from a logistic fit against human labels; the PLAN is identical —
    * weights are data, not code). All four features are ppm-scaled
    * integers in [0, 1e6] and weights sum to 1000, so
    * score = Σwᵢxᵢ div 1000 is an exact integer in [0, 1e6] on both
    * engines.
    */
  private[graft] val qualityModelWeights: Seq[(Int, Long)] =
    Seq(0 -> 150L, 1 -> 350L, 2 -> 400L, 3 -> 100L)
  private[graft] val qualityModelMinPpm = 450000L

  /** The model's feature projection over any (doc_id, text) frame: one
    * narrow codegen'd pass, no shuffle, stream-safe — shared VERBATIM by
    * q_quality_model, the streaming twin (s_quality_model), and the
    * monotonicity spec, so the three can never drift. Features:
    * saturated token count, alphabetic-token share, stopword share, and
    * mean-word-length centrality (peak at 5 chars — gibberish and
    * minified blobs sit far from it).
    */
  private[graft] def qualityModelFeatures(d: DataFrame): DataFrame = {
    // round 16: same kernel/identity trio as gopherRules (spec-pinned)
    val nTok = graft.functions.TextExpressions.tokCount(col("text"))
    val sumLen = length(col("text")).cast(LongType) - (nTok - 1L)
    val alphaCnt = graft.functions.TextExpressions.alphaHits(col("text"))
    d.withColumn("n_tok", nTok).withColumn("sum_len", sumLen)
      .withColumn("alpha_cnt", alphaCnt)
      .withColumn("stop_hits", lexCount("en").cast(LongType))
      .withColumn("f_len_ppm", least(col("n_tok"), lit(100L)) * 10000L)
      .withColumn("f_alpha_ppm", expr("(1000000 * alpha_cnt) div n_tok"))
      .withColumn("f_stop_ppm", expr("(1000000 * stop_hits) div n_tok"))
      .withColumn("f_meanlen_ppm",
        lit(1000000L) - least(
          expr("abs((1000000 * sum_len) div n_tok - 5000000) div 5"),
          lit(1000000L)))
      .drop("n_tok", "sum_len", "alpha_cnt", "stop_hits")
  }

  /** In-row fold of the SAME weight literals over the feature columns —
    * the stateless scoring the streaming twin uses (codegen dot product,
    * zero shuffle). The batch operator scores through the long-format
    * broadcast weights TABLE instead (the shape a sparse/hashed
    * high-dimensional model needs at 100 TB); LlmSpec pins the two
    * paths equal on the corpus.
    */
  private[graft] def qualityModelScoreCol: Column = {
    val fs = Seq("f_len_ppm", "f_alpha_ppm", "f_stop_ppm", "f_meanlen_ppm")
    expr(s"(${qualityModelWeights.map { case (i, w) => s"$w * ${fs(i)}" }
      .mkString(" + ")}) div 1000")
  }

  // round 16: the filter(split, isin) HOF ran an interpreted per-token
  // predicate on every stopword/density corpus path — the LexHits byte
  // scan is the codegen form; HofReference.lexCountHof is the spec-pinned
  // semantic reference (TextStatsSpec pins bit-identity on the corpus)
  private[llm] def lexCount(lang: String): Column =
    graft.functions.TextExpressions.lexHits(col("text"), lexicons(lang))
      .cast(DoubleType)
  private[llm] def oLexCount(lang: String): String = {
    val in = lexicons(lang).map(w => s"'$w'").mkString(", ")
    s"cast(len(list_filter(string_split(text, ' '), x -> x IN ($in))) as double)"
  }

  /** Shared by q_lang_id / q_langid_confusion: the per-doc density
    * projection (s_de..s_zh) and the stopword-density argmax with a
    * stable alphabetical tie-break; all-zero densities → 'und'.
    */
  private def densityBase(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"), col("lang"),
      size(toks).cast(DoubleType).as("n_tok"),
      lexCount("de").as("s_de"), lexCount("en").as("s_en"),
      lexCount("es").as("s_es"), lexCount("fr").as("s_fr"),
      lexCount("zh").as("s_zh"))
  private val oDensitySub: String =
    s"""SELECT doc_id, lang,
       |    cast(len(string_split(text, ' ')) as double) AS n_tok,
       |    ${oLexCount("de")} AS s_de, ${oLexCount("en")} AS s_en,
       |    ${oLexCount("es")} AS s_es, ${oLexCount("fr")} AS s_fr,
       |    ${oLexCount("zh")} AS s_zh
       |  FROM documents""".stripMargin
  private val predLangCol: Column = {
    val allZero = col("s_de") === 0 && col("s_en") === 0 && col("s_es") === 0 &&
      col("s_fr") === 0 && col("s_zh") === 0
    when(allZero, "und")
      .when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") &&
        col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
      .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
        col("s_en") >= col("s_zh"), "en")
      .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
      .when(col("s_fr") >= col("s_zh"), "fr")
      .otherwise("zh")
  }
  private val oPredLangCase: String =
    """CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_zh = 0 THEN 'und'
      |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |       WHEN s_fr >= s_zh THEN 'fr'
      |       ELSE 'zh' END""".stripMargin

  val queries: Map[String, Q] = Map(

    // Deterministic hash-based train/test split — the reproducible
    // sampling a training pipeline uses instead of rng (seeded rng is
    // engine-specific; md5 is not). Bucket = first md5 byte of the doc id,
    // 80/20 by bucket mod 10. Embarrassingly parallel, zero shuffles
    // before the ordered output.
    "q_sample_hash" -> Q(
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket % 10 < 8 THEN 'train' ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${oBucket("doc_id")} AS bucket
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), bucketCol(col("doc_id")).as("bucket"))
        .withColumn("split",
          when(col("bucket") % 10 < 8, "train").otherwise("test"))
        .orderBy(col("doc_id"))
    },

    // Repetition-based quality signals (the Gopher/C4-style filters that
    // catch boilerplate and degenerate generations): per-doc duplicate-
    // token fraction and top-bigram concentration, ppm-quantized
    // (floor(x*1e6) — round() half-behavior differs between engines; the
    // inputs to the division are exact integers so the IEEE division +
    // floor agree bitwise). A doc is flagged repetitive past the
    // published-ish thresholds (30% duplicate tokens / 20% top bigram).
    // Shape: one narrow pass for token stats + one (doc, bigram) groupBy
    // — the bigram table is corpus-linear, partial-aggregated map-side.
    "q_rep_ngram" -> Q(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (SELECT doc_id, len(t) AS n_tokens,
        |           len(list_distinct(t)) AS n_distinct FROM toks),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(t)),
        |                i -> t[i] || ' ' || t[i+1])) AS b
        |       FROM toks WHERE len(t) >= 2),
        |bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b),
        |bgm AS (SELECT doc_id, max(c) AS topc, sum(c) AS totb
        |        FROM bgc GROUP BY doc_id)
        |SELECT base.doc_id, cast(n_tokens as bigint) AS n_tokens,
        |  cast(floor((n_tokens - n_distinct) * 1000000.0 / n_tokens) as bigint)
        |    AS dup_token_ppm,
        |  cast(floor(topc * 1000000.0 / totb) as bigint) AS top_bigram_ppm,
        |  (floor((n_tokens - n_distinct) * 1000000.0 / n_tokens) >= 300000
        |   OR floor(topc * 1000000.0 / totb) >= 200000) AS is_repetitive
        |FROM base JOIN bgm ON base.doc_id = bgm.doc_id
        |ORDER BY base.doc_id""".stripMargin) { (s, dir) =>
      val toks = split(col("text"), " ")
      val base = docs(s, dir).select(col("doc_id"),
        size(toks).cast(LongType).as("n_tokens"),
        size(array_distinct(toks)).cast(LongType).as("n_distinct"))
      val bgm = docs(s, dir)
        .filter(size(toks) >= 2)
        .select(col("doc_id"),
          explode(graft.functions.TextExpressions.shingles(col("text"), 2)).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("topc"),
          sum(col("c")).as("totb"))
      val dupPpm = floor((col("n_tokens") - col("n_distinct")) * 1000000.0
        / col("n_tokens"))
      val topPpm = floor(col("topc") * 1000000.0 / col("totb"))
      base.join(bgm, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          dupPpm.cast(LongType).as("dup_token_ppm"),
          topPpm.cast(LongType).as("top_bigram_ppm"),
          (dupPpm >= 300000 || topPpm >= 200000).as("is_repetitive"))
        .orderBy(col("doc_id"))
    },

    // Sliding-window chunking (round 7): the RAG/embedding prep step —
    // fixed 128-token chunks at stride 96 (32-token overlap), one row
    // per (doc, chunk) with offsets AND the md5 of the extracted token
    // slice, so the gate pins the actual text extraction, not just
    // offset arithmetic (both engines md5 the single-space re-join of
    // the identical 1-based slice). Differs from q_pack_chunks (which
    // packs docs into a fixed token budget); this one windows WITHIN a
    // doc. Scale shape: one narrow per-doc explode (sequence of starts,
    // ~n/stride rows), zero shuffles before the ordered output; the
    // tail chunk is the natural short remainder, emitted as-is.
    "q_chunk_slide" -> Q(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t,
        |             len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, t, n, unnest(range(0, n, 96)) AS start_tok
        |      FROM t WHERE n >= 1)
        |SELECT doc_id, cast(start_tok // 96 as bigint) AS chunk_id,
        |  cast(start_tok as bigint) AS start_tok,
        |  cast(least(128, n - start_tok) as bigint) AS n_chunk_tok,
        |  md5(array_to_string(
        |    t[start_tok + 1 : start_tok + least(128, n - start_tok)], ' '))
        |    AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), toks.as("t"), size(toks).cast(LongType).as("n"))
        .filter(col("n") >= 1)
        .withColumn("start_tok",
          explode(sequence(lit(0L), col("n") - 1L, lit(96L))))
        .withColumn("n_chunk_tok", least(lit(128L), col("n") - col("start_tok")))
        .select(col("doc_id"),
          (col("start_tok") / 96L).cast(LongType).as("chunk_id"),
          col("start_tok"),
          col("n_chunk_tok"),
          md5(array_join(
            slice(col("t"), (col("start_tok") + 1L).cast(IntegerType),
              col("n_chunk_tok").cast(IntegerType)), " ").cast(BinaryType))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // Out-of-vocabulary rate vs the corpus top-1000 vocab (round 7): the
    // token-coverage curation metric behind vocab pruning / tokenizer
    // fit — docs whose tokens fall mostly outside the frequency-ranked
    // vocab are noise or wrong-language. Scale shape: the vocab is
    // TakeOrdered (bounded 1000 rows, tie-broken by token) and broadcast
    // into a map-side anti join; per-doc counts are corpus-linear
    // map-side-combined aggs; ppm = floor of an exact-integer IEEE
    // division (the q_rep_ngram precedent — no round(), no raw float
    // sums).
    "q_oov_rate" -> Q(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |v AS (SELECT token FROM (
        |        SELECT token, count(*) AS c FROM tok GROUP BY token
        |        ORDER BY c DESC, token LIMIT 1000)),
        |base AS (SELECT doc_id, cast(count(*) as bigint) AS n_tok
        |         FROM tok GROUP BY doc_id),
        |o AS (SELECT doc_id, cast(count(*) as bigint) AS n_oov FROM tok
        |      WHERE token NOT IN (SELECT token FROM v) GROUP BY doc_id)
        |SELECT b.doc_id, n_tok, coalesce(n_oov, 0) AS n_oov,
        |  cast(floor(coalesce(n_oov, 0) * 1000000.0 / n_tok) as bigint)
        |    AS oov_ppm
        |FROM base b LEFT JOIN o USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      val tok = docs(s, dir).select(col("doc_id"), explode(toks).as("token"))
      val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("token"))
        .limit(1000)
        .select(col("token"))
      val base = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      val oov = tok.join(broadcast(vocab), Seq("token"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_oov"))
      base.join(oov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          floor(coalesce(col("n_oov"), lit(0L)) * 1000000.0 / col("n_tok"))
            .cast(LongType).as("oov_ppm"))
        .orderBy(col("doc_id"))
    },

    // Phrase mining via PMI (round 7, the word2vec-phrases shape,
    // Mikolov et al. 2013 §4): corpus bigram count vs the product of its
    // words' unigram counts — high ratio = collocation ("new york"),
    // ratio ~1 = chance co-occurrence. Entirely integer-exact: the ratio
    // is (1e6 * c_xy * n_uni) div (c_x * c_y) with the product lifted to
    // decimal(38) (HUGEINT oracle-side) so it cannot overflow bigint at
    // corpus scale; no float log anywhere (ln-PMI's last ulp is not
    // engine-portable, and log is monotone so the ranking is identical).
    // Scale shape: unigram + bigram counts are corpus-linear map-side
    // combined aggs; the min-count 5 filter bounds the scored table; the
    // two word-count joins are vocab-sized equi-joins; the final top-20
    // is TakeOrdered, never a global window.
    "q_phrase_pmi" -> Q(
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM t),
        |uc AS (SELECT w, cast(count(*) as bigint) AS c FROM uni GROUP BY w),
        |n AS (SELECT cast(count(*) as bigint) AS n_uni FROM uni),
        |bg AS (SELECT unnest(list_transform(range(1, len(t)),
        |                i -> t[i] || ' ' || t[i+1])) AS b
        |       FROM t WHERE len(t) >= 2),
        |bc AS (SELECT b, cast(count(*) as bigint) AS c_xy FROM bg
        |       GROUP BY b HAVING count(*) >= 5),
        |sc AS (SELECT b AS bigram, c_xy, u1.c AS c_x, u2.c AS c_y,
        |         cast((cast(1000000 as hugeint) * c_xy * n_uni)
        |              // (cast(u1.c as hugeint) * u2.c) as bigint) AS pmi_ratio_ppm
        |       FROM bc
        |       JOIN uc u1 ON u1.w = string_split(b, ' ')[1]
        |       JOIN uc u2 ON u2.w = string_split(b, ' ')[2], n)
        |SELECT bigram, c_xy, c_x, c_y, pmi_ratio_ppm FROM sc
        |ORDER BY pmi_ratio_ppm DESC, bigram LIMIT 20""".stripMargin) { (s, dir) =>
      val tok = docs(s, dir).select(explode(toks).as("w"))
      val uc = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nUni = tok.agg(count(lit(1)).as("n_uni"))
      docs(s, dir).filter(size(toks) >= 2)
        .select(explode(
          graft.functions.TextExpressions.shingles(col("text"), 2)).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
        .withColumn("w1", split(col("b"), " ").getItem(0))
        .withColumn("w2", split(col("b"), " ").getItem(1))
        .join(uc.select(col("w").as("w1"), col("c").as("c_x")), "w1")
        .join(uc.select(col("w").as("w2"), col("c").as("c_y")), "w2")
        .crossJoin(broadcast(nUni))
        .withColumn("pmi_ratio_ppm", expr(
          // denominator lifted to decimal too: bigint c_x*c_y would
          // overflow (ANSI: throw) once both words pass ~3e9 occurrences
          "cast(((cast(1000000 as decimal(38,0)) * c_xy) * n_uni)" +
            " div (cast(c_x as decimal(38,0)) * c_y) as bigint)"))
        .select(col("b").as("bigram"), col("c_xy"), col("c_x"), col("c_y"),
          col("pmi_ratio_ppm"))
        .orderBy(col("pmi_ratio_ppm").desc, col("bigram"))
        .limit(20)
    },

    // DSIR-style importance weights (round 11; Xie et al. NeurIPS'23
    // "Data Selection for LMs via Importance Resampling", public paper):
    // score every raw document by how target-like its hashed n-gram
    // profile is, for importance resampling toward a target domain
    // (here lang='en' stands in for the quality target; the library
    // callable takes any target predicate). Features are unigram AND
    // bigram OCCURRENCES hashed into 1024 buckets (md5-derived, the
    // engine-portable instr-nibble mapping of q_sim_ann); per bucket an
    // add-1-smoothed target/reference likelihood RATIO in floor ppm
    // (linear space, not log — exact integer arithmetic both engines;
    // same monotone ranking intent); per doc the occurrence-weighted
    // mean ratio. Scale shape: two corpus-linear codegen'd explodes, a
    // 1024-row ratio dim built map-side-combinably and broadcast back,
    // one doc-sized agg — nothing quadratic, nothing driver-side. All
    // arithmetic decimal(38,0)/hugeint per the floor-division rule.
    "q_dsir_weights" -> Q(
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, lang, g FROM (
        |  SELECT doc_id, lang, unnest(t) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, lang, unnest(list_transform(range(1, len(t)),
        |    i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM t WHERE len(t) >= 2)),
        |f AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |    ((instr('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 4096
        |   + (instr('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(g), 4, 1)) - 1)) % 1024 AS b
        |  FROM g),
        |rc AS (SELECT b, cast(count(*) as bigint) AS c_ref FROM f GROUP BY b),
        |tc AS (SELECT b, cast(count(*) as bigint) AS c_tgt FROM f
        |       WHERE lang = 'en' GROUP BY b),
        |tot AS (SELECT cast(sum(c_ref) as bigint) AS n_ref,
        |  (SELECT cast(coalesce(sum(c_tgt), 0) as bigint) FROM tc) AS n_tgt
        |  FROM rc),
        |r AS MATERIALIZED (
        |  SELECT rc.b,
        |    cast(((coalesce(tc.c_tgt, 0) + 1) * cast(1000000 as hugeint)
        |          * (tot.n_ref + 1024))
        |      // ((rc.c_ref + 1) * cast(tot.n_tgt + 1024 as hugeint)) as bigint)
        |      AS ratio_ppm
        |  FROM rc LEFT JOIN tc USING (b), tot)
        |SELECT f.doc_id, f.lang = 'en' AS is_target,
        |  cast(count(*) as bigint) AS n_feats,
        |  cast(sum(r.ratio_ppm) // count(*) as bigint) AS weight_ppm
        |FROM f JOIN r USING (b)
        |GROUP BY f.doc_id, f.lang
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val feat = dsirFeatures(d)
      // per-doc sum in decimal(38,0) (oracle: hugeint): a pathologically
      // rare target (ratio → 1e6·N_ref/N_tgt) times doc feature count
      // could pass 2^63 on a 100 TB reference corpus; the MEAN stays
      // bigint-sized
      feat.join(broadcast(dsirRatioTable(d)), Seq("b"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_feats"),
          expr("cast(sum(cast(ratio_ppm as decimal(38,0))) div count(1) as bigint)")
            .as("weight_ppm"))
        .select(col("doc_id"), (col("lang") === "en").as("is_target"),
          col("n_feats"), col("weight_ppm"))
        .orderBy(col("doc_id"))
    },

    // Dataset card (round 11): the one-row-per-source summary a corpus
    // EXPORT ships beside the parquet — docs, token volume, mean
    // heuristic quality, how many docs are corpus-wide exact duplicates
    // (the fingerprint definition of q_fingerprint, shared verbatim),
    // the majority language (min-lang tiebreak, the q_cluster_purity
    // discipline) and language spread. Every component formula is an
    // already-mirrored kernel, composed into the governance artifact a
    // 100 TB lake publishes per source. Scale shape: two corpus-linear
    // projections (quality, fingerprint), one fingerprint-sized dup agg
    // joined back semi, source- and (source, lang)-sized aggregates —
    // output is sources-sized.
    "q_data_card" -> Q(
      s"""WITH q AS (SELECT doc_id, source, lang,
        |    cast(n_tok as bigint) AS n_tokens, $oQualityPpm AS quality_ppm,
        |    $oFingerprint AS fp
        |  FROM (SELECT doc_id, source, lang, text, n_chars,
        |          cast(len(string_split(text, ' ')) as double) AS n_tok,
        |          ${oLexCount("en")} AS n_stop
        |        FROM documents)),
        |dk AS (SELECT fp FROM q GROUP BY fp HAVING count(*) >= 2),
        |dup AS (SELECT source, cast(count(*) as bigint) AS n_exact_dup
        |        FROM q JOIN dk USING (fp) GROUP BY source),
        |lc AS (SELECT source, lang, cast(count(*) as bigint) AS c
        |       FROM q GROUP BY source, lang),
        |mx AS (SELECT source, max(c) AS mc FROM lc GROUP BY source),
        |top AS (SELECT lc.source, min(lc.lang) AS top_lang
        |        FROM lc JOIN mx ON lc.source = mx.source AND lc.c = mx.mc
        |        GROUP BY lc.source),
        |base AS (SELECT source, cast(count(*) as bigint) AS n_docs,
        |           cast(sum(n_tokens) as bigint) AS n_tokens,
        |           cast(sum(quality_ppm) // count(*) as bigint)
        |             AS mean_quality_ppm,
        |           cast(count(DISTINCT lang) as bigint) AS n_langs
        |         FROM q GROUP BY source)
        |SELECT b.source, b.n_docs, b.n_tokens, b.mean_quality_ppm,
        |  cast(coalesce(d.n_exact_dup, 0) as bigint) AS n_exact_dup,
        |  t.top_lang, b.n_langs
        |FROM base b LEFT JOIN dup d USING (source)
        |JOIN top t ON t.source = b.source
        |ORDER BY b.source""".stripMargin) { (s, dir) =>
      val q = withQualityPpm(docs(s, dir))
        .select(col("doc_id"), col("source"), col("lang"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
          col("quality_ppm"), fingerprintCol.as("fp"))
      val dk = q.groupBy(col("fp")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("fp"))
      val dup = q.join(dk, Seq("fp"), "left_semi")
        .groupBy(col("source")).agg(count(lit(1)).as("n_exact_dup"))
      val lc = q.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val mx = lc.groupBy(col("source")).agg(max(col("c")).as("mc"))
      val top = lc.join(mx, Seq("source"))
        .filter(col("c") === col("mc"))
        .groupBy(col("source")).agg(min(col("lang")).as("top_lang"))
      val base = q.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("cast(sum(quality_ppm) div count(1) as bigint)")
          .as("mean_quality_ppm"),
        countDistinct(col("lang")).as("n_langs"))
      base
        .join(dup, Seq("source"), "left")
        .join(top, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("mean_quality_ppm"),
          coalesce(col("n_exact_dup"), lit(0L)).as("n_exact_dup"),
          col("top_lang"), col("n_langs"))
        .orderBy(col("source"))
    },

    // Text canonicalization (round 7) — the normalize stage every
    // pipeline runs before dedup (C4 strips punctuation before its
    // three-sentence dedup; fastText lowercases before language ID):
    // lowercase → non-alphanumerics to spaces → collapse runs → trim,
    // then detect documents that become byte-identical only AFTER
    // normalization (q_fingerprint collapses whitespace alone; this
    // catches "Hello, World!" ≡ "hello world"). The character classes
    // [^a-z0-9 ] and " +" mean the same thing in Java regex and RE2, so
    // both engines normalize identically. Scale shape: the normalize
    // chain is a narrow codegen'd projection; the dup-group count is one
    // hash shuffle on the 32-char digest (count over a hash-partitioned
    // window, never a sort); ordered output only at the gate's ORDER BY.
    "q_normalize" -> Q(
      """WITH n AS (SELECT doc_id, n_chars,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, cast(n_chars as bigint) AS n_chars_raw,
        |  cast(length(norm) as bigint) AS n_chars_norm,
        |  md5(norm) AS norm_md5,
        |  cast(count(*) OVER (PARTITION BY md5(norm)) as bigint) AS n_norm_dup
        |FROM n ORDER BY doc_id""".stripMargin) { (s, dir) =>
      normalizedDups(docs(s, dir)).orderBy(col("doc_id"))
    },

    // Cross-source contamination audit (round 7 continuation) — for every
    // pair of sources, how many distinct word-5-grams they share, with a
    // containment coefficient (shared / smaller side's gram vocabulary)
    // in floor ppm. The provenance question behind train/eval splits and
    // license audits ("does crawl-B republish crawl-A's content?") at the
    // n-gram granularity the GPT-3 appendix-C contamination check uses —
    // whole-document fingerprints miss partial quoting, and at sf0.01 the
    // corpus has zero identical documents but a measurable shared-gram
    // tail, so the gate checks real values, not empty≡empty. Scale shape:
    // the corpus collapses to distinct (source, gram) FIRST (one hash
    // shuffle off the codegen'd Shingles explode), so the self-join runs
    // on the source-level gram vocabulary and each gram fans out at most
    // C(n_sources, 2) pairs — never doc×doc; per-source vocabulary sizes
    // are a sources-sized dim broadcast back. All counts integer-exact;
    // ppm is one bigint floor division.
    "q_cross_source_overlap" -> Q(
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
        |d AS (
        |  SELECT DISTINCT source,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
        |  FROM (SELECT source, t, unnest(range(1, len(t) - 3)) AS i FROM toks)),
        |c AS (SELECT source, cast(count(*) as bigint) AS n FROM d GROUP BY source)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  min(ca.n) AS n_a, min(cb.n) AS n_b,
        |  cast(count(*) as bigint) AS n_shared,
        |  cast(count(*) * 1000000 // least(min(ca.n), min(cb.n)) as bigint)
        |    AS containment_ppm
        |FROM d a JOIN d b ON a.g = b.g AND a.source < b.source
        |  JOIN c ca ON ca.source = a.source
        |  JOIN c cb ON cb.source = b.source
        |GROUP BY a.source, b.source ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
      // Round 16 (guide §2.4, VERDICT-r15 #3): source-BITMASK form. The
      // old shape ran distinct(source, gram) then a gram self-join — two
      // corpus-vocabulary shuffles plus a per-gram C(sources,2) fan-out.
      // Sources are a bounded domain (20 here), so fold the corpus ONCE:
      // bit_or(1 << bit(source)) per gram needs NO distinct (bit_or is
      // idempotent over duplicate (source, gram) rows — the distinct IS
      // the idempotence), and the vocabulary collapses to a mask
      // HISTOGRAM (≤ 2^sources rows, tiny after map-side partial agg).
      // Every pair statistic is a sum over that histogram: n_shared(a,b)
      // = Σ cnt over masks with both bits, n_a = Σ cnt over masks with
      // bit a — expanded by two crossJoin(broadcast(bit-table)) steps
      // (the one legal BNLJ shape), bounded by |hist| × sources², all
      // map-side. ONE corpus-sized shuffle total (the gram agg) vs three.
      // Same rows: a pair appears iff some gram has both bits ⇔ the old
      // inner self-join produced it; counts are the same integers.
      import s.implicits._
      val srcs = docs(s, dir).select(col("source")).distinct()
        .collect().map(_.getString(0)).sorted
      require(srcs.length <= 62,
        s"source-bitmask overlap packs sources into one long: " +
          s"${srcs.length} sources > 62 (shard the source domain or use " +
          "the pre-r16 self-join form)")
      val bitOf = map(srcs.zipWithIndex.flatMap { case (src, i) =>
        Seq(lit(src), lit(i)) }.toSeq: _*)
      val hist = docs(s, dir)
        .select(col("source"),
          explode(graft.functions.TextExpressions.shingles(col("text"), 5)).as("g"))
        .select(col("g"),
          call_function("shiftleft", lit(1L),
            element_at(bitOf, col("source"))).as("m"))
        .groupBy(col("g"))
        .agg(expr("bit_or(m)").as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
      val bits = srcs.zipWithIndex.toSeq.toDF("source", "bit")
      val aBits = bits.toDF("source_a", "bit_a")
      val bBits = bits.toDF("source_b", "bit_b")
      val totals = hist.crossJoin(broadcast(aBits))
        .filter(expr("((mask >> bit_a) & 1) = 1"))
        .groupBy(col("source_a")).agg(sum(col("cnt")).as("n"))
      hist.crossJoin(broadcast(aBits)).crossJoin(broadcast(bBits))
        .filter(col("source_a") < col("source_b")
          && expr("((mask >> bit_a) & 1) = 1")
          && expr("((mask >> bit_b) & 1) = 1"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(sum(col("cnt")).as("n_shared"))
        .join(broadcast(totals.toDF("source_a", "n_a")), "source_a")
        .join(broadcast(totals.toDF("source_b", "n_b")), "source_b")
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          col("n_shared"),
          expr("(n_shared * 1000000L) div least(n_a, n_b)")
            .as("containment_ppm"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Per-document n-gram novelty (round 7 continuation) — the fraction
    // of a doc's distinct word-3-grams whose FIRST corpus occurrence (min
    // doc_id) is this doc: the marginal-contribution signal an
    // incremental crawl uses to decide whether a newly fetched page adds
    // anything (near-1 = fresh content, near-0 = reshuffled boilerplate).
    // Scale shape: distinct (doc, gram) is one shuffle; first-occurrence
    // is a vocab-sized min agg keyed on the gram (map-side combinable,
    // AQE splits hot grams); the join back reuses the gram partitioning
    // and the per-doc count agg is map-side combinable. Nothing
    // quadratic, no window. Counts are bigints; the ppm is one floor
    // division — integer-exact in both engines. Docs shorter than 3
    // tokens have no grams and are consistently absent on both sides.
    "q_ngram_novelty" -> Q(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks)),
        |first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
        |SELECT doc_id, cast(count(*) as bigint) AS n_grams,
        |  cast(count(CASE WHEN first_doc = doc_id THEN 1 END) as bigint) AS n_novel,
        |  cast(count(CASE WHEN first_doc = doc_id THEN 1 END) * 1000000
        |       // count(*) as bigint) AS novel_ppm
        |FROM grams JOIN first USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val grams = docs(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextExpressions.shingles(col("text"), 3)).as("g"))
        .distinct()
      val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
        .withColumn("novel_ppm", expr("(n_novel * 1000000L) div n_grams"))
        .orderBy(col("doc_id"))
    },

    // Unigram-LM rarity score (round 7) — the model-free stand-in for
    // perplexity filtering (CCNet buckets documents by LM score; the
    // unigram version needs no trained model, just the corpus itself):
    // score = mean corpus frequency of the document's tokens, in ppm of
    // the corpus token count. Low score = mostly rare tokens (noise,
    // wrong language, mojibake); high = stopword soup. Fully integer-
    // exact — per-token counts are bigints, the scaled mean lifts to
    // decimal(38)/HUGEINT before one floor division (no float log:
    // ln-perplexity's last ulp is not engine-portable, and the unigram
    // mean ranks the same tail). Scale shape: token counts are corpus-
    // linear map-side-combined aggs; the tok→count join is a vocab-sized
    // equi-join (broadcastable while the vocab fits, shuffle hash join
    // beyond); the 1-row corpus total is a broadcast cross join.
    "q_rarity_score" -> Q(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |uc AS (SELECT w, cast(count(*) as bigint) AS c FROM tok GROUP BY w),
        |n AS (SELECT cast(count(*) as bigint) AS n_uni FROM tok),
        |d AS (SELECT doc_id, cast(count(*) as bigint) AS n_tok,
        |        cast(sum(c) as bigint) AS sum_c
        |      FROM tok JOIN uc USING (w) GROUP BY doc_id)
        |SELECT doc_id, n_tok,
        |  cast((cast(1000000 as hugeint) * sum_c)
        |       // (cast(n_tok as hugeint) * n_uni) as bigint) AS mean_freq_ppm
        |FROM d, n ORDER BY doc_id""".stripMargin) { (s, dir) =>
      rarityScores(docs(s, dir)).orderBy(col("doc_id"))
    },

    // Bigram-LM surprisal score (round 12): the add-one-smoothed bigram
    // language-model upgrade of q_rarity_score's unigram frequency — the
    // model-free analog of CCNet's perplexity bucketing (Wenzek et al.
    // LREC'20), scored in integer bit-length surprisal so the statistic
    // is hash-exact cross-engine (see [[lmScores]] for the full integer
    // discipline and the scale shape; docs with < 2 tokens have no
    // bigram model and are excluded by both engines identically).
    "q_lm_score" -> Q(
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bgr AS MATERIALIZED (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS bg, t[i] AS a
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM tk
        |        WHERE len(t) >= 2)),
        |tf2 AS (SELECT doc_id, bg, a, cast(count(*) as bigint) AS tf
        |        FROM bgr GROUP BY doc_id, bg, a),
        |c2 AS (SELECT bg, cast(count(*) as bigint) AS c2 FROM bgr GROUP BY bg),
        |c1 AS (SELECT a, cast(count(*) as bigint) AS c1 FROM bgr GROUP BY a),
        |v AS (SELECT cast(count(DISTINCT w) as bigint) AS v
        |      FROM (SELECT unnest(t) AS w FROM tk)),
        |sc AS (SELECT tf2.doc_id,
        |         cast(sum(tf2.tf) as bigint) AS n_bigrams,
        |         cast(sum(tf2.tf * cast(length(bin((c1.c1 + v.v) // (c2.c2 + 1)))
        |                                as bigint)) as bigint) AS sum_bits
        |       FROM tf2 JOIN c2 USING (bg) JOIN c1 USING (a) CROSS JOIN v
        |       GROUP BY tf2.doc_id)
        |SELECT doc_id, n_bigrams, sum_bits,
        |  cast((cast(1000000 as hugeint) * sum_bits) // n_bigrams as bigint)
        |    AS mean_surprisal_ppm
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      lmScores(docs(s, dir)).orderBy(col("doc_id"))
    },

    // Trained Naive-Bayes classifier (round 15, VERDICT-r14 #4): train
    // and apply in one pipeline — add-one multinomial NB over 256-bucket
    // hashed tokens, md5-deterministic 80/20 split, scored in integer
    // bit-length surprisal so every per-doc class score (and the argmin
    // prediction with its class-name tiebreak) hash-gates cross-engine.
    // Classes are PLANTED 3-way from doc_id (the q_pii_pan/q_dedup_url
    // discipline — same deterministic concat in the oracle): 3-5 copies
    // of the class's marker token appended to the real text, plus ONE
    // wrong-class noise marker on 2-in-7 docs, so the model must learn
    // the marker-class association from training data strong enough to
    // outvote the noise. The natural `lang` label is deliberately NOT
    // the target: measured round 15, this corpus's text carries ZERO
    // label signal (per-language lexicon hit rates are identical across
    // doc langs — even the q_lang_id stopword heuristic scores 35%
    // ≈ majority class, and a float NB over raw tokens 41%): a trained
    // predictor graded on an unlearnable label would pin nothing. The
    // oracle restates the identical integer model; LlmSpec holds the
    // semantic pins (argmax agreement with a float-log-prob NB on the
    // same counts + accuracy floor on the planted labels). See
    // [[nbClassify]] for the scale shape.
    "q_nb_classify" -> Q(
      s"""WITH tk AS (SELECT doc_id,
        |        'c' || cast(doc_id % 3 as varchar) AS cls,
        |        (${oBucket("doc_id")}) % 10 < 8 AS is_train,
        |        string_split(text
        |          || repeat(' mk' || cast(doc_id % 3 as varchar),
        |               cast(3 + doc_id % 3 as int))
        |          || CASE WHEN doc_id % 7 < 2
        |               THEN ' mk' || cast((doc_id + 1) % 3 as varchar)
        |               ELSE '' END, ' ') AS t FROM documents),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, cls, is_train,
        |    (instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(md5(w), 2, 1)) - 1) AS b,
        |    cast(count(*) as bigint) AS tf
        |  FROM (SELECT doc_id, cls, is_train, unnest(t) AS w FROM tk)
        |  GROUP BY doc_id, cls, is_train, 4),
        |cnt AS (SELECT cls AS c, b, cast(sum(tf) as bigint) AS cnt
        |        FROM tf WHERE is_train GROUP BY cls, b),
        |nc AS (SELECT c, cast(sum(cnt) as bigint) AS n_c FROM cnt GROUP BY c),
        |bits AS (
        |  SELECT nc.c, gb.b,
        |    cast(length(bin((nc.n_c + $nbBuckets)
        |      // (coalesce(cnt.cnt, 0) + 1))) as bigint) AS bits
        |  FROM nc CROSS JOIN (SELECT unnest(range(0, $nbBuckets)) AS b) gb
        |  LEFT JOIN cnt ON cnt.c = nc.c AND cnt.b = gb.b),
        |dc AS (SELECT cls AS c, cast(count(*) as bigint) AS d_c
        |       FROM tk WHERE is_train GROUP BY cls),
        |tot AS (SELECT cast(sum(d_c) as bigint) AS d_tot,
        |          cast(count(*) as bigint) AS n_classes FROM dc),
        |prior AS (SELECT c,
        |    cast(length(bin((tot.d_tot + tot.n_classes) // (d_c + 1)))
        |      as bigint) AS prior_bits
        |  FROM dc CROSS JOIN tot),
        |sc AS (
        |  SELECT tf.doc_id, tf.cls, bits.c,
        |    cast(sum(tf.tf * bits.bits) as bigint) + min(prior.prior_bits)
        |      AS score_bits
        |  FROM tf JOIN bits USING (b) JOIN prior ON prior.c = bits.c
        |  WHERE NOT tf.is_train
        |  GROUP BY tf.doc_id, tf.cls, bits.c),
        |r AS (SELECT doc_id, cls, c, score_bits,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY score_bits, c) AS rn
        |      FROM sc)
        |SELECT doc_id, cls, c AS pred_cls, score_bits, c = cls AS correct
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      nbClassify(nbPlantedCorpus(docs(s, dir))).orderBy(col("doc_id"))
    },

    // Gopher-style rule filter (Rae et al. 2021, "Scaling Language
    // Models" table A1) — the published THRESHOLD-rule quality gate, as
    // opposed to q_quality_score's weighted blend: word count in range,
    // mean word length in [3, 10] chars, ≥80% alphabetic tokens, ≥2
    // stopword hits; keep = AND of all four. Every signal is integer-
    // exact (ppm floor divisions — no float ratio can straddle an
    // engine-specific ulp) and every rule a boolean both engines derive
    // from the same integers. Scale shape: one narrow codegen'd
    // projection over a 2-column pruned scan — embarrassingly parallel,
    // zero shuffles before the gate's ORDER BY.
    "q_gopher_rules" -> Q(
      s"""WITH sig AS (
         |  SELECT doc_id,
         |    cast(len(tk) as bigint) AS n_tok,
         |    (1000000 * cast(list_sum(list_transform(tk, x -> len(x))) as bigint))
         |      // cast(len(tk) as bigint) AS mean_len_ppm,
         |    (1000000 * cast(len(list_filter(tk,
         |        x -> regexp_full_match(x, '[a-z]+'))) as bigint))
         |      // cast(len(tk) as bigint) AS alpha_ppm,
         |    cast(len(list_filter(tk, x -> x IN
         |      (${lexicons("en").map(w => s"'$w'").mkString(", ")}))) as bigint)
         |      AS stop_hits
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))
         |SELECT doc_id, n_tok, mean_len_ppm, alpha_ppm, stop_hits,
         |  n_tok BETWEEN $gopherMinTok AND $gopherMaxTok AS r_len,
         |  mean_len_ppm BETWEEN $gopherMeanLoPpm AND $gopherMeanHiPpm AS r_mean,
         |  alpha_ppm >= $gopherAlphaMinPpm AS r_alpha,
         |  stop_hits >= $gopherMinStop AS r_stop,
         |  (n_tok BETWEEN $gopherMinTok AND $gopherMaxTok)
         |    AND (mean_len_ppm BETWEEN $gopherMeanLoPpm AND $gopherMeanHiPpm)
         |    AND alpha_ppm >= $gopherAlphaMinPpm
         |    AND stop_hits >= $gopherMinStop AS keep
         |FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
      gopherRules(docs(s, dir)).orderBy(col("doc_id"))
    },

    // Skip-window co-occurrence counts (round 7) — the (center, context)
    // pair statistics word2vec/GloVe training consumes (window = 3
    // forward positions; q_phrase_pmi is the adjacent-only special
    // case). Scale shape: pair generation happens INSIDE the row — a
    // codegen'd nested array transform (~w·n_tok short strings per doc,
    // no positional self-join, no shuffle) — then one map-side-combined
    // count and a TakeOrdered top-25. The guard `size >= 2` matters:
    // Spark's sequence(1, 0) would generate a DESCENDING range rather
    // than an empty one (DuckDB's range() is empty on start >= stop).
    "q_cooccur_window" -> Q(
      s"""WITH prs AS (
         |  SELECT unnest(flatten(list_transform(range(1, len(t)),
         |    i -> list_transform(range(i + 1, least(i + $cooccurWindow, len(t)) + 1),
         |      j -> t[i] || ' ' || t[j])))) AS pair
         |  FROM (SELECT string_split(text, ' ') AS t FROM documents))
         |SELECT pair, cast(count(*) as bigint) AS n
         |FROM prs GROUP BY pair
         |ORDER BY n DESC, pair LIMIT 25""".stripMargin) { (s, dir) =>
      cooccurPairs(docs(s, dir))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(25)
    },

    // Stratified deterministic sampling: a fixed-size quota PER STRATUM
    // (language), drawn in md5-of-id order — the balanced-subset draw a
    // training mix needs (uniform sampling starves rare languages), made
    // reproducible the same way as q_sample_hash (hash order, not rng).
    // row_number ranks within each stratum after one hash repartition on
    // lang; for heavy strata at 100 TB use the IMPLEMENTED two-level
    // form `Scale.stratifiedQuotaTwoLevel` (rank within (lang,
    // hash-prefix) sub-strata, then merge-rank the per-prefix survivors)
    // — ScaleSpec pins its output exactly equal to this single-level
    // rank. The quota keeps output bounded either way.
    "q_sample_strat" -> Q(
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |    cast(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(cast(doc_id as varchar)), doc_id) as bigint) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .select(col("lang"), col("doc_id"),
          md5(col("doc_id").cast(StringType).cast(BinaryType)).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id")))
          .cast(LongType))
        .filter(col("rk") <= 20)
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    },

    // Weighted training-mix draw: sample each language proportionally to
    // a target mixture (the "data recipe" step of training prep —
    // upweight scarce languages, downweight dominant ones) from a total
    // budget, deterministically (same md5 order as q_sample_strat, no
    // rng). Quotas are exact integer arithmetic (budget × weight //
    // total-weight) interpolated into the oracle from the same Scala
    // map, so the two engines cannot drift. Same scale shape as
    // stratified sampling: per-stratum rank windows (two-level form
    // available for heavy strata via Scale.stratifiedQuotaTwoLevel).
    "q_mix_weighted" -> Q {
      val parts = mixWeights.map { case (l, w) => s"WHEN '$l' THEN $w" }
        .mkString(" ")
      val totalW = mixWeights.values.sum
      s"""SELECT lang, doc_id, rk, quota FROM (
         |  SELECT lang, doc_id,
         |    cast(row_number() OVER (PARTITION BY lang
         |           ORDER BY md5(cast(doc_id as varchar)), doc_id) as bigint) AS rk,
         |    cast(($mixBudget * CASE lang $parts ELSE 0 END) // $totalW as bigint)
         |      AS quota
         |  FROM documents)
         |WHERE rk <= quota ORDER BY lang, rk""".stripMargin
    } { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val totalW = mixWeights.values.sum
      val weight = mixWeights.foldLeft(lit(0): Column) { case (acc, (l, w)) =>
        when(col("lang") === l, w).otherwise(acc)
      }
      docs(s, dir)
        .select(col("lang"), col("doc_id"),
          md5(col("doc_id").cast(StringType).cast(BinaryType)).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id")))
          .cast(LongType))
        .withColumn("w", weight)
        .withColumn("quota", expr(s"($mixBudget * w) div $totalW").cast(LongType))
        .filter(col("rk") <= col("quota"))
        .select(col("lang"), col("doc_id"), col("rk"), col("quota"))
        .orderBy(col("lang"), col("rk"))
    },

    // Token-budget training mix (round 7 continuation): q_mix_weighted
    // fills per-language DOC quotas, but training recipes are specified
    // in TOKENS — greedily take documents in the deterministic md5 order
    // until each language's token budget is crossed (the budget-crossing
    // doc is kept: standard greedy fill, so every language lands within
    // one document of its budget). The cumulative token sum is a
    // per-stratum prefix-sum window (the q_pack_chunks shape — strata
    // bound the sort); all counts integer-exact. At 100 TB strata
    // needing sub-splits use the same two-level form as stratified
    // sampling.
    "q_mix_tokens" -> Q(
      s"""SELECT lang, doc_id, n_tok, cum_tok FROM (
         |  SELECT lang, doc_id, n_tok,
         |    cast(sum(n_tok) OVER (PARTITION BY lang
         |           ORDER BY md5(cast(doc_id as varchar)), doc_id
         |           ROWS UNBOUNDED PRECEDING) as bigint) AS cum_tok
         |  FROM (SELECT lang, doc_id,
         |          cast(len(string_split(text, ' ')) as bigint) AS n_tok
         |        FROM documents))
         |WHERE cum_tok - n_tok < $mixTokenBudget
         |ORDER BY lang, cum_tok, doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs(s, dir)
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"),
          md5(col("doc_id").cast(StringType).cast(BinaryType)).as("h"))
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") - col("n_tok") < mixTokenBudget)
        .select(col("lang"), col("doc_id"), col("n_tok"), col("cum_tok"))
        .orderBy(col("lang"), col("cum_tok"), col("doc_id"))
    },

    // Vocabulary extraction: top-5 tokens per language by frequency with
    // a deterministic (count DESC, token ASC) tiebreak — the token
    // frequency table a tokenizer-training / filtering pipeline builds
    // first. The window ranks the AGGREGATED (lang, token) table (vocab-
    // sized, not corpus-sized), so the per-lang partition is small at any
    // corpus scale; the heavy lifting is the map-side-combined groupBy.
    "q_vocab_topk" -> Q(
      """SELECT lang, token, n, rk FROM (
        |  SELECT lang, token, count(*) AS n,
        |    cast(row_number() OVER (PARTITION BY lang
        |           ORDER BY count(*) DESC, token) as int) AS rk
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY lang, token)
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token"))))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("token"), col("n"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    },

    // Domain-shift audit (round 8): per-source χ²-style divergence of
    // the unigram distribution against the whole corpus, over the
    // deterministic top-50 vocabulary — the drift score a curation
    // pipeline watches to catch a source whose content distribution
    // slid (scraper broke, template flood, language flip). Fully
    // integer: per-term observed/expected FREQUENCIES in floor-ppm
    // (decimal(38)/HUGEINT-lifted — counts × 1e6 pass 2^63 at ~9e12
    // tokens), then Σ (a−b)²·1000 div b in parts-per-billion — the ppm
    // normalization keeps every intermediate ≤ 1e15 at ANY corpus size
    // (a raw (obs·N − ns·cw)² form overflows decimal(38) past ~1e12
    // tokens). Scale shape: one token shuffle for the three aggs; the
    // sources × 50 grid is tiny and broadcast-built; missing (source,
    // token) cells COUNT (a=0 contributes b·1000) via the left join.
    "q_source_divergence" -> Q(
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tot AS (SELECT cast(count(*) as bigint) AS n FROM tok),
        |vocab AS MATERIALIZED (
        |  SELECT token, cast(count(*) as bigint) AS cw FROM tok
        |  GROUP BY token ORDER BY count(*) DESC, token LIMIT 50),
        |srcs AS (SELECT source, cast(count(*) as bigint) AS ns FROM tok
        |         GROUP BY source),
        |obs AS MATERIALIZED (
        |  SELECT source, token, cast(count(*) as bigint) AS c
        |  FROM tok JOIN vocab USING (token) GROUP BY source, token),
        |grid AS (
        |  SELECT s.source, s.ns, v.cw, coalesce(o.c, 0) AS c, nn.n
        |  FROM srcs s CROSS JOIN vocab v
        |  LEFT JOIN obs o ON o.source = s.source AND o.token = v.token,
        |  tot nn),
        |terms AS (
        |  SELECT source, ns,
        |    cast((cast(c as hugeint) * 1000000) // ns as bigint) AS a,
        |    cast((cast(cw as hugeint) * 1000000) // n as bigint) AS b
        |  FROM grid)
        |SELECT source, cast(max(ns) as bigint) AS n_tok,
        |  cast(sum(CASE WHEN b = 0 THEN 0
        |           ELSE ((a - b) * (a - b) * 1000) // b END) as bigint)
        |    AS chi2_ppb
        |FROM terms GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val tok = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
      val tot = tok.agg(count(lit(1)).as("n"))
      val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("cw"))
        .orderBy(col("cw").desc, col("token")).limit(50)
      val srcs = tok.groupBy(col("source")).agg(count(lit(1)).as("ns"))
      val obs = tok.join(broadcast(vocab.select(col("token"))), "token")
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
      srcs.crossJoin(broadcast(vocab))
        .join(obs, Seq("source", "token"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("a", expr("cast((cast(c as decimal(38,0)) * 1000000) div ns as bigint)"))
        .withColumn("b", expr("cast((cast(cw as decimal(38,0)) * 1000000) div n as bigint)"))
        .withColumn("term", expr(
          "CASE WHEN b = 0 THEN 0L ELSE ((a - b) * (a - b) * 1000L) div b END"))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_tok"), sum(col("term")).as("chi2_ppb"))
        .orderBy(col("source"))
    },

    // BPE merge training (round 8; histogram form + derived budget
    // round 11): the first `bud` merge rounds of a byte-pair-encoding
    // tokenizer over the corpus — per round, count adjacent symbol
    // pairs corpus-wide, adopt the most frequent pair (count DESC,
    // pair ASC tiebreak) as a merge, and rewrite every word's symbol
    // sequence. THE data-pipeline step that trains a tokenizer. The
    // budget derives from vocabulary size (bpeBudgetFor: 8 merges to
    // 16 384 distinct words, 12 above — stated identically in the
    // oracle's `bud` CTE), and training runs on the WEIGHTED WORD
    // HISTOGRAM (one (seq, cnt) row per distinct word): pair counts
    // Σcnt are identical to the per-instance counts, but every round
    // passes over the vocabulary, not the corpus — the corpus is
    // touched exactly once (the histogram groupBy), the shape a real
    // distributed BPE trainer iterates to 50k merges. Merge
    // application is leftmost NON-OVERLAPPING (both engines' literal
    // replace() scans identically and never rescans its own output, so
    // 'a a a' merges once, not twice — documented, deterministic, and
    // mirrored). Sequences are space-delimited symbols with sentinel
    // spaces at the edges, so a pair pattern can never match inside a
    // longer symbol.
    "q_bpe_merges" -> Q(
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         |wc AS MATERIALIZED (SELECT word, count(*) AS cnt FROM w
         |      WHERE word <> '' GROUP BY word),
         |bud AS (SELECT CASE WHEN count(DISTINCT word) <= 16384 THEN 8
         |               ELSE $bpeMaxRounds END AS b FROM wc),
         |s0 AS MATERIALIZED (
         |  SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, cnt
         |  FROM wc),
         |${(1 to bpeMaxRounds).map(oBpeRound(_, lang = false)).mkString(",\n")}
         |SELECT * FROM (
         |  ${(1 to bpeMaxRounds).map(k =>
        s"SELECT cast($k as int) AS round, pair, n FROM b$k")
        .mkString("\n         |  UNION ALL ")})
         |WHERE round <= (SELECT b FROM bud)
         |ORDER BY round""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      Pin.scope { p =>
        // cache the histogram so the budget count and the trainer's
        // first argmax share ONE corpus pass (bpeTrain's round-1 pin is
        // the same cache entry; its round chain releases it)
        val seqs = p.frame(bpeSeqs(d),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (merges, _) = bpeTrain(p, seqs, rounds = bpeBudgetFor(seqs))
        s.createDataFrame(merges).toDF("round", "pair", "n")
          .orderBy(col("round"))
      }
    },

    // BPE ENCODE (round 10, closes the tokenizer loop; histogram form +
    // derived budget round 11): apply the `bud` trained merges to the
    // whole corpus and price each language in TRUE tokenizer tokens
    // next to the whitespace proxy every mix/budget operator uses —
    // the number an actual training run budgets by. Per lang: word
    // count (the proxy), char-level symbol count (the pre-merge floor =
    // sum of word lengths), post-merge BPE token count, and the
    // BPE/char compression in floor-ppm. Training runs on the weighted
    // (lang, word) histogram — pair counts sum cnt across langs, so
    // the adopted merges are corpus-global and identical to
    // q_bpe_merges' — and the final per-lang readout is Σ(value·cnt),
    // identical to the retired per-instance scan. The encode pass
    // replays the identical leftmost-non-overlapping replace() chain
    // the trainer used (same sentinel-space form), so the oracle
    // mirrors it bit-for-bit and the whole readout hash-gates. Scale
    // shape: ONE corpus histogram pass, then `bud` vocab-sized argmax
    // rounds (1-row collect each) + one vocab-sized counting pass;
    // per-lang aggs are map-side combinable.
    "q_bpe_encode" -> Q(
      s"""WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word
         |           FROM documents),
         |wc AS MATERIALIZED (SELECT lang, word, count(*) AS cnt FROM w
         |      WHERE word <> '' GROUP BY lang, word),
         |bud AS (SELECT CASE WHEN count(DISTINCT word) <= 16384 THEN 8
         |               ELSE $bpeMaxRounds END AS b FROM wc),
         |s0 AS MATERIALIZED (
         |  SELECT lang, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq,
         |    cnt
         |  FROM wc),
         |${(1 to bpeMaxRounds).map(oBpeRound(_, lang = true)).mkString(",\n")}
         |SELECT lang, cast(sum(cnt) as bigint) AS n_words,
         |  cast(sum(len(replace(seq, ' ', '')) * cnt) as bigint) AS n_char_syms,
         |  cast(sum(len(string_split(seq, ' ')) * cnt) as bigint)
         |    AS n_bpe_tokens,
         |  cast((sum(cast(len(string_split(seq, ' ')) as hugeint) * cnt)
         |        * 1000000)
         |       // sum(len(replace(seq, ' ', '')) * cnt) as bigint) AS ratio_ppm
         |FROM s$bpeMaxRounds GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      Pin.scope { p =>
        val seqs = p.frame(bpeSeqs(d, keep = Seq("lang")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (_, encoded) = bpeTrain(p, seqs, rounds = bpeBudgetFor(seqs))
        val out = encoded
          .groupBy(col("lang"))
          .agg(sum(col("cnt")).as("n_words"),
            sum(length(org.apache.spark.sql.functions.replace(
              col("seq"), lit(" "), lit(""))) * col("cnt")).as("n_char_syms"),
            sum(size(split(col("seq"), " ")).cast(LongType) * col("cnt"))
              .as("n_bpe_tokens"))
          .select(col("lang"), col("n_words"), col("n_char_syms"),
            col("n_bpe_tokens"),
            expr("cast((cast(n_bpe_tokens as decimal(38,0)) * 1000000)" +
              " div n_char_syms as bigint)").as("ratio_ppm"))
          .orderBy(col("lang"))
        // materialize before the scope releases the last training round's
        // cache (the encode plan reads it); result is lang-domain-sized
        val rows = out.collect().toIndexedSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      }
    },

    // Count-min-sketch heavy hitters (round 7) — completes the sketch
    // family (HLL cardinality, quantile sketch, bloom join, minhash/
    // simhash signatures) with the frequency sketch a streaming/
    // multi-shard pipeline merges instead of exact counts. Gate shape
    // per the self-verifying-sketch rule: the top-25 keys + EXACT counts
    // are hash-gated (deterministic tiebreak), while the engine-local CMS
    // estimates are pinned by the structure's two guarantees — estimate ≥
    // exact (always true for CMS) and overestimate ≤ ⌈eps·N⌉ (holds with
    // prob ≥ confidence per key; eps=0.001, depth 5). Spark's builtin
    // count_min_sketch aggregate is map-side mergeable (the 100 TB
    // story: one ~80 KB sketch per partition merged associatively, never
    // a vocab-sized shuffle when only frequencies-of-known-keys are
    // needed); the finished sketch and the 25 survivor rows are
    // driver-bounded, the q_join_bloom precedent.
    "q_heavy_hitters" -> Q(
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |c AS (SELECT token, cast(count(*) as bigint) AS n_exact
        |      FROM tok GROUP BY token)
        |SELECT token, n_exact, TRUE AS cms_ge_exact, TRUE AS cms_within_eps
        |FROM c ORDER BY n_exact DESC, token LIMIT 25""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StructType, StructField, StringType,
        LongType, BooleanType}
      val eps = 0.001
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
      val top = exact.orderBy(col("n_exact").desc, col("token")).limit(25)
        .collect() // bounded: exactly 25 rows survive the TakeOrdered
      val rows = if (top.isEmpty) Array.empty[Row] else {
        // empty corpus would make the sketch aggregate NULL — guarded
        // above so readFrom never sees null bytes
        val nTotal = exact.agg(sum(col("n_exact"))).head().getLong(0)
        val sketchBytes = toks
          .agg(expr(s"count_min_sketch(token, CAST($eps AS DOUBLE), " +
            "CAST(0.99 AS DOUBLE), 42)"))
          .head().getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(sketchBytes))
        val bound = math.ceil(eps * nTotal).toLong
        top.map { r =>
          val (t, n) = (r.getString(0), r.getLong(1))
          val est = cms.estimateCount(t)
          Row(t, n, est >= n, est - n <= bound)
        }
      }
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1),
        StructType(Seq(StructField("token", StringType),
          StructField("n_exact", LongType),
          StructField("cms_ge_exact", BooleanType),
          StructField("cms_within_eps", BooleanType))))
        .orderBy(col("n_exact").desc, col("token"))
    },

    // tf-idf keyword extraction: top-3 terms per doc ranked by
    // tf · idf with a reciprocal idf (idf_ppm = 1e6·N/df, integer
    // division) — log-idf is a float whose last-ulp differs across
    // engines, while the reciprocal variant keeps the whole score in
    // exact bigint arithmetic (same rarity ordering for equal tf).
    // Shape: the (doc, token) tf agg and the vocab-sized df agg are both
    // corpus-linear and map-side combined; the score join is an equi-join
    // on token (AQE handles hot-token skew); the ranking window runs per
    // doc over ≤ |doc vocab| rows. The N-docs scalar rides in as
    // crossJoin(broadcast(1-row agg)) — the one legal BNLJ shape.
    "q_tfidf" -> Q(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tfc AS (SELECT doc_id, token, cast(count(*) as bigint) AS tf
        |        FROM tok GROUP BY doc_id, token),
        |dfc AS (SELECT token, cast(count(DISTINCT doc_id) as bigint) AS df
        |        FROM tok GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tfc.doc_id, tfc.token, tf, df,
        |    tf * ((1000000 * n_docs) // df) AS score_ppm
        |  FROM tfc JOIN dfc USING (token), n)
        |SELECT doc_id, token, tf, df,
        |  cast(score_ppm as bigint) AS score_ppm, cast(rk as int) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score_ppm DESC, token) AS rk FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(toks).as("token"))
      val tfc = tok.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfc = tok.groupBy(col("token"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      tfc.join(dfc, "token")
        .crossJoin(broadcast(n))
        .withColumn("score_ppm", expr("tf * ((1000000 * n_docs) div df)"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("score_ppm").desc, col("token"))))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("score_ppm"), col("rk"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // Sequence packing (concat-and-chunk): assign each doc its (chunk,
    // offset) in a 512-token packed stream per language shard, in the
    // same deterministic md5 order the sampling ops use. The running
    // prefix-sum is a window over the shard; at 100 TB the shard key
    // becomes a bounded-size hash bucket (lang here for a readable
    // oracle) exactly like q_sample_strat's two-level form, keeping each
    // reducer's sort bounded. Integer token counts make every offset
    // bit-deterministic.
    "q_pack_chunks" -> Q(
      """WITH s AS (SELECT doc_id, lang,
        |    len(string_split(text, ' ')) AS n_tok,
        |    md5(cast(doc_id as varchar)) AS h
        |  FROM documents),
        |w AS (SELECT doc_id, lang, n_tok, h,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM s)
        |SELECT doc_id, lang, cast(n_tok as bigint) AS n_tok,
        |  cast((cum - n_tok) // 512 as bigint) AS chunk_id,
        |  cast((cum - n_tok) % 512 as bigint) AS chunk_offset
        |FROM w ORDER BY lang, h, doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(toks).cast(LongType).as("n_tok"),
          md5(col("doc_id").cast(StringType).cast(BinaryType)).as("h"))
        .withColumn("cum", sum(col("n_tok")).over(
          Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("(cum - n_tok) div 512").as("chunk_id"),
          ((col("cum") - col("n_tok")) % 512).as("chunk_offset"))
        .orderBy(col("lang"), col("h"), col("doc_id"))
    },

    // PII redaction: the scrubbing pass a corpus runs before training.
    // The curated docs carry no PII, so the query plants a deterministic
    // email + phone derived from doc_id (same concat in the oracle) and
    // the operator masks them: regexp_extract_all counts + regexp_replace
    // rewrite, emitted as the redacted text's md5. Patterns stay in the
    // char-class/quantifier subset where Java regex and RE2 agree;
    // DuckDB's regexp_replace needs the explicit 'g' flag to match
    // Spark's replace-all default. Embarrassingly parallel — one narrow
    // projection, no shuffle before the ordered output.
    "q_pii_redact" -> Q(
      """WITH aug AS (SELECT doc_id,
        |    text || ' contact john' || doc_id || '@mail.example.com or call 555-'
        |         || lpad(cast(doc_id % 10000 as varchar), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  cast(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+[a-z]')) as int)
        |    AS n_emails,
        |  cast(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{4}')) as int) AS n_phones,
        |  md5(regexp_replace(regexp_replace(t, '[a-z0-9.]+@[a-z0-9.]+[a-z]',
        |      '[EMAIL]', 'g'), '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS red_md5
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emailRe = "[a-z0-9.]+@[a-z0-9.]+[a-z]"
      val phoneRe = "[0-9]{3}-[0-9]{4}"
      docs(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact john"), col("doc_id"),
            lit("@mail.example.com or call 555-"),
            lpad((col("doc_id") % 10000).cast(StringType), 4, "0")).as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("t"), lit(phoneRe), lit(0))).as("n_phones"),
          md5(regexp_replace(regexp_replace(col("t"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]").cast(BinaryType)).as("red_md5"))
        .orderBy(col("doc_id"))
    },

    // Luhn-validated card-number (PAN) detection (round 12, VERDICT-r11
    // #7; round 13 generalizes 16-only to the real 13-19 digit window,
    // VERDICT-r12 #7): the checksum layer a bare digit-run regex lacks.
    // Each doc gets one PLANTED candidate from the 12-entry literal —
    // six real-format Luhn-valid PANs at lengths 13 (Visa), 15 (Amex),
    // 16 ×2, 19 ×2 (UnionPay/Maestro format) and their six last-digit
    // mutations (a +1 mod 10 on the check digit always breaks Luhn, so
    // valid/invalid split exactly 1:1 and every LENGTH exercises both
    // branches). The operator reports the naive 13-19-digit-run hit
    // count, the candidate length, the length-parametric Luhn verdict
    // ([[luhnValid]] — unrolled lazy-CASE integer arithmetic,
    // engine-portable, no UDF/HOF on the hot path), and the redaction
    // hash where ONLY the validated PAN masks: checksum-failing digit
    // runs (order ids, timestamps) stay unmasked — the misfire class a
    // regex-only redactor commits. Scale: one narrow codegen projection
    // per doc, no shuffle. LlmSpec pins the checksum on all six lengths
    // plus every off-by-one check-digit mutation.
    "q_pii_pan" -> Q(
      s"""WITH aug AS (SELECT doc_id,
        |    ([${plantedPans.map(p => s"'$p'").mkString(",")}])
        |      [cast(doc_id % ${plantedPans.size} as int) + 1] AS pan,
        |    text || ' card ' ||
        |    ([${plantedPans.map(p => s"'$p'").mkString(",")}])
        |      [cast(doc_id % ${plantedPans.size} as int) + 1] AS t
        |  FROM documents)
        |SELECT doc_id,
        |  cast(len(${oPanCandidates("t")}) as int) AS n_pan_cand,
        |  cast(len(pan) as int) AS pan_len,
        |  ${oLuhn("pan")} AS pan_valid,
        |  md5(CASE WHEN ${oLuhn("pan")}
        |      THEN replace(t, pan, '[PAN]') ELSE t END) AS red_md5
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pansLit = typedLit(plantedPans)
      docs(s, dir)
        .select(col("doc_id"),
          element_at(pansLit,
            (col("doc_id") % plantedPans.size).cast(IntegerType) + 1)
            .as("pan"),
          col("text"))
        .select(col("doc_id"), col("pan"),
          concat(col("text"), lit(" card "), col("pan")).as("t"))
        .select(col("doc_id"),
          size(panCandidates(col("t"))).as("n_pan_cand"),
          length(col("pan")).as("pan_len"),
          luhnValid(col("pan")).as("pan_valid"),
          md5(when(luhnValid(col("pan")),
              expr("replace(t, pan, '[PAN]')"))
            .otherwise(col("t")).cast(BinaryType)).as("red_md5"))
        .orderBy(col("doc_id"))
    },

    // Corpus stats per language: doc/char/token counts, exact averages.
    "q_text_stats" -> Q(
      """SELECT lang, count(*) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS total_chars,
        |  cast(sum(len(string_split(text, ' '))) as bigint) AS total_tokens,
        |  cast(sum(n_chars) as double) / count(*) AS avg_chars,
        |  cast(max(len(string_split(text, ' '))) as bigint) AS max_tokens,
        |  count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(size(toks).cast(LongType)).as("total_tokens"),
          (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
          max(size(toks).cast(LongType)).as("max_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    },

    // Token counting: whitespace tokens + a BPE-ish regex segmentation
    // (letter runs / digit runs / single other chars).
    "q_token_count" -> Q(
      """SELECT doc_id,
        |  cast(len(string_split(text, ' ')) as bigint) AS n_ws_tokens,
        |  cast(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) as bigint) AS n_bpe_tokens,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(
          col("doc_id"),
          size(toks).cast(LongType).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .cast(LongType).as("n_bpe_tokens"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Quality score: length + stopword-ratio + mean-word-length blend.
    // The score is emitted as floor(q * 1e6) ppm: round() differs
    // ALGORITHMICALLY between engines (Spark rounds the decimal string
    // HALF_UP, DuckDB multiplies and std::rounds), so integer-ratio
    // scores sitting exactly on a half split between them — floor of the
    // identical IEEE product cannot (found at sf0.1).
    "q_quality_score" -> Q(
      s"""SELECT doc_id, n_tok, $oQualityPpm
         |  AS quality_ppm
         |FROM (
         |  SELECT doc_id, n_chars,
         |    cast(len(string_split(text, ' ')) as double) AS n_tok,
         |    ${oLexCount("en")} AS n_stop
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = docs(s, dir).select(
        col("doc_id"), col("n_chars"),
        size(toks).cast(DoubleType).as("n_tok"),
        lexCount("en").as("n_stop"))
      base.select(
        col("doc_id"), col("n_tok"),
        qualityPpmCol.as("quality_ppm"))
        .orderBy(col("doc_id"))
    },

    // Quality-score calibration against duplication (round 10): is the
    // quality blend PREDICTIVE of the thing curation uses it for? Bucket
    // q_quality_score's ppm into 10 fixed-width deciles and read each
    // bucket's exact-duplicate rate (q_fingerprint's corpus-wide
    // whitespace-normalized md5, count > 1) — a reliability table: a
    // useful score shows dup rate falling as quality rises; a flat
    // column says the threshold in q_pipeline_curate is cutting noise.
    // Shares qualityPpmCol/oQualityPpm and the fingerprint definition
    // verbatim, so it cannot drift from the operators it audits. All
    // integer (floor-ppm rate), fully hash-gated. Scale shape: one
    // per-doc codegen pass, one fingerprint groupBy + join-back
    // (q_dup_rate_by_source's three linear shuffles), 10-row close.
    "q_calibration" -> Q(
      s"""WITH s0 AS (
         |  SELECT doc_id, n_chars,
         |    cast(len(string_split(text, ' ')) as double) AS n_tok,
         |    ${oLexCount("en")} AS n_stop,
         |    $oFingerprint AS fp
         |  FROM documents),
         |q AS MATERIALIZED (
         |  SELECT doc_id, fp, $oQualityPpm AS q_ppm FROM s0),
         |g AS MATERIALIZED (SELECT fp, count(*) AS gs FROM q GROUP BY fp),
         |j AS (SELECT least(q.q_ppm // 100000, 9) AS bucket,
         |        CASE WHEN g.gs > 1 THEN 1 ELSE 0 END AS dup
         |      FROM q JOIN g USING (fp))
         |SELECT cast(bucket as bigint) AS bucket,
         |  cast(count(*) as bigint) AS n_docs,
         |  cast(sum(dup) as bigint) AS n_dup,
         |  cast((cast(sum(dup) as hugeint) * 1000000) // count(*) as bigint)
         |    AS dup_ppm
         |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val q = docs(s, dir).select(
          col("doc_id"), col("n_chars"),
          size(toks).cast(DoubleType).as("n_tok"),
          lexCount("en").as("n_stop"),
          fingerprintCol.as("fp"))
        .select(col("fp"), qualityPpmCol.as("q_ppm"))
      val g = q.groupBy(col("fp")).agg(count(lit(1)).as("gs"))
      q.join(g, "fp")
        .select(least(expr("q_ppm div 100000"), lit(9L)).as("bucket"),
          when(col("gs") > 1, 1L).otherwise(0L).as("dup"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dup")).as("n_dup"))
        .select(col("bucket"), col("n_docs"), col("n_dup"),
          expr("cast((cast(n_dup as decimal(38,0)) * 1000000) div n_docs" +
            " as bigint)").as("dup_ppm"))
        .orderBy(col("bucket"))
    },

    // Trained-model quality scoring (round 11): the linear-model
    // companion to q_quality_score's fixed heuristic blend — four
    // ppm-integer features (qualityModelFeatures, shared verbatim with
    // the s_quality_model streaming twin and the LlmSpec monotonicity
    // pin) dotted with a deterministic "trained" weight table. The
    // batch plan scores through the LONG-FORMAT feature rows joined to
    // the broadcast weights TABLE (posexplode → BroadcastHashJoin →
    // map-side-combinable per-doc sum) — for 4 dense features an
    // in-row fold would be cheaper (the streaming twin does exactly
    // that, and LlmSpec pins the two paths equal), but the long form
    // is the plan a real sparse/hashed model needs: 10k hashed n-gram
    // features per doc dot a 10k-row broadcast weight table with the
    // SAME three operators, nothing per-feature in the row schema.
    // Integer-exact: features ∈ [0, 1e6], weights sum to 1000, score =
    // Σwx div 1000 ∈ [0, 1e6] — every op floor-exact on both engines.
    "q_quality_model" -> Q(
      s"""WITH f AS (
         |  SELECT doc_id,
         |    cast(len(tk) as bigint) AS n_tok,
         |    cast(list_sum(list_transform(tk, x -> len(x))) as bigint)
         |      AS sum_len,
         |    cast(len(list_filter(tk,
         |        x -> regexp_full_match(x, '[a-z]+'))) as bigint) AS alpha_cnt,
         |    cast(len(list_filter(tk, x -> x IN
         |      (${lexicons("en").map(w => s"'$w'").mkString(", ")}))) as bigint)
         |      AS stop_hits
         |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
         |x AS (SELECT doc_id,
         |    least(n_tok, 100) * 10000 AS x0,
         |    (1000000 * alpha_cnt) // n_tok AS x1,
         |    (1000000 * stop_hits) // n_tok AS x2,
         |    1000000 - least(abs((1000000 * sum_len) // n_tok - 5000000) // 5,
         |                    1000000) AS x3
         |  FROM f)
         |SELECT doc_id,
         |  cast(x0 as bigint) AS f_len_ppm, cast(x1 as bigint) AS f_alpha_ppm,
         |  cast(x2 as bigint) AS f_stop_ppm,
         |  cast(x3 as bigint) AS f_meanlen_ppm,
         |  cast((150 * x0 + 350 * x1 + 400 * x2 + 100 * x3) // 1000 as bigint)
         |    AS score_ppm,
         |  (150 * x0 + 350 * x1 + 400 * x2 + 100 * x3) // 1000
         |    >= $qualityModelMinPpm AS model_keep
         |FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val feats = qualityModelFeatures(
        docs(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("f_len_ppm"), col("f_alpha_ppm"),
          col("f_stop_ppm"), col("f_meanlen_ppm"))
      val w = s.createDataFrame(qualityModelWeights).toDF("fid", "w")
      val scored = feats
        .select(col("doc_id"), posexplode(array(
          col("f_len_ppm"), col("f_alpha_ppm"),
          col("f_stop_ppm"), col("f_meanlen_ppm"))).as(Seq("fid", "x")))
        .join(broadcast(w), "fid")
        .groupBy(col("doc_id"))
        .agg(sum(col("w") * col("x")).as("dot"))
        .select(col("doc_id"), expr("dot div 1000").as("score_ppm"))
      feats.join(scored, "doc_id")
        .select(col("doc_id"), col("f_len_ppm"), col("f_alpha_ppm"),
          col("f_stop_ppm"), col("f_meanlen_ppm"), col("score_ppm"),
          (col("score_ppm") >= qualityModelMinPpm).as("model_keep"))
        .orderBy(col("doc_id"))
    },

    // Language ID: stopword-density argmax with a stable alphabetical
    // tie-break; all-zero densities → 'und' (shared predLangCol /
    // oPredLangCase helpers, also driving q_langid_confusion).
    "q_lang_id" -> Q(
      s"""SELECT doc_id, lang,
         |  $oPredLangCase AS pred_lang,
         |  cast(floor((s_en / n_tok) * 1000000) as bigint) AS en_density_ppm
         |FROM (
         |  $oDensitySub)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      densityBase(s, dir).select(
        col("doc_id"), col("lang"),
        predLangCol.as("pred_lang"),
        // floor-ppm, not round: see q_quality_score note
        floor((col("s_en") / col("n_tok")) * 1000000).cast(LongType)
          .as("en_density_ppm"))
        .orderBy(col("doc_id"))
    },

    // Language-ID confusion matrix (round 9): ground-truth lang ×
    // predicted lang counts plus the per-truth-row share in floor ppm —
    // the precision/recall grid that turns q_lang_id from a per-doc
    // label into a classifier EVAL (the diagonal share is per-class
    // recall; columns close to precision driver-side). Scale shape: the
    // per-doc prediction is embarrassingly parallel; the matrix is one
    // map-side-combinable (lang, pred) agg bounded by |langs|²; row
    // totals join back broadcast. Division is nonneg (counts) so plain
    // floor div is portable.
    "q_langid_confusion" -> Q(
      s"""WITH p AS MATERIALIZED (
         |  SELECT lang, $oPredLangCase AS pred_lang
         |  FROM ($oDensitySub)),
         |c AS (SELECT lang, pred_lang, cast(count(*) as bigint) AS n
         |      FROM p GROUP BY lang, pred_lang),
         |t AS (SELECT lang, cast(sum(n) as bigint) AS n_lang
         |      FROM c GROUP BY lang)
         |SELECT c.lang, c.pred_lang, c.n, t.n_lang,
         |  cast((c.n * 1000000) // t.n_lang as bigint) AS share_ppm
         |FROM c JOIN t USING (lang)
         |ORDER BY lang, pred_lang""".stripMargin) { (s, dir) =>
      val c = densityBase(s, dir)
        .select(col("lang"), predLangCol.as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val t = c.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
      c.join(broadcast(t), Seq("lang"))
        .select(col("lang"), col("pred_lang"), col("n"), col("n_lang"),
          expr("(n * 1000000L) div n_lang").as("share_ppm"))
        .orderBy(col("lang"), col("pred_lang"))
    },

    // Readability features (round 9): per doc the Flesch reading-ease
    // inputs — words, sentence-ending punctuation runs ([.!?]+, floored
    // at 1 for fragment docs), and the standard vowel-run syllable
    // proxy — plus the score itself in integer milli-points composed
    // from floored ratios (206835 − 1015·W div S − 84600·Y div W; the
    // float formula's divisions are the only non-portable parts, so
    // both engines floor the SAME two ratios). Explicit character
    // classes only (the charset-audit rule). Scale shape: one codegen'd
    // per-doc map pass, no shuffle at all.
    "q_readability" -> Q(
      """SELECT doc_id,
        |  cast(len(string_split(text, ' ')) as bigint) AS n_words,
        |  cast(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) as bigint)
        |    AS n_sents,
        |  cast(len(regexp_extract_all(lower(text), '[aeiou]+')) as bigint)
        |    AS n_vowel_runs,
        |  cast(206835
        |    - (1015 * len(string_split(text, ' ')))
        |      // greatest(1, len(regexp_extract_all(text, '[.!?]+')))
        |    - (84600 * len(regexp_extract_all(lower(text), '[aeiou]+')))
        |      // len(string_split(text, ' ')) as bigint) AS flesch_milli
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val w = size(toks).cast(LongType)
      val sents = greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast(LongType))
      val y = size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0)))
        .cast(LongType)
      docs(s, dir)
        .select(col("doc_id"), w.as("n_words"), sents.as("n_sents"),
          y.as("n_vowel_runs"))
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_vowel_runs"),
          (lit(206835L)
            - expr("(1015 * n_words) div n_sents")
            - expr("(84600 * n_vowel_runs) div n_words")).as("flesch_milli"))
        .orderBy(col("doc_id"))
    },

    // Vocabulary coverage curve (round 9): what share of all token
    // OCCURRENCES the top-k most frequent word types cover, at k ∈
    // {100, 1k, 10k} — the tokenizer-budget readout (how big a vocab
    // buys 95%). Top-k by frequency needs a global order over a
    // corpus-sized vocab — so the ranking runs over COUNT-VALUE cells
    // instead (the q_bin_equidepth discipline): collapse the vocab to
    // (count c, #types v) cells, cumulate types from the most frequent
    // cell down, and resolve a k-cut that splits a tied cell exactly
    // ((k − types_above)·c — all tied types have the same count, so the
    // covered-token answer is choice-independent and deterministic).
    // Scale shape: one token agg (vocab-sized, map-side combined), one
    // cell agg (≤ distinct count values), a bounded-cell window, and
    // the 3-row k grid + 1-row totals ride broadcasts; covered·1e6
    // lifts to decimal(38,0)/HUGEINT.
    "q_vocab_coverage" -> Q(
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |uc AS (SELECT w, cast(count(*) as bigint) AS c FROM tok GROUP BY w),
        |cells AS (SELECT c, cast(count(*) as bigint) AS v FROM uc GROUP BY c),
        |cum AS (SELECT c, v,
        |          sum(v) OVER (ORDER BY c DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
        |        FROM cells),
        |tot AS (SELECT cast(sum(c) as bigint) AS t_total,
        |               cast(count(*) as bigint) AS v_total FROM uc),
        |ks AS (SELECT unnest([100, 1000, 10000]) AS k),
        |cov AS (SELECT k,
        |          cast(sum(CASE WHEN cum_w <= k THEN c * v
        |                   WHEN cum_w - v < k THEN (k - (cum_w - v)) * c
        |                   ELSE 0 END) as bigint) AS covered_tokens
        |        FROM cum, ks GROUP BY k)
        |SELECT cast(k as bigint) AS k,
        |  cast(least(k, v_total) as bigint) AS vocab_k,
        |  covered_tokens,
        |  cast((cast(covered_tokens as hugeint) * 1000000) // t_total as bigint)
        |    AS coverage_ppm
        |FROM cov, tot ORDER BY k""".stripMargin) { (s, dir) =>
      import s.implicits._
      val uc = docs(s, dir).select(explode(toks).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val cells = uc.groupBy(col("c")).agg(count(lit(1)).as("v"))
      // single-partition window is BENIGN (WindowExec warns): input is
      // the count-VALUE cell table — bounded by the distinct count
      // domain, never vocab rows (PlanAuditSpec bounded-window list)
      val cum = cells.withColumn("cum_w",
        sum(col("v")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      val tot = uc.agg(sum(col("c")).as("t_total"), count(lit(1)).as("v_total"))
      val ks = Seq(100L, 1000L, 10000L).toDF("k")
      cum.crossJoin(broadcast(ks))
        .groupBy(col("k"))
        .agg(sum(when(col("cum_w") <= col("k"), col("c") * col("v"))
          .when(col("cum_w") - col("v") < col("k"),
            (col("k") - (col("cum_w") - col("v"))) * col("c"))
          .otherwise(0L)).as("covered_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("k"), least(col("k"), col("v_total")).as("vocab_k"),
          col("covered_tokens"),
          expr("cast((cast(covered_tokens as decimal(38,0)) * 1000000)" +
            " div t_total as bigint)").as("coverage_ppm"))
        .orderBy(col("k"))
    },

    // Temperature-scaled mixture (round 9): per-language sampling
    // weights p_i ∝ n_i^(1/τ) at τ = 2 — the standard multilingual
    // rebalancing (low-resource languages up-weighted relative to raw
    // token share) beside q_mix_weighted's explicit weights and
    // q_mix_epochs' repeat factors. √n is computed as a PORTABLE
    // integer isqrt: floor(sqrt(double)) from the correctly-rounded
    // IEEE sqrt both engines share, then the m·m > n pull-back — exact
    // for every n < 2^52 regardless of the borderline rounding case, so
    // the whole readout stays hash-hard with no float ever emitted.
    // Scale shape: one map-side token-count agg to |langs| rows; the
    // 1-row totals ride the legal crossJoin(broadcast); products lift
    // to decimal(38,0)/HUGEINT (n_tok·1e6 passes 2^63 at ~9e12 tokens).
    "q_mix_temperature" -> Q(
      """WITH t AS (SELECT lang,
        |    cast(sum(len(string_split(text, ' '))) as bigint) AS n_tok
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_tok,
        |        CASE WHEN m0 * m0 > n_tok THEN m0 - 1 ELSE m0 END AS w
        |      FROM (SELECT lang, n_tok,
        |              cast(floor(sqrt(cast(n_tok as double))) as bigint) AS m0
        |            FROM t)),
        |tot AS (SELECT cast(sum(n_tok) as bigint) AS tn,
        |               cast(sum(w) as bigint) AS tw FROM w)
        |SELECT lang, n_tok, cast(w as bigint) AS w,
        |  cast((cast(n_tok as hugeint) * 1000000) // tn as bigint) AS share_raw_ppm,
        |  cast((cast(w as hugeint) * 1000000) // tw as bigint) AS share_t2_ppm
        |FROM w, tot ORDER BY lang""".stripMargin) { (s, dir) =>
      val t = docs(s, dir)
        .groupBy(col("lang"))
        .agg(sum(size(toks).cast(LongType)).as("n_tok"))
      val w = t
        .withColumn("m0", floor(sqrt(col("n_tok").cast(DoubleType))).cast(LongType))
        .withColumn("w",
          when(col("m0") * col("m0") > col("n_tok"), col("m0") - 1L)
            .otherwise(col("m0")))
        .drop("m0")
      val tot = w.agg(sum(col("n_tok")).as("tn"), sum(col("w")).as("tw"))
      w.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_tok"), col("w"),
          expr("cast((cast(n_tok as decimal(38,0)) * 1000000) div tn as bigint)")
            .as("share_raw_ppm"),
          expr("cast((cast(w as decimal(38,0)) * 1000000) div tw as bigint)")
            .as("share_t2_ppm"))
        .orderBy(col("lang"))
    },

    // Charset / encoding-health audit (round 9): per-source counts of
    // non-ASCII codepoints, bare control chars, and U+FFFD replacement
    // chars — the mojibake screen run per ingest source BEFORE any text
    // op trusts the bytes (see charsetAudit; detection of each class is
    // spec-driven with injected dirty docs, since the clean synthetic
    // corpus should — and does — flag zero).
    "q_charset_audit" -> Q(
      """WITH per AS (
        |  SELECT source, cast(length(text) as bigint) AS nc,
        |    cast(length(text) - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) as bigint) AS na,
        |    cast(length(text) - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) as bigint) AS nk,
        |    cast(length(text) - length(regexp_replace(text, '\x{FFFD}', '', 'g')) as bigint) AS nr
        |  FROM documents)
        |SELECT source, cast(count(*) as bigint) AS n_docs,
        |  cast(sum(nc) as bigint) AS n_chars,
        |  cast(sum(na) as bigint) AS n_non_ascii,
        |  cast(CASE WHEN sum(nc) = 0 THEN 0
        |       ELSE (sum(na) * 1000000) // sum(nc) END as bigint) AS non_ascii_ppm,
        |  cast(sum(nk) as bigint) AS n_ctrl,
        |  cast(sum(nr) as bigint) AS n_repl,
        |  cast(sum(CASE WHEN nk > 0 OR nr > 0 THEN 1 ELSE 0 END) as bigint)
        |    AS n_docs_flagged
        |FROM per GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      charsetAudit(docs(s, dir).select(col("source"), col("text")))
    },

    // Document fingerprint: md5 over whitespace-normalized lowercase text
    // (identical hex in both engines) + per-fingerprint duplicate count.
    "q_fingerprint" -> Q(
      s"""SELECT doc_id,
         |  $oFingerprint AS fp,
         |  cast(count(*) OVER (PARTITION BY $oFingerprint)
         |       as bigint) AS n_same
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .select(col("doc_id"), fingerprintCol.as("fp"))
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy(col("fp"))).cast(LongType))
        .orderBy(col("doc_id"))
    },

    // End-to-end curation pipeline — the composed DAG a training-data
    // team actually ships, as ONE declarative plan: quality filter
    // (q_quality_score's floor-ppm formula) → exact dedup on the
    // normalized fingerprint (q_fingerprint, min-id representative) →
    // MinHash signature dedup (q_dedup_sig's stateless tier) → md5
    // train/test split (q_sample_hash) → per-(lang, split) corpus stats.
    // Every stage is an operator this suite gates individually; composing
    // them costs exactly their plans — narrow projections, one hash
    // shuffle on the fingerprint, one on the signature, one semi-shaped
    // join back, and a tiny final aggregate. Catalyst prunes the full
    // pipeline to the 4 referenced columns at the scan.
    "q_pipeline_curate" -> Q(
      s"""WITH base AS (
         |  SELECT doc_id, lang, text, n_chars,
         |    cast(len(string_split(text, ' ')) as double) AS n_tok,
         |    ${oLexCount("en")} AS n_stop
         |  FROM documents),
         |q AS (
         |  SELECT *, $oQualityPpm
         |    AS quality_ppm
         |  FROM base),
         |qf AS (SELECT doc_id, lang, text, n_tok FROM q
         |       WHERE quality_ppm >= $curateQualityPpm AND n_tok >= 3),
         |e AS (SELECT doc_id, lang, text, n_tok FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY $oFingerprint
         |      ORDER BY doc_id) AS rk
         |    FROM qf) WHERE rk = 1),
         |toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM e),
         |sh2 AS (SELECT DISTINCT doc_id,
         |          unnest(list_transform(range(1, len(t) - 1),
         |                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
         |        FROM toks2),
         |sigs AS (
         |  SELECT doc_id,
         |    ${Dedup.oSigExprs}
         |  FROM sh2 GROUP BY doc_id),
         |kept AS (SELECT min(doc_id) AS keep_id FROM sigs
         |         GROUP BY ${Dedup.minhashSeeds.indices.map(i => s"h$i").mkString(", ")}),
         |fin AS (
         |  SELECT e.lang, e.n_tok, e.doc_id,
         |    CASE WHEN (${oBucket("e.doc_id")}) % 10 < 8
         |         THEN 'train' ELSE 'test' END AS split
         |  FROM e JOIN kept ON e.doc_id = kept.keep_id)
         |SELECT lang, split, cast(count(*) as bigint) AS n_docs,
         |  cast(min(doc_id) as bigint) AS min_doc_id,
         |  cast(sum(cast(n_tok as bigint)) as bigint) AS sum_tok
         |FROM fin GROUP BY lang, split
         |ORDER BY lang, split""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, dir).select(col("doc_id"), col("lang"), col("text"),
        col("n_chars"), size(toks).cast(DoubleType).as("n_tok"),
        lexCount("en").as("n_stop"))
      val q = base
        .withColumn("quality_ppm", qualityPpmCol)
        .filter(col("quality_ppm") >= curateQualityPpm && col("n_tok") >= 3)
      val e = q.withColumn("rk", row_number().over(
          Window.partitionBy(fingerprintCol).orderBy(col("doc_id"))))
        .filter(col("rk") === 1).drop("rk")
      val kept = Dedup.minhashSignaturesStateless(e.select(col("doc_id"), col("text")))
        .groupBy(Dedup.minhashSeeds.indices.map(i => col(s"h$i")): _*)
        .agg(min(col("doc_id")).as("keep_id"))
      e.join(kept, col("doc_id") === col("keep_id"))
        .withColumn("split",
          when(bucketCol(col("doc_id")) % 10 < 8, "train").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"),
          sum(col("n_tok").cast(LongType)).as("sum_tok"))
        .orderBy(col("lang"), col("split"))
    },

    // Vocabulary-concentration audit (round 8 continuation): per
    // language, the Gini coefficient of the token-frequency distribution
    // — the one-number summary of how head-heavy a corpus's vocabulary
    // is (a template-flooded source spikes it; tokenizer-training
    // pipelines watch it next to q_oov_rate). Fully integer: with
    // frequencies ranked ascending (row_number, ties broken by token —
    // any total order among equal frequencies leaves Σi·f unchanged),
    // Gini = (2·Σi·f − (n+1)·Σf) / (n·Σf), emitted as a floor-ppm of
    // exact integers lifted to decimal(38,0)/HUGEINT before every
    // multiply (i·f passes 2^63 near 1e8-token vocabularies; the ×1e6
    // numerator stays < 1e27 ≪ 10^38 at any real corpus). Scale shape:
    // one token shuffle into the (lang, token) hash agg; the ranking
    // window runs on the AGGREGATED vocab table (the q_vocab_topk
    // precedent), never the corpus. The per-lang row_number still sorts
    // one language's whole vocabulary in a single reducer — fine to the
    // ~1e7-entry vocabularies real tokenizers see, but a 1e8-entry
    // vocabulary should swap the window for Scale.rankGlobal's
    // range-partitioned two-pass rank (the q_rfm buffer caveat style);
    // Σi·f is order-insensitive among equal frequencies, so the swap
    // changes no output bit.
    "q_gini_vocab" -> Q(
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |f AS MATERIALIZED (
        |  SELECT lang, token, cast(count(*) as bigint) AS c
        |  FROM tok GROUP BY lang, token),
        |r AS (SELECT lang, c,
        |        cast(row_number() OVER (PARTITION BY lang
        |               ORDER BY c, token) as hugeint) AS i
        |      FROM f)
        |SELECT lang, cast(count(*) as bigint) AS n_vocab,
        |  cast(sum(c) as bigint) AS n_tokens,
        |  cast((1000000 * (2*sum(i*c) - (count(*)+1)*sum(c)))
        |       // (count(*) * sum(c)) as bigint) AS gini_ppm
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .select(col("lang"), explode(toks).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
        .withColumn("i", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("c"), col("token")))
          .cast(LongType))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_vocab"), sum(col("c")).as("n_tokens"),
          sum(col("i").cast(DecimalType(38, 0)) * col("c")).as("sic"))
        .select(col("lang"), col("n_vocab"), col("n_tokens"),
          expr("cast((cast(1000000 as decimal(38,0))" +
            " * (2*sic - cast(n_vocab+1 as decimal(38,0))*n_tokens))" +
            " div (cast(n_vocab as decimal(38,0)) * n_tokens) as bigint)")
            .as("gini_ppm"))
        .orderBy(col("lang"))
    },

    // Distribution-drift audit (round 8 continuation): the two-sample
    // Kolmogorov–Smirnov statistic between every PAIR of sources on the
    // document-length distribution — q_source_divergence watches WHAT a
    // source says (unigram χ²); this watches its SHAPE (a scraper that
    // starts truncating pages moves the length ECDF long before the
    // vocabulary shifts). Fully integer: D = max |ECDF_a − ECDF_b| is
    // cross-multiplied to max |n_b·cum_a − n_a·cum_b| over the shared
    // value spine (HUGEINT/decimal(38,0)-lifted — n·cum passes 2^63 near
    // 3e9 docs/source), then floored to ppm of n_a·n_b. Scale shape: the
    // corpus collapses to per-(source, value) counts in one map-side-
    // combinable agg; the zero-filled grid, cumulative windows, and the
    // C(sources,2)-wide pair join all run on the sources × distinct-
    // values table — value-cell sized (doc lengths are bounded), never
    // corpus-sized. The sources table rides crossJoin(broadcast(tiny)).
    "q_ks_drift" -> Q(
      """WITH d AS MATERIALIZED (
        |  SELECT source, cast(n_chars as bigint) AS v FROM documents),
        |cnt AS MATERIALIZED (
        |  SELECT source, v, cast(count(*) as bigint) AS c
        |  FROM d GROUP BY source, v),
        |srcs AS (SELECT source, cast(count(*) as bigint) AS n
        |         FROM d GROUP BY source),
        |spine AS (SELECT DISTINCT v FROM d),
        |grid AS (SELECT s.source, s.n, sp.v, coalesce(c.c, 0) AS c
        |         FROM srcs s CROSS JOIN spine sp
        |         LEFT JOIN cnt c ON c.source = s.source AND c.v = sp.v),
        |cum AS MATERIALIZED (
        |  SELECT source, n, v,
        |    sum(c) OVER (PARTITION BY source ORDER BY v
        |                 ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM grid)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  max(a.n) AS n_a, max(b.n) AS n_b,
        |  cast((1000000 * max(abs(cast(b.n as hugeint)*a.cum
        |                          - cast(a.n as hugeint)*b.cum)))
        |       // (cast(max(a.n) as hugeint) * max(b.n)) as bigint) AS ks_ppm
        |FROM cum a JOIN cum b ON a.v = b.v AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
        .select(col("source"), col("n_chars").cast(LongType).as("v"))
      val cnt = d.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      val srcs = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val spine = d.select(col("v")).distinct()
      val cum = spine.crossJoin(broadcast(srcs))
        .join(cnt, Seq("source", "v"), "left")
        .select(col("source"), col("n"), col("v"),
          coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val a = cum.select(col("source").as("source_a"), col("n").as("na"),
        col("v"), col("cum").as("cum_a"))
      val b = cum.select(col("source").as("source_b"), col("n").as("nb"),
        col("v"), col("cum").as("cum_b"))
      a.join(b, "v").filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          max(abs(col("nb").cast(DecimalType(38, 0)) * col("cum_a")
            - col("na").cast(DecimalType(38, 0)) * col("cum_b"))).as("d_num"))
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          expr("cast((cast(1000000 as decimal(38,0)) * d_num)" +
            " div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
            .as("ks_ppm"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Categorical-independence audit (round 8 continuation): χ² of the
    // lang × source contingency table — "is the language mix uniform
    // across sources, or does some source skew?" — the companion to
    // q_source_divergence (content drift) and q_ks_drift (shape drift)
    // on the label axis a mixture-balancing pipeline actually curates
    // on. Same integer discipline: observed and expected CELL
    // frequencies in floor-ppm of the corpus (expected = row·col/N²,
    // HUGEINT/decimal(38,0)-lifted — row·col·1e6 passes 2^63 near 3e9
    // docs), χ² contribution per lang in parts-per-billion. Scale
    // shape: ONE doc-count agg to the langs × sources cell table; every
    // join after runs on that tiny grid (row/col totals broadcast).
    "q_chi2_indep" -> Q(
      """WITH cells AS MATERIALIZED (
        |  SELECT lang, source, cast(count(*) as bigint) AS c
        |  FROM documents GROUP BY lang, source),
        |rl AS (SELECT lang, cast(sum(c) as bigint) AS r FROM cells
        |       GROUP BY lang),
        |cl AS (SELECT source, cast(sum(c) as bigint) AS k FROM cells
        |       GROUP BY source),
        |tot AS (SELECT cast(sum(c) as bigint) AS n FROM cells),
        |grid AS (
        |  SELECT rl.lang, cl.source, rl.r, cl.k, coalesce(ce.c, 0) AS c, t.n
        |  FROM rl CROSS JOIN cl
        |  LEFT JOIN cells ce ON ce.lang = rl.lang AND ce.source = cl.source,
        |  tot t),
        |terms AS (
        |  SELECT lang, r,
        |    cast((cast(c as hugeint) * 1000000) // n as bigint) AS a,
        |    cast((cast(r as hugeint) * k * 1000000)
        |         // (cast(n as hugeint) * n) as bigint) AS b
        |  FROM grid)
        |SELECT lang, cast(max(r) as bigint) AS n_docs,
        |  cast(sum(CASE WHEN b = 0 THEN 0
        |           ELSE ((a - b) * (a - b) * 1000) // b END) as bigint)
        |    AS chi2_ppb
        |FROM terms GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val cells = docs(s, dir)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
      val rl = cells.groupBy(col("lang")).agg(sum(col("c")).as("r"))
      val cl = cells.groupBy(col("source")).agg(sum(col("c")).as("k"))
      val tot = cells.agg(sum(col("c")).as("n"))
      rl.crossJoin(broadcast(cl))
        .join(cells, Seq("lang", "source"), "left")
        .select(col("lang"), col("r"), col("k"),
          coalesce(col("c"), lit(0L)).as("c"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("r"),
          expr("cast((cast(c as decimal(38,0)) * 1000000) div n as bigint)")
            .as("a"),
          expr("cast((cast(r as decimal(38,0)) * k * 1000000)" +
            " div (cast(n as decimal(38,0)) * n) as bigint)").as("b"))
        .groupBy(col("lang"))
        .agg(max(col("r")).as("n_docs"),
          sum(expr("CASE WHEN b = 0 THEN 0" +
            " ELSE ((a - b) * (a - b) * 1000) div b END")).as("chi2_ppb"))
        .orderBy(col("lang"))
    },

    // Epoch-repeat mixing (round 8 continuation): q_mix_weighted draws
    // docs and q_mix_tokens fills token budgets; this computes the
    // REPEAT factor per language — how many epochs of each source to
    // run so the effective mixture approaches the target shares when a
    // source is scarce, capped at 4 epochs (interpolated constant; the
    // point past which repetition hurts more than imbalance). Fully
    // integer: actual/target shares in floor-ppm, epochs_ppm =
    // min(cap, target·1e6 div actual) computed FROM the floored ppm
    // columns in both engines (no division-of-divisions ambiguity),
    // effective tokens decimal(38,0)/HUGEINT-lifted (n_tok · 4e6 passes
    // 2^63 near 2e12 tokens). Scale shape: one token agg; everything
    // after runs on the langs-sized table with the weight list inlined
    // as a VALUES literal on both sides.
    "q_mix_epochs" -> Q {
      val wVals = mixWeights.toSeq.sorted
        .map { case (l, w) => s"('$l', $w)" }.mkString(", ")
      val wsum = mixWeights.values.sum
      s"""WITH tok AS (SELECT lang,
         |    cast(len(string_split(text, ' ')) as bigint) AS n
         |  FROM documents),
         |a AS (SELECT lang, cast(sum(n) as bigint) AS n_tok FROM tok
         |      GROUP BY lang),
         |t AS (SELECT cast(sum(n_tok) as bigint) AS total FROM a),
         |w(lang, wt) AS (VALUES $wVals),
         |p AS (SELECT a.lang, a.n_tok,
         |        cast((cast(1000000 as hugeint) * a.n_tok) // t.total
         |             as bigint) AS actual_ppm,
         |        cast((1000000 * wt) // $wsum as bigint) AS target_ppm
         |      FROM a JOIN w ON a.lang = w.lang, t)
         |SELECT lang, n_tok, actual_ppm, target_ppm,
         |  least($mixEpochsCapPpm,
         |    cast((cast(1000000 as hugeint) * target_ppm) // actual_ppm
         |         as bigint)) AS epochs_ppm,
         |  cast((cast(n_tok as hugeint) *
         |    least($mixEpochsCapPpm,
         |      cast((cast(1000000 as hugeint) * target_ppm) // actual_ppm
         |           as bigint))) // 1000000 as bigint) AS eff_tok
         |FROM p ORDER BY lang""".stripMargin
    } { (s, dir) =>
      val wsum = mixWeights.values.sum
      val a = docs(s, dir)
        .select(col("lang"), size(toks).cast(LongType).as("n"))
        .groupBy(col("lang")).agg(sum(col("n")).as("n_tok"))
      val tot = a.agg(sum(col("n_tok")).as("total"))
      val w = s.createDataFrame(mixWeights.toSeq.sorted).toDF("lang", "wt")
      val p = a.join(broadcast(w), "lang").crossJoin(broadcast(tot))
        .select(col("lang"), col("n_tok"),
          expr("cast((cast(1000000 as decimal(38,0)) * n_tok) div total" +
            " as bigint)").as("actual_ppm"),
          expr(s"cast((1000000 * wt) div $wsum as bigint)").as("target_ppm"))
      p.select(col("lang"), col("n_tok"), col("actual_ppm"), col("target_ppm"),
        expr(s"least($mixEpochsCapPpm," +
          " cast((cast(1000000 as decimal(38,0)) * target_ppm) div actual_ppm" +
          " as bigint))").as("epochs_ppm"),
        expr(s"cast((cast(n_tok as decimal(38,0)) * least($mixEpochsCapPpm," +
          " cast((cast(1000000 as decimal(38,0)) * target_ppm) div actual_ppm" +
          " as bigint))) div 1000000 as bigint)").as("eff_tok"))
        .orderBy(col("lang"))
    },

    // Cross-source quantile normalization (round 8 continuation): map
    // every source's doc-length distribution onto the POOLED
    // distribution — each (source, value) cell is replaced by the pooled
    // value at the same quantile (the batch-effect correction that makes
    // per-source features comparable before mixing; the fix for what
    // q_ks_drift detects). Quantiles are exact integer ppb (floor(1e9·
    // cum/n) — deterministic cross-engine; the nearest distinct rational
    // is ≥ 1/n away for n < 1e9, and the >= lookup semantics make ppb
    // collisions harmless), and the lookup "smallest pooled value whose
    // quantile ≥ mine" is NOT a quadratic cells × pooled grid: both cell
    // sets merge into ONE tagged stream per source, sorted ppb DESC with
    // pooled-before-source at ties (kind DESC) and smallest-value-last
    // among equal pooled ppbs, so a single last_value(... IGNORE NULLS)
    // running window resolves every lookup in a linear pass — sources ×
    // domain rows total. Scale shape: the corpus collapses to value
    // cells in one map-side-combinable agg; every window runs on
    // DOMAIN-bounded cell tables (doc lengths, not docs); the pooled
    // cell table and source list ride crossJoin(broadcast(tiny)).
    "q_quantile_norm" -> Q(
      """WITH d AS MATERIALIZED (
        |  SELECT source, cast(n_chars as bigint) AS v FROM documents),
        |sc AS (SELECT source, v, cast(count(*) as bigint) AS cnt
        |       FROM d GROUP BY source, v),
        |st AS MATERIALIZED (
        |  SELECT source, cast(sum(cnt) as bigint) AS n_src
        |  FROM sc GROUP BY source),
        |s AS (SELECT sc.source, 0 AS kind,
        |        cast((cast(1000000000 as hugeint) *
        |          sum(cnt) OVER (PARTITION BY sc.source ORDER BY v
        |                         ROWS UNBOUNDED PRECEDING))
        |          // st.n_src as bigint) AS ppb,
        |        v, cnt, cast(NULL as bigint) AS v_pool
        |      FROM sc JOIN st ON sc.source = st.source),
        |pc AS (SELECT v, cast(count(*) as bigint) AS pcnt FROM d GROUP BY v),
        |pt AS (SELECT cast(sum(pcnt) as bigint) AS n FROM pc),
        |p AS MATERIALIZED (
        |  SELECT cast((cast(1000000000 as hugeint) *
        |           sum(pcnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING))
        |           // pt.n as bigint) AS ppb,
        |         v AS v_pool
        |  FROM pc, pt),
        |m AS (SELECT * FROM s
        |      UNION ALL
        |      SELECT st.source, 1 AS kind, p.ppb, cast(NULL as bigint) AS v,
        |             cast(NULL as bigint) AS cnt, p.v_pool
        |      FROM st CROSS JOIN p),
        |f AS (SELECT source, kind, v, cnt,
        |        last_value(v_pool IGNORE NULLS) OVER (
        |          PARTITION BY source
        |          ORDER BY ppb DESC, kind DESC, coalesce(v_pool, v) DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_norm
        |      FROM m)
        |SELECT source, v, cnt AS n_docs, v_norm FROM f WHERE kind = 0
        |ORDER BY source, v""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ppbOf = (cum: String, n: String) =>
        expr(s"cast((cast(1000000000 as decimal(38,0)) * $cum) div $n as bigint)")
      val d = docs(s, dir)
        .select(col("source"), col("n_chars").cast(LongType).as("v"))
      val srcCells = d.groupBy(col("source"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val srcTot = srcCells.groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_src"))
      val srcRows = srcCells
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("source")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(srcTot, "source")
        .select(col("source"), lit(0).as("kind"),
          ppbOf("cum", "n_src").as("ppb"), col("v"), col("cnt"),
          lit(null).cast(LongType).as("v_pool"))
      val poolCells = d.groupBy(col("v")).agg(count(lit(1)).as("pcnt"))
      val poolTot = poolCells.agg(sum(col("pcnt")).as("n"))
      val poolRows = poolCells
        // single-partition cumsum window is BENIGN (WindowExec warns):
        // input is the per-value CELL table (length domain, measured
        // flat at 100×), never doc rows (PlanAuditSpec bounded-window
        // list)
        .withColumn("pcum", sum(col("pcnt")).over(
          Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(poolTot))
        .select(ppbOf("pcum", "n").as("ppb"), col("v").as("v_pool"))
        .crossJoin(broadcast(srcTot.select(col("source"))))
        .select(col("source"), lit(1).as("kind"), col("ppb"),
          lit(null).cast(LongType).as("v"), lit(null).cast(LongType).as("cnt"),
          col("v_pool"))
      srcRows.unionByName(poolRows)
        .withColumn("v_norm", last(col("v_pool"), ignoreNulls = true).over(
          Window.partitionBy(col("source"))
            .orderBy(col("ppb").desc, col("kind").desc,
              coalesce(col("v_pool"), col("v")).desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("kind") === 0)
        .select(col("source"), col("v"), col("cnt").as("n_docs"), col("v_norm"))
        .orderBy(col("source"), col("v"))
    },

    // RAKE keyword extraction (round 9; Rose et al. 2010): candidate
    // phrases are maximal stopword-free token runs; each word scores
    // deg/freq where freq = its occurrence count and deg = Σ|phrase| over
    // its occurrences (the self-inclusive degree convention — deg ≥ freq,
    // so score_ppm ≥ 1e6, co-occurrence-rich words score higher). The
    // stopword delimiter set is the shared 'en' lexicon, interpolated
    // into both engines. Integer throughout: phrase segmentation is a
    // per-doc running stopword count (doc-sized window partitions), the
    // word stats are one vocab-sized agg, score is one floor-ppm
    // division, and the top-25 is a TakeOrdered with a word tiebreak.
    // Nothing wider than (token, phrase-id) rows ever shuffles, and the
    // phrase-length join keys on (doc, phrase) — corpus-linear.
    "q_keyword_rake" -> Q(
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(t) AS w,
         |    unnest(range(1, len(t) + 1)) AS pos
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
         |f AS (SELECT doc_id, w, pos,
         |        CASE WHEN w IN (${lexicons("en").map(w => s"'$w'").mkString(", ")})
         |             THEN 1 ELSE 0 END AS is_stop
         |      FROM toks WHERE w <> ''),
         |p AS (SELECT doc_id, w, is_stop,
         |        sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
         |                           ROWS UNBOUNDED PRECEDING) AS pid
         |      FROM f),
         |ns AS (SELECT doc_id, w, pid FROM p WHERE is_stop = 0),
         |pl AS (SELECT doc_id, pid, cast(count(*) as bigint) AS plen
         |       FROM ns GROUP BY doc_id, pid),
         |st AS (SELECT ns.w AS word, cast(count(*) as bigint) AS freq,
         |         cast(sum(pl.plen) as bigint) AS deg
         |       FROM ns JOIN pl USING (doc_id, pid) GROUP BY ns.w)
         |SELECT word, freq, deg,
         |  cast((deg * 1000000) // freq as bigint) AS score_ppm
         |FROM st ORDER BY score_ppm DESC, word LIMIT 25""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val stop = lexicons("en")
      val toks = docs(s, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(col("w") =!= "")
        .withColumn("is_stop", when(col("w").isInCollection(stop), 1L).otherwise(0L))
      val withPid = toks.withColumn("pid",
        sum(col("is_stop")).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val ns = withPid.filter(col("is_stop") === 0L)
        .select(col("doc_id"), col("w"), col("pid"))
      val pl = ns.groupBy(col("doc_id"), col("pid"))
        .agg(count(lit(1)).as("plen"))
      ns.join(pl, Seq("doc_id", "pid"))
        .groupBy(col("w").as("word"))
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .select(col("word"), col("freq"), col("deg"),
          expr("(deg * 1000000L) div freq").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("word")).limit(25)
    },

    // Class-balanced deterministic sampling (round 9): downsample every
    // language class toward the SMALLEST class's size — the mix
    // rebalancing a training pipeline runs before q_mix_weighted's
    // budgeted draw. Selection is a pure hash predicate (16-bit md5
    // bucket of doc_id < per-class cutoff 65536·target // n_class — the
    // q_sample_hash discipline at 16-bit precision), so the sample is
    // map-only, reproducible, join-free per row, and IDENTICAL under
    // re-runs and repartitioning; no per-class rank window ever sorts a
    // class (a rank-based exact-k sample would put a corpus-sized
    // partition on one reducer per class). Achieved sizes land within
    // the hash-uniformity tolerance of the target; the report emits
    // both so the deviation is visible and hash-gated.
    "q_sample_balanced" -> Q(
      """WITH cls AS (SELECT lang, cast(count(*) as bigint) AS n_class
        |             FROM documents GROUP BY lang),
        |tgt AS (SELECT min(n_class) AS target FROM cls),
        |cut AS (SELECT lang, n_class,
        |          (65536 * tgt.target) // n_class AS cut16, tgt.target
        |        FROM cls, tgt),
        |k AS (SELECT d.lang, count(*) AS n_kept
        |      FROM documents d JOIN cut USING (lang)
        |      WHERE (instr('0123456789abcdef', substr(md5(cast(d.doc_id as varchar)), 1, 1)) - 1) * 4096
        |          + (instr('0123456789abcdef', substr(md5(cast(d.doc_id as varchar)), 2, 1)) - 1) * 256
        |          + (instr('0123456789abcdef', substr(md5(cast(d.doc_id as varchar)), 3, 1)) - 1) * 16
        |          + (instr('0123456789abcdef', substr(md5(cast(d.doc_id as varchar)), 4, 1)) - 1)
        |          < cut.cut16
        |      GROUP BY d.lang)
        |SELECT cut.lang, cut.n_class, cast(cut.cut16 as bigint) AS cut16,
        |  cast(cut.target as bigint) AS target,
        |  cast(coalesce(k.n_kept, 0) as bigint) AS n_kept,
        |  cast((coalesce(k.n_kept, 0) * 1000000) // cut.target as bigint)
        |    AS achieved_ppm
        |FROM cut LEFT JOIN k USING (lang)
        |ORDER BY lang""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val cls = d.groupBy(col("lang")).agg(count(lit(1)).as("n_class"))
      val tgt = cls.agg(min(col("n_class")).as("target"))
      val cut = cls.crossJoin(broadcast(tgt))
        .select(col("lang"), col("n_class"),
          expr("(65536L * target) div n_class").as("cut16"), col("target"))
      val bucket16 = conv(substring(
          md5(col("doc_id").cast(StringType).cast(BinaryType)), 1, 4), 16, 10)
        .cast(LongType)
      val k = d.select(col("lang"), bucket16.as("b16"))
        .join(broadcast(cut.select(col("lang"), col("cut16"))), "lang")
        .filter(col("b16") < col("cut16"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      cut.join(k, Seq("lang"), "left")
        .select(col("lang"), col("n_class"), col("cut16"), col("target"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          expr("(coalesce(n_kept, 0L) * 1000000L) div target")
            .as("achieved_ppm"))
        .orderBy(col("lang"))
    }
  )
}
