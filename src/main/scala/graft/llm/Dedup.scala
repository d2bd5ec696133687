package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, Q}

/** Deduplication operators for LLM-data pipelines (`EXT` in SURVEY §2):
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Engine-portability design: every hash is md5 (identical hex in Spark
  * and DuckDB), so the MinHash signature is the *lexicographic* min of
  * `md5(seed || shingle)` — a portable stand-in for the usual
  * (a·x+b mod p) permutations — and SimHash bits come from the first 16
  * bits of `md5(token)`. That lets even the sketch-based operators be
  * oracle-checked bit-for-bit, not just smoke-tested.
  *
  * Scale notes (the whole point of these ops at 100 TB):
  *  - exact dedup: hash-groupBy — one shuffle on the dedup key.
  *  - n-gram Jaccard: candidate pairs come from an equi-join on shared
  *    shingles (no O(n²) cross join); worst-case hot shingles are the skew
  *    risk → at scale, drop top-frequency shingles (df cap) or use minhash.
  *  - MinHash+LSH: signatures are one explode + min-agg (linear); banding
  *    turns near-dup search into an equi-join on (band, key) — the
  *    classic sub-quadratic path. Verification joins only candidates.
  *  - SimHash: linear signature; candidate pairs come from an equi-join on
  *    7 bit-chunks of the 32-bit signature ([[simhashCandidates]]) — by
  *    pigeonhole, ≤ 6 flipped bits can corrupt at most 6 of 7 chunks, so
  *    every hamming ≤ 6 pair shares a chunk (recall 1.0, no all-pairs join).
  *  - embedding near-dup: candidates from random-hyperplane LSH buckets
  *    (multi-probe equi-join), exact cosine rerank on candidates only.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Engine.table(s, dir, "documents")

  private def md5s(c: Column): Column = md5(c.cast(BinaryType))

  /** DuckDB SQL: first 8 hex nibbles of `md5Expr` as a 32-bit integer —
    * the oracle twin of Spark's `conv(substring(md5(x), 1, 8), 16, 10)`
    * (the q_dedup_sig nibble-sum pattern).
    */
  private def oHex8(md5Expr: String): String =
    (0 until 8).map { j =>
      s"(instr('0123456789abcdef', substr($md5Expr, ${j + 1}, 1)) - 1) * ${1L << (4 * (7 - j))}"
    }.mkString("(", " + ", ")")

  /** Fixed-width 50-token window keys for the exact-substring family
    * (q_dedup_suffix / q_span_provenance): one (doc_id, pos, k) row per
    * full window, k = md5 of the space-joined window (16-byte keys keep
    * the shuffle corpus-linear; suffix-sort adjacency ⇔ key equality
    * once keys are fixed-width — see q_dedup_suffix).
    */
  private[graft] def suffixWindows(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 50)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 49)).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5s(concat_ws(" ", slice(col("t"), col("pos"), lit(50)))).as("k"))

  /** Canonical copy per window key — q_dedup_suffix_keep1's argmin
    * contract, factored so the batch keep1 operator and the streaming cut
    * feed ([[graft.streaming.Streams.streamingSuffixCut]]) share it
    * VERBATIM: per key, the (min doc_id, then min pos within that doc)
    * occurrence. Pure aggregates (key-sized groupBys + one key equi-join),
    * no window function. Returns (k, canon_doc, canon_pos).
    */
  private[graft] def canonicalCopies(wins: DataFrame): DataFrame = {
    val ck = wins.groupBy(col("k")).agg(min(col("doc_id")).as("cd"))
    wins.join(ck, Seq("k"))
      .filter(col("doc_id") === col("cd"))
      .groupBy(col("k"))
      .agg(min(col("doc_id")).as("canon_doc"),
        min(col("pos")).as("canon_pos"))
  }

  /** Oracle twin of [[suffixWindows]] — the `toks`/`wins` CTE pair shared
    * by every exact-substring oracle (q_dedup_suffix, q_dedup_suffix_keep1,
    * q_span_provenance; the [[oSimhashPairsCte]] pattern), so the window
    * projection the whole family hinges on is stated ONCE: an edit to the
    * width or tokenization can no longer silently desynchronize one copy.
    */
  private[llm] val oSuffixWinsCte: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents),
      |wins AS MATERIALIZED (
      |  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+49], ' ')) AS k
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 48)) AS i
      |        FROM toks WHERE len(t) >= 50))""".stripMargin

  /** Exact dedup on a key set: keep the min doc_id per group (function
    * form used by specs; `dropDuplicates` is the one-liner equivalent).
    */
  def exactDedup(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** (doc_id, shingle): 3-token shingles, deduplicated per doc. Uses the
    * native [[graft.functions.Shingles]] expression (one primitive pass;
    * the equivalent transform/element_at HOF chain is interpreted and
    * dominated the dedup bench queries). Values identical to the oracle's
    * `list_transform(range(1, len-1), i -> t[i]||' '||t[i+1]||' '||t[i+2])`.
    */
  def shingles(d: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    d.filter(size(t) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.shingles(col("text"), 3))
          .as("shingle"))
      .distinct()
  }

  /** Candidate pairs via shared shingles + exact Jaccard (d1 < d2). */
  def jaccardPairs(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.select(col("doc_id").as("d1"), col("shingle"))
    val b = sh.select(col("doc_id").as("d2"), col("shingle"))
    a.join(b, a("shingle") === b("shingle") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
  }

  /** Exact Jaccard for a given candidate-pair set WITHOUT regenerating
    * all pairs. Round-8 form: per-doc sorted shingle ARRAYS + one in-row
    * set intersection per candidate — two doc-keyed hash joins move one
    * array per candidate side, where the previous exploded formulation
    * (expand candidates by d1's shingles, equi-join on (d2, shingle))
    * shuffled ~shingles-per-doc ROWS per candidate (~230M rows at the
    * 100× corpus; measured 45.7 s → 7.2 s at identical output, DESIGN.md
    * "30×/100× scale proof (round 8)"). Arrays are doc-sized (ONE
    * document's distinct shingles), never corpus-sized. Pairs with an
    * empty intersection are dropped, matching the old
    * aggregate-of-matches contract (every candidate
    * generator here guarantees a shared shingle anyway).
    */
  def jaccardForCandidates(sh: DataFrame, cands: DataFrame): DataFrame = {
    val arrays = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("shingle"))).as("a"),
        count(lit(1)).as("n"))
    cands
      .join(arrays.select(col("doc_id").as("d1"), col("a").as("a1"),
        col("n").as("n1")), "d1")
      .join(arrays.select(col("doc_id").as("d2"), col("a").as("a2"),
        col("n").as("n2")), "d2")
      .withColumn("inter",
        size(array_intersect(col("a1"), col("a2"))).cast(LongType))
      .filter(col("inter") >= 1L)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"))
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
  }

  /** Document-frequency-capped candidate generation: shingles appearing
    * in more than `maxDf` docs are excluded from pair GENERATION (they are
    * the quadratic blowup at scale — a shingle in d docs yields d²/2
    * candidate rows), yet surviving pairs keep their EXACT full-set
    * Jaccard. The intersection splits over the rare/hot partition of the
    * shingle space: the rare part comes from an INVERTED INDEX — one
    * groupBy(shingle) builds sorted posting lists, and each rare list of
    * d docs emits its C(d,2) ordered pairs directly (the self-join's
    * exact output multiset, generated without exchanging the shingle
    * table twice or running the join); the hot part is recovered by
    * expanding only the candidate pairs by their (few) hot shingles,
    * using the hot posting lists. The exploded shingle table is consumed
    * three times total (sizes + two posting-list derivations) versus the
    * self-join formulation's six, and the hot-shingle pair blowup never
    * happens. Near-dups share many shingles, so dropping the hottest
    * from generation barely dents recall (LlmSpec pins recall on
    * jac >= 0.8 pairs and exact score agreement on survivors).
    */
  def jaccardPairsCapped(sh: DataFrame, maxDf: Int): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // inverted index: one shuffle of sh keyed on shingle; sort_array
    // fixes collect_list's nondeterministic order so pairs come out
    // (d1 < d2) without a filter
    val posts = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"),
        count(lit(1)).as("df"))
    // C(d,2) ordered pairs per rare posting list via the native
    // SuffixPairs expression (one primitive pass; the equivalent nested
    // transform/slice/flatten HOF chain is interpreted) — bounded by
    // maxDf, so the worst list emits maxDf*(maxDf-1)/2 structs
    val rarePairs = posts.filter(col("df") <= maxDf)
      .select(explode(
        graft.functions.TextExpressions.suffixPairs(col("ds"))).as("p"))
    val interRare = rarePairs
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("inter_rare"))
    // hot-side intersection, computed only for candidates: expand each
    // pair by d1's hot shingles (from the hot posting lists), match
    // them against d2's
    val hotSh = posts.filter(col("df") > maxDf)
      .select(col("shingle"), explode(col("ds")).as("doc_id"))
    val interHot = interRare.select(col("d1"), col("d2"))
      .join(hotSh.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(hotSh.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter_hot"))
    interRare.join(interHot, Seq("d1", "d2"), "left")
      .withColumn("inter", col("inter_rare") + coalesce(col("inter_hot"), lit(0L)))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jac",
        col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter")))
      .select(col("d1"), col("d2"), col("n1"), col("n2"), col("inter"), col("jac"))
  }

  /** Prefix-filtering candidate generation (the PPJoin/AllPairs family —
    * Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07):
    * order every doc's shingles by GLOBAL rarity (document frequency asc,
    * shingle asc — one total order both engines replay), and keep only
    * each doc's first `n - ceil(t·n) + 1` shingles as its prefix. Two
    * docs with Jaccard ≥ t MUST share a prefix shingle (if they shared
    * none, the intersection is confined to the suffixes, which are too
    * short to reach the required overlap ceil(t·n) — the standard prefix
    * -filter theorem), so an equi-join on prefix shingles is a LOSSLESS
    * candidate generator — unlike the df-cap heuristic
    * ([[jaccardPairsCapped]]), no recall proof per corpus is needed.
    *
    * Scale shape: the prefix keeps the RAREST shingles, so the posting
    * lists the join fans out over are the short ones by construction —
    * the hot-shingle d²/2 blowup the df-cap excludes never enters pair
    * generation here at all (a shingle in the prefix of many docs is, by
    * the ordering's definition, globally rare). The per-doc rank window
    * partitions by doc_id (doc-sized sorts, thousands of rows max), the
    * length filter `t·max(n1,n2) ≤ min(n1,n2)` prunes cross-size pairs
    * before the distinct, and exact verification runs only on candidates
    * via [[jaccardForCandidates]]. At 100 TB this is the exact-similarity
    * join you run when the df-cap's "hot shingles carry no signal"
    * assumption is not safe for the corpus.
    *
    * Returns (d1, d2) candidate pairs, d1 < d2, distinct. `t` is given as
    * an exact rational thresholdNum/thresholdDen so the prefix length and
    * length filter stay in integer arithmetic on both engines.
    */
  def prefixCandidates(sh: DataFrame, thresholdNum: Int, thresholdDen: Int): DataFrame = {
    require(thresholdNum > 0 && thresholdNum <= thresholdDen,
      s"threshold must be a rational in (0, 1]: $thresholdNum/$thresholdDen")
    val dfs = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // ceil(t*n) = (num*n + den - 1) div den — pure integer on both engines
    val need = s"(($thresholdNum * n + $thresholdDen - 1) div $thresholdDen)"
    val pref = sh.join(dfs, "shingle").join(sizes, "doc_id")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      .filter(col("pos") <= col("n") - expr(need) + 1)
      .select(col("doc_id"), col("shingle"), col("pos"))
    // pair generation via prefix posting lists (one groupBy + the native
    // SuffixPairs C(d,2) expansion) instead of a prefix self-join — the
    // self-join form recomputes the whole rank pipeline (two shuffles +
    // window) once per side (measured 6.3 s vs 4.0 s at sf0.1). The
    // posting entry packs (doc_id, prefix position) into one long
    // (doc_id·2^20 + pos) so the native pair expansion can carry the
    // position through: pos < 2^20 (clamped — clamping only LOOSENS the
    // positional bound below, so it stays lossless) and doc_id < 2^43
    // (ScaleUp's stride·reps tops out at 10^10), and within one posting
    // list doc ids are distinct, so encoded order == doc order.
    val enc = (c: Column, p: Column) =>
      c * lit(1048576L) + least(p.cast(LongType), lit(1048575L))
    val cand0 = pref.groupBy(col("shingle"))
      .agg(sort_array(collect_list(enc(col("doc_id"), col("pos")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(
        graft.functions.TextExpressions.suffixPairs(col("ds"))).as("p"))
      .select(shiftright(col("p.d1"), 20).as("d1"), (col("p.d1") % 1048576L).as("p1"),
        shiftright(col("p.d2"), 20).as("d2"), (col("p.d2") % 1048576L).as("p2"))
      // per pair, the minimal SHARED prefix shingle in the global (df,
      // shingle) order attains BOTH minima (positions grow monotonically
      // with the shared shingle's global rank inside each doc's sorted
      // prefix), so one agg replaces the old distinct() at the same cost
      // and recovers the PPJoin positional anchor.
      .groupBy(col("d1"), col("d2"))
      .agg(min(col("p1")).as("p1"), min(col("p2")).as("p2"))
    // PPJoin length + positional filters, applied at GENERATION (round
    // 8): a pair can only reach jac >= num/den if den·n_min >= num·n_max
    // (inter ≤ n_min, union ≥ n_max), and — the positional filter — if
    // 1 + min(n1−p1, n2−p2) ≥ ceil(num·(n1+n2)/(num+den)): every shared
    // shingle sits at global rank ≥ the first shared PREFIX shingle
    // (anything globally smaller and shared would itself be in both
    // prefixes — positions < p1, p2 ≤ prefix lengths — contradicting
    // minimality), so at most min(n1−p1, n2−p2)+1 shingles can match,
    // while jac ≥ num/den needs inter·(num+den) ≥ num·(n1+n2). Both are
    // output-neutral, but they prune candidates BEFORE the expensive
    // intersection expansion, which is where the join's time goes
    // (DESIGN.md "30×/100× scale proof (round 8)", at the 100× corpus:
    // 63% of 11.9M candidates are
    // length-incompatible; verify 128.6 s → ~46 s). The sizes join keys
    // on doc ids — two hash joins against a doc-count-sized table,
    // never broadcast-dependent.
    cand0
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(lit(thresholdDen) * least(col("n1"), col("n2"))
        >= lit(thresholdNum) * greatest(col("n1"), col("n2")))
      .filter((lit(1L) + least(col("n1") - col("p1"), col("n2") - col("p2")))
        * lit(thresholdNum + thresholdDen)
        >= lit(thresholdNum) * (col("n1") + col("n2")))
      .select(col("d1"), col("d2"))
  }

  /** MinHash seeds: k portable "permutations" via seeded md5 (shared with
    * the fused native expression and, via string interpolation, the
    * oracle SQL).
    */
  val minhashSeeds: Seq[String] = graft.functions.MinhashSignature.defaultSeeds

  /** Oracle-SQL fragment computing the per-doc MinHash signature columns
    * h0..h5 over a `(doc_id, shingle)` relation — ONE definition shared by
    * every sig-based oracle (q_dedup_sig / minhash / fuzzy and the
    * composed q_pipeline_curate) so they cannot drift.
    */
  private[llm] val oSigExprs: String =
    minhashSeeds.zipWithIndex.map { case (seed, i) =>
      s"min(md5('$seed' || shingle)) AS h$i"
    }.mkString(", ")

  /** Per-doc MinHash signature: h_i = min over shingles of
    * md5(seed_i || shingle) (lexicographic min of fixed-width hex ==
    * numeric min of the 128-bit value).
    */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val hs = minhashSeeds.zipWithIndex.map { case (seed, i) =>
      min(md5s(concat(lit(seed), col("shingle")))).as(s"h$i")
    }
    sh.groupBy(col("doc_id")).agg(hs.head, hs.tail: _*)
  }

  /** STATELESS per-row MinHash signature: identical values to
    * [[minhashSignatures]] (min of md5(seed||shingle) per seed; distinct
    * shingles don't change a min), but computed with
    * `array_min(transform(...))` inside one projection — no explode, no
    * aggregation. This is the streaming-ingest form: a signature per
    * document with zero shuffles, so a stream can dedup on it with a
    * single stateful operator ([[graft.streaming.Streams.streamingSigDedup]]).
    */
  def minhashSignaturesStateless(d: DataFrame): DataFrame =
    withMinhashSignature(d)
      .select(col("doc_id") +: (0 until minhashSeeds.size).map(i => col(s"h$i")): _*)

  /** [[minhashSignaturesStateless]] keeping every input column (streams
    * need the event-time column for watermark eviction and the payload for
    * downstream stages); appends h0..h5.
    */
  def withMinhashSignature(d: DataFrame): DataFrame = {
    // one fused native pass: tokenize + shingle + 6 seeded md5 minima in
    // a single codegen-resident expression (the prior form projected the
    // shingle array once, then ran 6 interpreted array_min(transform(md5))
    // HOFs over it — ~3 s/query of pure interpretation at sf0.1); null
    // signature ≙ fewer than 3 tokens, matching the HOF form's
    // size(shingles) >= 1 guard
    val withSig = d
      .withColumn("__sig",
        graft.functions.TextExpressions.minhashSignature(col("text"), 3, minhashSeeds))
      .filter(col("__sig").isNotNull)
    val hs = minhashSeeds.indices.map(i =>
      element_at(col("__sig"), i + 1).as(s"h$i"))
    withSig.select(d.columns.map(col).toSeq ++ hs: _*)
  }

  /** LSH banding (rows=2, bands=3): candidate pairs agree on at least one
    * full band — the equi-join that replaces all-pairs comparison.
    */
  def lshCandidates(sigs: DataFrame): DataFrame = {
    val bands = lshBands(sigs)
    val l = bands.select(col("doc_id").as("d1"), col("band_id"), col("key"))
    val r = bands.select(col("doc_id").as("d2"), col("band_id"), col("key"))
    l.join(r, Seq("band_id", "key")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
  }

  /** The corpus's DISTINCT (band_id, key) MinHash-LSH band index — the
    * structure q_dedup_incremental collapses the corpus to, and exactly
    * what a production ingest persists daily and probes per new batch
    * (batch probe: q_dedup_incremental; streaming probe:
    * [[graft.streaming.Streams.streamingBandDedup]]). One
    * map-side-combinable distinct; size is bounded by bands × distinct
    * signatures, never document text.
    */
  def bandIndex(corpus: DataFrame): DataFrame =
    bandIndexFromSigs(minhashSignaturesStateless(corpus))

  /** [[bandIndex]] over an already-signed corpus `(doc_id, h0..h5)` — the
    * form that probes a PERSISTED signature artifact
    * ([[Components.minhashSigs]]) instead of re-signing the corpus text.
    */
  def bandIndexFromSigs(sigs: DataFrame): DataFrame =
    lshBands(sigs).select(col("band_id"), col("key")).distinct()

  // ---- persisted band index + append path (round 15, VERDICT-r14 #3):
  // the WRITE-path twin of s_dedup_incremental, mirroring s_ann_ingest —
  // a daily ingest APPENDS to the band index instead of rebuilding ----

  /** Persist the corpus's DISTINCT (band_id, key) index at `path/bands`,
    * partitioned by band with one file per band (the AnnIndex.writeIndex
    * file-sizing discipline: partitionBy without the repartition writes
    * task-count × band-count slivers). A probe reads every band's file
    * once: [[graft.streaming.Streams.streamingBandDedup]] keys the whole
    * index by `band_id ‖ key` and shares that one read across its three
    * band joins.
    */
  def writeBandIndex(corpus: DataFrame, path: String): Unit =
    bandIndex(corpus).repartition(col("band_id")).write.mode("overwrite")
      .partitionBy("band_id").parquet(s"$path/bands")

  /** Declared schema of the persisted band index (`band_id` is its
    * partition column): a probe or append reads it through the
    * [[IndexStore]] with no Parquet schema-inference job.
    */
  private[graft] val bandIndexSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("band_id", IntegerType)))

  def readBandIndex(spark: SparkSession, path: String): DataFrame =
    IndexStore.read(spark, bandIndexSchema, s"$path/bands")
      .select(col("band_id"), col("key"))

  /** Append a new batch's band keys to the persisted index, preserving
    * the DISTINCT invariant the probe relies on (a duplicate (band, key)
    * row would MULTIPLY [[graft.streaming.Streams.streamingBandDedup]]'s
    * joined rows, not just re-flag them): the batch's distinct keys
    * anti-join the published index and only genuinely new rows land —
    * a band-partitioned equi anti-join whose left side is batch-sized
    * (at 100 TB the daily-batch form is a partitioned merge; the
    * semantics here are exactly that merge's). Parquet `append` is not
    * idempotent, so the streaming wrapper runs this under the same
    * per-lineage batch-marker discipline as the ANN ingest
    * ([[graft.streaming.Streams.bandIngestBatchHandler]]); within one
    * batch the anti-join additionally makes a REPLAYED append a
    * physical no-op (zero new rows), so even the marker-crash window
    * only costs a wasted anti-join, never a corrupt index.
    */
  def appendToBandIndex(newDocs: DataFrame, path: String): Unit = {
    val spark = newDocs.sparkSession
    // partitioned by band BEFORE the distinct: the distinct, a broadcast
    // anti-join and the band-partitioned write share that one shuffle
    val fresh = lshBands(minhashSignaturesStateless(newDocs))
      .select(col("band_id"), col("key"))
      .repartition(col("band_id")).distinct()
      .join(readBandIndex(spark, path), Seq("band_id", "key"), "left_anti")
    // Spark drops this repartition when the join kept the band
    // partitioning; a sort-merge anti-join re-splits the batch by
    // (band_id, key), and then this shuffle keeps one file per band
    fresh.repartition(col("band_id")).write.mode("append")
      .partitionBy("band_id").parquet(s"$path/bands")
  }

  /** The (doc_id, band_id, key) banding relation behind [[lshCandidates]]
    * — shared with the occupancy audit so the two cannot drift.
    */
  private[graft] def lshBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(array((0 until 3).map(b =>
        struct(lit(b).as("band_id"),
          concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("bk.band_id"), col("bk.key"))

  /** 32-bit SimHash per doc over its distinct 3-gram shingles (sum of ±1
    * per bit, sign → bit). Shingle features, not tokens: this corpus
    * shares one small vocabulary, so token-level simhash cannot separate
    * documents; shingle sets can.
    */
  def simhash(sh: DataFrame): DataFrame = {
    val hv = sh.select(col("doc_id"),
      conv(substring(md5s(col("shingle")), 1, 8), 16, 10).cast(LongType).as("hv"))
    val bits = hv.select(col("doc_id"), col("hv"),
      explode(sequence(lit(0), lit(31))).as("b"))
      .select(col("doc_id"), col("b"),
        when(expr("shiftright(hv, b) & 1") === 1, 1).otherwise(-1).as("sign"))
    bits.groupBy(col("doc_id"), col("b")).agg(sum(col("sign")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(cast(1 as bigint), b)"))
        .otherwise(0L)).as("sig"))
  }

  /** STATELESS per-row SimHash: identical values to [[simhash]] over the
    * exploded shingle table (LlmSpec pins exact agreement) but computed by
    * the fused [[graft.functions.SimhashSignature]] expression — one
    * narrow pass, zero shuffles, instead of shingle explode → distinct →
    * 32× bit explode → two groupBys. The graded query and any streaming
    * ingest use this form; the exploded form remains the semantic spec.
    */
  def simhashSignaturesStateless(d: DataFrame, bits: Int = 32): DataFrame =
    d.select(col("doc_id"),
        graft.functions.TextExpressions.simhashSignature(col("text"), 3, bits).as("sig"))
      .filter(col("sig").isNotNull)

  /** Derived signature width (the embedPlanesFor treatment, round 8): a
    * random doc pair lands within hamming 6 of a 32-bit signature with
    * probability Σ_{k≤6} C(32,k)/2³² ≈ 2.7e-4 — measured on the 30×
    * synthetic corpus (150k docs) as 3.36M pairs ≈ 3e-4·C(n,2), i.e. the
    * pair set is Θ(n²) NOISE past ~10⁴ docs, independent of any banding
    * cleverness. At 63 bits the same mass is Σ C(63,k)/2⁶³ ≈ 4e-11 —
    * zero at any realistic corpus — so width steps up once the expected
    * 32-bit noise mass (≈ 2.7e-4·n²/2) passes ~2 pairs per document:
    * n > 16384. Every graded SF (≤ 5k docs at sf0.1) resolves to 32, so
    * the DuckDB oracles (which mirror the 32-bit pipeline) are
    * untouched; the 63-bit path is the 100 TB shape, exercised by the
    * scale gate and pinned lossless in LlmSpec. 63 (not 64) keeps the
    * expression's -1 null sentinel unreachable.
    */
  def simhashBitsFor(n: Long): Int = if (n <= 16384L) 32 else 63

  /** 7 chunks covering the SimHash signature at either width: (offset,
    * width). With hamming radius 6, at most 6 chunks differ → any true
    * pair shares at least one chunk exactly (pigeonhole), so banded
    * candidate generation is lossless at the ≤ 6 threshold. The 63-bit
    * spec's 9-bit chunks also keep band buckets 16× finer — candidate
    * volume Σ n_b² per band drops with bucket granularity as the corpus
    * grows.
    */
  val simhashBandSpec: Seq[(Int, Int)] =
    Seq((0, 5), (5, 5), (10, 5), (15, 5), (20, 4), (24, 4), (28, 4))

  /** Band layout per signature width: 7 chunks at both widths (pigeonhole
    * for hamming ≤ 6 needs at least 7).
    */
  def simhashBandSpecFor(bits: Int): Seq[(Int, Int)] = bits match {
    case 32 => simhashBandSpec
    case 63 => Seq((0, 9), (9, 9), (18, 9), (27, 9), (36, 9), (45, 9), (54, 9))
    case other => throw new IllegalArgumentException(
      s"simhash width must be 32 or 63; got $other")
  }

  /** (doc_id, sig, band_id, key): one row per signature chunk. The sig
    * rides along (one long) so verification needs no join back to the
    * signature table.
    */
  private def simhashBands(sigs: DataFrame, bits: Int = 32): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      explode(array(simhashBandSpecFor(bits).zipWithIndex.map { case ((off, len), i) =>
        struct(lit(i).as("band_id"),
          shiftright(col("sig"), off).bitwiseAND(lit((1L << len) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band_id"), col("bk.key"))

  /** Candidate pairs for hamming ≤ 6 via an equi-join on signature chunks
    * — the bit-chunk bucketing that replaces the all-pairs comparison.
    */
  def simhashCandidates(sigs: DataFrame): DataFrame = {
    val bands = simhashBands(sigs)
    val l = bands.select(col("doc_id").as("d1"), col("band_id"), col("key"))
    val r = bands.select(col("doc_id").as("d2"), col("band_id"), col("key"))
    l.join(r, Seq("band_id", "key")).filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Banded candidates + exact hamming verification in one pass: the
    * hamming filter runs on the joined band rows themselves (sigs ride
    * along), so only true near-dup pairs reach the dedupe shuffle —
    * a multi-band pair costs duplicate cheap comparisons instead of a
    * full-candidate-set distinct + two join-backs.
    */
  def simhashNearDup(sigs: DataFrame, maxHamming: Int = 6, bits: Int = 32): DataFrame = {
    // pigeonhole soundness: k chunks guarantee recall only for < k flips
    require(maxHamming < simhashBandSpecFor(bits).size,
      s"banded candidates are lossless only for hamming < ${simhashBandSpecFor(bits).size}; " +
        s"got maxHamming=$maxHamming — widen the band spec first")
    val bands = simhashBands(sigs, bits)
    val l = bands.select(col("doc_id").as("d1"), col("sig").as("sig1"),
      col("band_id"), col("key"))
    val r = bands.select(col("doc_id").as("d2"), col("sig").as("sig2"),
      col("band_id"), col("key"))
    l.join(r, Seq("band_id", "key")).filter(col("d1") < col("d2"))
      .withColumn("hamming",
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming").distinct()
  }

  /** Band count for the embedding LSH OR-construction (round 8): the
    * all-pairs-near-dup candidate join uses `embedBands` INDEPENDENT
    * hash tables (bands), each over its own [[embedPlanesFor]]-derived
    * plane family, and a pair is a candidate iff it matches EXACTLY in
    * at least one band — the classic LSH OR-construction (and exactly
    * how the minhash banding here already works). Candidate volume is
    * Σ_bands n × occupancy = embedBands × [[embedDocsPerBucket]] × n —
    * LINEAR at every corpus size. The multi-probe formulation this
    * replaces (radius-r XOR masks over ONE table) carries
    * C(planes, ≤r) × occupancy candidates per vector, and the mask
    * count itself grows with the derived plane count — measured 204 s /
    * ~194M candidate rows at the 100× corpus (200k vectors, 15 planes,
    * 121 masks) vs the OR-construction's 64 candidates/vector forever.
    * Multi-probe remains the right shape for SINGLE-query lookups
    * (q_sim_ann) where one query's probe fan-out is the whole cost.
    * Recall for a pair at per-plane flip probability p is
    * 1 − (1 − (1−p)^planes)^bands — ≈ 0.94 at the graded operating
    * point (p ≈ 0.14, 8 planes, 8 bands).
    */
  val embedBands: Int = 8

  /** Per-band bucket assignments: (vec_id, band, bkey) with band t's
    * bucket read from the contiguous plane family [t·bandPlanes,
    * (t+1)·bandPlanes) — one narrow fused-expression pass computes all
    * bands. Null-bucket vectors (ragged/holey) drop, as in the
    * single-table path.
    */
  def embedBandBuckets(emb: DataFrame, bandPlanes: Int,
      nBands: Int = embedBands): DataFrame = {
    val v = Similarity.toDouble(col("embedding"))
    val bands = (0 until nBands).map(t =>
      struct(lit(t).as("band"),
        graft.functions.VectorExpressions
          .lshBucket(v, bandPlanes, planeOffset = t * bandPlanes).as("bkey")))
    emb.select(col("vec_id"), explode(array(bands: _*)).as("b"))
      .select(col("vec_id"), col("b.band"), col("b.bkey"))
      .filter(col("bkey").isNotNull)
  }

  /** OR-construction candidate pairs: distinct (d1 < d2) sharing at
    * least one band bucket — one equi-join on (band, bkey), never
    * all-pairs, candidate volume linear in the corpus (see
    * [[embedBands]]).
    */
  def embedBandCandidates(emb: DataFrame, bandPlanes: Int,
      nBands: Int = embedBands): DataFrame = {
    val bb = embedBandBuckets(emb, bandPlanes, nBands)
    val l = bb.select(col("vec_id").as("d1"), col("band"), col("bkey"))
    val r = bb.select(col("vec_id").as("d2"), col("band"), col("bkey"))
    l.join(r, Seq("band", "bkey")).filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** SimHash near-dup radius — single source for the graded queries'
    * Spark calls AND their oracle SQL (q_dedup_simhash, q_dedup_cc), so
    * the mirrored pair set cannot silently desynchronize. Must stay
    * < simhashBandSpec.size for banded candidate losslessness.
    */
  val simhashMaxHamming: Int = 6

  /** Materialize the shared simhash near-dup pair graph once (the
    * writeIvfIndex pattern): one signature+band+verify pass, persisted as
    * (d1, d2, hamming) parquet for every graph-family consumer to read
    * instead of re-deriving. DESIGN.md "Pair-graph materialize-once"
    * measures this trade; the per-query graded plans stay self-contained
    * (recompute) because the driver runs each `queries` entry independently.
    */
  def writePairGraph(docs: DataFrame, path: String): Unit = {
    val bits = simhashBitsFor(docs.count())
    simhashNearDup(simhashSignaturesStateless(docs, bits),
      maxHamming = simhashMaxHamming, bits = bits)
      .write.mode("overwrite").parquet(path)
  }

  // Shared oracle CTEs (the SQL twin of shingles/jaccardPairs above).
  // `AS MATERIALIZED`: DuckDB inlines plain CTEs, re-deriving a CTE's
  // whole upstream chain once per reference — a self-join on `sh` (or a
  // triple wedge join on an oriented edge CTE) re-runs the shingle+md5
  // pipeline multiplicatively, measured >15 min vs 1.4 s for the
  // q_triangles oracle at sf0.1. The hint pins single evaluation; result
  // semantics (and gate hashes) are unchanged.
  private val oShingleCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |         WHERE len(string_split(text, ' ')) >= 3),
      |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |       FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jac AS (SELECT d1, d2, s1.n AS n1, s2.n AS n2, inter,
      |          cast(inter as double) / (s1.n + s2.n - inter) AS jac
      |        FROM pairs JOIN sizes s1 ON d1 = s1.doc_id
      |                   JOIN sizes s2 ON d2 = s2.doc_id)""".stripMargin

  /** Shingle CTE + the full portable SimHash signature pipeline (hex md5
    * nibbles → hash value → ±1 bit sums → sign bits), ending in
    * `sigs(doc_id, sig)`. Shared by every simhash-family oracle so they
    * can never drift apart. WIDTH-PARAMETRIC since round 10: `swb`
    * derives the signature width from the corpus size exactly as the
    * engine does ([[simhashBitsFor]]: 32 up to 16 384 docs, else 63), so
    * the same oracle text states the 63-bit regime at replica scale
    * instead of pinning the graded-SF width — at every graded SF it
    * still resolves to 32, leaving gate hashes untouched. The 63-bit
    * value mirrors [[graft.functions.TextOps.simhash]]: first 8 md5
    * bytes big-endian (HUGEINT — the 64-bit intermediate overflows
    * BIGINT) floor-halved, i.e. `>>> 1`, clearing the sign bit.
    */
  private[llm] val oSimhashSigsCte: String =
    s"""$oShingleCte,
       |swb AS (SELECT CASE WHEN count(*) <= 16384 THEN 32 ELSE 63 END AS sbits
       |        FROM documents),
       |hv AS (SELECT doc_id,
       |         CASE WHEN (SELECT sbits FROM swb) = 32
       |         THEN ${(0 until 8).map(j =>
      s"(instr('0123456789abcdef', substr(md5(shingle), ${j + 1}, 1)) - 1) * ${1L << (4 * (7 - j))}")
      .mkString("\n       |            + ")}
       |         ELSE cast(((${(0 until 16).map(j =>
      s"cast(instr('0123456789abcdef', substr(md5(shingle), ${j + 1}, 1)) - 1 as hugeint) * ${BigInt(16).pow(15 - j)}")
      .mkString("\n       |            + ")}) // 2) as bigint)
       |         END AS hv
       |       FROM sh),
       |bits AS (SELECT doc_id, g.b,
       |           CASE WHEN ((hv >> g.b) & 1) = 1 THEN 1 ELSE -1 END AS sign
       |         FROM hv CROSS JOIN (
       |           SELECT unnest(range(0, (SELECT sbits FROM swb))) AS b) g),
       |bsum AS (SELECT doc_id, b, sum(sign) AS s FROM bits GROUP BY doc_id, b),
       |sigs AS MATERIALIZED (SELECT doc_id,
       |           cast(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) as bigint) AS sig
       |         FROM bsum GROUP BY doc_id)""".stripMargin

  /** [[oSimhashSigsCte]] + banded candidate generation + hamming verify,
    * ending in `spairs(d1, d2, hamming)` — the oracle twin of the whole
    * near-dup pair pipeline. The band spec is interpolated from
    * [[simhashBandSpecFor]] at BOTH widths and filtered by the derived
    * `swb.sbits`, and pigeonhole losslessness at hamming ≤
    * [[simhashMaxHamming]] (≤ 6 flipped bits corrupt at most 6 of 7
    * chunks; LlmSpec pins it) makes `spairs` EQUAL to the all-pairs
    * truth — while being an equi-join DuckDB hash-plans at any corpus
    * size. The previous all-pairs `sigs a JOIN sigs b ON a.doc_id <
    * b.doc_id` form was the 30×-gate's 10-query timeout class (~100+
    * CPU-min each at 150k docs).
    */
  private[llm] val oSimhashPairsCte: String =
    s"""$oSimhashSigsCte,
       |sbspec AS (SELECT sband, soff, sw FROM (VALUES
       |             ${Seq(32, 63).flatMap(w =>
      simhashBandSpecFor(w).zipWithIndex.map { case ((off, wd), i) =>
        s"($w, $i, $off, $wd)" }).mkString(",\n       |             ")})
       |             t(tb, sband, soff, sw)
       |           WHERE tb = (SELECT sbits FROM swb)),
       |sbnd AS (SELECT s.doc_id, b.sband,
       |           ((s.sig >> b.soff) & ((1::BIGINT << b.sw) - 1)) AS skey
       |         FROM sigs s CROSS JOIN sbspec b),
       |scand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
       |          FROM sbnd l JOIN sbnd r
       |            ON l.sband = r.sband AND l.skey = r.skey
       |            AND l.doc_id < r.doc_id),
       |spairs AS MATERIALIZED (
       |  SELECT c.d1, c.d2,
       |    cast(bit_count(xor(x.sig, y.sig)) as bigint) AS hamming
       |  FROM scand c JOIN sigs x ON x.doc_id = c.d1
       |               JOIN sigs y ON y.doc_id = c.d2
       |  WHERE bit_count(xor(x.sig, y.sig)) <= $simhashMaxHamming)""".stripMargin

  /** Target mean LSH bucket occupancy for embedding near-dup pair
    * generation: plane count derives as max(8, ceil(log2(N / this))), so
    * the bucket COUNT grows with the corpus and expected within-bucket
    * pair work stays ~N × occupancy — linear. A FIXED plane count
    * degenerates to Θ(N²): occupancy grows 1:1 with N and pairs
    * quadratically (measured on the synthetic sf1.0: 10× corpus → ~30×
    * runtime before this derivation). Shared with the oracle's derived
    * expression; at the driver SFs (N ≤ 2000) it resolves to the
    * original 8 planes, so gate hashes are unchanged.
    */
  val embedDocsPerBucket: Long = 8L

  /** ceil(log2(ceil(n / occupancy))) with an 8-plane floor — integer bit
    * math (highest-set-bit of buckets-1), mirrored INTEGER-EXACT in the
    * oracle as `greatest(8, length(bin(greatest(2, (count(*)+7)//8)-1)))`
    * — bit_length via bin(), no float log2 anywhere, so a one-ulp log2
    * drift at n = 8·2^k can never put the engines on different plane
    * counts (round-7 hardening; LlmSpec pins the equivalence over a
    * DuckDB sweep).
    */
  def embedPlanesFor(n: Long): Int = {
    val buckets = math.max(2L, (n + embedDocsPerBucket - 1) / embedDocsPerBucket)
    math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1))
  }

  /** Oracle CTE chain for the banded (OR-construction) md5-hyperplane
    * LSH signatures over `embeddings` (np → planes → dots → bsigs):
    * per-band bucket signatures `bsigs(vec_id, band, bucket)` over
    * `embedBands` ×
    * derived-planes plane families — band t of plane family p reads
    * global plane index t·np + p, exactly [[embedBandBuckets]]'s layout.
    * Shared by q_dedup_embed and q_knn_label_acc so the two gates can
    * never desynchronize their candidate generation.
    */
  val oEmbedBandSigsCte: String =
    s"""np AS (
       |  SELECT greatest(8, cast(length(bin(
       |    greatest(2, (count(*) + $embedDocsPerBucket - 1) // $embedDocsPerBucket) - 1)) as int)) AS n
       |  FROM embeddings),
       |planes AS (
       |  SELECT g.p, gd.d,
       |    ((instr('0123456789abcdef', substr(md5(g.p || ':' || gd.d), 1, 1)) - 1) * 4096
       |   + (instr('0123456789abcdef', substr(md5(g.p || ':' || gd.d), 2, 1)) - 1) * 256
       |   + (instr('0123456789abcdef', substr(md5(g.p || ':' || gd.d), 3, 1)) - 1) * 16
       |   + (instr('0123456789abcdef', substr(md5(g.p || ':' || gd.d), 4, 1)) - 1)) / 32768.0 - 1.0 AS w
       |  FROM (SELECT cast(unnest(range(0, $embedBands * (SELECT n FROM np))) as varchar) AS p) g
       |  CROSS JOIN (SELECT cast(unnest(range(0, 64)) as varchar) AS d) gd),
       |dots AS (
       |  SELECT e.vec_id, pl.p,
       |    sum(cast(floor(pl.w * e.embedding[cast(pl.d as int) + 1]::DOUBLE * 1073741824.0) as bigint)) AS dp
       |  FROM embeddings e CROSS JOIN planes pl
       |  GROUP BY e.vec_id, pl.p),
       |bsigs AS MATERIALIZED (
       |  SELECT vec_id,
       |    cast(cast(p as int) // (SELECT n FROM np) as int) AS band,
       |    cast(sum(CASE WHEN dp >= 0
       |      THEN (1::BIGINT << (cast(p as int) % (SELECT n FROM np)))
       |      ELSE 0 END) as bigint) AS bucket
       |  FROM dots
       |  GROUP BY vec_id, cast(cast(p as int) // (SELECT n FROM np) as int))""".stripMargin

  /** q_dedup_sem's within-cluster cosine threshold (6dp-rounded compare,
    * interpolated into the oracle SQL).
    */
  val semThreshold: Double = 0.45

  /** q_dedup_sem's target cluster size: k = max(8, ceil(N / this)), so the
    * cluster count GROWS with the corpus and expected within-cluster pair
    * work stays ~N × docsPerCluster — linear, never the Θ(N²/k) a fixed k
    * degenerates to at scale. Shared with the oracle's dynamic LIMIT.
    */
  val semDocsPerCluster: Long = 640L

  /** One row per fixed-width non-overlapping token chunk ("line"): the
    * unit of corpus-level boilerplate removal (CCNet / RefinedWeb line
    * dedup — Penedo et al., NeurIPS'23 §3.3 remove lines repeated across
    * documents; this corpus has no newlines, so the deterministic
    * line = `width`-token chunk). Narrow projection + in-row transform,
    * one explode — no shuffle until the frequency agg.
    */
  private[graft] def docLines(d: DataFrame, width: Int): DataFrame =
    // round 16: the transform+slice+array_join lambda ran interpreted
    // per corpus row — the LineChunks kernel is the compiled byte-slice
    // form; HofReference.docLinesHof is the spec-pinned reference
    d.select(col("doc_id"), posexplode(graft.functions.TextExpressions
        .lineChunks(col("text"), width)))
      .select(col("doc_id"), col("pos").as("line_no"), col("col").as("line"))

  /** Boilerplate-line removal, rewrite form: drop every line appearing in
    * ≥ `minDf` distinct docs, reassemble the survivors in order.
    * Round 15 (VERDICT-r14 #6): reassembly is a REPARTITION + in-partition
    * SORT + streaming mapPartitions concat — the round-14 form's per-doc
    * `array_sort(collect_list(struct))` carried array buffers through
    * ObjectHashAggregate, whose low fallback threshold degenerates
    * ~1M-group aggregations to sort-based (the documented PQ E-step
    * lesson). The replacement keeps the same doc-granular semantics with
    * NO aggregate at all: hash-repartition on doc_id co-locates each
    * doc's surviving lines, the in-partition (doc_id, line_no) sort is
    * Spark's spill-safe external sort, and the concat iterator holds ONE
    * doc's StringBuilder at a time — memory bounded by a single document
    * regardless of doc count or partition size (LlmSpec pins the plan
    * ObjectHashAggregate-free). The gate uses the stats form
    * (q_dedup_line); this is its writer.
    */
  def dedupLines(d: DataFrame, width: Int = 3, minDf: Int = 3): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val ln = docLines(d, width)
    val bp = ln.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf).select("line")
    ln.join(bp, Seq("line"), "left_anti")
      .select(col("doc_id"), col("line_no"), col("line"))
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("line_no"))
      .as[(Long, Int, String)]
      .mapPartitions { it =>
        new Iterator[(Long, String)] {
          private val in = it.buffered
          def hasNext: Boolean = in.hasNext
          def next(): (Long, String) = {
            val (doc, _, first) = in.next()
            val sb = new StringBuilder(first)
            while (in.hasNext && in.head._1 == doc)
              sb.append(' ').append(in.next()._3)
            (doc, sb.toString)
          }
        }
      }
      .toDF("doc_id", "clean_text")
  }

  val queries: Map[String, Q] = Map(

    // Exact dedup via hash-groupBy: survivor id + multiplicity per key
    // group, plus distinct-text count (all texts are unique in testdata —
    // the multiplicity surfaces on the (lang, source) key).
    "q_dedup_exact" -> Q(
      """SELECT lang, source, min(doc_id) AS keep_id, count(*) AS n_copies,
        |  count(DISTINCT md5(text)) AS n_unique_texts
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
          countDistinct(md5s(col("text"))).as("n_unique_texts"))
        .orderBy(col("lang"), col("source"))
    },

    // Latest-record-wins dedup (the CDC/changelog compaction every ingest
    // pipeline runs: many updates per key, keep the newest). Implemented
    // as a max_by aggregate on (ts, event_id) — partial aggregation
    // combines map-side, so the shuffle carries ONE row per key instead
    // of the row_number window's full partition sort (the shape that
    // matters when a hot key has millions of updates). The oracle states
    // the same semantics in the conventional rn = 1 window form.
    "q_dedup_latest" -> Q(
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      Engine.table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("event_id"), col("ts"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("e"))
        .select(col("user_id"), col("e.event_id").as("event_id"),
          col("e.ts").as("ts"), col("e.event_type").as("event_type"),
          col("e.value").as("value"))
        .orderBy(col("user_id"))
    },

    // Duplicated-span coverage (the exact-substring dedup signal of Lee
    // et al., "Deduplicating Training Data Makes Language Models Better",
    // ACL'22, at 5-gram granularity): per doc, how many token positions
    // sit inside a 5-gram that also appears in ANOTHER doc. Suffix arrays
    // don't distribute; the equivalent corpus-linear plan is one
    // (doc, pos, gram) explode → vocab-sized df agg → equi-join back on
    // gram (AQE splits hot-gram skew) → per-doc distinct covered
    // positions. All counts integer-exact; coverage emitted as floor ppm.
    "q_dedup_span" -> Q(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, i AS pos,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM toks)),
        |gdf AS (SELECT g FROM grams GROUP BY g
        |        HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT grams.doc_id, grams.pos FROM grams JOIN gdf USING (g)),
        |cover AS (SELECT doc_id, count(DISTINCT p) AS covered
        |          FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS p FROM dup)
        |          GROUP BY doc_id),
        |dupc AS (SELECT doc_id, count(*) AS n_dup FROM dup GROUP BY doc_id),
        |base AS (SELECT doc_id, cast(len(t) as bigint) AS n_tokens,
        |           cast(greatest(len(t) - 4, 0) as bigint) AS n_grams FROM toks)
        |SELECT base.doc_id, n_tokens, n_grams,
        |  cast(coalesce(n_dup, 0) as bigint) AS n_dup_grams,
        |  cast(coalesce(covered, 0) as bigint) AS covered_tokens,
        |  cast(coalesce(covered, 0) * 1000000 // n_tokens as bigint) AS dup_cover_ppm
        |FROM base LEFT JOIN cover USING (doc_id) LEFT JOIN dupc USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Engine.table(s, dir, "documents")
      val nTok = size(split(col("text"), " "))
      val grams = d.select(col("doc_id"),
        posexplode(graft.functions.TextExpressions.shingles(col("text"), 5)))
        .toDF("doc_id", "pos", "g")
      val gdf = grams.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2).select("g")
      val dup = grams.join(gdf, "g").select(col("doc_id"), col("pos"))
      val cover = dup
        .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 4)).as("p"))
        .groupBy(col("doc_id")).agg(countDistinct(col("p")).as("covered"))
      val dupc = dup.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
      d.select(col("doc_id"), nTok.cast(LongType).as("n_tokens"),
          greatest(nTok - 4, lit(0)).cast(LongType).as("n_grams"))
        .join(cover, Seq("doc_id"), "left")
        .join(dupc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup_grams"),
          coalesce(col("covered"), lit(0L)).as("covered_tokens"),
          expr("(coalesce(covered, 0L) * 1000000L) div n_tokens")
            .as("dup_cover_ppm"))
        .orderBy(col("doc_id"))
    },

    // Corpus-level boilerplate-LINE removal (CCNet/RefinedWeb line dedup
    // — distinct from q_dedup_span's pair-shared-span SIGNAL: this is
    // frequency-thresholded REMOVAL, the pass that strips nav bars and
    // cookie banners repeated across a crawl). Line = 3-token
    // non-overlapping chunk (deterministic — the corpus has no
    // newlines); boilerplate = appears in ≥ 3 distinct docs. Emitted as
    // per-doc rewrite stats, all integer-exact: n_lines, n_removed,
    // kept_chars, and kept_digest — an ORDER-INDEPENDENT sum of 32-bit
    // md5 prefixes of (line_no, line), pinning the exact retained
    // content without the ordered-concat array buffer the rewrite form
    // needs (map-side combinable at any doc count; each term < 2^32 and
    // docs hold ≪ 2^21 lines, so the per-doc sum sits far under 2^53).
    // Scale: one explode, a vocab-sized distinct-doc frequency agg, an
    // equi-join back on line (AQE splits hot boilerplate lines — by
    // definition the skewed keys), one per-doc agg. [[dedupLines]] is
    // the rewrite-form library surface.
    "q_dedup_line" -> Q(
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ln AS MATERIALIZED (SELECT doc_id, i AS line_no,
        |         array_to_string(t[(i*3+1):(i*3+3)], ' ') AS line
        |       FROM (SELECT doc_id, t, unnest(range(0, (len(t)+2)//3)) AS i
        |             FROM toks)),
        |freq AS MATERIALIZED (
        |  SELECT line, count(DISTINCT doc_id) AS df FROM ln GROUP BY line)
        |SELECT doc_id, cast(count(*) as bigint) AS n_lines,
        |  cast(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) as bigint) AS n_removed,
        |  cast(sum(CASE WHEN df < 3 THEN len(line) ELSE 0 END) as bigint) AS kept_chars,
        |  cast(sum(CASE WHEN df < 3 THEN ${oHex8("md5(cast(line_no as varchar) || ':' || line)")}
        |       ELSE 0 END) as bigint) AS kept_digest
        |FROM ln JOIN freq USING (line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ln = docLines(docs(s, dir), 3)
      val freq = ln.groupBy(col("line"))
        .agg(countDistinct(col("doc_id")).as("df"))
      ln.join(freq, "line")
        .withColumn("bp", col("df") >= 3)
        .withColumn("dig",
          conv(substring(md5s(concat_ws(":", col("line_no"), col("line"))),
            1, 8), 16, 10).cast(LongType))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("bp"), 1L).otherwise(0L)).as("n_removed"),
          sum(when(!col("bp"), length(col("line"))).otherwise(0L))
            .as("kept_chars"),
          sum(when(!col("bp"), col("dig")).otherwise(0L)).as("kept_digest"))
        .orderBy(col("doc_id"))
    },

    // URL-canonicalization dedup (round 14): the FIRST dedup pass every
    // crawl pipeline runs — before any content hashing, collapse fetches
    // of the same resource under cosmetically different URLs. The curated
    // docs carry no URLs, so each doc plants one deterministically from
    // doc_id (same concat in the oracle — the q_pii_redact discipline),
    // exercising every rule: upper-case scheme/host, www. prefix,
    // explicit default port, trailing slash, fragment, tracking params
    // (utm_*/session) interleaved with a real param. Canonical form:
    // lowercase scheme+host, strip www./:443/fragment/trailing slash,
    // drop tracking params, SORT the survivors (param order is not
    // identity). Every step is engine-portable string algebra — plain
    // replace where a regex backref would diverge (Spark $1 vs RE2 \1),
    // anchors/classes only elsewhere, array_sort/list_sort both
    // lexicographic on ASCII. One narrow projection + one group-by-canon
    // agg (map-side combinable); AQE handles a hot canonical URL.
    "q_dedup_url" -> Q(
      """WITH planted AS (SELECT doc_id,
        |    'HTTPS://WWW.Site' || (doc_id % 3) || '.COM' ||
        |    CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END ||
        |    '/P' || (doc_id % 17) ||
        |    CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |    '?utm_source=s' || doc_id || '&id=' || (doc_id % 5) ||
        |    '&session=x' || doc_id ||
        |    CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |canon AS (SELECT doc_id, url,
        |    CASE WHEN instr(defragged, '?') > 0
        |         THEN substr(defragged, 1, instr(defragged, '?') - 1)
        |         ELSE defragged END AS rawbase,
        |    CASE WHEN instr(defragged, '?') > 0
        |         THEN substr(defragged, instr(defragged, '?') + 1)
        |         ELSE '' END AS q
        |  FROM (SELECT doc_id, url,
        |          regexp_replace(url, '#.*$', '') AS defragged
        |        FROM planted)),
        |c2 AS (SELECT doc_id, url,
        |    regexp_replace(
        |      replace(replace(lower(rawbase), '://www.', '://'), ':443/', '/'),
        |      '/$', '') AS base,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      p -> NOT regexp_matches(p, '^(utm_|session=|ref=)'))), '&')
        |      AS keptq
        |  FROM canon)
        |SELECT base || CASE WHEN keptq = '' THEN '' ELSE '?' || keptq END
        |    AS canon_url,
        |  cast(count(*) as bigint) AS n_dups,
        |  min(doc_id) AS keep_id,
        |  cast(count(DISTINCT url) as bigint) AS n_raw_forms
        |FROM c2 GROUP BY 1 ORDER BY canon_url""".stripMargin) { (s, dir) =>
      val planted = docs(s, dir).select(col("doc_id"), concat(
        lit("HTTPS://WWW.Site"), col("doc_id") % 3, lit(".COM"),
        when(col("doc_id") % 3 === 0, ":443").otherwise(""),
        lit("/P"), col("doc_id") % 17,
        when(col("doc_id") % 2 === 0, "/").otherwise(""),
        lit("?utm_source=s"), col("doc_id"),
        lit("&id="), col("doc_id") % 5,
        lit("&session=x"), col("doc_id"),
        when(col("doc_id") % 4 === 0, "#frag").otherwise("")).as("url"))
      planted
        .withColumn("defragged", regexp_replace(col("url"), "#.*$", ""))
        .withColumn("rawbase",
          when(instr(col("defragged"), "?") > 0,
            expr("substr(defragged, 1, instr(defragged, '?') - 1)"))
            .otherwise(col("defragged")))
        .withColumn("q",
          when(instr(col("defragged"), "?") > 0,
            expr("substr(defragged, instr(defragged, '?') + 1)"))
            .otherwise(lit("")))
        .withColumn("base", regexp_replace(
          regexp_replace(
            regexp_replace(lower(col("rawbase")), "://www\\.", "://"),
            ":443/", "/"),
          "/$", ""))
        .withColumn("keptq", array_join(array_sort(filter(
          split(col("q"), "&"),
          p => !p.rlike("^(utm_|session=|ref=)"))), "&"))
        .withColumn("canon_url", concat(col("base"),
          when(col("keptq") === "", "").otherwise(
            concat(lit("?"), col("keptq")))))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"),
          countDistinct(col("url")).as("n_raw_forms"))
        .orderBy(col("canon_url"))
    },

    // TRUE exact-substring dedup at the ≥50-token bar (round 11,
    // Lee et al. "Deduplicating Training Data Makes Language Models
    // Better", ACL'22 — the ExactSubstr dedup q_dedup_span only
    // approximates at 5-gram granularity): per doc, the MAXIMAL
    // duplicated spans of ≥ 50 tokens, their count, and the exact token
    // coverage. Identity used: a position lies inside a duplicated
    // substring of length ≥ 50 iff it is covered by some 50-token
    // window that occurs ≥ 2 times in the corpus (counting intra-doc
    // repeats, as the paper does) — so the single-node suffix array's
    // adjacent-suffix LCP ≥ 50 test becomes, distributed, EQUALITY of
    // fixed-width window keys: once keys are fixed-width, sorted-order
    // ADJACENCY is equality grouping, and the Spark-first plan is a
    // hash agg + left-semi join back (one shuffle fewer than
    // rankGlobal-sorting the keys to rediscover equal neighbors).
    // Window keys are md5 digests (16 bytes instead of ~50 tokens — the
    // shuffle stays corpus-linear; both engines hash the identical
    // space-joined window string). Maximal spans come from a per-DOC
    // interval merge of the [p, p+49] windows (new span iff
    // p > prev_max_p + 50; windows with gap ≤ 50 overlap/touch in
    // coverage), so covered_tokens is the exact union length WITHOUT
    // the 50× position explode. Scale shape: one window projection
    // (corpus-linear rows, 16-byte keys), one map-side-combinable key
    // count, one left-semi join back (AQE handles hot-key skew), and
    // doc-partitioned windows — nothing global, nothing quadratic.
    // LlmSpec brute-forces planted long duplicates.
    "q_dedup_suffix" -> Q(
      s"""WITH $oSuffixWinsCte,
        |base AS (SELECT doc_id, cast(len(t) as bigint) AS n_tokens,
        |           cast(greatest(len(t) - 49, 0) as bigint) AS n_win
        |         FROM toks),
        |hot AS (SELECT k FROM wins GROUP BY k HAVING count(*) >= 2),
        |dup AS MATERIALIZED (
        |  SELECT w.doc_id, w.pos FROM wins w JOIN hot USING (k)),
        |iv AS (SELECT doc_id, pos,
        |         max(pos) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |       FROM dup),
        |g2 AS (SELECT doc_id, pos,
        |         sum(CASE WHEN pmax IS NULL OR pos > pmax + 50
        |             THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS UNBOUNDED PRECEDING) AS grp
        |       FROM iv),
        |sp AS (SELECT doc_id, grp, min(pos) AS s, max(pos) + 49 AS e
        |       FROM g2 GROUP BY doc_id, grp),
        |spa AS (SELECT doc_id, cast(count(*) as bigint) AS n_spans,
        |          cast(sum(e - s + 1) as bigint) AS covered
        |        FROM sp GROUP BY doc_id),
        |dc AS (SELECT doc_id, cast(count(*) as bigint) AS n_dup
        |       FROM dup GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, b.n_win,
        |  cast(coalesce(dc.n_dup, 0) as bigint) AS n_dup_starts,
        |  cast(coalesce(spa.n_spans, 0) as bigint) AS n_spans,
        |  cast(coalesce(spa.covered, 0) as bigint) AS covered_tokens,
        |  cast(coalesce(spa.covered, 0) * 1000000 // b.n_tokens as bigint)
        |    AS dup_cover_ppm
        |FROM base b LEFT JOIN dc USING (doc_id) LEFT JOIN spa USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val base = d.select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"),
          size(col("t")).cast(LongType).as("n_tokens"),
          greatest(size(col("t")) - 49, lit(0)).cast(LongType).as("n_win"))
      val wins = suffixWindows(d)
      val hot = wins.groupBy(col("k")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("k"))
      val dup = wins.join(hot, Seq("k"), "left_semi")
        .select(col("doc_id"), col("pos"))
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val iv = dup.withColumn("pmax",
        max(col("pos")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      val g2 = iv.withColumn("grp",
        sum(when(col("pmax").isNull || col("pos") > col("pmax") + 50, 1L)
          .otherwise(0L))
          .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      val sp = g2.groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("s"), (max(col("pos")) + 49).as("e"))
      val spa = sp.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + 1).as("covered"))
      val dc = dup.groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
      base
        .join(dc, Seq("doc_id"), "left")
        .join(spa, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_win"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup_starts"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("covered"), lit(0L)).as("covered_tokens"),
          expr("(coalesce(covered, 0L) * 1000000L) div n_tokens")
            .as("dup_cover_ppm"))
        .orderBy(col("doc_id"))
    },

    // Exact-substring dedup, KEEP-ONE form (round 11, the production
    // semantics of q_dedup_suffix — Lee et al.'s pipeline CUTS the
    // duplicated spans; a curator keeps one canonical copy): per
    // duplicated window key the canonical copy is the (min doc_id, min
    // pos within it) occurrence — a pure aggregate argmin, no window
    // function — every OTHER occurrence is marked for removal, and the
    // removal positions interval-merge per doc exactly as
    // q_dedup_suffix's coverage does. Emits per doc the removed-token
    // union and the keep ratio a budgeter prices the cut corpus by.
    // Scale shape: identical to q_dedup_suffix (corpus-linear window
    // projection, map-side-combinable key aggs, doc-sized interval
    // windows) plus one key-sized canonical join.
    "q_dedup_suffix_keep1" -> Q(
      s"""WITH $oSuffixWinsCte,
        |base AS (SELECT doc_id, cast(len(t) as bigint) AS n_tokens
        |         FROM toks),
        |hot AS (SELECT k FROM wins GROUP BY k HAVING count(*) >= 2),
        |dw AS MATERIALIZED (
        |  SELECT w.doc_id, w.pos, w.k FROM wins w JOIN hot USING (k)),
        |ck AS (SELECT k, min(doc_id) AS cd FROM dw GROUP BY k),
        |cp AS (SELECT d.k, min(d.doc_id) AS cd, min(d.pos) AS cp
        |       FROM dw d JOIN ck ON d.k = ck.k AND d.doc_id = ck.cd
        |       GROUP BY d.k),
        |rem AS MATERIALIZED (
        |  SELECT d.doc_id, d.pos FROM dw d JOIN cp ON d.k = cp.k
        |  WHERE NOT (d.doc_id = cp.cd AND d.pos = cp.cp)),
        |iv AS (SELECT doc_id, pos,
        |         max(pos) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |       FROM rem),
        |g2 AS (SELECT doc_id, pos,
        |         sum(CASE WHEN pmax IS NULL OR pos > pmax + 50
        |             THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |             ROWS UNBOUNDED PRECEDING) AS grp
        |       FROM iv),
        |sp AS (SELECT doc_id, grp, min(pos) AS s, max(pos) + 49 AS e
        |       FROM g2 GROUP BY doc_id, grp),
        |spa AS (SELECT doc_id, cast(sum(e - s + 1) as bigint) AS removed
        |        FROM sp GROUP BY doc_id),
        |rc AS (SELECT doc_id, cast(count(*) as bigint) AS n_rem
        |       FROM rem GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  cast(coalesce(rc.n_rem, 0) as bigint) AS n_removed_windows,
        |  cast(coalesce(spa.removed, 0) as bigint) AS removed_tokens,
        |  cast(b.n_tokens - coalesce(spa.removed, 0) as bigint) AS kept_tokens,
        |  cast((b.n_tokens - coalesce(spa.removed, 0)) * 1000000
        |       // b.n_tokens as bigint) AS keep_ppm
        |FROM base b LEFT JOIN rc USING (doc_id) LEFT JOIN spa USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val base = d.select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), size(col("t")).cast(LongType).as("n_tokens"))
      val wins = suffixWindows(d)
      val hot = wins.groupBy(col("k")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("k"))
      val dw = wins.join(hot, Seq("k"), "left_semi")
      val cp = canonicalCopies(dw)
      val rem = dw.join(cp, Seq("k"))
        .filter(!(col("doc_id") === col("canon_doc") &&
          col("pos") === col("canon_pos")))
        .select(col("doc_id"), col("pos"))
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val iv = rem.withColumn("pmax",
        max(col("pos")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      val g2 = iv.withColumn("grp",
        sum(when(col("pmax").isNull || col("pos") > col("pmax") + 50, 1L)
          .otherwise(0L))
          .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      val sp = g2.groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("s"), (max(col("pos")) + 49).as("e"))
      val spa = sp.groupBy(col("doc_id"))
        .agg(sum(col("e") - col("s") + 1).as("removed"))
      val rc = rem.groupBy(col("doc_id")).agg(count(lit(1)).as("n_rem"))
      base
        .join(rc, Seq("doc_id"), "left")
        .join(spa, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_rem"), lit(0L)).as("n_removed_windows"),
          coalesce(col("removed"), lit(0L)).as("removed_tokens"),
          (col("n_tokens") - coalesce(col("removed"), lit(0L)))
            .as("kept_tokens"),
          expr("((n_tokens - coalesce(removed, 0L)) * 1000000L) div n_tokens")
            .as("keep_ppm"))
        .orderBy(col("doc_id"))
    },

    // Span provenance (round 11, the q_dedup_suffix downstream): WHICH
    // source pairs share exact ≥50-token spans — the cross-source
    // mirror/plagiarism screen (a wiki mirrored into a crawl source, an
    // eval set leaked into a scrape) and, on the diagonal, the
    // per-source internal-boilerplate reading. Same fixed-width md5'd
    // window keys as q_dedup_suffix (shared suffixWindows projection);
    // keys with 2-50 occurrences pair their distinct docs (the
    // occurrence cap mirrors the q_dedup_near df discipline — an
    // unbounded hot key is C(occ,2) quadratic and carries no provenance
    // signal beyond "everywhere"; the cap is stated identically in both
    // engines). Per unordered source pair: distinct shared windows,
    // distinct doc pairs, and the cross-source flag. Scale shape:
    // corpus-linear window projection, map-side-combinable key count,
    // Σ C(occ≤50, 2)-bounded pair fanout, two dim joins on doc_id, one
    // source-pair-sized agg.
    "q_span_provenance" -> Q(
      s"""WITH $oSuffixWinsCte,
        |hk AS (SELECT k FROM wins GROUP BY k
        |       HAVING count(*) BETWEEN 2 AND 50),
        |wd AS MATERIALIZED (
        |  SELECT DISTINCT w.k, w.doc_id FROM wins w JOIN hk USING (k)),
        |pr AS (SELECT w1.k, w1.doc_id AS d1, w2.doc_id AS d2
        |       FROM wd w1 JOIN wd w2
        |         ON w1.k = w2.k AND w1.doc_id < w2.doc_id),
        |ps AS (SELECT least(sa.source, sb.source) AS src_a,
        |         greatest(sa.source, sb.source) AS src_b, pr.k, pr.d1, pr.d2
        |       FROM pr JOIN documents sa ON sa.doc_id = pr.d1
        |               JOIN documents sb ON sb.doc_id = pr.d2)
        |SELECT src_a, src_b,
        |  cast(count(DISTINCT k) as bigint) AS n_windows,
        |  cast(count(DISTINCT (d1, d2)) as bigint) AS n_doc_pairs,
        |  src_a <> src_b AS cross_source
        |FROM ps GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val wins = suffixWindows(d)
      val hk = wins.groupBy(col("k")).agg(count(lit(1)).as("n"))
        .filter(col("n").between(2, 50)).select(col("k"))
      val wd = wins.join(hk, Seq("k"), "left_semi")
        .select(col("k"), col("doc_id")).distinct()
      val pr = wd.as("w1").join(wd.as("w2"),
          col("w1.k") === col("w2.k") && col("w1.doc_id") < col("w2.doc_id"))
        .select(col("w1.k").as("k"), col("w1.doc_id").as("d1"),
          col("w2.doc_id").as("d2"))
      val src = d.select(col("doc_id"), col("source"))
      pr
        .join(src.select(col("doc_id").as("d1"), col("source").as("sa")), "d1")
        .join(src.select(col("doc_id").as("d2"), col("source").as("sb")), "d2")
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"),
          col("k"), col("d1"), col("d2"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(countDistinct(col("k")).as("n_windows"),
          countDistinct(col("d1"), col("d2")).as("n_doc_pairs"))
        .select(col("src_a"), col("src_b"), col("n_windows"),
          col("n_doc_pairs"), (col("src_a") =!= col("src_b")).as("cross_source"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // n-gram Jaccard near-dup: candidate GENERATION is df-capped (shingles
    // in > 50 docs are the d²/2 quadratic blowup at scale and carry almost
    // no signal), then exact Jaccard over FULL shingle sets of candidates
    // only. The cap is mirrored in the oracle, so both engines see the
    // identical pair set; LlmSpec separately proves the cap lossless for
    // jac >= 0.8 pairs.
    //
    // ORACLE restatement (round 11, the 30× straggler): the old single
    // probe `cands ⋈ sh(d1) ⋈ sh(d2 on shingle)` left DuckDB free to
    // reorder into the sh⋈sh shingle-only join — the full quadratic
    // co-occurrence on common shingles (27m46s at 30×; the semantically
    // identical containment twin drew the good order and passed, so the
    // cost was plan instability, not the statement). Now the intersection
    // is SPLIT BY DF CLASS, each side order-forced with MATERIALIZED
    // boundaries: rare shingles (df ≤ 50, the candidate generators)
    // intersect in the bounded-fanout rsh self-join that already builds
    // the pair set (`ir` — inter_r arrives free with the candidates), and
    // big shingles (df > 50 — FEW distinct, so per-doc big lists are
    // short) intersect via the pair-probe over the small bsh table only.
    // inter = inter_r + inter_b exactly (every shared shingle is in
    // exactly one class); the pair set (≥ 1 shared rare shingle) and all
    // emitted values are unchanged, so gate hashes are unchanged.
    "q_dedup_near" -> Q(
      s"""WITH $oShingleCte,
         |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |rsh AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM sh s
         |        JOIN dfs f ON s.shingle = f.shingle WHERE f.df <= 50),
         |bsh AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM sh s
         |        JOIN dfs f ON s.shingle = f.shingle WHERE f.df > 50),
         |ir AS MATERIALIZED (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |          count(*) AS inter_r
         |        FROM rsh a JOIN rsh b
         |          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2),
         |p1 AS MATERIALIZED (SELECT i.d1, i.d2, s1.shingle
         |        FROM ir i JOIN bsh s1 ON s1.doc_id = i.d1),
         |ib AS (SELECT p1.d1, p1.d2, count(*) AS inter_b
         |       FROM p1 JOIN bsh s2 ON s2.doc_id = p1.d2
         |                          AND s2.shingle = p1.shingle
         |       GROUP BY 1, 2),
         |cinter AS (SELECT i.d1, i.d2,
         |             i.inter_r + coalesce(b.inter_b, 0) AS inter
         |           FROM ir i LEFT JOIN ib b ON i.d1 = b.d1 AND i.d2 = b.d2),
         |cjac AS (SELECT d1, d2, s1.n AS n1, s2.n AS n2, inter,
         |           cast(inter as double) / (s1.n + s2.n - inter) AS jac
         |         FROM cinter JOIN sizes s1 ON d1 = s1.doc_id
         |                     JOIN sizes s2 ON d2 = s2.doc_id)
         |SELECT d1, d2, n1, n2, inter, jac FROM cjac
         |WHERE jac >= 0.5 ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      // Round 16 (VERDICT-r15 #5): read the shared df-capped scored pair
      // index (Components.jaccardPairIndex — one jaccardPairsCapped build
      // per dataset, this query and q_dedup_containment both read it).
      // Integer columns only persist; jac is recomputed here with the
      // identical expression, so the gate hash is unchanged. The round-2
      // negative on caching the exploded SHINGLE table stands — the pair
      // index is edge-sized, the simhashPairs adjudication.
      Components.jaccardPairIndex(s, dir)
        .withColumn("jac", col("inter").cast(DoubleType)
          / (col("n1") + col("n2") - col("inter")))
        .filter(col("jac") >= 0.5)
        .select(col("d1"), col("d2"), col("n1"), col("n2"), col("inter"), col("jac"))
        .orderBy(col("d1"), col("d2"))
    },

    // Containment near-dup (asymmetric): |S1 ∩ S2| / min(|S1|, |S2|) —
    // catches subset/boilerplate documents that Jaccard under-scores (a
    // doc fully contained in a much larger one has low union-relative
    // similarity but containment 1.0). Same capped inverted-index
    // candidate generation as q_dedup_near, same exact full-set
    // intersection on survivors (and since round 11 the same df-class
    // SPLIT oracle restatement — see q_dedup_near); only the final score
    // differs. Both engines divide exact integers, so the filter
    // boundary is bit-deterministic.
    "q_dedup_containment" -> Q(
      s"""WITH $oShingleCte,
         |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |rsh AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM sh s
         |        JOIN dfs f ON s.shingle = f.shingle WHERE f.df <= 50),
         |bsh AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM sh s
         |        JOIN dfs f ON s.shingle = f.shingle WHERE f.df > 50),
         |ir AS MATERIALIZED (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |          count(*) AS inter_r
         |        FROM rsh a JOIN rsh b
         |          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2),
         |p1 AS MATERIALIZED (SELECT i.d1, i.d2, s1.shingle
         |        FROM ir i JOIN bsh s1 ON s1.doc_id = i.d1),
         |ib AS (SELECT p1.d1, p1.d2, count(*) AS inter_b
         |       FROM p1 JOIN bsh s2 ON s2.doc_id = p1.d2
         |                          AND s2.shingle = p1.shingle
         |       GROUP BY 1, 2),
         |cinter AS (SELECT i.d1, i.d2,
         |             i.inter_r + coalesce(b.inter_b, 0) AS inter
         |           FROM ir i LEFT JOIN ib b ON i.d1 = b.d1 AND i.d2 = b.d2),
         |ccont AS (SELECT d1, d2, s1.n AS n1, s2.n AS n2, inter,
         |            cast(inter as double) / least(s1.n, s2.n) AS containment
         |          FROM cinter JOIN sizes s1 ON d1 = s1.doc_id
         |                      JOIN sizes s2 ON d2 = s2.doc_id)
         |SELECT d1, d2, n1, n2, inter, containment FROM ccont
         |WHERE containment >= 0.8 ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      // shared scored pair index (see q_dedup_near) — only the score
      // expression differs
      Components.jaccardPairIndex(s, dir)
        .withColumn("containment",
          col("inter").cast(DoubleType) / least(col("n1"), col("n2")))
        .filter(col("containment") >= 0.8)
        .select(col("d1"), col("d2"), col("n1"), col("n2"), col("inter"),
          col("containment"))
        .orderBy(col("d1"), col("d2"))
    },

    // Signature-identity dedup (the cheap pre-verification tier of a
    // training-data ingest: docs whose FULL MinHash signature collides
    // are near-certain duplicates — no pair scoring at all). One stateless
    // projection + one groupBy on the 6-hash signature; the streaming
    // twin (Streams.streamingSigDedup) runs the same signature through
    // dropDuplicates state.
    "q_dedup_sig" -> Q(
      s"""WITH $oShingleCte,
         |sigs AS MATERIALIZED (
         |  SELECT doc_id,
         |    $oSigExprs
         |  FROM sh GROUP BY doc_id)
         |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM sigs GROUP BY ${minhashSeeds.indices.map(i => s"h$i").mkString(", ")}
         |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      Components.minhashSigs(s, dir)
        .groupBy(minhashSeeds.indices.map(i => col(s"h$i")): _*)
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    },

    // MinHash+LSH: banded signatures propose candidates (sub-quadratic
    // path), exact Jaccard >= 0.35 verifies them.
    "q_dedup_minhash" -> Q(
      s"""WITH $oShingleCte,
         |sigs AS MATERIALIZED (
         |  SELECT doc_id,
         |    $oSigExprs
         |  FROM sh GROUP BY doc_id),
         |bands AS MATERIALIZED (
         |  SELECT doc_id, g.b AS band_id,
         |    CASE g.b WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3 ELSE h4 || h5 END AS key
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 3)) AS b) g),
         |cands AS MATERIALIZED (
         |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
         |  FROM bands l JOIN bands r
         |    ON l.band_id = r.band_id AND l.key = r.key AND l.doc_id < r.doc_id)
         |SELECT j.d1, j.d2, j.jac FROM jac j JOIN cands c ON j.d1 = c.d1 AND j.d2 = c.d2
         |WHERE j.jac >= 0.35 ORDER BY j.d1, j.d2""".stripMargin) { (s, dir) =>
      // candidates come from the materialized band-candidate index
      // (Components.minhashCands — same rows as
      // lshCandidates(minhashSignaturesStateless(docs)), LlmSpec pins
      // it), so the exploded shingle table only feeds candidate
      // verification; scoring runs only over LSH candidates
      // (jaccardForCandidates), never the all-pairs self-join. sh
      // consumers share its distinct exchange via ReuseExchange (see
      // q_dedup_near note) — no cache.
      val sh = shingles(docs(s, dir))
      val cands = Components.minhashCands(s, dir)
      jaccardForCandidates(sh, cands)
        .filter(col("jac") >= 0.35)
        .select(col("d1"), col("d2"), col("jac"))
        .orderBy(col("d1"), col("d2"))
    },

    // Sketch-quality audit (round 8): for every LSH candidate pair, the
    // 6-seed MinHash AGREEMENT COUNT (the sketch's Jaccard estimate is
    // agree/6) next to the EXACT Jaccard in floor-ppm — the calibration
    // table that tells you whether the signature width is adequate for
    // the corpus before trusting banded dedup at scale (E[agree/6] =
    // true Jaccard; a systematic gap means the shingle distribution is
    // degenerate). Both columns are integer-exact and the md5 minima are
    // engine-identical, so the WHOLE audit hash-gates — no bound
    // boolean needed. Scale shape: candidates from the banded equi-join
    // (never all-pairs); agreement via two signature-table joins
    // (doc-sized); exact Jaccard only over candidates
    // (jaccardForCandidates).
    "q_minhash_est" -> Q(
      s"""WITH $oShingleCte,
         |sigs AS MATERIALIZED (
         |  SELECT doc_id,
         |    $oSigExprs
         |  FROM sh GROUP BY doc_id),
         |bands AS MATERIALIZED (
         |  SELECT doc_id, g.b AS band_id,
         |    CASE g.b WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3 ELSE h4 || h5 END AS key
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 3)) AS b) g),
         |cands AS MATERIALIZED (
         |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
         |  FROM bands l JOIN bands r
         |    ON l.band_id = r.band_id AND l.key = r.key AND l.doc_id < r.doc_id),
         |ag AS (
         |  SELECT c.d1, c.d2,
         |    cast(${(0 until 6).map(i =>
            s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")}
         |      as bigint) AS agree
         |  FROM cands c JOIN sigs a ON a.doc_id = c.d1
         |               JOIN sigs b ON b.doc_id = c.d2)
         |SELECT g.d1, g.d2, g.agree,
         |  cast((j.inter * 1000000) // (j.n1 + j.n2 - j.inter) as bigint) AS jac_ppm
         |FROM ag g JOIN jac j ON j.d1 = g.d1 AND j.d2 = g.d2
         |ORDER BY g.d1, g.d2""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val sigs = Components.minhashSigs(s, dir)
      val cands = Components.minhashCands(s, dir)
      val l = sigs.toDF("d1" +: minhashSeeds.indices.map(i => s"l$i"): _*)
      val r = sigs.toDF("d2" +: minhashSeeds.indices.map(i => s"r$i"): _*)
      val agree = minhashSeeds.indices
        .map(i => when(col(s"l$i") === col(s"r$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val ag = cands.join(l, "d1").join(r, "d2")
        .select(col("d1"), col("d2"), agree.as("agree"))
      val jac = jaccardForCandidates(shingles(d), cands)
        .select(col("d1"), col("d2"),
          expr("(inter * 1000000L) div (n1 + n2 - inter)").as("jac_ppm"))
      ag.join(jac, Seq("d1", "d2"))
        .orderBy(col("d1"), col("d2"))
    },

    // LSH bucket-health audit (round 8): per band, the occupancy profile
    // of the banding relation behind q_dedup_minhash — bucket count,
    // singleton count, the hottest bucket, and Σ C(occ,2), which IS the
    // band's candidate-join output size. This is the number you check
    // BEFORE running banded dedup on a new 100 TB corpus: a degenerate
    // band (one giant bucket) turns the candidate equi-join quadratic,
    // and this audit prices it in one corpus-linear aggregate instead of
    // discovering it as a hung join. All-integer, so the whole audit
    // hash-gates. Scale shape: one (band, key) groupBy (map-side
    // combinable) + a 3-group rollup; no joins at all.
    "q_lsh_occupancy" -> Q(
      s"""WITH $oShingleCte,
         |sigs AS MATERIALIZED (
         |  SELECT doc_id,
         |    $oSigExprs
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, g.b AS band_id,
         |    CASE g.b WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3 ELSE h4 || h5 END AS key
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 3)) AS b) g),
         |occ AS (SELECT band_id, key, count(*) AS occ FROM bands
         |        GROUP BY band_id, key)
         |SELECT cast(band_id as bigint) AS band_id,
         |  cast(count(*) as bigint) AS n_buckets,
         |  cast(count(*) FILTER (occ = 1) as bigint) AS n_singletons,
         |  cast(max(occ) as bigint) AS max_occ,
         |  cast(sum((cast(occ as hugeint) * (occ - 1)) // 2) as bigint)
         |    AS cand_pairs
         |FROM occ GROUP BY band_id ORDER BY band_id""".stripMargin) { (s, dir) =>
      val occ = lshBands(Components.minhashSigs(s, dir))
        .groupBy(col("band_id"), col("key"))
        .agg(count(lit(1)).as("occ"))
      occ.groupBy(col("band_id").cast(LongType).as("band_id"))
        .agg(count(lit(1)).as("n_buckets"),
          count(when(col("occ") === 1, 1)).as("n_singletons"),
          max(col("occ")).as("max_occ"),
          sum(expr("(occ * (occ - 1)) div 2")).as("cand_pairs"))
        .orderBy(col("band_id"))
    },

    // Threshold-sweep calibration (round 10): the exact-Jaccard
    // distribution over the banded MinHash candidates, bucketed into
    // ppm deciles with a from-the-top cumulative — the table that
    // PICKS q_dedup_minhash's 0.35 verification threshold for a new
    // corpus ("threshold b/10 keeps n_at_or_above pairs") instead of
    // inheriting it. All integer (floor-ppm, bucket 9 absorbs exact
    // dups via least). Scale shape: candidate-sized verification (the
    // pair index read + one shingle-intersection agg), a ≤10-row bucket
    // table, and a cumulative window over those 10 cells (bounded
    // global window — PlanAuditSpec-listed).
    "q_dedup_threshold_sweep" -> Q(
      s"""WITH $oShingleCte,
         |msigs AS MATERIALIZED (
         |  SELECT doc_id,
         |    $oSigExprs
         |  FROM sh GROUP BY doc_id),
         |bands AS MATERIALIZED (
         |  SELECT doc_id, g.b AS band_id,
         |    CASE g.b WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3 ELSE h4 || h5 END AS key
         |  FROM msigs CROSS JOIN (SELECT unnest(range(0, 3)) AS b) g),
         |cands AS MATERIALIZED (
         |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
         |  FROM bands l JOIN bands r
         |    ON l.band_id = r.band_id AND l.key = r.key AND l.doc_id < r.doc_id),
         |bk AS (SELECT least(((j.inter * 1000000) // (j.n1 + j.n2 - j.inter))
         |                    // 100000, 9) AS bucket
         |       FROM jac j JOIN cands c ON j.d1 = c.d1 AND j.d2 = c.d2),
         |g AS (SELECT bucket, cast(count(*) as bigint) AS n_pairs
         |      FROM bk GROUP BY bucket)
         |SELECT cast(bucket as bigint) AS bucket, n_pairs,
         |  cast(sum(n_pairs) OVER (ORDER BY bucket DESC) as bigint)
         |    AS n_at_or_above
         |FROM g ORDER BY bucket""".stripMargin) { (s, dir) =>
      val b = jaccardForCandidates(shingles(docs(s, dir)),
          Components.minhashCands(s, dir))
        .select(least(expr(
          "((inter * 1000000L) div (n1 + n2 - inter)) div 100000"), lit(9L))
          .as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      val w = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      b.withColumn("n_at_or_above", sum(col("n_pairs")).over(w))
        .select(col("bucket"), col("n_pairs"), col("n_at_or_above"))
        .orderBy(col("bucket"))
    },

    // Edit-distance verification tier: exact Levenshtein over the SAME
    // banded MinHash candidates q_dedup_minhash proposes, keeping pairs
    // within 20% relative edit distance (lev*5 <= max_len, exact integer
    // compare). The O(len²) DP runs ONLY on candidate pairs — never
    // corpus-wide. Gated on single-byte texts because DuckDB's
    // levenshtein counts BYTES on multibyte input while Spark counts
    // CHARACTERS (measured: '我是'→'我了' is 3 vs 1); the library path
    // has no such restriction.
    "q_dedup_fuzzy" -> Q(
      s"""WITH $oShingleCte,
         |sigs AS MATERIALIZED (
         |  SELECT doc_id,
         |    $oSigExprs
         |  FROM sh GROUP BY doc_id),
         |bands AS MATERIALIZED (
         |  SELECT doc_id, g.b AS band_id,
         |    CASE g.b WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3 ELSE h4 || h5 END AS key
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 3)) AS b) g),
         |cands AS MATERIALIZED (
         |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
         |  FROM bands l JOIN bands r
         |    ON l.band_id = r.band_id AND l.key = r.key AND l.doc_id < r.doc_id),
         |atab AS (SELECT doc_id, text, length(text) AS len FROM documents
         |         WHERE regexp_matches(text, '^[ -~]*$$'))
         |SELECT c.d1, c.d2, cast(levenshtein(a.text, b.text) as bigint) AS lev,
         |  cast(greatest(a.len, b.len) as bigint) AS max_len
         |FROM cands c JOIN atab a ON a.doc_id = c.d1
         |             JOIN atab b ON b.doc_id = c.d2
         |WHERE levenshtein(a.text, b.text) * 5 <= greatest(a.len, b.len)
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val ascii = docs(s, dir).filter(col("text").rlike("^[ -~]*$"))
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      Components.minhashCands(s, dir)
        .join(ascii.select(col("doc_id").as("d1"), col("text").as("t1"),
          col("len").as("len1")), "d1")
        .join(ascii.select(col("doc_id").as("d2"), col("text").as("t2"),
          col("len").as("len2")), "d2")
        .withColumn("lev", levenshtein(col("t1"), col("t2")).cast(LongType))
        .withColumn("max_len", greatest(col("len1"), col("len2")).cast(LongType))
        .filter(col("lev") * 5 <= col("max_len"))
        .select(col("d1"), col("d2"), col("lev"), col("max_len"))
        .orderBy(col("d1"), col("d2"))
    },

    // SimHash near-dup: 32-bit signatures over shingle features, hamming
    // distance <= simhashMaxHamming (random pairs center at 16).
    "q_dedup_simhash" -> Q(
      s"""WITH $oSimhashPairsCte
         |SELECT d1, d2, hamming FROM spairs
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      // signatures from the fused stateless expression (one narrow pass);
      // candidates via bit-chunk banding (equi-join; lossless for ham<=6
      // by pigeonhole — see simhashBandSpec) with inline hamming verify.
      // The oracle (oSimhashPairsCte) mirrors BOTH the width derivation
      // and the banded candidate generation since round 10, so it states
      // the same pair set at every corpus size — including the 63-bit
      // regime past 16k docs — and completes at replica scale (the
      // all-pairs form was the 30x-gate timeout class).
      val d = docs(s, dir)
      val bits = simhashBitsFor(d.count())
      simhashNearDup(simhashSignaturesStateless(d, bits),
          maxHamming = simhashMaxHamming, bits = bits)
        .orderBy(col("d1"), col("d2"))
    },

    // Embedding-cosine near-dup, ANN-shaped (round 8: LSH
    // OR-construction): candidates are pairs that match EXACTLY in at
    // least one of embedBands independent hash tables (an equi-join on
    // (band, bucket) — never all-pairs, candidate volume bands ×
    // occupancy × n, LINEAR at every corpus size; see [[embedBands]]
    // for the measured multi-probe blowup this replaced), then exact
    // cosine >= 0.45 reranks candidates only. The hyperplanes are
    // md5-derived (Similarity.planeComponent), so the oracle recomputes
    // the SAME per-band buckets in SQL and both engines see the
    // identical pair set — the approximation is part of the operator's
    // definition, as in any production LSH dedup. The per-band plane
    // count DERIVES from the corpus size on both sides (embedPlanesFor
    // ≙ the oracle's integer-exact greatest/bin-length expression), so
    // band-bucket occupancy stays bounded as the corpus grows; bucketed
    // storage via Similarity.writeLshIndex.
    "q_dedup_embed" -> Q(
      s"""WITH $oEmbedBandSigsCte,
        |cands AS MATERIALIZED (
        |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
        |  FROM bsigs a JOIN bsigs b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |   AND a.vec_id < b.vec_id)
        |SELECT c.d1, c.d2,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_r
        |FROM cands c JOIN embeddings a ON a.vec_id = c.d1
        |             JOIN embeddings b ON b.vec_id = c.d2
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45
        |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val emb = Engine.table(s, dir, "embeddings")
      // corpus-derived per-band plane count (one cheap metadata count —
      // parquet footers only); MUST equal the oracle's np expression
      val nPlanes = embedPlanesFor(emb.count())
      val cands = embedBandCandidates(emb, nPlanes)
      val v = emb.select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"),
        Similarity.norm(Similarity.toDouble(col("embedding"))).as("nrm"))
      cands
        .join(v.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1")), "d1")
        .join(v.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2")), "d2")
        .withColumn("cos_r",
          round(Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6))
        .filter(col("cos_r") >= 0.45)
        .select(col("d1"), col("d2"), col("cos_r"))
        .orderBy(col("d1"), col("d2"))
    },

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    // clustering embeddings and scoring pairs only WITHIN a cluster — the
    // k-means twin of the LSH bucketing above (cheaper than corpus-wide
    // LSH when a clustering already exists for curation). Assignment is
    // the q_cluster_assign mirror (6dp-rounded cosine argmax with id
    // tiebreak recomputed identically in SQL), so both engines derive the
    // identical partition of the corpus, then the identical pair set.
    // Scale shape: broadcast centroid E-step + ONE shuffle on cent_id for
    // the self-join; within-cluster pairing is quadratic in CLUSTER size,
    // so k scales with the corpus — k = max(8, ceil(N/semDocsPerCluster))
    // on BOTH sides (Spark computes it from an eager metadata-cheap
    // count; the oracle's LIMIT is the same expression) — keeping
    // expected pair work ~N × docsPerCluster, i.e. linear. At the test
    // scale factors k resolves to 8 (q_cluster_assign's setup).
    "q_dedup_sem" -> Q(
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cv
         |  FROM embeddings ORDER BY vec_id
         |  LIMIT (SELECT greatest(8, (count(*) + ${semDocsPerCluster - 1}) // $semDocsPerCluster)
         |         FROM embeddings)),
         |scored AS (
         |  SELECT e.vec_id, c.cent_id,
         |    round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]), 6) AS cos_r
         |  FROM embeddings e CROSS JOIN cents c),
         |asg AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos_r DESC, cent_id) AS rk
         |    FROM scored) WHERE rk = 1),
         |pairs AS (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2, a.cent_id
         |  FROM asg a JOIN asg b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
         |SELECT p.d1, p.d2, p.cent_id,
         |  round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cos_r
         |FROM pairs p JOIN embeddings ea ON ea.vec_id = p.d1
         |             JOIN embeddings eb ON eb.vec_id = p.d2
         |WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= $semThreshold
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val emb = Engine.table(s, dir, "embeddings")
      val k = math.max(8L,
        (emb.count() + semDocsPerCluster - 1) / semDocsPerCluster).toInt
      // the shared fused E-step (see Similarity.roundedArgmaxAssign —
      // codegen HashAggregate, not the max_by ObjectHashAggregate this
      // inlined before round 16); identical assignment by construction
      val asg = Similarity.roundedArgmaxAssign(emb, k)
        .select(col("vec_id"), col("cent_id"))
      val v = emb.select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"),
        Similarity.norm(Similarity.toDouble(col("embedding"))).as("nrm"))
      asg.as("a").join(asg.as("b"),
          col("a.cent_id") === col("b.cent_id")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
          col("a.cent_id").as("cent_id"))
        .join(v.select(col("vec_id").as("d1"), col("v").as("v1"), col("nrm").as("n1")), "d1")
        .join(v.select(col("vec_id").as("d2"), col("v").as("v2"), col("nrm").as("n2")), "d2")
        .withColumn("cos_r",
          round(Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6))
        .filter(col("cos_r") >= semThreshold)
        .select(col("d1"), col("d2"), col("cent_id"), col("cos_r"))
        .orderBy(col("d1"), col("d2"))
    },

    // Prefix-filtering exact similarity join (AllPairs/PPJoin): LOSSLESS
    // candidate generation — docs are joined on their rarest
    // `n - ceil(4n/5) + 1` shingles in a global (df, shingle) order, so
    // every jac >= 4/5 pair is guaranteed a shared prefix shingle (no
    // per-corpus recall proof needed, unlike q_dedup_near's df cap) and
    // the join only ever fans out over globally-RARE posting lists —
    // ~20% of each doc's shingles at this threshold, the technique's
    // natural operating point (t = 1/2 was measured 3x slower: half-doc
    // prefixes quadratically inflate the candidate set).
    // Verification is exact full-set Jaccard on candidates; the final
    // threshold compares integers (9·inter >= 4·(n1+n2) ⇔ jac >= 4/5).
    "q_dedup_prefix" -> Q(
      s"""WITH $oShingleCte,
         |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |rk AS (SELECT s.doc_id, s.shingle, z.n,
         |         row_number() OVER (PARTITION BY s.doc_id
         |                            ORDER BY f.df, s.shingle) AS pos
         |       FROM sh s JOIN dfs f USING (shingle)
         |                 JOIN sizes z USING (doc_id)),
         |pref AS (SELECT doc_id, shingle, n FROM rk
         |         WHERE pos <= n - (4 * n + 4) // 5 + 1),
         |cands AS MATERIALIZED (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |          FROM pref a JOIN pref b
         |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |cinter AS (SELECT c.d1, c.d2, count(*) AS inter
         |           FROM cands c
         |           JOIN sh s1 ON s1.doc_id = c.d1
         |           JOIN sh s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
         |           GROUP BY 1, 2)
         |SELECT d1, d2, s1.n AS n1, s2.n AS n2, inter,
         |  cast(inter as double) / (s1.n + s2.n - inter) AS jac
         |FROM cinter JOIN sizes s1 ON d1 = s1.doc_id
         |            JOIN sizes s2 ON d2 = s2.doc_id
         |WHERE 9 * inter >= 4 * (s1.n + s2.n)
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val sh = shingles(docs(s, dir))
      jaccardForCandidates(sh, prefixCandidates(sh, 4, 5))
        // integer-exact form of jac >= 4/5; the emitted double jac is the
        // division of exact integers (same IEEE op both engines)
        .filter(col("inter") * 9 >= (col("n1") + col("n2")) * 4)
        .select(col("d1"), col("d2"), col("n1"), col("n2"), col("inter"), col("jac"))
        .orderBy(col("d1"), col("d2"))
    },

    // Incremental corpus dedup (round 8 continuation): dedup the NEW
    // batch against the EXISTING corpus without re-clustering anything —
    // the shape an ingest pipeline actually runs daily (the batch twin
    // of streaming decontam-at-ingest). The "new batch" is the
    // deterministic md5 doc_id bucket 9 (~10% of docs — the
    // q_sample_hash split, no rng); a new doc is a duplicate when ANY of
    // its 3 MinHash LSH bands matches a band key present in the corpus.
    // Emits per new doc the matched-band count and the dup flag — all
    // from engine-identical md5 minima, so the whole readout hash-gates.
    // Scale shape: the corpus side collapses to its DISTINCT (band, key)
    // index in one map-side-combinable agg (this index is exactly what a
    // production ingest would persist and reuse across days — the
    // writePairGraph/writeIvfIndex pattern); the probe is a
    // new-batch-sized left equi-join on that index. Nothing is ever
    // pairwise in the corpus.
    "q_dedup_incremental" -> Q(
      s"""WITH $oShingleCte,
         |sigs AS MATERIALIZED (
         |  SELECT doc_id,
         |    $oSigExprs
         |  FROM sh GROUP BY doc_id),
         |bands AS MATERIALIZED (
         |  SELECT doc_id, g.b AS band_id,
         |    CASE g.b WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3 ELSE h4 || h5 END AS key,
         |    ((instr('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 1, 1)) - 1) * 16
         |     + (instr('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 2, 1)) - 1))
         |      % 10 = 9 AS is_new
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 3)) AS b) g),
         |corpk AS MATERIALIZED (
         |  SELECT DISTINCT band_id, key FROM bands WHERE NOT is_new)
         |SELECT nb.doc_id,
         |  cast(count(CASE WHEN ck.key IS NOT NULL THEN 1 END) as bigint)
         |    AS n_bands_hit,
         |  count(CASE WHEN ck.key IS NOT NULL THEN 1 END) > 0 AS is_dup
         |FROM bands nb LEFT JOIN corpk ck
         |  ON nb.band_id = ck.band_id AND nb.key = ck.key
         |WHERE nb.is_new
         |GROUP BY nb.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bands = lshBands(Components.minhashSigs(s, dir))
        .withColumn("is_new",
          conv(substring(md5(col("doc_id").cast(StringType).cast(BinaryType)),
            1, 2), 16, 10).cast(LongType) % 10 === 9)
      val corpk = bands.filter(!col("is_new"))
        .select(col("band_id"), col("key")).distinct()
        .withColumn("hit", lit(1))
      bands.filter(col("is_new"))
        .join(corpk, Seq("band_id", "key"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("hit")).as("n_bands_hit"))
        .select(col("doc_id"), col("n_bands_hit"),
          (col("n_bands_hit") > 0).as("is_dup"))
        .orderBy(col("doc_id"))
    },

    // Per-source duplication-rate audit (round 8 continuation): which
    // source is flooding the corpus with copies — the readout that
    // decides WHERE to point the dedup pipeline (and whether to demote a
    // scraper) before any pairwise work runs. A doc counts as duplicated
    // when its whitespace-normalized md5 fingerprint (the q_fingerprint
    // canonical form, core.py has no analog — EXT) occurs more than once
    // CORPUS-WIDE; rates are floor-ppm of exact counts
    // (decimal(38,0)/HUGEINT-lifted). The whitespace class is the
    // EXPLICIT [ \t\n\r\f] (not \s): Java regex \s includes vertical tab
    // \x0B while RE2/DuckDB \s excludes it, so \s diverges on text
    // containing \x0B; lower() is assumed ASCII-folding (both engines
    // agree on ASCII; locale-sensitive case pairs like İ would differ).
    // Scale shape: one fingerprint
    // groupBy (map-side combinable) + one fingerprint-keyed equi-join
    // back to the doc table + one source rollup — three linear shuffles,
    // no pairs.
    "q_dup_rate_by_source" -> Q(
      """WITH f AS MATERIALIZED (
        |  SELECT source,
        |    md5(lower(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'))) AS fp
        |  FROM documents),
        |g AS MATERIALIZED (
        |  SELECT fp, cast(count(*) as bigint) AS gs FROM f GROUP BY fp)
        |SELECT source, cast(count(*) as bigint) AS n_docs,
        |  cast(count(CASE WHEN gs > 1 THEN 1 END) as bigint) AS n_dup_docs,
        |  cast((cast(1000000 as hugeint) * count(CASE WHEN gs > 1 THEN 1 END))
        |       // count(*) as bigint) AS dup_ppm
        |FROM f JOIN g USING (fp)
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val f = docs(s, dir).select(col("source"),
        md5(lower(regexp_replace(col("text"), "[ \\t\\n\\r\\f]+", " ")).cast(BinaryType))
          .as("fp"))
      val g = f.groupBy(col("fp")).agg(count(lit(1)).as("gs"))
      f.join(g, "fp")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("gs") > 1, 1)).as("n_dup_docs"))
        .select(col("source"), col("n_docs"), col("n_dup_docs"),
          expr("cast((cast(1000000 as decimal(38,0)) * n_dup_docs)" +
            " div n_docs as bigint)").as("dup_ppm"))
        .orderBy(col("source"))
    },

    // Cross-detector agreement audit (round 9): the pair-set overlap of
    // the two independent near-dup detectors — SimHash (hamming ≤ 6) vs
    // banded MinHash verified at Jaccard ≥ 0.35. The "which detector do
    // I trust, and do they see the same corpus" eval run BEFORE
    // committing a 100 TB dedup to either; high disagreement means the
    // thresholds are mis-calibrated for this corpus (q_minhash_est is
    // the per-pair calibration view, this is the set-level verdict).
    // Both pair pipelines are already mirrored bit-exact in SQL, so the
    // whole audit hash-gates. Scale shape: two sub-quadratic candidate
    // pipelines, one (d1, d2)-keyed agg over their union (edge-sized),
    // one 1-row close; set-Jaccard is nonneg scale-0 floor division.
    "q_dedup_agreement" -> Q(
      s"""WITH $oSimhashPairsCte,
         |ssp AS (SELECT d1, d2 FROM spairs),
         |msigs AS MATERIALIZED (
         |  SELECT doc_id,
         |    $oSigExprs
         |  FROM sh GROUP BY doc_id),
         |bands AS MATERIALIZED (
         |  SELECT doc_id, g.b AS band_id,
         |    CASE g.b WHEN 0 THEN h0 || h1 WHEN 1 THEN h2 || h3 ELSE h4 || h5 END AS key
         |  FROM msigs CROSS JOIN (SELECT unnest(range(0, 3)) AS b) g),
         |cands AS MATERIALIZED (
         |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
         |  FROM bands l JOIN bands r
         |    ON l.band_id = r.band_id AND l.key = r.key AND l.doc_id < r.doc_id),
         |mh AS (SELECT j.d1, j.d2 FROM jac j
         |       JOIN cands c ON j.d1 = c.d1 AND j.d2 = c.d2
         |       WHERE j.jac >= 0.35),
         |u AS (SELECT d1, d2, max(in_s) AS s, max(in_m) AS m FROM (
         |        SELECT d1, d2, 1 AS in_s, 0 AS in_m FROM ssp
         |        UNION ALL SELECT d1, d2, 0, 1 FROM mh)
         |      GROUP BY d1, d2)
         |SELECT cast(sum(s) as bigint) AS n_simhash,
         |  cast(sum(m) as bigint) AS n_minhash,
         |  cast(sum(s * m) as bigint) AS n_both,
         |  cast(count(*) as bigint) AS n_union,
         |  cast(CASE WHEN count(*) = 0 THEN 0
         |       ELSE (sum(s * m) * 1000000) // count(*) END as bigint) AS agree_ppm
         |FROM u ORDER BY n_union""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      // both detectors read their materialized pair/candidate indexes —
      // rows identical to the inline pipelines (simhashPairs is the same
      // simhashNearDup chain; minhashCands the same banded self-join)
      val sp = Components.simhashPairs(s, dir)
        .select(col("d1"), col("d2"),
          lit(1L).as("in_s"), lit(0L).as("in_m"))
      val mp = jaccardForCandidates(shingles(d),
          Components.minhashCands(s, dir))
        .filter(col("jac") >= 0.35)
        .select(col("d1"), col("d2"),
          lit(0L).as("in_s"), lit(1L).as("in_m"))
      sp.union(mp)
        .groupBy(col("d1"), col("d2"))
        .agg(max(col("in_s")).as("s"), max(col("in_m")).as("m"))
        .agg(sum(col("s")).as("n_simhash"), sum(col("m")).as("n_minhash"),
          sum(col("s") * col("m")).as("n_both"),
          count(lit(1)).as("n_union"))
        .select(col("n_simhash"), col("n_minhash"), col("n_both"),
          col("n_union"),
          expr("CASE WHEN n_union = 0 THEN 0L " +
            "ELSE (n_both * 1000000L) div n_union END").as("agree_ppm"))
        .orderBy(col("n_union"))
    }
  )
}
