package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-7 hardening pins for the connected-components loops:
  * conf isolation (the loop's AQE-off/graph-sized shuffle settings live
  * on a child session and must be unobservable from the parent for the
  * loop's whole duration) and the hot-vertex skew shape (a 10⁶-edge star
  * stresses large-star's groupBy-min with one maximal-degree neighborhood
  * — the opposite extreme from the chain graphs the sf0.1 corpus
  * produces).
  */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("fused packed-long keepBestFromLabels equals the max_by reference (round 16)") {
    val labels = Components.connectedComponents(
      Components.simhashPairs(spark, TestSpark.sfDir))
    val docs = graft.Engine.table(spark, TestSpark.sfDir, "documents")
    val fused = Components.keepBestFromLabels(labels, docs)
    val ref = Components.keepBestFromLabelsRef(labels, docs)
    assert(fused.except(ref).isEmpty && ref.except(fused).isEmpty)
    assert(fused.count() > 0)
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      s"fused keep-best argmax regressed to a sort/object aggregate:\n$plan")
    val refPlan = ref.queryExecution.executedPlan.toString
    assert(refPlan.contains("ObjectHashAggregate") || refPlan.contains("SortAggregate"))
  }

  test("q_contrastive_pairs: positives are graph neighbors, negatives never are, draw is deterministic") {
    val q = graft.Registry.all("q_contrastive_pairs")
    val a = q.fn(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val b = q.fn(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a === b, "triple draw must be run-to-run deterministic")
    assert(a.nonEmpty)
    val nbr = Components.simhashPairs(spark, TestSpark.sfDir).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    a.foreach { case (anchor, pos, neg) =>
      assert(nbr(anchor).contains(pos),
        s"positive $pos is not a pair-graph neighbor of anchor $anchor")
      assert(!nbr(anchor).contains(neg),
        s"negative $neg leaked from anchor $anchor's near-dup neighborhood")
      assert(neg != anchor && pos != anchor)
    }
    // every anchor appears exactly once
    assert(a.map(_._1).distinct.size === a.size)
  }

  test("loop conf never leaks to the parent session, even mid-flight") {
    import spark.implicits._
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val before = keys.map(k => k -> spark.conf.get(k)).toMap
    // a sampler thread polls the PARENT session's conf while the loop
    // runs: the pre-round-7 set-and-restore on the shared session is
    // loudly caught here (it held AQE off for the loop's whole wall
    // time); the child-session isolation must never show a deviation
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var running = true
    val sampler = new Thread(() => {
      while (running) {
        keys.foreach { k =>
          val v = spark.conf.get(k)
          if (v != before(k)) violations.add(s"$k=$v")
        }
        Thread.sleep(1)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    try {
      // multi-round shapes for both variants so the sampler has real
      // loop iterations to observe
      val chain = (0L until 120L).map(i => (i, i + 1)).toDF("d1", "d2")
      val s = Components.connectedComponentsStars(chain)
      val j = ComponentsReference.connectedComponentsJump(chain)
      assert(s.collect().length == 121 && j.collect().length == 121)
      // results are re-rooted on the PARENT session: everything
      // downstream of connectedComponents plans under session defaults,
      // not the loop's graph-sized conf
      assert(s.sparkSession eq spark)
      assert(j.sparkSession eq spark)
    } finally {
      running = false
      sampler.join()
    }
    assert(violations.isEmpty,
      s"parent session conf observed mutated mid-loop: ${violations}")
    keys.foreach(k => assert(spark.conf.get(k) == before(k)))
  }

  test("cc loop per-round plans: graph-sized hash joins, no cartesian/nested-loop (round 8)") {
    import spark.implicits._
    // the graded q_dedup_cc plan PlanAuditSpec sees is only a window over
    // the final LogicalRDD — the joins that matter run INSIDE the eager
    // loop. The ccRoundObserver hook hands each round's edge frame (and
    // the loop's derived partition count) to this audit before execution.
    val plans = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    Components.ccRoundObserver = Some { (df, nPart) =>
      plans += ((df.queryExecution.executedPlan.toString, nPart))
    }
    try {
      // the REAL graded upstream at sf0.001: the simhash pair graph
      val labels = Components.ccFromLabels(Components.connectedComponents(
        Components.simhashPairs(spark, TestSpark.sfDir)))
      assert(labels.count() > 0)
    } finally Components.ccRoundObserver = None
    assert(plans.nonEmpty, "observer saw no rounds — hook detached?")
    plans.foreach { case (p, nPart) =>
      assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
        s"cc round planned an all-pairs join:\n$p")
      // both round joins are equi-joins on vertex keys; AQE is off inside
      // the loop, so exchanges must hash-partition at the loop's derived
      // graph-sized count, not the session default
      assert(p.contains("hashpartitioning"),
        s"cc round lost hash partitioning:\n$p")
      assert(p.contains(s", $nPart)") || p.contains(s", $nPart),"),
        s"cc round exchanges not sized to the graph (expected $nPart):\n$p")
    }
  }

  test("a cc round that throws leaves no rows cached: the scope releases every round") {
    import spark.implicits._
    // a throw inside the loop used to leave the edge list and the current
    // round pinned in the shared JVM; the pin scope releases both
    val chain = (0L until 120L).map(i => (i, i + 1)).toDF("d1", "d2")
    var rounds = 0
    Components.ccRoundObserver = Some { (_, _) =>
      rounds += 1
      if (rounds == 2) throw new IllegalStateException("round 2 failed")
    }
    val added = try graft.Pins.addedBy(spark) {
      val e = intercept[IllegalStateException](
        Components.connectedComponents(chain))
      assert(e.getMessage === "round 2 failed")
    } finally Components.ccRoundObserver = None
    assert(rounds === 2)
    assert(added.isEmpty, s"rdds left persisted by a failed cc loop: $added")
  }

  test("10^6-edge star (one hot vertex) converges within a tight round budget") {
    // maximal skew: vertex 0 has degree 10^6, every other vertex degree 1
    // — large-star's neighborhood groupBy sees ONE key carrying the whole
    // edge set. Correctness pinned by aggregates (a 10^6-row collect
    // would just test the driver); the input is already a min-rooted
    // star, so contraction must fix-point in round 1 and confirm by
    // round 2 — maxIters = 3 pins the budget.
    val n = 1000000L
    val star = spark.range(1L, n + 1L)
      .select(lit(0L).as("d1"), col("id").as("d2"))
    val labels = Components.connectedComponentsStars(star, maxIters = 3)
    val row = labels.agg(
      count(lit(1)).as("n"),
      countDistinct(col("label")).as("nlab"),
      max(col("label")).as("maxlab"),
      sum(col("id").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("ids"))
      .head()
    assert(row.getLong(0) == n + 1L, "every vertex labeled exactly once")
    assert(row.getLong(1) == 1L && row.getLong(2) == 0L,
      "single component rooted at the minimum vertex")
    // sum of ids = 0 + 1 + ... + n proves each vertex appears once (no
    // dup labels, no drops) without a driver-side collect
    assert(row.getDecimal(3).longValueExact() == n * (n + 1L) / 2L)
  }

  test("broom graph (hot star + long tail) converges and labels to the global min") {
    import spark.implicits._
    // a star whose hub hangs off a chain tail: the hub's neighborhood is
    // hot AND the minimum arrives via propagation through the tail —
    // stresses both star steps in the same run. 5k spokes + 60-chain.
    val spokes = spark.range(100L, 5100L)
      .select(lit(50L).as("d1"), col("id").as("d2"))
    val tail = (0L until 50L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = Components.connectedComponentsStars(spokes.union(tail))
    val row = labels.agg(count(lit(1)), countDistinct(col("label")),
      max(col("label"))).head()
    assert(row.getLong(0) == 5051L)
    assert(row.getLong(1) == 1L && row.getLong(2) == 0L)
  }

  /** Driver-side reference of [[Components.pageRank]]'s integer formula:
    * the exact same floor-division rounds over Scala Maps.
    */
  private def refPageRank(n: Long, edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = sym.groupBy(_._1).map { case (k, vs) => k -> vs.size.toLong }
    val r0 = 1000000000L / n
    val base = (15L * r0) / 100L
    var r = (0L until n).map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val contrib = sym.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = (0L until n).map(v => v -> (base + 85L * contrib.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  test("pageRank matches the driver-side integer reference on a seeded random graph (round 7)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 200L
    val edges = (0 until 400).map { _ =>
      val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val got = Components.pageRank(
      edges.toDF("d1", "d2"),
      spark.range(n).select(col("id").as("doc_id")),
      iters = 3)
      .select("doc_id", "rank_ppb").as[(Long, Long)].collect().toMap
    val want = refPageRank(n, edges, iters = 3)
    assert(got.size == n)
    assert((0L until n).forall(v => got(v) == want(v)),
      (0L until n).filter(v => got(v) != want(v)).take(5)
        .map(v => s"$v: got ${got(v)} want ${want(v)}").mkString("; "))
  }

  test("pageRank mass bounds: every rank >= teleport base, total <= initial mass (round 7)") {
    import spark.implicits._
    val n = 100L
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("d1", "d2")
    val pr = Components.pageRank(edges,
      spark.range(n).select(col("id").as("doc_id")), iters = 3)
    val r0 = 1000000000L / n
    val base = (15L * r0) / 100L
    val row = pr.agg(min(col("rank_ppb")), sum(col("rank_ppb")),
      count(lit(1))).head()
    assert(row.getLong(2) == n)
    // floor divisions only ever LOSE mass: nothing exceeds the exact sum
    assert(row.getLong(0) >= base)
    assert(row.getLong(1) <= 1000000000L)
    // isolated vertices sit exactly at the teleport floor
    val isolated = pr.filter(col("deg") === 0).agg(
      min(col("rank_ppb")), max(col("rank_ppb"))).head()
    assert(isolated.getLong(0) == base && isolated.getLong(1) == base)
  }

  test("triangleCounts matches a brute-force triple scan on a seeded random graph (round 7)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 60
    val edges = (0 until 300).map { _ =>
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val eset = edges.toSet
    def conn(a: Long, b: Long) = eset((math.min(a, b), math.max(a, b)))
    val want = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for (a <- 0 until n; b <- a + 1 until n; c <- b + 1 until n)
      if (conn(a, b) && conn(a, c) && conn(b, c)) {
        want(a) += 1; want(b) += 1; want(c) += 1
      }
    val degW = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = Components.triangleCounts(edges.toDF("d1", "d2"),
        spark.range(n).select(col("id").as("doc_id")))
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == n)
    (0 until n).foreach { v =>
      val (dg, tr, lcc) = got(v.toLong)
      assert(dg == degW.getOrElse(v.toLong, 0L), s"deg at $v")
      assert(tr == want(v.toLong), s"tri at $v: got $tr want ${want(v.toLong)}")
      val wantLcc = if (dg >= 2) 2L * tr * 1000000L / (dg * (dg - 1)) else 0L
      assert(lcc == wantLcc, s"lcc at $v")
    }
  }

  test("triangleCounts: clique scores lcc 1.0; star and chain have zero triangles (round 7)") {
    import spark.implicits._
    // K5: every vertex deg 4, tri C(4,2)=6, lcc exactly 1.0 (1e6 ppm)
    val k5 = (for (a <- 0 until 5; b <- a + 1 until 5)
      yield (a.toLong, b.toLong)).toDF("d1", "d2")
    val rk5 = Components.triangleCounts(k5,
      spark.range(5).select(col("id").as("doc_id"))).collect()
    assert(rk5.length == 5)
    assert(rk5.forall(r => r.getLong(1) == 4L && r.getLong(2) == 6L
      && r.getLong(3) == 1000000L))
    // hot-vertex star: the hub has every edge but zero triangles — under
    // degree orientation it emits NO wedges (all edges point outward
    // from the leaves), the exact "last reducer" shape the naive
    // neighbor-pairs join explodes on
    val star = (1L to 50L).map(i => (0L, i)).toDF("d1", "d2")
    val rs = Components.triangleCounts(star,
        spark.range(51).select(col("id").as("doc_id")))
      .agg(sum(col("tri")), max(col("deg"))).head()
    assert(rs.getLong(0) == 0L && rs.getLong(1) == 50L)
    val chain = (0L until 10L).map(i => (i, i + 1)).toDF("d1", "d2")
    val rc = Components.triangleCounts(chain,
        spark.range(11).select(col("id").as("doc_id")))
      .agg(sum(col("tri"))).head()
    assert(rc.getLong(0) == 0L)
  }

  test("pair/label index: content-derived path, two sessions share ONE dir (round 9)") {
    // round-8 hygiene finding: UUID paths orphaned one index dir per JVM.
    // The index store keys the path by the documents.parquet file
    // metadata, so any session (or JVM) over the same dataset resolves the
    // same dir.
    val dir = TestSpark.sfDir
    val path = s"${IndexStore.home(IndexStore.Pair, dir)}/pairs"
    assert(path == s"${IndexStore.home(IndexStore.Pair, dir)}/pairs",
      "path not deterministic")
    IndexStore.drop(dir)
    assert(!new java.io.File(path).exists())
    val n1 = Components.simhashPairs(spark, dir).count()
    assert(new java.io.File(path, "_SUCCESS").exists(), "index not published")
    // a SECOND independent session resolves and reuses the same dir:
    // no new graft_pair_index_* dir may appear
    val before = new java.io.File("/tmp").listFiles()
      .count(_.getName.startsWith("graft_pair_index_"))
    val other = spark.newSession()
    val n2 = Components.simhashPairs(other, dir).count()
    val after = new java.io.File("/tmp").listFiles()
      .count(_.getName.startsWith("graft_pair_index_"))
    assert(n1 == n2 && after == before,
      s"second session built a new index dir ($before -> $after)")
    // no half-built .tmp-* orphans either (atomic rename-aside publish)
    assert(!new java.io.File(path).getParentFile.listFiles()
      .exists(_.getName.contains(".tmp-")))
  }

  test("pair artifacts: each declared schema is what Parquet inference reads back") {
    val dir = TestSpark.sfDir
    Components.simhashLabels(spark, dir).count()
    Components.minhashCands(spark, dir).count()
    Components.jaccardPairIndex(spark, dir).count()
    assert(Components.pairArtifactSchemas.keySet ===
      Set("pairs", "cc", "mh", "mhc", "jpc"))
    Components.pairArtifactSchemas.foreach { case (name, declared) =>
      val path = s"${IndexStore.home(IndexStore.Pair, dir)}/$name"
      assert(spark.read.parquet(path).schema === declared, name)
    }
  }

  test("materialized cc labeling is row-identical to the loop recompute (round 9)") {
    val dir = TestSpark.sfDir
    val mat = Components.simhashLabels(spark, dir)
    val rec = Components.connectedComponents(Components.simhashPairs(spark, dir))
    assert(mat.count() == rec.count())
    assert(mat.except(rec).isEmpty && rec.except(mat).isEmpty,
      "labels index diverged from the loop recompute")
  }

  test("twoCore: trees/chains vanish, cycles and their bridges survive with " +
      "exact core degrees") {
    import spark.implicits._
    def core(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Components.twoCore(edges.toDF("d1", "d2")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a pure path peels to nothing (from both ends inward — also the
    // multi-round worst case for the loop)
    assert(core((0L until 30L).map(i => (i, i + 1))) === Map.empty)
    // a 4-cycle with a pendant chain: the cycle survives at degree 2,
    // the chain peels entirely
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    val pendant = Seq((3L, 10L), (10L, 11L), (11L, 12L))
    assert(core(cyc ++ pendant) ===
      Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L))
    // two cycles joined by a bridge: NOTHING peels (every vertex has
    // degree >= 2 including the bridge endpoints), so the bridge edge is
    // part of the 2-core — the property that distinguishes 2-core from
    // biconnected components
    val tri = Seq((20L, 21L), (21L, 22L), (22L, 20L))
    val bridge = Seq((0L, 20L))
    val got = core(cyc ++ tri ++ bridge)
    assert(got === Map(0L -> 3L, 1L -> 2L, 2L -> 2L, 3L -> 2L,
      20L -> 3L, 21L -> 2L, 22L -> 2L))
    // self-loops and duplicate/reversed listings canonicalize away
    assert(core(Seq((5L, 5L), (0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L))) ===
      Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("twoCore chain-collapse: 10k-vertex chain converges in <= 36 rounds, " +
      "collapse never over-deletes") {
    import spark.implicits._
    def core(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Components.twoCore(edges.toDF("d1", "d2")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the verdict's cliff case: a 10k chain takes ~5k naive peel rounds —
    // the collapse phase must finish it right after the cheap phase
    assert(core((0L until 10000L).map(i => (i, i + 1))) === Map.empty)
    assert(Components.twoCoreLastRounds <= Components.twoCoreCheapRounds + 4,
      s"chain took ${Components.twoCoreLastRounds} rounds")
    // collapse rounds must KEEP leafless degree-2 structure: a 40-cycle
    // (pure cycle: no leaf, survives), a 30-path BRIDGING two triangles
    // (junction-to-junction path: in the 2-core), and an 80-path PENDANT
    // off one triangle (leaf-ended: peels) — the pendant is longer than
    // the cheap phase (one leaf end = one vertex peeled per cheap round),
    // so its removal happens in the collapse phase, next to the
    // structures that must survive it
    val cycle = (0L until 40L).map(i => (100L + i, 100L + (i + 1) % 40L))
    val triA = Seq((200L, 201L), (201L, 202L), (202L, 200L))
    val triB = Seq((300L, 301L), (301L, 302L), (302L, 300L))
    val bridgePath = (0L until 30L).map(i =>
      (if (i == 0) 200L else 400L + i - 1, if (i == 29) 300L else 400L + i))
    val pendant = (0L until 80L).map(i =>
      (if (i == 0) 301L else 500L + i - 1, 500L + i))
    val got = core(cycle ++ triA ++ triB ++ bridgePath ++ pendant)
    val want =
      cycle.map(_._1 -> 2L).toMap ++
        Map(200L -> 3L, 201L -> 2L, 202L -> 2L,
          // 301 ends at 2: its pendant-start edge peels with the pendant
          300L -> 3L, 301L -> 2L, 302L -> 2L) ++
        (0L until 29L).map(i => (400L + i) -> 2L).toMap
    assert(got === want)
    assert(Components.twoCoreLastRounds <= Components.twoCoreCheapRounds + 4,
      s"mixed graph took ${Components.twoCoreLastRounds} rounds")
  }

  test("q_graph_modularity equals the brute-force partition arithmetic " +
    "and the CC identity d_sum = 2*e_in holds per cluster") {
    val pairs = Components.simhashPairs(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // brute-force labels: union-find over the pair list
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val labelOf = verts.map(v => v -> find(v)).toMap
    val m = pairs.size.toLong
    val eIn = pairs.groupBy(p => labelOf(p._1)).map { case (c, xs) => c -> xs.size.toLong }
    val dSum = verts.groupBy(labelOf).map { case (c, vs) =>
      c -> vs.map(v => pairs.count(p => p._1 == v || p._2 == v).toLong).sum
    }
    val nV = verts.groupBy(labelOf).map { case (c, vs) => c -> vs.size.toLong }
    val got = graft.Registry.all("q_graph_modularity").fn(spark, TestSpark.sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet === eIn.keySet)
    got.foreach { case (c, (nv, e, d, ppb)) =>
      assert(nv === nV(c) && e === eIn(c) && d === dSum(c), s"cluster $c")
      assert(d === 2L * e, s"cluster $c: CC partition must have d=2e")
      val num = (BigInt(4) * m * e - BigInt(d) * d) * 1000000000L
      assert(ppb === (num / (BigInt(4) * m * m)).toLong, s"cluster $c")
      assert(ppb >= 0L)
    }
    // contributions tile: Σ e_in = m
    assert(got.values.map(_._2).sum === m)
  }

  test("q_link_predict equals the brute-force resource-allocation ranking " +
      "on the real pair graph, and on a synthetic graph with hub centers") {
    // brute-force RA over an explicit edge list, identical definition:
    // non-adjacent u<w, score = sum over common neighbors v with
    // 2 <= deg(v) <= cap of floor(1e6/deg(v)); top-25 by (-ra, d1, d2)
    def bruteRa(edges: Seq[(Long, Long)]): Seq[(Long, Long, Long, Long)] = {
      val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(p => p._1 != p._2).distinct
      val nbrs = (canon ++ canon.map(_.swap)).groupBy(_._1)
        .map { case (v, xs) => v -> xs.map(_._2).distinct.sorted }
      val scores = collection.mutable.Map.empty[(Long, Long), (Long, Long)]
      nbrs.foreach { case (v, ns) =>
        val d = ns.length.toLong
        if (d >= 2L && d <= Components.linkPredCenterCap.toLong) {
          for (i <- ns.indices; j <- (i + 1) until ns.length) {
            val k = (ns(i), ns(j))
            val (c, r) = scores.getOrElse(k, (0L, 0L))
            scores(k) = (c + 1L, r + 1000000L / d)
          }
        }
      }
      val adjacent = canon.toSet
      scores.toSeq.collect {
        case ((u, w), (c, r)) if !adjacent((u, w)) => (u, w, c, r)
      }.sortBy { case (u, w, _, r) => (-r, u, w) }.take(25)
    }
    // the real graded plan vs brute force over the same pair graph
    val pairs = Components.simhashPairs(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = graft.Registry.all("q_link_predict").fn(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === bruteRa(pairs))
    assert(got.nonEmpty, "sf0.001 pair graph produced no RA candidates")
    // synthetic: a hub above the cap contributes nothing; a path's
    // interior vertices (deg 2) score their flanks at 500000 ppm
    import spark.implicits._
    val hub = (1L to (Components.linkPredCenterCap + 1L)).map(i => (0L, i))
    val path = Seq((100L, 101L), (101L, 102L), (102L, 103L))
    val syn = Components.linkPredictFromPairs(
        (hub ++ path).toDF("d1", "d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(syn === bruteRa(hub ++ path))
    assert(syn === Seq((100L, 102L, 1L, 500000L), (101L, 103L, 1L, 500000L)),
      "hub wedges must be excluded by the center cap")
  }

  test("q_graph_assortativity equals the BigInt moment brute force over the pair graph") {
    val pairs = Components.simhashPairs(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = pairs.flatMap(p => Seq((p._1, p._2), (p._2, p._1)))
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val xy = edges.map { case (u, v) => (BigInt(deg(u)), BigInt(deg(v))) }
    val k = BigInt(xy.size)
    val sx = xy.map(_._1).sum
    val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    val syy = xy.map(p => p._2 * p._2).sum
    val cov = k * sxy - sx * sy
    val vx = k * sxx - sx * sx
    val vy = k * syy - sy * sy
    val r2 = if (vx > 0 && vy > 0) (((cov * cov) / vx) * 1000000) / vy else BigInt(0)
    val got = graft.Registry.all("q_graph_assortativity")
      .fn(spark, TestSpark.sfDir).collect()
    assert(got.length === 1)
    assert(got.head.getLong(0) === xy.size.toLong)
    assert(got.head.getLong(1) === cov.signum.toLong)
    assert(got.head.getLong(2) === r2.toLong)
    assert(xy.nonEmpty, "pair graph must be non-empty at the test SF")
  }

  test("q_hits equals the BigInt sum-normalized power-iteration replay") {
    val e = graft.Engine.table(spark, TestSpark.sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Engine.table(spark, TestSpark.sfDir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        "o_orderkey")
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def norm(m: Map[Long, BigInt]): Map[Long, BigInt] = {
      val t = m.values.sum
      m.view.mapValues(v => v * 1000000000L / t).toMap
    }
    val a1 = norm(e.groupBy(_._2).view.mapValues(xs => BigInt(xs.size)).toMap)
    val h1 = norm(e.groupBy(_._1).view
      .mapValues(xs => xs.map(x => a1(x._2)).sum).toMap)
    val a2 = norm(e.groupBy(_._2).view
      .mapValues(xs => xs.map(x => h1(x._1)).sum).toMap)
    val exp = a2.toSeq.map { case (s, a) => (s, a.toLong) }
      .sortBy(t => (-t._2, t._1)).take(15)
    val got = graft.Registry.all("q_hits").fn(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === exp)
  }

  test("q_eval_leakage equals the md5-bucket replay over the pair graph") {
    val pairs = Components.simhashPairs(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def isEval(id: Long): Boolean =
      Integer.parseInt(md5hex(id.toString).take(2), 16) % 10 == 9
    val cross = pairs.filter(p => isEval(p._1) != isEval(p._2))
    val leaked = cross.map(p => if (isEval(p._1)) p._1 else p._2).distinct
    val nEval = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).count(isEval)
    val got = graft.Registry.all("q_eval_leakage").fn(spark, TestSpark.sfDir)
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) === ((pairs.size.toLong, cross.size.toLong,
      nEval.toLong, leaked.size.toLong,
      if (nEval == 0) 0L else leaked.size.toLong * 1000000L / nEval)))
  }

  test("q_mix_dedup_interaction equals the union-find + per-source replay") {
    val pairs = Components.simhashPairs(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    // min-id representative per cluster survives; the rest drop
    val dropped = verts.groupBy(find).values.flatMap(vs => vs.filter(_ != vs.min)).toSet
    val docsRows = graft.Engine.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val before = docsRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val after = docsRows.filterNot(d => dropped(d._1))
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val (tb, ta) = (before.values.sum, after.values.sum)
    val exp = before.keys.toSeq.sorted.map { src =>
      val (nb, na) = (before(src), after.getOrElse(src, 0L))
      (src, nb, na, na * 1000000L / nb, nb * 1000000L / tb,
        if (ta == 0) 0L else na * 1000000L / ta)
    }
    val got = graft.Registry.all("q_mix_dedup_interaction")
      .fn(spark, TestSpark.sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === exp)
    assert(dropped.nonEmpty, "dedup must drop something at the test SF")
  }
}
