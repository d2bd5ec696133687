package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each checker passes the right answer and fails a deliberately
  * corrupted one, so the benchmark's checks are not vacuous.
  */
class CheckerSpec extends AnyFunSuite {

  test("etl: a read with a dropped row fails the check") {
    val r = new java.util.SplittableRandom(7)
    val model = new Etl.Model
    val (os, ls) = Etl.batch(r, 1L, 300)
    model.addOrders(os); model.addLines(ls); model.today = os.take(50)
    val q = Etl.Query(1, Map("cust" -> os.head.cust))
    val exp = model.expected(q)
    assert(exp.nonEmpty)
    assert(Etl.verify(Seq(("q", exp, exp))).isEmpty)
    assert(Etl.verify(Seq(("q", exp, exp.drop(1)))).size == 1)
  }

  test("etl: a table checksum that misses one appended row fails the check") {
    val r = new java.util.SplittableRandom(8)
    val model = new Etl.Model
    val (os, ls) = Etl.batch(r, 1L, 40)
    model.addOrders(os); model.addLines(ls); model.today = os
    val before = model.checksums
    model.addLines(Seq(ls.head.copy(lineNo = 99)))
    assert(Etl.verify(Seq(("w", model.checksums, model.checksums))).isEmpty)
    assert(Etl.verify(Seq(("w", model.checksums, before))).size == 1)
  }

  private def index(n: Int, g: Search.Gen) = (0 until n).map(i => (i.toLong, g.vector()))

  test("search: exact answers pass with recall 1; a swapped neighbour fails") {
    val g = new Search.Gen(3)
    val idx = index(300, g)
    val q = g.vector()
    val exact = Search.exactTopK(q, idx)
    val ok = Search.Served(1L, q, idx.size, exact, None)
    val (fails, recall) = Search.verify(Seq(ok), idx)
    assert(fails.isEmpty && recall == 1.0)
    // the 10th neighbour replaced by a vector outside the exact top 10,
    // keeping the reported score: the score check catches it
    val outsider = idx.map(_._1).find(id => !exact.exists(_._1 == id)).get
    val swapped = exact.init :+ (outsider -> exact.last._2)
    val (bad, badRecall) = Search.verify(Seq(ok.copy(got = swapped)), idx)
    assert(bad.nonEmpty && badRecall < 1.0)
  }

  test("search: an appended vector missing from rank 1 fails") {
    val g = new Search.Gen(4)
    val idx = index(200, g)
    val (id, v) = idx(150)
    val exact = Search.exactTopK(v, idx)
    assert(exact.head._1 == id)
    val s = Search.Served(2L, v, idx.size, exact, Some(id))
    assert(Search.verify(Seq(s), idx)._1.isEmpty)
    // the same answer without the copied vector, every score still exact
    val without = Search.exactTopK(v, idx.filterNot(_._1 == id))
    assert(Search.verify(Seq(s.copy(got = without)), idx)._1.exists(_.contains("rank 1")))
  }

  test("curate: a missed exact duplicate fails; a caught one passes") {
    val g = new Curate.Gen(5)
    val indexed = (1L to 50L).map(i => Curate.Doc(i, g.goodText(), "fresh", -1L))
    val fresh = Curate.Doc(100L, g.goodText(), "fresh", -1L)
    val dup = Curate.Doc(101L, indexed(7).text, "exact", indexed(7).id)
    val low = Curate.Doc(102L, g.lowText(2), "low-2", -1L)
    val docs = Seq(fresh, dup, low)
    val keep = docs.map(d => d.id -> Curate.gate(d.text))
    assert(keep.toMap == Map(100L -> true, 101L -> true, 102L -> false))
    val good = Curate.Probe(docs, keep, Seq(100L -> 0L, 101L -> 3L), indexed.size)
    val v = Curate.verify(Seq(good), indexed)
    assert(v.failures.isEmpty && v.recall == 1.0 && v.verified == 1)
    val missed = good.copy(hits = Seq(100L -> 0L, 101L -> 0L))
    assert(Curate.verify(Seq(missed), indexed).failures.exists(_.contains("not caught")))
  }

  test("curate: a repeated or dropped output row fails") {
    val g = new Curate.Gen(9)
    val indexed = (1L to 20L).map(i => Curate.Doc(i, g.goodText(), "fresh", -1L))
    val docs = (100L to 103L).map(i => Curate.Doc(i, g.goodText(), "fresh", -1L))
    val keep = docs.map(_.id -> true)
    val hits = docs.map(_.id -> 0L)
    val ok = Curate.Probe(docs, keep, hits, indexed.size)
    assert(Curate.verify(Seq(ok), indexed).failures.isEmpty)
    // a join fan-out: one probe row twice
    val fanned = ok.copy(hits = hits :+ hits.head)
    assert(Curate.verify(Seq(fanned), indexed).failures.exists(_.contains("probe returned 5 rows")))
    val dropped = ok.copy(keep = keep.tail)
    assert(Curate.verify(Seq(dropped), indexed).failures.exists(_.contains("gate returned 3 rows")))
  }

  test("curate: flags below the threshold beyond the banding's rate fail") {
    val g = new Curate.Gen(6)
    val indexed = (1L to 30L).map(i => Curate.Doc(i, g.goodText(), "fresh", -1L))
    // words outside the generated vocabulary: no shingle in common, so
    // the banding predicts no flag at all
    def unrelated(id: Long) = Curate.Doc(id, (0 until 40).map { i =>
        if (i == 1 || i == 5) "the" else s"zzq${('a' + i % 26).toChar}${('a' + id % 26).toChar}"
      }.mkString(" "), "fresh", -1L)
    val docs = (100L until 110L).map(unrelated)
    assert(docs.forall(d => Curate.gate(d.text)))
    val keep = docs.map(_.id -> true)
    def probe(nFlagged: Int) =
      Curate.Probe(docs, keep, docs.zipWithIndex.map { case (d, i) =>
        d.id -> (if (i < nFlagged) 1L else 0L) }, indexed.size)
    val one = Curate.verify(Seq(probe(1)), indexed)
    assert(one.failures.isEmpty && one.falseFlags == 1 && one.expectedFalse == 0.0)
    val all = Curate.verify(Seq(probe(docs.size)), indexed)
    assert(all.failures.exists(_.contains("below Jaccard")))
    assert(Curate.allowedFalseFlags(0.0) == 3 && Curate.allowedFalseFlags(4.0) == 17)
    assert(Curate.flagProbability(Seq(1.0)) == 1.0 && Curate.flagProbability(Nil) == 0.0)
  }

  test("curate: a kept low-quality document fails") {
    val g = new Curate.Gen(6)
    val indexed = (1L to 30L).map(i => Curate.Doc(i, g.goodText(), "fresh", -1L))
    val low = Curate.Doc(101L, g.lowText(0), "low-0", -1L)
    val leaky = Curate.Probe(Seq(low), Seq(101L -> true), Seq(101L -> 0L), indexed.size)
    assert(Curate.verify(Seq(leaky), indexed).failures.exists(_.contains("rule says false")))
  }

  test("every traced run reports exactly BENCHMARK.json's per-layer metrics") {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val listed = "\"name\": \"([^\"]+)\",\\s*\"unit\": \"([^\"]+)\"".r
      .findAllMatchIn(perLayer).map(m => m.group(1) -> m.group(2)).toSeq
    assert(listed.nonEmpty)
    assert(listed.sorted == Recorder.layerNames.sorted)
  }

  test("tail percentile leaves at least ten samples beyond it") {
    assert(Recorder.tailPercentile(39) == 50)
    assert(Recorder.tailPercentile(40) == 75)
    assert(Recorder.tailPercentile(100) == 90)
    assert(Recorder.percentile((1L to 40L), 75) == 30.0)
  }
}
