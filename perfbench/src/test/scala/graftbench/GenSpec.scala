package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The input generator: byte-identical inputs per seed, and the stated
  * shape on a second seed. */
class GenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical inputs; another seed does not") {
    val a = Gen.digest(1L)
    info(s"seed 1 digest $a")
    assert(a == Gen.digest(1L))
    assert(a != Gen.digest(2L))
  }

  private val seed = 7L

  test("upsert batches: 70% updates, 80% of them in the newest 10% of keys") {
    val maxKey = 20000L
    val batches = (1 to 40).map(l => Gen.upsertKeys(seed, l, maxKey, 1000))
    batches.foreach { b =>
      assert(b.updates.length == 700 && b.fresh.length == 300)
      assert(b.all.distinct.length == 1000, "keys are distinct within a batch")
      assert(b.updates.forall(k => k >= 1 && k <= maxKey))
      assert(b.fresh.sameElements((maxKey + 1) to (maxKey + 300)))
    }
    val upd = batches.flatMap(_.updates)
    // 80% drawn from the newest 10%, plus the uniform 20% that lands there;
    // redrawing repeated keys thins the crowded hot range a little
    val hot = upd.count(_ > maxKey - maxKey / 10).toDouble / upd.size
    assert(math.abs(hot - (0.8 + 0.2 * 0.1)) < 0.03, s"newest-10% share $hot")
  }

  test("the query mix and point-key recency") {
    val recent = (20001L to 21000L).toArray
    val qs = (0L until 8000L).map(q => Gen.query(seed, q, 21000L, recent, 400L))
    val byClass = qs.groupBy(_.cls).map { case (c, xs) => c -> xs.size }
    assert(byClass == Map("sql_point" -> 3000, "sql_range" -> 1000, "sql_agg" -> 1000,
      "sql_join" -> 1000, "df_point" -> 1000, "df_range" -> 1000))
    val points = qs.filter(q => q.cls.endsWith("_point"))
    val fromRecent = points.count(q => q.lo > 20000L).toDouble / points.size
    // half from the recent keys, half uniform (of which 1000/21000 are recent)
    assert(math.abs(fromRecent - (0.5 + 0.5 * 1000 / 21000.0)) < 0.03, s"recent share $fromRecent")
    qs.filter(q => q.cls.endsWith("_range") || q.cls == "sql_join").foreach { q =>
      assert(q.hi - q.lo + 1 == 400 && q.lo >= 1 && q.hi <= 21000)
    }
  }

  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString("_")).toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  test("document stream: copy shares, near-copy similarity, dissimilar originals") {
    val lay = Gen.DocLayout(seed, corpus = 2000, chunkSize = 500)
    val chunks = 1 to 12
    val cells = for (c <- chunks; i <- 0 until lay.chunkSize) yield (c, i)
    val kinds = cells.map { case (c, i) => lay.kind(c, i) }
    val near = kinds.count(_ == 1).toDouble / kinds.size
    val exact = kinds.count(_ == 2).toDouble / kinds.size
    assert(math.abs(near - 0.20) < 0.02, s"near-copy share $near")
    assert(math.abs(exact - 0.05) < 0.01, s"exact-copy share $exact")
    assert((0 until lay.corpus).forall(i => lay.kind(0, i) == 0), "the corpus holds originals only")

    val idToCell = (Seq((0, lay.corpus)) ++ chunks.map(c => (c, lay.chunkSize)))
      .flatMap { case (c, n) => (0 until n).map(i => lay.docId(c, i) -> (c, i)) }.toMap
    def text(c: Int, i: Int) = lay.docWords(c, i).mkString(" ")
    cells.filter { case (c, i) => lay.kind(c, i) != 0 }.foreach { case (c, i) =>
      val (sc, si) = idToCell(lay.source(c, i))
      assert(sc < c, "a copy's source is in the corpus or an earlier chunk")
      assert(lay.kind(sc, si) == 0, "a copy's source is an original")
      if (lay.kind(c, i) == 2) assert(text(c, i) == text(sc, si))
      else assert(jaccard(text(c, i), text(sc, si)) >= 0.9)
    }

    val originals = cells.filter { case (c, i) => lay.kind(c, i) == 0 }.take(400)
      .map { case (c, i) => text(c, i) }
    val worst = (for (a <- originals.indices; b <- originals.indices if a < b)
      yield jaccard(originals(a), originals(b))).max
    assert(worst < 0.3, s"originals must be pairwise dissimilar, worst Jaccard $worst")
  }
}
