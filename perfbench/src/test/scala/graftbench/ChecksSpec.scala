package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** Each output check passes on the expected output and fails when one
  * expected value is perturbed. */
class ChecksSpec extends AnyFunSuite {

  private val seed = 3L

  private def model(): OrdersModel = {
    val m = new OrdersModel(seed, 2000)
    m.reset(1000)
    m.write(Gen.upsertKeys(seed, 1, 1000, 100).all, 1)
    m.write(Gen.upsertKeys(seed, 2, m.maxKey, 100).all, 2)
    m
  }

  private def table(m: OrdersModel) =
    (1L to m.maxKey).map(k => Gen.order(seed, k, m.version(k.toInt))).toArray

  test("orders last-writer-wins check") {
    val m = model()
    assert(Checks.ordersMatch(table(m), m))
    val stale = table(m)
    val k = Gen.upsertKeys(seed, 2, 1030, 100).updates.head
    stale(k.toInt - 1) = Gen.order(seed, k, 0) // one row missed its last update
    assert(!Checks.ordersMatch(stale, m))
    assert(!Checks.ordersMatch(table(m).drop(1), m))
  }

  test("_dlt_loads ledger check") {
    val ids = Seq("a", "b", "c")
    assert(Checks.ledgerMatch(Seq("a" -> 0L, "b" -> 0L, "c" -> 0L), ids))
    assert(!Checks.ledgerMatch(Seq("a" -> 0L, "b" -> 1L, "c" -> 0L), ids))
    assert(!Checks.ledgerMatch(Seq("a" -> 0L, "b" -> 0L, "b" -> 0L), ids))
    assert(!Checks.ledgerMatch(Seq("a" -> 0L, "b" -> 0L), ids))
  }

  test("stream dedup checks") {
    val docs = Seq(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 2, 5L -> 0)
    val kept = Set(1L, 2L, 5L)
    assert(Checks.copiesAbsorbed(docs, kept) && Checks.originalsKept(docs, kept))
    assert(!Checks.copiesAbsorbed(docs, kept + 3L), "a surviving near copy")
    assert(!Checks.originalsKept(docs, kept - 2L), "a dropped original")
    assert(!Checks.originalsKept(docs, kept + 99L), "a document nobody sent")
  }

  test("recorded query answers: one perturbed expectation is one failure") {
    val h = new Harness(null, new Tracer(false), seed, java.nio.file.Paths.get("."))
    h.timing = true
    val m = model()
    val k = m.maxKey
    h.expect("sql_point", s"key $k", m.price(k), m.price(k))
    h.expect("sql_range", "[1,400]", m.keysIn(1, 400), 400L)
    h.expect("sql_join", "[1,400]", m.linesIn(1, 400), m.linesIn(1, 400))
    h.checkAnswers()
    assert(h.failed == 0)
    h.expect("sql_point", s"key $k", m.price(k) + 0.01, m.price(k))
    h.checkAnswers()
    assert(h.failed == 1)
  }
}
