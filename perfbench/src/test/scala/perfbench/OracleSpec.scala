package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {

  private val expected = Seq(
    Envelope("t.a", "k1", """{"after": {"v": 1}, "op": "c"}"""),
    Envelope("t.a", "k1", """{"after": {"v": 2}, "op": "u"}"""),
    Envelope("t.a", "k2", """{"after": {"v": 1}, "op": "c"}"""),
    Envelope("t.b", "k1", """{"op": "d"}"""))

  private def written(es: Seq[Envelope]): Seq[Written] =
    es.map(e => Written(0, e.topic, e.key, e.value))

  private def check(got: Seq[Envelope]): Verdict =
    Oracle.check(expected.iterator, written(got).iterator)

  test("the expected output passes, in any interleaving of keys") {
    val v = check(Seq(expected(2), expected(0), expected(3), expected(1)))
    assert(v.ok, v)
    assert(v.written == 4)
  }

  test("a dropped record is caught") {
    val v = check(expected.patch(1, Nil, 1))
    assert(v.missing == 1 && !v.ok, v)
  }

  test("a duplicated record is caught") {
    val v = check(expected :+ expected(2))
    assert(v.duplicated == 1 && !v.ok, v)
  }

  test("two records of one key delivered out of order are caught") {
    val v = check(Seq(expected(1), expected(0), expected(2), expected(3)))
    assert(v.outOfOrder == 2 && !v.ok, v)
    assert(v.missing == 0 && v.duplicated == 0, v)
  }

  test("a record with different bytes counts once, as mismatched") {
    val v = check(expected.updated(2, expected(2).copy(value = """{"after": {"v":1}, "op": "c"}""")))
    assert(v.mismatched == 1 && v.failed == 1, v)
  }

  test("a record routed to the wrong topic is caught") {
    val v = check(expected.updated(3, expected(3).copy(topic = "t.a")))
    assert(!v.ok, v)
  }

  test("key and value bytes are summed per batch") {
    val w = written(expected).zipWithIndex.map { case (x, i) => x.copy(batch = i / 2) }
    val v = Oracle.check(expected.iterator, w.iterator)
    assert(v.bytesByBatch.keySet == Set(0L, 1L))
    assert(v.bytes == expected.map(e => e.key.length + e.value.length).sum)
  }
}
