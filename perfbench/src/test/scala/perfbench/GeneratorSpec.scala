package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.ChangeEvents

class GeneratorSpec extends AnyFunSuite {

  private def gen(seed: Long, shape: Shape) = new Generator(seed, shape, "bench").fixture(3000)

  test("the same seed gives the same fixture") {
    Seq(Shape.small, Shape.legacyLarge).foreach { shape =>
      val a = gen(7, shape)
      val b = gen(7, shape)
      assert(a.events == b.events)
      assert(a.expected == b.expected)
    }
  }

  test("another seed gives another fixture") {
    assert(gen(7, Shape.small).expected != gen(8, Shape.small).expected)
  }

  test("every op type, several namespaces and token-only events are covered") {
    val fx = gen(1, Shape.small)
    assert(fx.events.map(_.operationType).toSet == ChangeEvents.AllOps.toSet)
    assert(fx.events.flatMap(e => Option(e.ns)).map(e => (e.db, e.coll)).distinct.size > 4)
    fx.events.zip(fx.expected).foreach { case (e, x) =>
      assert(ChangeEvents.DataOps.contains(e.operationType) == x.nonEmpty)
    }
  }

  test("the canonical shape carries every rewritten ext-JSON type and update part") {
    val fx = gen(1, Shape.legacyLarge)
    val src = fx.sourceDocs.mkString
    Seq("$numberLong", "$numberInt", "$numberDouble", "$date", "$binary",
      "$regularExpression", "$timestamp", "NaN", "Infinity").foreach(t =>
      assert(src.contains(t), t))
    val upd = fx.events.flatMap(_.updateDescription)
    assert(upd.exists(_.raw != null) && upd.exists(_.raw == null))
    assert(upd.forall(u => u.removedFields.nonEmpty && u.truncatedArrays.nonEmpty))
  }

  test("legacy rendering follows json.dumps: ensure_ascii escapes and float repr") {
    val doc = VDoc(Seq("s" -> VStr("\u00e9\"\ud83d\ude00\n"), "d" -> VDouble(3.0),
      "q" -> VDouble(-0.25), "n" -> VDouble(Double.NaN)))
    val esc = "\\u00e9\\\"\\ud83d\\ude00\\n"
    assert(Render.legacy(doc) ==
      "{\"s\": \"" + esc + "\", \"d\": 3.0, \"q\": -0.25, \"n\": NaN}")
    assert(Render.canonical(VDoc(Seq("x" -> VLong(5), "t" -> VTs(1, 2)))) ==
      """{"x": {"$numberLong": "5"}, "t": {"$timestamp": {"i": 2, "t": 1}}}""")
  }
}
