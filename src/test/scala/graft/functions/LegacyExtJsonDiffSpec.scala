package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.unsafe.types.UTF8String

/** Differential property: the streaming `LegacyExtJson` against the
  * tree codec it replaced (`LegacyExtJsonTree`), over generated
  * extended-JSON documents. Both must give the same bytes, or both
  * must throw (the streaming codec an `IllegalArgumentException`).
  * The documents come from `ExtJsonGen`.
  */
class LegacyExtJsonDiffSpec extends AnyFunSuite {

  import ExtJsonGen.{doc, malformed}

  private def throwsOnBoth(in: String): Boolean = {
    val tree = try { LegacyExtJsonTree.convert(in); false } catch { case _: Exception => true }
    val stream =
      try { LegacyExtJson.convert(UTF8String.fromBytes(in.getBytes(UTF_8))); false }
      catch { case _: IllegalArgumentException => true }
    tree && stream
  }

  private def agree(in: String): Prop = {
    val want = try Right(LegacyExtJsonTree.convert(in)) catch { case e: Exception => Left(e) }
    val got =
      try Right(LegacyExtJson.convert(UTF8String.fromBytes(in.getBytes(UTF_8))).toString)
      catch { case e: Exception => Left(e) }
    (want, got) match {
      case (Right(w), Right(g)) => Prop(w == g) :| s"input:  $in\ntree:   $w\nstream: $g"
      case (Left(_), Left(_: IllegalArgumentException)) => Prop.passed
      case _ => Prop.falsified :| s"input:  $in\ntree:   $want\nstream: $got"
    }
  }

  private def check(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withMaxDiscardRatio(1)
      .withInitialSeed(org.scalacheck.rng.Seed(12L)), prop)
    assert(res.passed, s"property failed: ${res.status} ${res.status match {
      case SCTest.Failed(args, labels) => labels.mkString("\n") +
        args.map(_.arg).mkString("\nargs: ", " ", "")
      case _ => ""
    }}")
  }

  test("streaming codec matches the tree codec on generated documents") {
    check(Prop.forAllNoShrink(doc)(agree), 6000)
  }

  test("streaming codec and tree codec both reject malformed documents") {
    check(Prop.forAllNoShrink(malformed)(in => Prop(throwsOnBoth(in)) :| in), 2000)
  }

  test("the generator reaches every feature the property claims to cover") {
    val params = Gen.Parameters.default.withSize(100)
    val seed = org.scalacheck.rng.Seed(12L)
    val docs = Iterator.iterate(seed)(_.next).take(3000)
      .flatMap(s => doc(params, s)).toVector
    // bracket nesting, string literals blanked out first
    def depth(s: String): Int = s.replaceAll("\"([^\"\\\\]|\\\\.)*\"", "\"\"").scanLeft(0) {
      case (d, '{' | '[') => d + 1
      case (d, '}' | ']') => d - 1
      case (d, _) => d
    }.max
    val features = Seq[(String, String => Boolean)](
      "nesting past depth 3" -> (depth(_) > 4),
      "canonical $date" -> (_.contains("{\"$date\": {\"$numberLong\"")),
      "relaxed $date" -> (_.matches("(?s).*\\{\"\\$date\": ?\"[-+0-9]{4,}.*")),
      "$numberInt" -> (_.contains("$numberInt")),
      "$numberDouble NaN" -> (_.contains("\"NaN\"")),
      "canonical $binary" -> (_.contains("\"base64\"")),
      "legacy $binary" -> (_.contains("\"$type\": \"")),
      "canonical $regularExpression" -> (_.contains("\"pattern\"")),
      "$timestamp" -> (_.contains("$timestamp")),
      "wrapper name among more fields" -> (_.matches("(?s).*\\{\"\\$(date|numberLong|binary|timestamp)\": ?[^{}]*, ?\"x\".*")),
      "integer past Long" -> (_.contains("123456789012345678901234567890")),
      "-0" -> (_.matches("(?s).*[:\\[ ]-0[,}\\] ].*")),
      "subnormal" -> (d => d.contains("5e-324") || d.contains("4.9E-324")),
      "2-byte UTF-8" -> (_.exists(c => c >= 0x80 && c < 0x800)),
      "3-byte UTF-8" -> (_.exists(c => c >= 0x800 && !Character.isSurrogate(c))),
      "4-byte UTF-8" -> (_.exists(Character.isHighSurrogate)),
      "C0 control" -> (_.contains("\\u001")),
      "empty object" -> (_.contains("{}")),
      "empty array" -> (_.contains("[]")))
    val missing = features.collect { case (n, f) if !docs.exists(f) => n }
    assert(missing.isEmpty, s"never generated: ${missing.mkString(", ")}")
    // most documents convert: agreement on outputs, not only on throwing
    val converted = docs.count(d => scala.util.Try(LegacyExtJsonTree.convert(d)).isSuccess)
    assert(converted * 4 > docs.length * 3, s"$converted of ${docs.length} convert")
  }
}
