package graft.tools

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ExtJsonGen, LegacyExtJson, LegacyExtJsonTree}

/** Steady-state timer of the legacy codec on one thread, outside
  * Spark: the streaming `LegacyExtJson.convert(UTF8String)` against
  * the tree codec `LegacyExtJsonTree`, over `n` documents from
  * `ExtJsonGen.doc` (fixed seed). Every document must give the same
  * bytes on both, or throw on both; those that throw are not timed.
  * Then `rounds` rounds time each codec over all documents, the two
  * interleaved and their order alternating, and the best round of
  * each is printed in ns per input byte. Run with
  * `sbt "Test/runMain graft.tools.CodecTiming [n] [rounds]"`.
  */
object CodecTiming {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.fold(20000)(_.toInt)
    val rounds = args.lift(1).fold(10)(_.toInt)
    val params = Gen.Parameters.default.withSize(100)
    val docs = Iterator.iterate(Seed(12L))(_.next)
      .flatMap(s => ExtJsonGen.doc(params, s)).take(n).toVector
      .filter(d => scala.util.Try(LegacyExtJsonTree.convert(d)).isSuccess)
    val strings = docs.toArray
    val bytes = docs.map(d => UTF8String.fromBytes(d.getBytes(UTF_8))).toArray
    for (i <- strings.indices) {
      val got = LegacyExtJson.convert(bytes(i)).toString
      require(got == LegacyExtJsonTree.convert(strings(i)),
        s"codecs disagree on ${strings(i)}")
    }
    val total = bytes.map(_.numBytes.toLong).sum
    var sink = 0L
    def stream(): Long = {
      val t0 = System.nanoTime()
      for (b <- bytes) sink += LegacyExtJson.convert(b).numBytes
      System.nanoTime() - t0
    }
    def tree(): Long = {
      val t0 = System.nanoTime()
      for (s <- strings) sink += LegacyExtJsonTree.convert(s).length
      System.nanoTime() - t0
    }
    var bestStream = Long.MaxValue
    var bestTree = Long.MaxValue
    for (r <- 0 until rounds) {
      if (r % 2 == 0) { bestStream = bestStream.min(stream()); bestTree = bestTree.min(tree()) }
      else { bestTree = bestTree.min(tree()); bestStream = bestStream.min(stream()) }
    }
    println(f"CodecTiming: ${strings.length} documents ($n generated), $total%d B, " +
      f"$rounds rounds (checksum $sink)")
    println(f"  streaming convert(UTF8String)  best ${bestStream.toDouble / total}%.2f ns/B")
    println(f"  tree LegacyExtJsonTree         best ${bestTree.toDouble / total}%.2f ns/B")
  }
}
