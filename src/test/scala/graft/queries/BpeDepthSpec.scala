package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the BPE merge-depth knob (`graft.bpe.merges`) at production-
  * shaped depth: R=32 at sf0.01 (the static oracle unrolls only the
  * default R=6, so deep runs verify by the algorithm's invariants).
  *
  *  - one merge rule per round, rounds numbered 1..R;
  *  - winner counts are non-increasing (a merge can only create pairs
  *    no more frequent than the pair it consumed — the classic BPE
  *    monotonicity argument);
  *  - a deeper vocabulary never tokenizes worse: per-document subword
  *    counts at R=32 are ≤ their R=6 counts, bounded below by the
  *    word count (merges never cross the space sentinel);
  *  - fertility ≥ 1 subword/word and compression ≥ 1 symbol/subword
  *    for every language under the deep vocab;
  *  - the knob at its default replays the default path bit-for-bit.
  */
class BpeDepthSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.01"

  /** Run `f` with merge depth `r` and a fresh stage root (the staged
    * per-depth tables are the point: the derivation memo makes the
    * re-stage a cheap write, and apply/fertility scan the staged
    * round-R segmentation instead of re-learning).
    */
  private def withDepth[A](r: Int)(f: => A): A = {
    spark.conf.set("graft.bpe.merges", r.toString)
    spark.conf.set("graft.stage.dir",
      Files.createTempDirectory("bpe_stage").toString)
    try f
    finally {
      spark.conf.unset("graft.bpe.merges")
      spark.conf.unset("graft.stage.dir")
    }
  }

  test("R=32 learns one rule per round with non-increasing counts") {
    val learn = withDepth(32) {
      graft.SparkEntry.queries("tx_bpe_learn")(spark, sf).collect()
    }.sortBy(_.getAs[Long]("round"))
    assert(learn.length === 32)
    assert(learn.map(_.getAs[Long]("round")).toSeq === (1L to 32L))
    val cnts = learn.map(_.getAs[Long]("cnt")).toSeq
    assert(cnts.zip(cnts.tail).forall { case (a, b) => b <= a },
      s"winner counts must be non-increasing, got $cnts")
    // every learned rule is a genuine merge: two symbols in, one out
    assert(learn.forall(r =>
      r.getAs[String]("merged") === r.getAs[String]("pair").replace(" ", "")))
  }

  test("a deeper vocabulary never tokenizes worse") {
    def perDoc(r: Int): Map[Long, (Long, Long, Long)] = withDepth(r) {
      graft.SparkEntry.queries("tx_bpe_apply")(spark, sf).collect()
        .map(row => row.getAs[Long]("doc_id") ->
          ((row.getAs[Long]("n_subwords"), row.getAs[Long]("n_symbols"),
            row.getAs[Long]("n_words")))).toMap
    }
    val shallow = perDoc(6)
    val deep = perDoc(32)
    assert(deep.keySet === shallow.keySet)
    deep.foreach { case (id, (sub32, sym32, w32)) =>
      val (sub6, sym6, w6) = shallow(id)
      assert(sym32 === sym6 && w32 === w6,
        s"doc $id: symbol/word counts are depth-independent")
      assert(sub32 <= sub6, s"doc $id: R=32 must not tokenize worse")
      assert(w32 <= sub32 && sub32 <= sym32,
        s"doc $id: words <= subwords <= symbols")
    }
    // the 26 extra merges actually bought compression somewhere
    assert(deep.values.map(_._1).sum < shallow.values.map(_._1).sum)
  }

  test("fertility under the deep vocab stays within sane bounds") {
    val fert = withDepth(32) {
      graft.SparkEntry.queries("tx_fertility")(spark, sf).collect()
    }
    assert(fert.nonEmpty)
    fert.foreach { r =>
      assert(r.getAs[Long]("fertility_micro") >= 1000000L)
      assert(r.getAs[Long]("compression_micro") >= 1000000L)
    }
  }

  test("the knob at its default replays the default path bit-for-bit") {
    val viaKnob = withDepth(TextQueries.BpeMerges) {
      graft.SparkEntry.queries("tx_bpe_learn")(spark, sf).collect().toSet
    }
    spark.conf.set("graft.stage.dir",
      Files.createTempDirectory("bpe_stage_d").toString)
    val viaDefault =
      try graft.SparkEntry.queries("tx_bpe_learn")(spark, sf).collect().toSet
      finally spark.conf.unset("graft.stage.dir")
    assert(viaKnob === viaDefault)
  }

  test("the knob rejects depths outside the validated range") {
    for (bad <- Seq("0", "1025")) {
      spark.conf.set("graft.bpe.merges", bad)
      try intercept[IllegalArgumentException] {
        graft.SparkEntry.queries("tx_bpe_learn")(spark, sf)
      } finally spark.conf.unset("graft.bpe.merges")
    }
  }
}
