package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Exercises dd_cluster's reliable-checkpoint path
  * (`graft.cluster.checkpointDir`): the fault-tolerant lineage cut a
  * long job at scale needs (localCheckpoint pins blocks to executor
  * storage and dies with the executor; reliable checkpoint survives).
  * The oracle run only covers the localCheckpoint default, so this
  * spec pins: files actually written, and labels identical either way.
  */
class ClusterCheckpointSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  /** dd_cluster labels through a FRESH stage root per call: the label
    * table is staged per snapshot now, so reusing one root would let
    * the second call scan the first call's parquet and never run the
    * contraction whose checkpoint path this spec exists to exercise.
    */
  private def labels(): Seq[(Long, Long)] = {
    spark.conf.set("graft.stage.dir",
      Files.createTempDirectory("ckpt_stage").toString)
    try graft.SparkEntry.queries("dd_cluster")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    finally spark.conf.unset("graft.stage.dir")
  }

  test("reliable checkpoint writes files and produces identical labels") {
    val defaultLabels = labels()
    assert(defaultLabels.nonEmpty)

    val dir = Files.createTempDirectory("graft_cluster_ckpt")
    spark.conf.set("graft.cluster.checkpointDir", dir.toString)
    try {
      val checkpointed = labels()
      assert(checkpointed === defaultLabels)
      // the contraction rounds materialized through the reliable path:
      // the checkpoint dir holds at least one written RDD directory
      val written = Files.walk(dir).count()
      assert(written > 1, s"expected checkpoint files under $dir")
    } finally {
      spark.conf.unset("graft.cluster.checkpointDir")
    }
  }
}
