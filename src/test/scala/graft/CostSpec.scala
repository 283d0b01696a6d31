package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The round bench's cost counters on one fixed query: exact plan
  * counters, and run-to-run equality of every count (the property
  * wall time lacks).
  */
class CostSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"
  private val query = "p3_topic_route"

  /** One noop-sink run of `query` in its own job group, as Bench runs it. */
  private def sample(cost: Cost): Cost.Counters = {
    val sc = spark.sparkContext
    val group = s"cost-$query-${System.nanoTime()}"
    sc.setJobGroup(group, query)
    try SparkEntry.queries(query)(spark, sf)
      .write.format("noop").mode("overwrite").save()
    finally sc.clearJobGroup()
    cost.take(group).getOrElse(fail(s"no cost sample for $query")).counters
  }

  private def withCost[T](f: Cost => T): T = {
    val cost = Cost.attach(spark)
    try f(cost) finally spark.sparkContext.removeSparkListener(cost)
  }

  test("p3_topic_route: one exchange, one row per topic") {
    val c = withCost(sample)
    // the hash exchange under the topic count, read once: no range
    // exchange, and no sampling job re-running its map stage
    assert(c.exchanges == 1)
    assert(c.outputRows == 5L)
    assert(c.outputRows == SparkEntry.queries(query)(spark, sf).count())
    assert(c.stages > 0 && c.tasks >= c.stages)
    assert(c.shuffleRecordsWritten > 0 && c.shuffleRecordsRead > 0)
    assert(c.shuffleRecordsRead == c.shuffleRecordsWritten)
  }

  test("identical runs report identical counters") {
    val (a, b) = withCost(cost => (sample(cost), sample(cost)))
    assert(a.exchanges == b.exchanges)
    assert(a.stages == b.stages && a.tasks == b.tasks)
    assert(a.shuffleRecordsWritten == b.shuffleRecordsWritten)
    assert(a.shuffleRecordsRead == b.shuffleRecordsRead)
    assert(a.outputRows == b.outputRows)
    // the byte and spill counters repeat on this query too (PLANS.md)
    assert(a == b)
  }

  test("a group that ran nothing has no sample") {
    withCost(cost => assert(cost.take("cost-never-ran").isEmpty))
  }
}
