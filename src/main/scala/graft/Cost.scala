package graft

import java.util.concurrent.{ConcurrentHashMap, TimeoutException}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim

/** Per-query cost counters that do not depend on host load: what the
  * engine's own listener events say a query did, aggregated by the
  * job group the caller set around it.
  *
  *  - Plan side: each SQL execution that ends without failure has its
  *    AQE-final plan walked (through `AdaptiveSparkPlanExec.executedPlan`,
  *    query stages and subqueries) for its exchanges and root rows. The
  *    plan hangs off `SparkListenerSQLExecutionEnd`, the event a
  *    `QueryExecutionListener` is called from; only the listener-bus
  *    events carry the execution id that ties a plan to its job group.
  *  - Task side: every successful task of a stage whose job ran in the
  *    group adds its shuffle, spill and duration metrics.
  *
  * [[take]] drains the async listener bus before it reads, so a task
  * end still queued when the action returned is counted.
  */
final class Cost private (sc: SparkContext) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val accs = new ConcurrentHashMap[String, Cost.Acc]()
  private def acc(group: String) = accs.computeIfAbsent(group, _ => new Cost.Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    for (p <- Option(e.properties); g <- Option(p.getProperty("spark.jobGroup.id")))
      e.stageIds.foreach(stageGroup.put(_, g))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskInfo != null && e.taskInfo.successful &&
        e.taskMetrics != null) acc(g).task(e.stageId, e.taskInfo.duration, e.taskMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execGroup.put(s.executionId, _))
    case end: SparkListenerSQLExecutionEnd =>
      val g = execGroup.remove(end.executionId)
      val qe = graftshim.queryExecutionOf(end)
      // errorMessage is Some("") on success, not None
      if (g != null && qe != null && end.errorMessage.forall(_.isEmpty))
        acc(g).plan(qe.executedPlan)
    case _ =>
  }

  /** Drains the listener bus, then removes and returns the group's
    * sample. None when the group ran nothing, or when the bus did not
    * drain in time (a partial count is never returned).
    */
  def take(group: String): Option[Cost.Sample] = {
    val drained =
      try { graftshim.drainListenerBus(sc); true }
      catch { case _: TimeoutException => false }
    stageGroup.values.removeIf(_ == group)
    Option(accs.remove(group)).filter(_ => drained).map(_.sample)
  }
}

object Cost {

  /** Registers a collector on the session's listener bus. */
  def attach(spark: org.apache.spark.sql.SparkSession): Cost = {
    val c = new Cost(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** The artifact's per-query `cost` entry. Every field is a count
    * of work done, so it repeats run to run on the same data and
    * parallelism, whatever the host load.
    */
  final case class Counters(exchanges: Int,
      shuffleRecordsWritten: Long, shuffleBytesWritten: Long,
      shuffleRecordsRead: Long, shuffleBytesRead: Long,
      memorySpillBytes: Long, diskSpillBytes: Long,
      stages: Int, tasks: Long, outputRows: Long) {
    /** One JSON object, keys in snake case (`shuffle_bytes_read`). */
    def json: String = productElementNames.zip(productIterator).map {
      case (k, v) => "\"" + k.replaceAll("([A-Z])", "_$1").toLowerCase + "\":" + v
    }.mkString("{", ",", "}")
  }

  /** A group's counters plus its per-stage successful-task durations
    * in ms as (sum, max, n) — wall time, so kept out of [[Counters]].
    */
  final case class Sample(counters: Counters, stageTaskMs: Map[Int, (Long, Long, Long)]) {
    /** Worst per-stage max/mean task-duration ratio over stages with
      * at least 8 tasks (1.0 = balanced, or no such stage).
      */
    def worstSkew: Double = {
      val ratios = stageTaskMs.values.collect {
        case (sum, max, n) if n >= 8 && sum > 0 => max.toDouble / (sum.toDouble / n)
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
  }

  /** Every node of an executed plan, pre-order, entering AQE's final
    * plan, each query stage's plan and each subquery. A reused
    * exchange or subquery is a leaf: its work is counted where it ran.
    */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    Iterator(p) ++ (inner ++ p.subqueries).iterator.flatMap(nodes)
  }

  /** Shuffle and broadcast exchanges that ran. */
  private[graft] def exchanges(p: SparkPlan): Int = nodes(p).count {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
    case _ => false
  }

  /** Rows out of the topmost node that counts rows: an operator's
    * `numOutputRows`, or the records a shuffle exchange wrote. A
    * range exchange's sampling job re-runs the operators below it, so
    * their own counts read twice their output; the exchange's count
    * does not. A limit above the counting node is not seen. -1 when
    * no node counts rows.
    */
  private def outputRows(p: SparkPlan): Long =
    nodes(p).flatMap(n => Iterator("numOutputRows", "shuffleRecordsWritten")
      .flatMap(n.metrics.get)).nextOption().map(_.value).getOrElse(-1L)

  /** One group's totals: the listener thread writes, `take` reads. */
  private final class Acc {
    private var exchanges = 0
    private var outputRows = -1L
    private var shufRecW, shufBytesW, shufRecR, shufBytesR, memSpill, diskSpill, tasks = 0L
    private val stageMs = collection.mutable.HashMap.empty[Int, (Long, Long, Long)]

    def plan(p: SparkPlan): Unit = synchronized {
      exchanges += Cost.exchanges(p)
      outputRows = Cost.outputRows(p)
    }

    def task(stage: Int, ms: Long, m: org.apache.spark.executor.TaskMetrics): Unit =
      synchronized {
        shufRecW += m.shuffleWriteMetrics.recordsWritten
        shufBytesW += m.shuffleWriteMetrics.bytesWritten
        shufRecR += m.shuffleReadMetrics.recordsRead
        shufBytesR += m.shuffleReadMetrics.totalBytesRead
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        tasks += 1
        stageMs(stage) = stageMs.get(stage) match {
          case Some((s, mx, n)) => (s + ms, math.max(mx, ms), n + 1)
          case None => (ms, ms, 1L)
        }
      }

    def sample: Sample = synchronized {
      Sample(Counters(exchanges, shufRecW, shufBytesW, shufRecR, shufBytesR,
        memSpill, diskSpill, stageMs.size, tasks, outputRows), stageMs.toMap)
    }
  }
}
