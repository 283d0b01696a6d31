package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The drive core every streaming probe runs on: provider switch,
  * temp checkpoint, watchdog, batch feed and best-of-N with a
  * per-pass self-check. Each probe keeps its own data generator,
  * self-check arithmetic and reporting rule; only the machinery that
  * used to be copied into every harness main lives here.
  */
object Drive {

  val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Run `f` with the given state-store provider (None = Spark's
    * default HDFS-backed heap provider), restoring the prior setting
    * also when `f` throws.
    */
  def withProvider[A](spark: SparkSession, provider: Option[String])(
      f: => A): A = {
    val prior = spark.conf.getOption(ProviderKey)
    def set(v: Option[String]): Unit = v match {
      case Some(p) => spark.conf.set(ProviderKey, p)
      case None => spark.conf.unset(ProviderKey)
    }
    set(provider)
    try f finally set(prior)
  }

  /** Run `f` over a fresh temp checkpoint directory and delete it
    * afterwards (best effort: a failed delete never masks `f`'s
    * result or exception).
    */
  def withCheckpoint[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    try f(dir.toString)
    finally try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case NonFatal(_) => () }
  }

  /** Run `f` under a daemon watchdog thread that calls `onCap` once
    * `capSec` has passed (`q.stop()` for a query, `cancelJobGroup` for
    * a batch job), unless `f` ends first. `f` gets the "cap fired"
    * test; it turns true before `onCap` runs, so a block that sees the
    * action's effect (a stopped query, a cancelled job) also sees it.
    */
  def withWatchdog[A](capSec: Long)(onCap: => Unit)(
      f: (() => Boolean) => A): A = {
    @volatile var fired = false
    val dog = new Thread(() => {
      try {
        Thread.sleep(capSec * 1000L)
        fired = true
        onCap
      } catch { case _: InterruptedException => () }
    })
    dog.setDaemon(true)
    dog.start()
    try f(() => fired) finally dog.interrupt()
  }

  /** `batches` pre-built batches of max(1, n / batches) events;
    * `mk(b, j, i)` builds event j of batch b, whose global position
    * is i.
    */
  def grid[A](n: Int, batches: Int)(
      mk: (Int, Int, Long) => A): IndexedSeq[IndexedSeq[A]] = {
    val perBatch = math.max(1, n / batches)
    (0 until batches).map(b =>
      (0 until perBatch).map(j => mk(b, j, b.toLong * perBatch + j)))
  }

  /** Outcome of [[feed]]: the timed batches that completed, their
    * events, the wall time from the first timed batch to the last
    * completed one, the untimed batches' wall time, and whether the
    * cap fired.
    */
  final case class Fed(batches: Int, events: Long, wallSec: Double,
      untimedSec: Double, capped: Boolean) {
    /** events/s over the completed batches, -1 when none completed */
    def rate: Long =
      if (events > 0 && wallSec > 0) (events / wallSec).round else -1L
  }

  /** Start `sink(pipeline(in))` over a fresh MemoryStream `in` with a
    * `ProcessingTime(0)` trigger and a temp checkpoint, feed it the
    * `untimed` batches, then the `timed` ones (one
    * `processAllAvailable` each), and stop it. With `capSec > 0` a
    * `q.stop()` watchdog guards the query: once it fires no further
    * batch starts, the batch in flight does not count, and an
    * exception the stop raised is the cap's doing, not a failure. A
    * `stop()` error after the feed is dropped: it must not erase a
    * completed measurement.
    */
  def feed[I: Encoder, O](spark: SparkSession,
      pipeline: Dataset[I] => Dataset[O],
      sink: DataStreamWriter[O] => DataStreamWriter[O],
      untimed: Iterator[Seq[I]], timed: Seq[Seq[I]],
      capSec: Long = 0L): Fed = withCheckpoint { ckpt =>
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[I]
    val q = sink(pipeline(in.toDS()).writeStream)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    def run(capped: () => Boolean): Fed = {
      // true when `b` was added and fully processed before any cap
      def step(b: Seq[I]): Boolean = !capped() && {
        in.addData(b)
        try q.processAllAvailable()
        catch { case NonFatal(_) if capped() => () }
        !capped()
      }
      val tUntimed = System.nanoTime()
      var ok = true
      while (ok && untimed.hasNext) ok = step(untimed.next())
      val t0 = System.nanoTime()
      var done = 0
      var events = 0L
      var lastDone = t0
      val it = timed.iterator
      while (ok && it.hasNext) {
        val b = it.next()
        ok = step(b)
        if (ok) { done += 1; events += b.size; lastDone = System.nanoTime() }
      }
      Fed(done, events, (lastDone - t0) / 1e9, (t0 - tUntimed) / 1e9,
        capped())
    }
    try {
      if (capSec > 0) withWatchdog(capSec)(q.stop())(run)
      else run(() => false)
    } finally {
      try q.stop() catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
        case NonFatal(_) => ()
      }
    }
  }

  /** Wall-clock budget shared by a block of passes. */
  final class WallBudget(totalSec: Long) {
    private val t0 = System.nanoTime()
    def remainingSec: Long = totalSec - ((System.nanoTime() - t0) / 1e9).toLong
    def exhausted: Boolean = remainingSec <= 0
  }

  /** No-deadline budget for ad-hoc callers. */
  def unbounded: WallBudget = new WallBudget(Long.MaxValue / 4)

  /** One pass's rate and the output count its self-check reads. */
  final case class Pass(rate: Long, out: Long = 0L)

  /** Best of up to 3 passes. Pass 0 always runs (every figure needs
    * a sample); later passes run only while `budget` lasts. A
    * pass whose output fails `check` is refused: the run throws, and
    * its rate is never reported.
    */
  def bestOf(name: String, check: Long => Boolean = _ => true,
      budget: WallBudget = unbounded)(pass: Int => Pass): Long = {
    var best = -1L
    var p = 0
    while (p < 3 && (p == 0 || !budget.exhausted)) {
      val r = pass(p)
      require(check(r.out), s"$name pass ${p + 1}: expected output " +
        s"missing (out=${r.out}) — refusing a bogus rate")
      best = math.max(best, r.rate)
      p += 1
    }
    best
  }
}
