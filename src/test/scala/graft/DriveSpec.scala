package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.scalatest.funsuite.AnyFunSuite

/** The probe drive core: self-check refusal, the watchdog cap's
  * accounting, provider restore, checkpoint cleanup and the best-of
  * budget rule, on small MemoryStream queries.
  */
class DriveSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** foreachBatch sink that counts rows and sleeps on a batch holding
    * `slowValue` (the watchdog's `q.stop()` interrupts the sleep).
    */
  private def counting(out: java.util.concurrent.atomic.AtomicLong,
      slowValue: Int = -1)(w: DataStreamWriter[Int]): DataStreamWriter[Int] =
    w.foreachBatch { (b: Dataset[Int], _: Long) =>
      val rows = b.collect()
      if (rows.contains(slowValue)) Thread.sleep(120000L)
      out.addAndGet(rows.length.toLong); ()
    }

  private def batches(k: Int): IndexedSeq[Seq[Int]] =
    (0 until k).map(b => Seq.fill(10)(b))

  test("a pass whose self-check fails is refused, not reported") {
    import spark.implicits._
    var passes = 0
    val e = intercept[IllegalArgumentException] {
      Drive.bestOf("empty", _ > 0) { _ =>
        passes += 1
        val out = new java.util.concurrent.atomic.AtomicLong
        // a pipeline that drops every row: the drive runs, the
        // self-check sees no output
        val fed = Drive.feed(spark, (ds: Dataset[Int]) => ds.filter(_ < 0),
          counting(out), Iterator.empty, batches(2))
        assert(fed.batches == 2 && fed.events == 20)
        Drive.Pass(fed.rate, out.get)
      }
    }
    assert(passes == 1)
    assert(e.getMessage.contains("empty pass 1"))
    assert(e.getMessage.contains("refusing a bogus rate"))
  }

  test("a cap that fires mid-run reports only the completed batches") {
    import spark.implicits._
    val out = new java.util.concurrent.atomic.AtomicLong
    val capSec = 6L
    val t0 = System.nanoTime()
    // batch 0 is the untimed warm-up, timed batches 1 and 2 are quick,
    // timed batch 3 sleeps past the cap, batch 4 must never start
    val all = batches(5)
    val fed = Drive.feed(spark, (ds: Dataset[Int]) => ds,
      counting(out, slowValue = 3), Iterator(all.head), all.tail, capSec)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(fed.capped)
    assert(fed.batches == 2, fed)
    assert(fed.events == 20L)
    assert(out.get == 30L) // warm-up + the two completed timed batches
    // wall time ends at the last completed batch, before the cap fired
    assert(fed.wallSec > 0 && fed.wallSec < capSec, fed)
    assert(fed.rate == (20L / fed.wallSec).round)
    assert(elapsedSec < 60, "the cap did not stop the sleeping batch")
  }

  test("an uncapped feed runs every batch and times only the timed ones") {
    import spark.implicits._
    val out = new java.util.concurrent.atomic.AtomicLong
    val all = batches(4)
    val fed = Drive.feed(spark, (ds: Dataset[Int]) => ds, counting(out),
      Iterator(all.head), all.tail)
    assert(!fed.capped)
    assert(fed.batches == 3 && fed.events == 30L)
    assert(out.get == 40L)
    assert(fed.untimedSec > 0 && fed.wallSec > 0 && fed.rate > 0)
  }

  test("the provider setting is restored after the block throws") {
    val prior = spark.conf.getOption(ProviderKey)
    try {
      spark.conf.set(ProviderKey, "x.Prior")
      intercept[IllegalStateException] {
        Drive.withProvider(spark, Some(Drive.RocksDb)) {
          assert(spark.conf.get(ProviderKey) == Drive.RocksDb)
          throw new IllegalStateException("boom")
        }
      }
      assert(spark.conf.get(ProviderKey) == "x.Prior")
      spark.conf.unset(ProviderKey)
      val unsetValue = spark.conf.getOption(ProviderKey) // Spark's default
      intercept[IllegalStateException] {
        Drive.withProvider(spark, Some(Drive.RocksDb)) {
          throw new IllegalStateException("boom")
        }
      }
      assert(spark.conf.getOption(ProviderKey) == unsetValue)
      assert(!unsetValue.contains(Drive.RocksDb))
    } finally prior match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None => spark.conf.unset(ProviderKey)
    }
  }

  test("the checkpoint directory is gone afterwards, also after a throw") {
    import spark.implicits._
    var used: String = null
    val fed = Drive.withCheckpoint { ckpt =>
      used = ckpt
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Int]
      val q = in.toDS().writeStream.format("noop")
        .option("checkpointLocation", ckpt).start()
      try { in.addData(1, 2, 3); q.processAllAvailable() } finally q.stop()
      assert(Files.list(Paths.get(ckpt)).count() > 0) // the query wrote
      ckpt
    }
    assert(fed == used && !Files.exists(Paths.get(used)))
    var thrown: String = null
    intercept[IllegalStateException] {
      Drive.withCheckpoint { ckpt =>
        thrown = ckpt
        Files.write(Paths.get(ckpt, "f"), Array[Byte](1))
        throw new IllegalStateException("boom")
      }
    }
    assert(!Files.exists(Paths.get(thrown)))
  }

  test("best-of runs pass 0 on an exhausted budget and skips the rest") {
    var passes = 0
    val best = Drive.bestOf("exhausted", budget = new Drive.WallBudget(0L)) {
      p => passes += 1; Drive.Pass(100L + p)
    }
    assert(passes == 1 && best == 100L)
    passes = 0
    val full = Drive.bestOf("full") { p => passes += 1; Drive.Pass(100L + p) }
    assert(passes == 3 && full == 102L)
  }
}
