package graft.cdc

import java.net.SocketTimeoutException
import java.sql.Timestamp
import java.util.concurrent.TimeoutException

import com.mongodb.{MongoExecutionTimeoutException, MongoOperationTimeoutException, MongoTimeoutException, MongoWriteConcernException}
import org.scalatest.funsuite.AnyFunSuite

/** Drives the concrete Mongo-backed token store end-to-end through a
  * driver-shaped fake collection, the way the reference tests
  * TokenSaving against MongoClientMock (`tests/test_commit_flow/
  * test_token_saver.py:85-138` over `tests/mocks/mongo_coll.py:92-144`):
  * upsert insert-then-replace, unique index creation, load-by-name, and
  * the escalating 5/10/15 s deadline matrix delivered as per-attempt
  * maxTimeMS.
  */
class MongoTokenStoreSpec extends AnyFunSuite {

  private val t0 = new Timestamp(1720890718473L)

  test("start connects and creates the unique reader-name index") {
    val coll = new FakeMongoCollection()
    val store = new MongoTokenStore(coll)
    store.start()
    assert(coll.serverInfoCalls === 1)
    assert(coll.indexes.toSeq ===
      Seq(("stream_reader_name", "stream_reader_name", true)))
    store.stop()
    assert(coll.closed)
  }

  test("save upserts and load round-trips, token as bytes") {
    val coll = new FakeMongoCollection()
    val store = new MongoTokenStore(coll)
    store.save(SavedToken("r1", ChangeEvents.tokenInsert, t0))
    // stored shape matches the reference document
    // (token_saver.py:50-56): name + binary token + date
    val doc = coll.docs("r1")
    assert(doc("stream_reader_name") === "r1")
    assert(doc("token").asInstanceOf[Array[Byte]] !== null)
    assert(store.load("r1") ===
      Some(SavedToken("r1", ChangeEvents.tokenInsert, t0)))
    // second save replaces, not duplicates
    store.save(SavedToken("r1", "tok2", t0))
    assert(coll.docs.size === 1)
    assert(store.load("r1").get.token === "tok2")
  }

  test("load of an unknown reader name is None") {
    val store = new MongoTokenStore(new FakeMongoCollection())
    assert(store.load("nope").isEmpty)
  }

  test("escalating deadlines reach the server as maxTimeMS 5s/10s/15s") {
    // two injected timeouts, third attempt lands — the reference's
    // retry matrix (test_token_saver.py:85-138) with write_timeout=5.0
    val coll = new FakeMongoCollection(failTimes = 2)
    val store = new MongoTokenStore(coll)
    store.save(SavedToken("r1", "tok", t0))
    assert(coll.maxTimes.toSeq === Seq(5000L, 10000L, 15000L))
    assert(coll.docs.contains("r1"))
  }

  test("retry count exhausted: timeout propagates after 3 attempts") {
    val coll = new FakeMongoCollection(failTimes = Int.MaxValue)
    val store = new MongoTokenStore(coll)
    intercept[SocketTimeoutException] {
      store.save(SavedToken("r1", "tok", t0))
    }
    assert(coll.maxTimes.toSeq === Seq(5000L, 10000L, 15000L))
    assert(!coll.docs.contains("r1"))
    // both knobs are constructor parameters
    val coll2 = new FakeMongoCollection(failTimes = Int.MaxValue)
    intercept[SocketTimeoutException] {
      new MongoTokenStore(coll2, writeTimeoutMs = 100L,
        onTimeoutRetryCount = 2).save(SavedToken("r1", "tok", t0))
    }
    assert(coll2.maxTimes.toSeq === Seq(100L, 200L))
  }

  test("non-timeout error propagates immediately, no retry") {
    val coll = new FakeMongoCollection(
      failTimes = 1, failWith = new RuntimeException("not a timeout"))
    val store = new MongoTokenStore(coll)
    val e = intercept[RuntimeException] {
      store.save(SavedToken("r1", "tok", t0))
    }
    assert(e.getMessage === "not a timeout")
    assert(coll.maxTimes.toSeq === Seq(5000L))
  }

  test("every save carries the first attempt's deadline") {
    val coll = new FakeMongoCollection()
    val store = new MongoTokenStore(coll, writeTimeoutMs = 1234L)
    store.save(SavedToken("r1", "a", t0))
    store.save(SavedToken("r1", "b", t0))
    assert(coll.maxTimes.toSeq === Seq(1234L, 1234L))
  }

  test("a timeout is recognised by its type or a cause, and retried") {
    for (err <- Seq[() => Throwable](
        () => new SocketTimeoutException("socket"),
        () => new TimeoutException("deadline"),
        () => new RuntimeException("driver read timeout",
          new SocketTimeoutException("socket")))) {
      val coll = new FakeMongoCollection(failTimes = 1, failWith = err())
      new MongoTokenStore(coll).save(SavedToken("r1", "tok", t0))
      assert(coll.maxTimes.toSeq === Seq(5000L, 10000L), err().toString)
      assert(coll.docs.contains("r1"))
    }
  }

  test("an expired write-concern wtimeout (code 64) is retried") {
    // what the driver throws when withWTimeout(maxTimeMs) expires: no
    // JDK timeout anywhere on the cause chain
    val coll = new FakeMongoCollection(failTimes = 2,
      failWith = new MongoWriteConcernException(64, "waiting for replication timed out"))
    new MongoTokenStore(coll).save(SavedToken("r1", "tok", t0))
    assert(coll.maxTimes.toSeq === Seq(5000L, 10000L, 15000L))
    assert(coll.docs.contains("r1"))
  }

  test("driver timeout types with no JDK cause are retried, also wrapped") {
    for (err <- Seq[() => Throwable](
        () => new MongoTimeoutException("server selection"),
        () => new MongoOperationTimeoutException("operation"),
        () => new MongoExecutionTimeoutException(50, "maxTimeMS expired"),
        () => new RuntimeException("wrapped",
          new MongoWriteConcernException(64, "wtimeout")))) {
      val coll = new FakeMongoCollection(failTimes = 1, failWith = err())
      new MongoTokenStore(coll).save(SavedToken("r1", "tok", t0))
      assert(coll.maxTimes.toSeq === Seq(5000L, 10000L), err().toString)
      assert(coll.docs.contains("r1"))
    }
  }

  test("a write-concern error with another code propagates, no retry") {
    val coll = new FakeMongoCollection(failTimes = 1,
      failWith = new MongoWriteConcernException(100, "UnsatisfiableWriteConcern"))
    val e = intercept[MongoWriteConcernException] {
      new MongoTokenStore(coll).save(SavedToken("r1", "tok", t0))
    }
    assert(e.getCode === 100)
    assert(coll.maxTimes.toSeq === Seq(5000L))
    assert(!coll.docs.contains("r1"))
  }
}
