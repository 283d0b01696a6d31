package graft.cdc

import java.sql.Timestamp
import java.util.concurrent.TimeoutException

import org.scalatest.funsuite.AnyFunSuite

/** C4 retry parity — mirrors the reference's token-saver matrix
  * (`tests/test_commit_flow/test_token_saver.py:85-138`) against the
  * retry inside `MongoTokenStore.save`: non-timeout errors propagate on
  * the first attempt; persistent timeouts exhaust exactly
  * `onTimeoutRetryCount` attempts with escalating deadlines
  * (write_timeout × (attempt+1), `token_saver.py:84-90`) and then
  * rethrow; a timeout followed by success stops retrying.
  */
class RetryingTokenStoreSpec extends AnyFunSuite {

  private val token =
    SavedToken("test-stream-reader-name", "tok", new Timestamp(1720890531823L))

  test("non-timeout error propagates immediately after one attempt") {
    val coll = new FakeMongoCollection(
      failTimes = Int.MaxValue, failWith = new RuntimeException("not a timeout"))
    val e = intercept[RuntimeException](new MongoTokenStore(coll).save(token))
    assert(e.getMessage === "not a timeout")
    assert(coll.maxTimes.toSeq === Seq(5000L))
    assert(coll.docs.isEmpty)
  }

  test("persistent timeout: exactly 3 attempts at 5s/10s/15s, then rethrows") {
    val coll = new FakeMongoCollection(
      failTimes = Int.MaxValue, failWith = new TimeoutException("slow mongo"))
    intercept[TimeoutException](new MongoTokenStore(coll).save(token))
    assert(coll.maxTimes.toSeq === Seq(5000L, 10000L, 15000L))
    assert(coll.docs.isEmpty)
  }

  test("timeout then success: saved on the second try, no further attempts") {
    val coll = new FakeMongoCollection(
      failTimes = 1, failWith = new TimeoutException("slow once"))
    val store = new MongoTokenStore(coll)
    store.save(token)
    assert(coll.maxTimes.toSeq === Seq(5000L, 10000L))
    assert(store.load(token.streamReaderName) === Some(token))
  }
}
