package graft.cdc

import java.net.SocketTimeoutException
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.TimeoutException

/** The one Mongo collection the token store touches — exactly the
  * subset of the driver the reference's token saver uses
  * (`committing/token_saver.py:31-90`): `server_info`, `create_index`,
  * `find_one`, `replace_one(upsert=True)`, `close`. Keeping the seam
  * this narrow lets `MongoJavaDriverClient` back it with the Mongo Java
  * driver while tests drive the full store + retry behavior through an
  * injectable fake, the same way the reference tests do
  * (`tests/mocks/mongo_client.py:92-144`).
  *
  * Documents are plain `Map[String, Any]`: the token store reads and
  * writes one fixed three-field shape, so a BSON document type would
  * add a dependency without adding safety.
  */
trait MongoCollectionLike {
  def serverInfo(): Map[String, Any]

  def createIndex(key: String, indexName: String, unique: Boolean): Unit

  def findOne(filter: Map[String, Any]): Option[Map[String, Any]]

  /** `maxTimeMs` is the server-side deadline for this one write — the
    * Java-driver spelling of pymongo's `timeout(...)` context the
    * reference wraps each save attempt in (`token_saver.py:84-90`).
    */
  def replaceOne(
      filter: Map[String, Any],
      replacement: Map[String, Any],
      upsert: Boolean,
      maxTimeMs: Long): Unit

  def close(): Unit
}

/** C4 made concrete: the reference's MongoDB-backed resume-token store
  * (`committing/token_saver.py:14-90`) behind the engine's `TokenStore`
  * trait.
  *
  *  - `start()` connects and creates the unique index on
  *    `stream_reader_name` (`token_saver.py:35-45`) — the invariant
  *    that makes replace-by-name an upsert of exactly one document.
  *  - `save` is `replace_one(filter={stream_reader_name}, upsert=True)`
  *    (`token_saver.py:84-90`); the token travels as its UTF-8 bytes,
  *    mirroring the reference's `Binary(token, subtype=0)` field
  *    (`token_saver.py:50-56`). Attempt n (1-based) runs under the
  *    deadline `writeTimeoutMs * n` — 5 s / 10 s / 15 s at the
  *    reference defaults (`settings.py:46-47`); a timeout retries with
  *    the longer deadline until `onTimeoutRetryCount` attempts are
  *    spent and then propagates; any other error propagates at once
  *    (`token_saver.py:58-90`).
  *  - `load` is `find_one` by reader name (C5 resume,
  *    `tests/mocks/mongo_client.py:115-123` pins the shape).
  */
final class MongoTokenStore(
    coll: MongoCollectionLike,
    writeTimeoutMs: Long = 5000L,
    onTimeoutRetryCount: Int = 3)
  extends TokenStore {

  import MongoTokenStore._

  require(onTimeoutRetryCount >= 1, "onTimeoutRetryCount must be >= 1")

  /** Connect + ensure the unique reader-name index (idempotent). */
  def start(): Unit = {
    coll.serverInfo() // connectivity check, `token_saver.py:37`
    coll.createIndex(FieldName, indexName = FieldName, unique = true)
  }

  def stop(): Unit = coll.close()

  override def save(t: SavedToken): Unit = {
    val filter = Map(FieldName -> t.streamReaderName)
    val doc = Map(
      FieldName -> t.streamReaderName,
      "token" -> t.token.getBytes(UTF_8),
      "date" -> t.date)
    def attempt(n: Int): Unit =
      try coll.replaceOne(filter, doc, upsert = true, writeTimeoutMs * n)
      catch {
        case e: Throwable if isTimeout(e) && n < onTimeoutRetryCount =>
          attempt(n + 1)
      }
    attempt(1)
  }

  override def load(name: String): Option[SavedToken] =
    coll.findOne(Map(FieldName -> name)).map { doc =>
      SavedToken(
        doc(FieldName).asInstanceOf[String],
        new String(doc("token").asInstanceOf[Array[Byte]], UTF_8),
        doc("date").asInstanceOf[Timestamp])
    }
}

object MongoTokenStore {
  /** The reference's field/index name (`token_saver.py:41,53`). */
  val FieldName = "stream_reader_name"

  /** The JVM shapes of "the write timed out" (pymongo's `exc.timeout`
    * discriminator, `token_saver.py:70`), looked for along the cause
    * chain: the driver reports a socket read timeout as its own
    * exception with a `SocketTimeoutException` cause, and its own
    * timeouts as driver types with no JDK cause. The driver is not on
    * the compile classpath, so those match by class name (the class or
    * a superclass); an expired `withWTimeout` is a write-concern error
    * with code 64 (WriteConcernFailed).
    */
  def isTimeout(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: TimeoutException | _: SocketTimeoutException => true
      case d =>
        val names = Iterator.iterate[Class[_]](d.getClass)(_.getSuperclass)
          .takeWhile(_ != null).map(_.getName).toSet
        names.exists(DriverTimeouts) || names(WriteConcernError) &&
          d.getClass.getMethod("getCode").invoke(d) == WTimeoutCode
    }

  private val DriverTimeouts = Set(
    "com.mongodb.MongoTimeoutException",
    "com.mongodb.MongoExecutionTimeoutException",
    "com.mongodb.MongoOperationTimeoutException")
  private val WriteConcernError = "com.mongodb.MongoWriteConcernException"
  private val WTimeoutCode = 64
}
