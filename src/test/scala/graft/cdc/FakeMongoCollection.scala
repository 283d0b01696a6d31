package graft.cdc

import java.net.SocketTimeoutException

import scala.collection.mutable

/** In-memory fake of the collection seam. `failTimes` injects that
  * many leading timeout failures into replaceOne (recording the
  * attempt's maxTimeMs first, like a server that accepted the write
  * deadline and then exceeded it); `failWith` overrides the thrown
  * error.
  */
final class FakeMongoCollection(
    failTimes: Int = 0,
    failWith: => Throwable = new SocketTimeoutException("fake timeout"))
  extends MongoCollectionLike {

  val docs = mutable.Map.empty[String, Map[String, Any]]
  val maxTimes = mutable.Buffer.empty[Long]
  val indexes = mutable.Buffer.empty[(String, String, Boolean)]
  var serverInfoCalls = 0
  var closed = false
  private var remainingFailures = failTimes

  override def serverInfo(): Map[String, Any] = {
    serverInfoCalls += 1
    Map("version" -> "7.0.9")
  }

  override def createIndex(
      key: String, indexName: String, unique: Boolean): Unit =
    indexes += ((key, indexName, unique))

  override def findOne(
      filter: Map[String, Any]): Option[Map[String, Any]] =
    docs.get(filter(MongoTokenStore.FieldName).asInstanceOf[String])

  override def replaceOne(
      filter: Map[String, Any],
      replacement: Map[String, Any],
      upsert: Boolean,
      maxTimeMs: Long): Unit = {
    maxTimes += maxTimeMs
    if (remainingFailures > 0) {
      remainingFailures -= 1
      throw failWith
    }
    val name = filter(MongoTokenStore.FieldName).asInstanceOf[String]
    // mirror the mock's upsert branch (mongo_coll.py:132-143):
    // upsert inserts-or-replaces; plain replace only replaces
    if (upsert || docs.contains(name)) docs(name) = replacement
  }

  override def close(): Unit = closed = true
}
