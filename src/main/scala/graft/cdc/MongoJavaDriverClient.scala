package graft.cdc

import java.lang.reflect.InvocationTargetException
import java.sql.Timestamp
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

/** `MongoCollectionLike` bound to one collection through the official
  * Mongo Java sync driver. It binds by reflection because this build
  * environment is zero-egress (the driver jar cannot be added to
  * `build.sbt`; see the comment there): the adapter stays compiled
  * against the seam and links to the driver at runtime. A deployment
  * that puts `mongodb-driver-sync` (and its bson/core jars) on the
  * classpath gets the real store; without them construction fails at
  * once (`MongoJavaDriverClientSpec`).
  *
  * Every driver call used is public and stable since driver 4.x:
  * `MongoClients.create`, `getDatabase`/`getCollection`,
  * `runCommand(buildInfo)` (the `server_info` connectivity check,
  * `token_saver.py:37`), `createIndex` with `IndexOptions`,
  * `find(..).first()` and `replaceOne` with `ReplaceOptions.upsert`.
  * A save deadline becomes the write concern's `wtimeout`, the
  * Java-driver spelling of pymongo's per-attempt `timeout(...)` scope
  * (`token_saver.py:84-90`).
  *
  * Value mapping at the seam: `Timestamp` → BSON date on write;
  * BSON date (`java.util.Date`) → `Timestamp` on read;
  * `Array[Byte]` rides as-is (driver encodes it as Binary subtype 0,
  * the reference's token encoding, `token_saver.py:50-56`).
  */
final class MongoJavaDriverClient(
    uri: String,
    database: String,
    collection: String)
  extends MongoCollectionLike {

  import MongoJavaDriverClient._

  require(isAvailable,
    "mongodb-driver-sync is not on the classpath; add the driver jars " +
      "to use MongoJavaDriverClient (tests inject a fake instead)")

  private val client = call(cls("com.mongodb.client.MongoClients"),
    "create", classOf[String] -> uri)

  private val coll = call(
    call(client, "getDatabase", classOf[String] -> database),
    "getCollection", classOf[String] -> collection)

  private val bson = cls("org.bson.conversions.Bson")

  private def document(m: Map[String, Any]): AnyRef = {
    val d = make("org.bson.Document")
    m.foreach { case (k, v) =>
      call(d, "put", classOf[String] -> k, classOf[Object] -> (v match {
        case t: Timestamp => new java.util.Date(t.getTime) // BSON date
        case other => other
      }))
    }
    d
  }

  override def serverInfo(): Map[String, Any] = {
    val admin = call(client, "getDatabase", classOf[String] -> "admin")
    fromDocument(call(admin, "runCommand",
      bson -> document(Map("buildInfo" -> 1))))
  }

  override def createIndex(
      key: String, indexName: String, unique: Boolean): Unit = {
    val opts = make("com.mongodb.client.model.IndexOptions")
    call(opts, "name", classOf[String] -> indexName)
    call(opts, "unique", java.lang.Boolean.TYPE -> unique)
    call(coll, "createIndex", bson -> document(Map(key -> 1)),
      opts.getClass -> opts)
  }

  override def findOne(filter: Map[String, Any]): Option[Map[String, Any]] =
    Option(call(call(coll, "find", bson -> document(filter)), "first"))
      .map(fromDocument)

  override def replaceOne(
      filter: Map[String, Any],
      replacement: Map[String, Any],
      upsert: Boolean,
      maxTimeMs: Long): Unit = {
    val wcClass = cls("com.mongodb.WriteConcern")
    val wc = call(wcClass.getField("ACKNOWLEDGED").get(null), "withWTimeout",
      java.lang.Long.TYPE -> maxTimeMs,
      classOf[TimeUnit] -> TimeUnit.MILLISECONDS)
    val opts = make("com.mongodb.client.model.ReplaceOptions")
    call(opts, "upsert", java.lang.Boolean.TYPE -> upsert)
    val doc = document(replacement)
    call(call(coll, "withWriteConcern", wcClass -> wc), "replaceOne",
      bson -> document(filter), doc.getClass -> doc, opts.getClass -> opts)
  }

  override def close(): Unit = call(client, "close")

  private def fromDocument(doc: AnyRef): Map[String, Any] =
    doc.asInstanceOf[java.util.Map[String, AnyRef]].asScala.map {
      case (k, d: java.util.Date) => k -> new Timestamp(d.getTime)
      case kv => kv
    }.toMap
}

object MongoJavaDriverClient {
  private def cls(name: String): Class[_] =
    Class.forName(name, false, getClass.getClassLoader)

  private def make(name: String): AnyRef =
    cls(name).getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]

  /** True when the sync driver is on the runtime classpath. */
  def isAvailable: Boolean =
    try { cls("com.mongodb.client.MongoClients"); true }
    catch { case _: ClassNotFoundException => false }

  /** Invokes the public method `name` with the given (parameter type,
    * argument) pairs on `target`, or statically when `target` is a
    * `Class`. An exception the method throws surfaces as itself, not
    * wrapped in `InvocationTargetException`, so the store's timeout
    * check sees what the driver threw.
    */
  private[cdc] def call(
      target: AnyRef, name: String, args: (Class[_], Any)*): AnyRef = {
    def invoke(on: Class[_], self: AnyRef) =
      try on.getMethod(name, args.map(_._1): _*)
        .invoke(self, args.map(_._2.asInstanceOf[AnyRef]): _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    target match {
      case c: Class[_] => invoke(c, null)
      case o => invoke(o.getClass, o)
    }
  }
}
