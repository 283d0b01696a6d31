package graft.cdc

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.MissingNode
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Operational-parity mirror of the reference's durable resume-token
  * store (C4/C5, `committing/token_saver.py` /
  * `change_stream_reading/resume_token.py`).
  *
  * Spark's checkpointLocation is the real recovery mechanism; this
  * store exists so operators can observe stream progress in the same
  * upsert-by-reader-name shape the reference persists to MongoDB
  * (`MongoTokenStore` is that backend).
  */
trait TokenStore {
  def save(t: SavedToken): Unit
  def load(name: String): Option[SavedToken]
}

final class InMemoryTokenStore extends TokenStore {
  private val m = new ConcurrentHashMap[String, SavedToken]()
  override def save(t: SavedToken): Unit = m.put(t.streamReaderName, t)
  override def load(name: String): Option[SavedToken] = Option(m.get(name))
}

/** One JSON line per reader name in a directory; atomic replace on
  * save (write-temp-then-move), mirroring the upsert semantics.
  */
final class FileTokenStore(dir: String) extends TokenStore {
  Files.createDirectories(Paths.get(dir))

  private val mapper = new ObjectMapper()

  private def fileFor(name: String) =
    Paths.get(dir, name.replaceAll("[^A-Za-z0-9._-]", "_") + ".json")

  override def save(t: SavedToken): Unit = {
    val tmp = Files.createTempFile(Paths.get(dir), ".token", ".tmp")
    val json = mapper.createObjectNode()
      .put("streamReaderName", t.streamReaderName)
      .put("token", t.token)
      .put("date", t.date.getTime)
    Files.write(tmp, mapper.writeValueAsBytes(json))
    Files.move(tmp, fileFor(t.streamReaderName),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  override def load(name: String): Option[SavedToken] = {
    val p = fileFor(name)
    if (!Files.exists(p)) None
    else {
      // a file that exists but is not the shape written above is
      // corruption and surfaces as None, not as a fabricated token
      val doc =
        try mapper.readTree(Files.readAllBytes(p))
        catch { case _: JsonProcessingException => MissingNode.getInstance }
      val (tok, date) = (doc.path("token"), doc.path("date"))
      if (tok.isTextual && date.isIntegralNumber && date.canConvertToLong)
        Some(SavedToken(name, tok.textValue, new Timestamp(date.longValue)))
      else None
    }
  }
}

/** Mirrors the last committed source offset of a named streaming query
  * into a TokenStore after every micro-batch — the Spark-native
  * replacement for the reference's CommitFlow→TokenSaving path, with
  * the same ≤ trigger-interval persistence lag (BASELINE.md).
  */
final class TokenStoreListener(queryName: String, store: TokenStore)
    extends StreamingQueryListener {

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.name == queryName && p.sources.nonEmpty) {
      val end = p.sources.map(s => Option(s.endOffset).getOrElse("null"))
        .mkString("[", ",", "]")
      store.save(SavedToken(queryName, end, new Timestamp(System.currentTimeMillis())))
    }
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
