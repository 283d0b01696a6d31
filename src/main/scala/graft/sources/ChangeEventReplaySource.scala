package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.{ChangeEventRow, ChangeEvents}

/** A DataSource-V2 streaming source that replays a change-event
  * fixture with the reference reader's semantics — the Mongo-less
  * twin of the change-stream scan used to exercise the parts of
  * S1-S6 that are NOT expressible as connector config:
  *
  *  - **deployment-wide scope (S2)**: the fixture may span any number
  *    of (db, collection) namespaces in one stream, which the
  *    mongodb connector (collection-scoped) cannot do; the reference
  *    does it by watching the MongoClient
  *    (`change_stream_reading/watch.py:46-58`).
  *  - **batch-size pacing (S3/S5)**: `maxRowsPerBatch` caps each
  *    micro-batch like the cursor `batch_size`
  *    (`watch.py:73-84`); an exhausted fixture yields empty batches
  *    (the 0.5 s idle poll, `watch.py:104-111`, becomes the trigger
  *    interval).
  *  - **monotonic sequence offsets (S6)**: the offset IS the count of
  *    events admitted, including ones a downstream filter drops —
  *    token-only heartbeats advance it exactly like
  *    `watch.py:113-141` / fork P5.
  *
  * Registered under the short name `graft-replay` (a test/replay
  * source; a deployment reads the mongodb connector through the same
  * `Pipeline.read` seam). `register` serializes a fixture's rows once
  * into an in-memory registry, so a restart does not re-pay the
  * encoder. A task carries only a fixture name and an index range, and
  * its reader indexes this JVM's registry: local mode (`local[n]`)
  * only. Unregister or shorten a fixture only after every query reading
  * it has stopped; a task planned before that fails loudly.
  */
object ChangeEventReplaySource {
  private val fixtures =
    scala.collection.concurrent.TrieMap.empty[String, Array[InternalRow]]

  // Built once: deriving the encoder reflects over the case class,
  // which costs tens of milliseconds on every call.
  private val encoder = ExpressionEncoder[ChangeEventRow]()

  /** Register a fixture; returns the option map selecting it. */
  def register(name: String, rows: Seq[ChangeEventRow]): Map[String, String] = {
    val ser = encoder.createSerializer()
    fixtures.put(name, rows.iterator.map(r => ser(r).copy()).toArray)
    Map("fixture" -> name)
  }

  /** Drop a fixture (frees driver memory for large bench fixtures). */
  def unregister(name: String): Unit = fixtures.remove(name)

  private[sources] def rows(name: String): Array[InternalRow] =
    fixtures.getOrElse(name,
      throw new IllegalArgumentException(s"unknown replay fixture: $name"))
}

class ChangeEventReplaySource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-replay"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeEvents.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ReplayTable(properties.asScala.toMap)
}

final class ReplayTable(options: Map[String, String]) extends Table
    with SupportsRead {

  override def name(): String =
    s"graft-replay(${options.getOrElse("fixture", "?")})"
  override def schema(): StructType = ChangeEvents.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = ChangeEvents.schema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream =
        new ReplayMicroBatchStream(
          options.getOrElse("fixture",
            throw new IllegalArgumentException(
              "graft-replay requires a 'fixture' option")),
          options.getOrElse("maxRowsPerBatch", "1000").toInt,
          options.getOrElse("partitions", "2").toInt)
      override def toBatch: Batch =
        throw new UnsupportedOperationException(
          "graft-replay is a streaming-only source")
    }
}

/** Offset = number of events admitted so far (the reference's u64
  * sequence counter, `watch.py:150-153`).
  */
final case class SeqOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

final class ReplayMicroBatchStream(
    fixtureName: String, maxRowsPerBatch: Int, numPartitions: Int)
  extends MicroBatchStream with SupportsAdmissionControl {

  require(maxRowsPerBatch > 0, "maxRowsPerBatch must be positive")
  require(numPartitions > 0, "partitions must be positive")

  private lazy val size = ChangeEventReplaySource.rows(fixtureName).length.toLong

  override def initialOffset(): Offset = SeqOffset(0L)

  // Pacing lives in admission control: each micro-batch admits at most
  // maxRowsPerBatch events (cursor batch_size parity, `watch.py:83`).
  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(maxRowsPerBatch.toLong)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[SeqOffset].n
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => maxRowsPerBatch.toLong
    }
    SeqOffset(math.min(size, s + cap))
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) drives this source")

  override def reportLatestOffset(): Offset = SeqOffset(size)

  override def deserializeOffset(json: String): Offset =
    SeqOffset(json.toLong)

  override def commit(end: Offset): Unit = ()

  // Contiguous ranges, in order: per-key order holds.
  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SeqOffset].n.toInt
    val e = end.asInstanceOf[SeqOffset].n.toInt
    val step = math.max(1, (e - s + numPartitions - 1) / numPartitions)
    Array.range(s, e, step).map(from =>
      ReplayPartition(fixtureName, from, math.min(from + step, e)): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val ReplayPartition(fixture, from, until) = p
        val rows = ChangeEventReplaySource.rows(fixture)
        require(until <= rows.length,
          s"replay fixture $fixture has ${rows.length} rows, a task wants [$from, $until)")
        new PartitionReader[InternalRow] {
          private var i = from - 1
          override def next(): Boolean = { i += 1; i < until }
          override def get(): InternalRow = rows(i)
          override def close(): Unit = ()
        }
      }
    }

  override def stop(): Unit = ()
}

/** Events `[from, until)` of the registered fixture `fixture`. */
final case class ReplayPartition(fixture: String, from: Int, until: Int)
  extends InputPartition
