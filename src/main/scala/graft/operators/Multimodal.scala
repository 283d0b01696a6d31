package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fingerprint

/** Multimodal column handling: image/audio/video as opaque binary
  * columns with typed metadata, decoded/feature-extracted through a
  * partition-wise pipeline.
  *
  * The Spark-side plumbing is real — typed Datasets, iterator-to-
  * iterator mapPartitions (no partition materialization, spill-safe),
  * size-aware repartitioning, frame-sample explode. The codec itself
  * is a deterministic stub (`StubDecoder`): this container has no
  * image/audio libraries, and a real deployment would swap in a JNI /
  * Pandas-UDF-backed decoder behind the same `MediaDecoder` interface
  * without touching the plumbing.
  *
  * mapPartitions is the right tool here (guide preference (d)): a
  * codec is an opaque per-record function with per-partition init
  * cost (decoder handles, thread pools) that no Catalyst expression
  * can model.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, content: Array[Byte])

  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      fp: Long,        // rolling hash of the payload
      width: Long,     // decoded dims (stub: derived from header bytes)
      height: Long)

  case class Frame(media_id: Long, frame_no: Long, n_bytes: Long, fp: Long)

  /** Decoder contract. Implementations must be Serializable (shipped
    * to executors) and cheap to construct per partition.
    */
  trait MediaDecoder extends Serializable {
    def dims(kind: String, content: Array[Byte]): (Long, Long)

    /** Downsample a payload by `stride`. The default keeps every
      * `stride`-th byte — the deterministic stub shape the oracle
      * replays; a real codec overrides with decode→scale→re-encode.
      */
    def downscale(kind: String, content: Array[Byte], stride: Int)
        : Array[Byte] =
      Array.range(0, content.length, stride).map(i => content(i))

    /** `n` evenly-spaced luminance samples in [0, 255] — the input to
      * the perceptual hash. The default samples raw payload bytes at
      * floor(i·len/n) (the deterministic stub shape the oracle
      * replays); a real codec overrides with decode → n-pixel
      * grayscale resample.
      */
    def luma(kind: String, content: Array[Byte], n: Int): Array[Int] =
      if (content.isEmpty) Array.fill(n)(0)
      else Array.tabulate(n)(i =>
        content((i.toLong * content.length / n).toInt) & 0xff)
  }

  /** Deterministic stand-in for a real codec: dims derived from the
    * first two payload bytes. Replace with an actual image/audio
    * decoder in deployments.
    */
  object StubDecoder extends MediaDecoder {
    override def dims(kind: String, content: Array[Byte]): (Long, Long) = {
      val b0 = if (content.nonEmpty) content(0) & 0xff else 0
      val b1 = if (content.length > 1) content(1) & 0xff else 0
      (1L + b0 % 64, 1L + b1 % 64)
    }
  }

  /** Real image codec over the JDK's javax.imageio — no external
    * dependency. `dims` decodes the actual image header; `downscale`
    * decodes, scales both dimensions by 1/stride (floor, min 1), and
    * re-encodes as PNG. Runs through exactly the same mapPartitions
    * plumbing as the stub; select it per session with
    * `graft.media.decoder=imageio` (the oracle queries keep the stub —
    * the synthetic corpus carries text payloads, not image bytes).
    */
  object ImageIoDecoder extends MediaDecoder {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    private def decode(content: Array[Byte]): BufferedImage = {
      val img = ImageIO.read(new ByteArrayInputStream(content))
      require(img != null, "payload is not a decodable image")
      img
    }

    override def dims(kind: String, content: Array[Byte]): (Long, Long) = {
      val img = decode(content)
      (img.getWidth.toLong, img.getHeight.toLong)
    }

    override def downscale(kind: String, content: Array[Byte], stride: Int)
        : Array[Byte] = {
      val img = decode(content)
      val w = math.max(1, img.getWidth / stride)
      val h = math.max(1, img.getHeight / stride)
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try g.drawImage(img, 0, 0, w, h, null) finally g.dispose()
      val baos = new ByteArrayOutputStream()
      ImageIO.write(out, "png", baos)
      baos.toByteArray
    }

    /** Real aHash front-end: decode, resample to an n×1 grayscale
      * strip, return the pixel row.
      */
    override def luma(kind: String, content: Array[Byte], n: Int)
        : Array[Int] = {
      val img = decode(content)
      val strip = new BufferedImage(n, 1, BufferedImage.TYPE_BYTE_GRAY)
      val g = strip.createGraphics()
      try g.drawImage(img, 0, 0, n, 1, null) finally g.dispose()
      Array.tabulate(n)(i => strip.getRaster.getSample(i, 0, 0))
    }
  }

  /** Config-selected decoder (`graft.media.decoder`): "imageio" → the
    * real JDK codec, anything else → the deterministic stub.
    */
  def decoderFor(name: String): MediaDecoder = name match {
    case "imageio" => ImageIoDecoder
    case _ => StubDecoder
  }

  /** Perceptual-hash bit width. 60 (not 64) keeps every band and the
    * full hash in positive BIGINT range in both engines — no
    * sign-bit/overflow divergence between Spark longs and the oracle.
    */
  final val PHashBits = 60

  /** Average hash over a luminance strip: bit i set when sample i is
    * strictly above the mean (exact rational compare v·n > Σv — no
    * division, engine-portable).
    */
  def aHash(luma: Array[Int]): Long = {
    val n = luma.length
    var sum = 0L
    var i = 0
    while (i < n) { sum += luma(i); i += 1 }
    var h = 0L
    i = 0
    while (i < n) {
      if (luma(i).toLong * n > sum) h |= 1L << i
      i += 1
    }
    h
  }

  case class MediaHash(media_id: Long, phash: Long)

  /** Decode → perceptual hash, one row per media item. Same
    * iterator-to-iterator plumbing as extractFeatures.
    */
  def perceptualHash(media: Dataset[MediaRow], decoder: MediaDecoder)
      : Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map(m =>
        MediaHash(m.media_id, aHash(decoder.luma(m.kind, m.content, PHashBits))))
    }
  }

  /** The documents table as a stand-in media corpus: text payload as
    * the binary column (ASCII ⇒ n_bytes == n_chars), kind from source.
    */
  def asMedia(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
      col("doc_id").alias("media_id"),
      concat(lit("img/"), col("source")).alias("kind"),
      col("text").cast("binary").alias("content"))
      .as[MediaRow]
  }

  /** Decode + feature-extract. Iterator-to-iterator: constant memory
    * per partition regardless of payload sizes; decoder constructed
    * once per partition (the init-cost pattern a per-row UDF can't
    * express).
    */
  def extractFeatures(media: Dataset[MediaRow], decoder: MediaDecoder)
      : Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val (w, h) = decoder.dims(m.kind, m.content)
        MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
          Fingerprint.fold(m.content), w, h)
      }
    }
  }

  /** The chunk/stride sampling contract shared by [[sampleFrames]] and
    * [[frameLuma]] — ONE copy, because the SQL oracle twins (mm_frames,
    * mm_scene_cut) mirror exactly this chunking byte-for-byte and a
    * divergence between two inlined copies would silently break one
    * query's parity. A null payload (a NULL-text document surviving
    * asMedia) yields no frames, matching the SQL side where substr/
    * range over NULL produce no chunk rows.
    */
  private def sampledChunks(content: Array[Byte], chunkBytes: Int,
      stride: Int): Iterator[(Array[Byte], Long)] =
    if (content == null) Iterator.empty
    else content.grouped(chunkBytes).zipWithIndex
      .filter { case (_, i) => i % stride == 0 }
      .map { case (chunk, i) => (chunk, i.toLong) }

  /** Frame sampling: split the payload into fixed-size chunks and keep
    * every `stride`-th one — the plumbing shape of video frame
    * extraction (explode with bounded per-row output).
    */
  def sampleFrames(media: Dataset[MediaRow], chunkBytes: Int, stride: Int)
      : Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      sampledChunks(m.content, chunkBytes, stride).map { case (chunk, i) =>
        Frame(m.media_id, i, chunk.length.toLong, Fingerprint.fold(chunk))
      }
    }
  }

  case class FrameLuma(media_id: Long, frame_no: Long, luma: Long)

  /** Per-frame mean byte value — the luminance-proxy signal cheap
    * shot-boundary detection thresholds on (a real codec would emit a
    * per-frame luma histogram through the same seam; the stub's mean
    * raw byte is the deterministic stand-in). Same chunk/stride
    * plumbing as [[sampleFrames]] via [[sampledChunks]]: bounded
    * per-row explode, exact integer division.
    */
  def frameLuma(media: Dataset[MediaRow], chunkBytes: Int, stride: Int)
      : Dataset[FrameLuma] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      sampledChunks(m.content, chunkBytes, stride).map { case (chunk, i) =>
        val sum = chunk.foldLeft(0L)((a, b) => a + (b & 0xff))
        FrameLuma(m.media_id, i, sum / chunk.length)
      }
    }
  }

  case class ResizedMedia(
      media_id: Long,
      orig_bytes: Long,
      resized_bytes: Long,
      fp: Long,
      width: Long,
      height: Long)

  /** Resize/downsample through the decoder's `downscale` — payload in,
    * smaller payload + metadata out. With the stub that's the
    * stride-deterministic byte thinning the oracle replays; with
    * ImageIoDecoder it's a real decode→scale→re-encode.
    */
  def resize(media: Dataset[MediaRow], stride: Int, decoder: MediaDecoder)
      : Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    require(stride >= 1)
    media.mapPartitions { it =>
      it.map { m =>
        val out = decoder.downscale(m.kind, m.content, stride)
        val (w, h) = decoder.dims(m.kind, out)
        ResizedMedia(m.media_id, m.content.length.toLong,
          out.length.toLong, Fingerprint.fold(out), w, h)
      }
    }
  }

  /** Size-aware repartition: media payloads are heavily skewed (a 4K
    * video next to an icon); balance partitions by byte size rather
    * than row count. At 100 TB this is the difference between
    * straggler-free stages and one executor OOMing.
    *
    * Two mechanisms, both deterministic:
    *  - the partition COUNT comes from total bytes / target;
    *  - oversized payloads (>= target on their own) get a dedicated
    *    partition key, so a whale never shares (and blows) a hash
    *    bucket that normal rows also landed in — hashing by id alone
    *    would still send 10 GB and a thousand icons to one reducer.
    * Normal rows spread by id hash; with rows ≪ target each, the law
    * of large numbers keeps per-partition bytes near the target.
    */
  def repartitionBySize(media: Dataset[MediaRow],
      targetBytesPerPartition: Long): Dataset[MediaRow] = {
    // sum() over zero rows is NULL — coalesce before reading, and skip
    // the shuffle entirely for an empty input.
    val totalBytes = media
      .select(coalesce(sum(length(col("content")).cast("long")), lit(0L)))
      .head().getLong(0)
    if (totalBytes == 0L) media
    else {
      // long math until the final clamp: 100 TB / 32 KB overflows Int
      // and would wrap to 1 partition — the opposite of the intent
      val parts = math.min(
        math.max(1L, totalBytes / targetBytesPerPartition),
        Int.MaxValue.toLong).toInt
      val partKey = when(
        length(col("content")).cast("long") >= targetBytesPerPartition,
        concat(lit("whale:"), col("media_id").cast("string")))
        .otherwise(pmod(hash(col("media_id")), lit(parts)).cast("string"))
      media.repartition(parts, partKey)
    }
  }
}
