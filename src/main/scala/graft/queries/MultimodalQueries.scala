package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Multimodal pipeline as verifiable queries: the binary decode path
  * runs through the real typed mapPartitions plumbing with the
  * deterministic stub codec, so the whole chain (binary column →
  * decoder → features / frames) has an exact SQL oracle.
  */
object MultimodalQueries {

  /** Session-selected codec (`graft.media.decoder`, default stub —
    * the oracle replays the stub's arithmetic; a deployment with real
    * image payloads sets `imageio`).
    */
  private def decoder(s: SparkSession): Multimodal.MediaDecoder =
    Multimodal.decoderFor(s.conf.get("graft.media.decoder", "stub"))

  /** Media near-dup verdict bar: pairs at Hamming ≤ 8 of 60 aHash
    * bits are edges of the duplicate graph (mm_dedup).
    */
  final val MmHamThresh = 8

  /** Scene-cut bar: a luma jump above this between consecutive
    * sampled frames is a shot boundary (mm_scene_cut). At 8, ~2.5%
    * of sf0.01 frame transitions cut — sparse, as shot boundaries
    * should be.
    */
  final val SceneCutThresh = 8L

  /** Banded-LSH pHash candidate pairs with exact Hamming rerank —
    * the shared core of mm_phash (reports the pairs) and mm_dedup
    * (clusters them). Scale shape: one decoder pass per payload, the
    * pair scan only ever meets inside a 15-bit band bucket, Hamming
    * is two integer ops per candidate.
    */
  /** Staged (media_id, phash) table: the decoder pass is typed
    * mapPartitions (outside codegen) and both mm_phash and mm_dedup
    * consume it, so it's computed once per input snapshot like the
    * shingle/signature/quantized indexes. The stage name embeds the
    * decoder knob — a session running `imageio` must never read a
    * stub-hashed table.
    */
  private def phashed(s: SparkSession, d: String): DataFrame = {
    val dec = s.conf.get("graft.media.decoder", "stub")
    // per-media-row decode + hash — appendable: new media part files
    // hash as a delta (the chain pattern matters most HERE, where the
    // per-row work is a real codec at production scale)
    StagedIndex.orStageAppendable(s, s"mm_phash_${dec}_v1", d,
      s"$d/documents.parquet") { docs =>
      Multimodal.perceptualHash(
        Multimodal.asMedia(s, docs), decoder(s)).toDF()
    }
  }

  /** Staged (ida, idb, hamming) candidate-pair table — the band join
    * + distinct + Hamming rerank is the shared expensive derivation
    * of mm_phash / mm_hamming_hist / mm_dedup, now computed once per
    * snapshot like the pHash table it rides. O(candidate pairs)
    * rows; the decoder knob stays in the name via the phashed stage
    * chain and is repeated here for the same staleness guarantee.
    */
  private def phashPairs(s: SparkSession, d: String): DataFrame = {
    val dec = s.conf.get("graft.media.decoder", "stub")
    StagedIndex.orStage(s, s"mm_phash_pairs_${dec}_v1", d,
      Seq(s"$d/documents.parquet")) {
      import org.apache.spark.sql.types.LongType
      val ph = phashed(s, d)
      val bands = ph.select(col("media_id"), col("phash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).alias("b"),
            shiftright(col("phash"), b * 15).bitwiseAND(0x7fff)
              .alias("key"))): _*)).alias("bk"))
        .select(col("media_id"), col("phash"),
          col("bk.b").alias("b"), col("bk.key").alias("key"))
      val a = bands.select(col("b"), col("key"),
        col("media_id").alias("ida"), col("phash").alias("pha"))
      val bb = bands.select(col("b"), col("key"),
        col("media_id").alias("idb"), col("phash").alias("phb"))
      a.join(bb, Seq("b", "key"))
        .filter(col("ida") < col("idb"))
        .select(col("ida"), col("idb"), col("pha"), col("phb"))
        .distinct()
        .select(col("ida"), col("idb"),
          bit_count(col("pha").bitwiseXOR(col("phb"))).cast(LongType)
            .alias("hamming"))
    }
  }

  /** Staged media component labels (media_id, keeper) — the
    * star-contraction connected components over the Hamming-≤-thresh
    * edges is the one multi-round job on the media side (the same
    * cost profile dd_cluster staged its labels for); computed once
    * per snapshot, consumed by mm_dedup's verdict join.
    */
  private def mediaLabels(s: SparkSession, d: String): DataFrame = {
    val dec = s.conf.get("graft.media.decoder", "stub")
    // knob-in-name: the edge set depends on MmHamThresh, so the
    // threshold lives in the stage name — retuning it across builds
    // sharing a stage dir restages instead of reading stale labels
    StagedIndex.orStage(s, s"mm_dedup_labels_${dec}_h${MmHamThresh}_v1", d,
      Seq(s"$d/documents.parquet")) {
      DedupQueries.connectedComponents(
        phashPairs(s, d)
          .filter(col("hamming") <= MmHamThresh)
          .select(col("ida").alias("src"), col("idb").alias("dst")))
        .select(col("id").alias("media_id"), col("label").alias("keeper"))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(s, Tables.documents(s, d)),
        decoder(s))
        .toDF()),

    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(
        Multimodal.asMedia(s, Tables.documents(s, d)),
        chunkBytes = 32, stride = 2)
        .toDF()),

    "mm_resize" -> ((s, d) =>
      Multimodal.resize(
        Multimodal.asMedia(s, Tables.documents(s, d)),
        stride = 4, decoder(s))
        .toDF()),

    // Perceptual-hash near-duplicate candidates: aHash every payload
    // through the decoder seam (stub: sampled bytes; imageio: real
    // grayscale resample), band the 60-bit hash into 4×15-bit keys,
    // equi-join band collisions, report exact Hamming distance per
    // candidate pair — image-dedup's MinHash-LSH analogue. Scale
    // shape: hash is one decoder pass at scan speed; the pair scan
    // only ever meets inside a band bucket (never all-pairs), and the
    // Hamming rerank is two integer ops per candidate.
    "mm_phash" -> (phashPairs(_, _)),

    // Hamming-distance histogram over the banded candidate pairs —
    // the threshold-tuning table for mm_dedup (where does the
    // distance mass sit relative to MmHamThresh? a bimodal histogram
    // means the cut is safe; mass piled AT the threshold means the
    // band scheme needs more/wider bands before trusting the
    // verdict). The image-side twin of sim_threshold_sweep. Scale
    // shape: one map-side-combined agg over the already-band-bounded
    // pair stream down to <= 61 rows.
    "mm_hamming_hist" -> ((s, d) =>
      phashPairs(s, d)
        .groupBy("hamming")
        .agg(count(lit(1)).alias("n_pairs"))
        .withColumn("within", col("hamming") <= MmHamThresh)),

    // Media dedup verdict: the image-side twin of dd_cluster +
    // dd_dedup_verdict. pHash pairs at Hamming ≤ MmHamThresh are
    // near-dup edges; star-contraction connected components label
    // each media with its component minimum (the keeper); every
    // payload gets a corpus-wide (keeper, is_dup) verdict row. Scale
    // shape: the edge set is band-bucketed (never all-pairs), CC is
    // O(log n) keyed-join rounds over edges only, and the verdict is
    // one left join of the media universe against the tiny label
    // table.
    "mm_dedup" -> ((s, d) => {
      val lab = mediaLabels(s, d)
      Tables.documents(s, d).select(col("doc_id").alias("media_id"))
        .join(lab, Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("keeper"), col("media_id")).alias("keeper"),
          (coalesce(col("keeper"), col("media_id")) < col("media_id"))
            .alias("is_dup"))
    }),

    // Shot-boundary (scene-cut) detection — the video-pipeline step
    // between frame sampling and frame dedup/captioning: sample
    // frames, compute a per-frame luminance proxy through the decoder
    // seam (stub: mean raw byte; a real codec emits the same shape
    // from decoded pixels), and call a cut wherever consecutive
    // frames' luma jumps past SceneCutThresh — the classic
    // luminance-delta detector. Per media: frame count, cut count,
    // max jump, first cut frame (the keyframe a sampler would emit).
    // Scale shape: bounded per-row explode, ONE window partitioned on
    // media_id (fact-side key), map-side-combinable final agg — no
    // global ordering anywhere; integers end to end.
    "mm_scene_cut" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("media_id").orderBy("frame_no")
      Multimodal.frameLuma(
        Multimodal.asMedia(s, Tables.documents(s, d)),
        chunkBytes = 32, stride = 2)
        .toDF()
        .withColumn("delta", abs(col("luma") - lag(col("luma"), 1).over(w)))
        .groupBy("media_id")
        .agg(
          count(lit(1)).alias("n_frames"),
          sum(when(col("delta") > SceneCutThresh, 1L).otherwise(0L))
            .alias("n_cuts"),
          coalesce(max(col("delta")), lit(0L)).alias("max_delta"),
          min(when(col("delta") > SceneCutThresh, col("frame_no")))
            .alias("first_cut"))
    }),

    // Keyframe extraction — the sampler output a captioning or
    // frame-dedup stage actually consumes: mm_scene_cut's boundaries
    // turned into one row per SHOT (shot id = running count of cuts,
    // so each shot starts at frame 0 or a cut frame), reporting the
    // shot's first frame (the keyframe), its frame count, and its
    // mean luma in integer micro-units. Scale shape: the same bounded
    // per-row explode and ONE media-keyed window as mm_scene_cut (the
    // running cut count rides the lag window's partitioning — no
    // second exchange), then a map-side-combinable (media, shot) agg.
    "mm_keyframes" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("media_id").orderBy("frame_no")
      Multimodal.frameLuma(
        Multimodal.asMedia(s, Tables.documents(s, d)),
        chunkBytes = 32, stride = 2)
        .toDF()
        .withColumn("delta", abs(col("luma") - lag(col("luma"), 1).over(w)))
        .withColumn("shot_no",
          sum(when(col("delta") > SceneCutThresh, 1L).otherwise(0L))
            .over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
        .groupBy("media_id", "shot_no")
        .agg(
          min(col("frame_no")).alias("keyframe"),
          count(lit(1)).alias("n_frames"),
          expr("sum(luma) * 1000000 div count(1)").alias("mean_luma_micro"))
    }))

  private val fpSql = (e: String) =>
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($e, ''),
       |        x -> CAST(ascii(x) AS BIGINT))),
       |    (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  /** Stub-decoder pHash → band keys → distinct candidate pairs as
    * oracle CTEs — ONE copy shared by the mm_phash / mm_hamming_hist
    * / mm_dedup oracles so the three replays cannot drift apart (the
    * sqlBpeRoundCtes discipline). Ends at
    * `pairs(ida, idb, pha, phb)`.
    */
  private val sqlPhashPairCtes: String =
    s"""vals AS (
       |  SELECT doc_id AS media_id,
       |    list_transform(range(0, 60), i ->
       |      CAST(ascii(substr(text,
       |        CAST((i * length(text)) // 60 AS INTEGER) + 1, 1))
       |        AS BIGINT)) AS v
       |  FROM documents),
       |ph AS (
       |  SELECT media_id,
       |    list_sum(list_transform(range(0, 60), i ->
       |      CASE WHEN v[CAST(i AS INTEGER) + 1] * 60 > list_sum(v)
       |        THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT)
       |      END)) AS phash
       |  FROM vals),
       |bands AS (
       |  SELECT media_id, phash, t.b,
       |    (phash >> CAST(t.b * 15 AS INTEGER)) & 32767 AS key
       |  FROM ph, UNNEST(range(0, 4)) t(b)),
       |pairs AS (
       |  SELECT DISTINCT a.media_id AS ida, b.media_id AS idb,
       |    a.phash AS pha, b.phash AS phb
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.key = b.key AND a.media_id < b.media_id)"""
      .stripMargin

  lazy val oracles: Map[String, String] = Map(
    "mm_features" ->
      s"""SELECT doc_id AS media_id,
         |  'img/' || source AS kind,
         |  CAST(length(text) AS BIGINT) AS n_bytes,
         |  ${fpSql("text")} AS fp,
         |  CAST(1 + ascii(substr(text, 1, 1)) % 64 AS BIGINT) AS width,
         |  CAST(1 + ascii(substr(text, 2, 1)) % 64 AS BIGINT) AS height
         |FROM documents ORDER BY media_id""".stripMargin,

    "mm_frames" ->
      s"""WITH chunks AS (
         |  SELECT doc_id AS media_id,
         |    CAST(i - 1 AS BIGINT) AS frame_no,
         |    substr(text, (i - 1) * 32 + 1, 32) AS chunk
         |  FROM documents,
         |    UNNEST(range(1, CAST(ceil(length(text) / 32.0) AS BIGINT) + 1))
         |      t(i))
         |SELECT media_id, frame_no,
         |  CAST(length(chunk) AS BIGINT) AS n_bytes,
         |  ${fpSql("chunk")} AS fp
         |FROM chunks WHERE frame_no % 2 = 0
         |ORDER BY media_id, frame_no""".stripMargin,

    // every 4th char of the payload, re-featured (ASCII corpus ⇒
    // byte positions == char positions)
    "mm_resize" ->
      s"""WITH resized AS (
         |  SELECT doc_id AS media_id,
         |    CAST(length(text) AS BIGINT) AS orig_bytes,
         |    array_to_string(
         |      [substr(text, (i - 1) * 4 + 1, 1)
         |       for i in range(1, CAST(ceil(length(text) / 4.0) AS BIGINT) + 1)],
         |      '') AS r
         |  FROM documents)
         |SELECT media_id, orig_bytes,
         |  CAST(length(r) AS BIGINT) AS resized_bytes,
         |  ${fpSql("r")} AS fp,
         |  CAST(1 + ascii(substr(r, 1, 1)) % 64 AS BIGINT) AS width,
         |  CAST(1 + ascii(substr(r, 2, 1)) % 64 AS BIGINT) AS height
         |FROM resized ORDER BY media_id""".stripMargin,

    // stub luma = byte at floor(i·len/60); bit i when v·60 > Σv;
    // 4×15-bit band join; Hamming via bit_count(xor).
    "mm_phash" ->
      s"""WITH $sqlPhashPairCtes
         |SELECT ida, idb,
         |  CAST(bit_count(xor(pha, phb)) AS BIGINT) AS hamming
         |FROM pairs ORDER BY ida, idb""".stripMargin,

    // the mm_phash pair CTEs, rolled up per Hamming distance
    "mm_hamming_hist" ->
      s"""WITH $sqlPhashPairCtes
         |SELECT CAST(bit_count(xor(pha, phb)) AS BIGINT) AS hamming,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  bit_count(xor(pha, phb)) <= $MmHamThresh AS within
         |FROM pairs GROUP BY 1, 3 ORDER BY 1""".stripMargin,

    // same CTEs as mm_phash; edges at Hamming <= 8, transitive
    // closure, component min = keeper
    "mm_dedup" ->
      s"""WITH RECURSIVE $sqlPhashPairCtes,
         |cand AS (
         |  SELECT ida, idb FROM pairs
         |  WHERE bit_count(xor(pha, phb)) <= $MmHamThresh),
         |edges(a, b) AS (SELECT ida, idb FROM cand
         |                UNION SELECT idb, ida FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (
         |  SELECT a AS media_id, least(a, min(b)) AS keeper
         |  FROM reach GROUP BY a)
         |SELECT d.doc_id AS media_id,
         |  coalesce(l.keeper, d.doc_id) AS keeper,
         |  coalesce(l.keeper, d.doc_id) < d.doc_id AS is_dup
         |FROM documents d LEFT JOIN lab l ON d.doc_id = l.media_id
         |ORDER BY media_id""".stripMargin,

    // mm_frames' chunking with a mean-byte luma instead of the fp,
    // then the lag-delta detector
    "mm_scene_cut" ->
      s"""WITH $sqlLumaCtes
         |SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(sum(CASE WHEN delta > $SceneCutThresh THEN 1
         |    ELSE 0 END) AS BIGINT) AS n_cuts,
         |  CAST(coalesce(max(delta), 0) AS BIGINT) AS max_delta,
         |  CAST(min(CASE WHEN delta > $SceneCutThresh THEN frame_no
         |    END) AS BIGINT) AS first_cut
         |FROM d GROUP BY media_id ORDER BY media_id""".stripMargin,

    // shot id = running cut count over the same shared luma CTEs
    "mm_keyframes" ->
      s"""WITH $sqlLumaCtes,
         |sh AS (
         |  SELECT media_id, frame_no, luma,
         |    sum(CASE WHEN delta > $SceneCutThresh THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY media_id ORDER BY frame_no
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS shot_no
         |  FROM d)
         |SELECT media_id, CAST(shot_no AS BIGINT) AS shot_no,
         |  CAST(min(frame_no) AS BIGINT) AS keyframe,
         |  CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(sum(luma) * 1000000 // count(*) AS BIGINT)
         |    AS mean_luma_micro
         |FROM sh GROUP BY 1, 2 ORDER BY media_id, shot_no""".stripMargin)

  /** The mm_frames chunking with the mean-byte luma and the lag-delta
    * — ONE copy shared by the mm_scene_cut / mm_keyframes oracles so
    * the two replays cannot drift apart (the sqlPhashPairCtes
    * discipline). Ends at `d(media_id, frame_no, luma, delta)`.
    *
    * ASCII-corpus assumption (as with every byte/char twin in this
    * file): the Spark side lumas raw UTF-8 BYTES (`b & 0xff` over
    * 32-byte frames) while this replay lumas CHARACTERS (substr char
    * offsets, ascii() per char) — the two agree exactly on the
    * driver testdata because documents.text is pure ASCII (1 char =
    * 1 byte), and MultimodalSpec's testdata guard pins that
    * precondition. A multibyte corpus would need the oracle side
    * ported to blob slicing (encode(text) + octet-level reads).
    */
  private lazy val sqlLumaCtes: String =
    """chunks AS (
      |  SELECT doc_id AS media_id,
      |    CAST(i - 1 AS BIGINT) AS frame_no,
      |    substr(text, (i - 1) * 32 + 1, 32) AS chunk
      |  FROM documents,
      |    UNNEST(range(1, CAST(ceil(length(text) / 32.0) AS BIGINT) + 1))
      |      t(i)),
      |luma AS (
      |  SELECT media_id, frame_no,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(chunk, ''),
      |          x -> CAST(ascii(x) AS BIGINT))),
      |      (a, b) -> a + b) // length(chunk) AS luma
      |  FROM chunks WHERE frame_no % 2 = 0),
      |d AS (
      |  SELECT media_id, frame_no, luma,
      |    abs(luma - lag(luma) OVER (
      |      PARTITION BY media_id ORDER BY frame_no)) AS delta
      |  FROM luma)""".stripMargin
}
