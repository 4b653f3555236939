package graft.queries

import graft.Tables
import graft.multimodal.{Media, Multimodal, PcmAudio, WavCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal pipeline as a verifiable query (SURVEY.md §2c #47): the
  * documents table plays the media store (payload = UTF-8 bytes of the
  * text), flowing through the typed Dataset → per-partition decode →
  * feature row path. The surfaced columns are byte-level facts the
  * oracle can recompute, so the whole mapPartitions plumbing is
  * oracle-verified even though the decode kernel itself is the stub. */
object Mm {

  def mmFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, lang, text) =>
        Media(id, if (lang == "en") "image" else "audio",
          text.getBytes("UTF-8"), 640, 480, 16000)
      }
    Multimodal.extractFeatures(media, dim = 16)
      .toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        size(col("features")).as("n_feat"))
  }

  /** #47b Frame sampling: every 256-byte window of the payload becomes
    * one frame row (per-partition flatMap fan-out — the real build reads
    * container frame offsets; the window arithmetic IS the verifiable
    * plumbing). The checksum column stays internal: it is the stub
    * kernel's, not reproducible cross-engine; the fan-out shape is. */
  def mmFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, lang, text) =>
        Media(id, if (lang == "en") "image" else "audio",
          text.getBytes("UTF-8"), 640, 480, 16000)
      }
    Multimodal.sampleFrames(media, strideBytes = 256)
      .toDF()
      .select(col("media_id"), col("frame_idx"),
        col("offset").as("frame_off"))
  }

  /** Binary P5 payload: real PGM header + the first w·h text bytes as
    * pixels (zero-padded) — a REAL image file the zero-dependency
    * [[graft.multimodal.PnmCodec]] parses, built from bytes the
    * oracle can also see (the corpus is ASCII, so ord(char) IS the
    * byte). */
  private def pgmPayload(text: String, w: Int, h: Int): Array[Byte] = {
    val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
    val body = new Array[Byte](w * h)
    val tb = text.getBytes("US-ASCII")
    var i = 0
    while (i < body.length && i < tb.length) { body(i) = tb(i); i += 1 }
    header ++ body
  }

  private def pgmMedia(s: SparkSession, d: String,
      cap: Long = Long.MaxValue) = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.operators.Skew.spreadScan(
      if (cap == Long.MaxValue) docs else docs.filter(col("doc_id") < cap))
      .as[(Long, String)]
      .map { case (id, text) =>
        Media(id, "image", pgmPayload(text, 16, 8), 16, 8, 0)
      }
  }

  /** #47c REAL image decode (r18): every doc becomes a binary PGM
    * payload, [[graft.multimodal.PnmCodec.decode]] parses it for
    * real, and the surfaced columns are exact pixel statistics the
    * oracle recomputes from the same source bytes — the decode slot
    * itself is now oracle-verified, not just the plumbing around a
    * stub. */
  def mmDecode(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeStats(pgmMedia(s, d)).toDF()
      .withColumn("px_mean",
        col("px_sum").cast("double") / col("n_pixels"))

  /** #47d REAL pixel resize (r18): decode + nearest-neighbor 16×8 →
    * 4×4 (integer source mapping: src = floor(dst·srcDim/dstDim), so
    * the 16 sampled positions are fixed constants the oracle reads
    * directly). */
  def mmResize(s: SparkSession, d: String): DataFrame =
    Multimodal.resizePixels(pgmMedia(s, d), 4, 4).toDF()

  /** #47e Image → embedding bridge (r19): decode the PGM payload for
    * real, mean-pool a 4×4 grid of patches (16×8 raster → 4×2-pixel
    * patches), center by the image's own mean
    * ([[graft.multimodal.Multimodal.gridFeatureVec]]) — integer sums
    * plus one division and one subtraction per feature, so every
    * value replays bit-exactly from the source bytes in DuckDB. */
  def mmEmbed(s: SparkSession, d: String): DataFrame =
    Multimodal.embedMedia(pgmMedia(s, d), 4, 4).toDF()
      .select(col("media_id"), posexplode(col("e")).as(Seq("pos", "f")))

  /** #42e End-to-end IMAGE near-dup dedup (r19 — the composition a
    * multimodal corpus pipeline actually runs): real decode →
    * [[graft.multimodal.Multimodal.gridFeatureVec]] pixel embeddings
    * → exact cosine kNN graph (k = 3, the brute-force endpoint; the
    * scale path swaps in [[graft.operators.Similarity.ivfPqSearchRefine]]
    * with `bulk = true` — a 0.99
    * duplicate gate must see EXACT shortlist scores, since raw ADC
    * drops true dups on quantization error alone: the `mmdedup:*`
    * probe measures planted recall 0.26 unrefined vs 1.00 refined) →
    * [[graft.operators.GraphDedup.knnGraphDedup]] mutual edges at
    * τ = 0.99 → components → keep-smallest. τ = 0.99 on CENTERED
    * pixel features separates the corpus's planted near-dup texts
    * (their rasters differ in a few patches → cos ≈ 0.994-1.0) from
    * unrelated docs (p99 ≈ 0.72). Constant cost at every sf: the 300
    * cap bounds all sides, and the 90k-pair exact graph is one
    * broadcast nested loop. */
  def mmDedup(s: SparkSession, d: String): DataFrame = {
    val v = Multimodal.embedMedia(pgmMedia(s, d, cap = 300), 4, 4).toDF()
    val nodes = Tables.documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < 300).select(col("doc_id").as("id"))
    graft.operators.GraphDedup.knnGraphDedup(
        exactMediaGraph(v, k = 3), nodes, tau = 0.99)
      .select(col("id").as("media_id"), col("component"),
        col("n_members"), col("keep"))
  }

  /** The mm_dedup / mm_audio_dedup shared exact-endpoint graph:
    * brute-force cosine top-k over decoded media embeddings — one
    * broadcast nested loop bounded by the 300 cap (the scale path is
    * [[graft.operators.Similarity.ivfPqSearchRefine]] with
    * `bulk = true`, probe-measured by `mmdedup:*`). */
  private def exactMediaGraph(embedded: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = graft.functions.DotProduct.column _
    val v = embedded
      .filter(col("decoded"))
      .withColumn("norm", sqrt(dot(col("e"), col("e"))))
      .filter(col("norm") > 0)
    val q = broadcast(v.select(col("media_id").as("query_id"),
      col("e").as("qe"), col("norm").as("qnorm")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    v.select(col("media_id").as("neighbor_id"), col("e"), col("norm"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qcos",
        dot(col("e"), col("qe")) / (col("norm") * col("qnorm")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "qcos")
  }

  /** Binary P6 payload: real PPM header + the first w·h·3 text bytes
    * as interleaved RGB samples (zero-padded) — the color twin of
    * [[pgmPayload]]. */
  private def ppmPayload(text: String, w: Int, h: Int): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val body = new Array[Byte](w * h * 3)
    val tb = text.getBytes("US-ASCII")
    var i = 0
    while (i < body.length && i < tb.length) { body(i) = tb(i); i += 1 }
    header ++ body
  }

  /** #47d' REAL resize through the P6 RGB path (r19 — the grayscale
    * query's color twin, closing the one spec-only codec branch):
    * 4×8 RGB → 2×2, sample triples at src (y,x) ∈ {0,4}×{0,2}, so the
    * twelve 1-based text positions are fixed constants. */
  def mmResizeRgb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        Media(id, "image", ppmPayload(text, 4, 8), 4, 8, 0)
      }
    Multimodal.resizePixels(media, 2, 2).toDF()
  }

  /** Real WAV payload: RIFF/PCM-16 mono 8 kHz, 64 samples decoded
    * little-endian from the doc's text byte pairs (zero-padded) — a
    * REAL audio file [[graft.multimodal.WavCodec]] parses, built
    * from bytes the oracle can also see. */
  private def wavMedia(s: SparkSession, d: String,
      cap: Long = Long.MaxValue) = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.operators.Skew.spreadScan(
      if (cap == Long.MaxValue) docs else docs.filter(col("doc_id") < cap))
      .as[(Long, String)]
      .map { case (id, text) =>
        val tb = text.getBytes("US-ASCII")
        val samples = Array.tabulate(64) { j =>
          val b0 = if (2 * j < tb.length) tb(2 * j) & 0xff else 0
          val b1 = if (2 * j + 1 < tb.length) tb(2 * j + 1) & 0xff else 0
          val v = b0 | (b1 << 8)
          if (v >= 0x8000) v - 0x10000 else v
        }
        Media(id, "audio",
          WavCodec.encode(PcmAudio(1, 8000, samples)), 0, 0, 8000)
      }
  }

  /** #47f REAL audio decode (r19): every doc becomes a RIFF/PCM-16
    * file, [[graft.multimodal.WavCodec.decode]] walks the chunk
    * grammar for real, and the surfaced exact sample statistics are
    * recomputed by DuckDB from the same source bytes. (The corpus is
    * ASCII, so every int16 sample is b0 + 256·b1 < 32768 — the
    * sign branch is exercised by MultimodalSpec's hand-built negative
    * fixture instead.) */
  def mmAudioStats(s: SparkSession, d: String): DataFrame =
    Multimodal.audioStats(wavMedia(s, d)).toDF()
      .withColumn("s_mean",
        col("s_sum").cast("double") / col("n_samples"))

  /** #47g Audio → embedding bridge (r19): real WAV decode, 8-window
    * energy contour ([[graft.multimodal.Multimodal.audioEnergyVec]])
    * — integer sums of squared int16 samples, one division and one
    * subtraction per window, so every value replays bit-exactly from
    * the source bytes. Completes the pipeline-consumer story for the
    * second modality: both real decoders now surface `e:
    * array<double>` the ANN/dedup tier takes unchanged. */
  def mmAudioEmbed(s: SparkSession, d: String): DataFrame =
    Multimodal.embedAudio(wavMedia(s, d), 8).toDF()
      .select(col("media_id"), posexplode(col("e")).as(Seq("pos", "f")))

  /** #42i' End-to-end AUDIO near-dup dedup (r20 — the [[mmDedup]]
    * composition for the second modality, closing the pipeline loop
    * for every real decoder): real WAV decode →
    * [[graft.multimodal.Multimodal.audioEnergyVec]] energy contours →
    * exact cosine kNN graph (k = 3, the brute-force endpoint) →
    * [[graft.operators.GraphDedup.knnGraphDedup]] mutual edges at
    * τ = 0.999 → components → keep-smallest. The corpus's planted
    * near-dup docs share their first 128 bytes, so their contours are
    * IDENTICAL (cos = 1 to 2 ulp) while the nearest unrelated pair
    * measures 0.9967 and p99.9 ≈ 0.95 — the tight τ is what an
    * energy-contour gate needs on 8 windows (truly perturbed audio is
    * MultimodalSpec's planted fixture). Constant cost at every sf
    * (the 300 cap bounds all sides). */
  def mmAudioDedup(s: SparkSession, d: String): DataFrame = {
    val v = Multimodal.embedAudio(wavMedia(s, d, cap = 300), 8).toDF()
    val nodes = Tables.documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < 300).select(col("doc_id").as("id"))
    graft.operators.GraphDedup.knnGraphDedup(
        exactMediaGraph(v, k = 3), nodes, tau = 0.999)
      .select(col("id").as("media_id"), col("component"),
        col("n_members"), col("keep"))
  }

  /** Real Y4M payload: YUV4MPEG2 header + 3 FRAME-delimited 4×4
    * 4:2:0 frames whose planes are consecutive text bytes
    * (zero-padded) — a REAL video file [[graft.multimodal.Y4mCodec]]
    * parses, built from bytes the oracle can also see. Frame f
    * consumes 24 text bytes: Y = positions 24f+1..24f+16 (1-based),
    * Cb/Cr the following 4+4. */
  private def y4mPayload(text: String, nFrames: Int): Array[Byte] = {
    import graft.multimodal.{VideoFrame, Y4mVideo}
    val tb = text.getBytes("US-ASCII")
    def plane(start: Int, n: Int): Array[Int] =
      Array.tabulate(n)(i =>
        if (start + i < tb.length) tb(start + i) & 0xff else 0)
    val frames = Array.tabulate(nFrames) { f =>
      val off = f * 24
      VideoFrame(plane(off, 16), plane(off + 16, 4), plane(off + 20, 4))
    }
    graft.multimodal.Y4mCodec.encode(Y4mVideo(4, 4, "420jpeg", frames))
  }

  private def y4mMedia(s: SparkSession, d: String,
      cap: Long = Long.MaxValue) = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.operators.Skew.spreadScan(
      if (cap == Long.MaxValue) docs else docs.filter(col("doc_id") < cap))
      .as[(Long, String)]
      .map { case (id, text) =>
        Media(id, "video", y4mPayload(text, 3), 4, 4, 0)
      }
  }

  /** #47h REAL video container decode (r20): every doc becomes a
    * 3-frame YUV4MPEG2 stream, [[graft.multimodal.Y4mCodec.decode]]
    * walks the header grammar and TRUE frame boundaries for real
    * (replacing the byte-window stub [[mmFrames]] documents), and the
    * surfaced per-frame exact luma statistics are recomputed by
    * DuckDB from the same source bytes. */
  def mmVideoFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.videoFrameStats(y4mMedia(s, d)).toDF()
      .withColumn("y_mean",
        col("y_sum").cast("double") / col("n_pixels"))

  /** #47i Per-frame embeddings through the SAME grid kernel the image
    * tier uses (r20 — the temporal-dedup input): each 4×4 luma plane
    * → 2×2 grid of mean-pooled patches, centered by the frame's own
    * mean ([[graft.multimodal.Multimodal.gridFeatureVec]] — integer
    * sums, one division and one subtraction per feature, bit-exact in
    * DuckDB). Keyed by (media_id, frame_idx), the shape
    * [[graft.operators.GraphDedup.knnGraphDedup]] consumes for
    * temporal near-dup detection. */
  def mmVideoEmbed(s: SparkSession, d: String): DataFrame =
    Multimodal.embedVideoFrames(y4mMedia(s, d), 2, 2).toDF()
      .select(col("media_id"), col("frame_idx"),
        posexplode(col("e")).as(Seq("pos", "f")))

  /** #47j TEMPORAL near-dup dedup at FRAME granularity (r20 — the
    * [[mmDedup]] composition one level down: duplicate FRAMES across
    * and within videos, the shot/still-dedup pass a video corpus
    * pipeline runs before training): real Y4M decode → per-frame 4×4
    * grid features (= the centered luma pixels of a 4×4 frame — the
    * finest grid, because 4-feature contours of random frames land
    * arbitrarily close in angle: measured background p100 0.99996 at
    * 2×2 vs 0.99988 at 4×4, where true duplicate frames sit at
    * exactly 1.0) → exact cosine kNN over frame nodes (id = 3·media
    * + frame_idx) → mutual components at τ = 0.9999. At sf0.01 this
    * finds the 21 planted-pair frames AND two genuine cross-video
    * byte-window coincidences. Constant cost at every sf (300-doc cap
    * = 900 frame nodes). */
  def mmVideoDedup(s: SparkSession, d: String): DataFrame = {
    val frames = Multimodal.embedVideoFrames(y4mMedia(s, d, cap = 300),
        4, 4).toDF()
      .select((col("media_id") * 3 + col("frame_idx")).as("media_id"),
        col("decoded"), col("e"))
    val nodes = Tables.documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") < 300)
      .select(explode(array(lit(0), lit(1), lit(2))).as("fr"),
        col("doc_id"))
      .select((col("doc_id") * 3 + col("fr")).as("id"))
    graft.operators.GraphDedup.knnGraphDedup(
        exactMediaGraph(frames, k = 3), nodes, tau = 0.9999)
      .select(expr("id DIV 3").as("media_id"),
        pmod(col("id"), lit(3)).cast("int").as("frame_idx"),
        col("component"), col("n_members"), col("keep"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features" -> (mmFeatures _),
    "mm_frames" -> (mmFrames _),
    "mm_decode" -> (mmDecode _),
    "mm_resize" -> (mmResize _),
    "mm_embed" -> (mmEmbed _),
    "mm_dedup" -> (mmDedup _),
    "mm_audio_stats" -> (mmAudioStats _),
    "mm_resize_rgb" -> (mmResizeRgb _),
    "mm_audio_embed" -> (mmAudioEmbed _),
    "mm_audio_dedup" -> (mmAudioDedup _),
    "mm_video_frames" -> (mmVideoFrames _),
    "mm_video_embed" -> (mmVideoEmbed _),
    "mm_video_dedup" -> (mmVideoDedup _))

  val oracles: Map[String, String] = Map(
    "mm_features" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN lang = 'en' THEN 'image' ELSE 'audio' END AS kind,
        |  octet_length(encode(text)) AS n_bytes, 16 AS n_feat
        |FROM documents""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(f * 256 AS INT) AS frame_off
        |FROM (
        |  SELECT doc_id, unnest(range(0,
        |    greatest(octet_length(encode(text)) // 256, 1))) AS f
        |  FROM documents) t""".stripMargin,
    // pixels = the first 128 ASCII bytes zero-padded; ord(char) is the
    // byte because the corpus is ASCII (checked: octet_length == len
    // corpus-wide); the mean divides the exact integer sum like Spark
    "mm_decode" ->
      """WITH b AS (
        |  SELECT doc_id, list_transform(range(1, 129), i ->
        |    CASE WHEN i <= len(text)
        |         THEN ord(substr(text, CAST(i AS INTEGER), 1))
        |         ELSE 0 END) AS px
        |  FROM documents)
        |SELECT doc_id AS media_id, TRUE AS decoded, 16 AS width,
        |  8 AS height, 1 AS channels, 128 AS n_pixels,
        |  CAST(list_sum(px) AS BIGINT) AS px_sum,
        |  CAST(list_min(px) AS INTEGER) AS px_min,
        |  CAST(list_max(px) AS INTEGER) AS px_max,
        |  CAST(list_sum(px) AS DOUBLE) / 128 AS px_mean
        |FROM b""".stripMargin,
    // nearest-neighbor 16x8 -> 4x4: src index = 32y + 4x (0-based), so
    // the sampled 1-based text positions are the fixed list below
    "mm_resize" ->
      """SELECT doc_id AS media_id, 4 AS width, 4 AS height,
        |  array_to_string(list_transform(
        |    [1,5,9,13,33,37,41,45,65,69,73,77,97,101,105,109], i ->
        |    CAST(CASE WHEN i <= len(text)
        |              THEN ord(substr(text, CAST(i AS INTEGER), 1))
        |              ELSE 0 END AS VARCHAR)), ',') AS pixels
        |FROM documents""".stripMargin,
    // the 16x8 raster's 4x4 feature grid: patch (p//4, p%4) pools the
    // 4x2 pixel block at rows 2*(p//4).., cols 4*(p%4)..; byte index
    // of pixel (y,x) is 16y + x (0-based -> +1 for substr). Each
    // feature = integer patch sum / 8.0 minus the global mean
    // sum/128.0 - the identical IEEE op sequence as gridFeatureVec
    "mm_embed" ->
      s"""WITH b AS (
         |  SELECT doc_id, list_transform(range(1, 129), i ->
         |    CASE WHEN i <= len(text)
         |         THEN ord(substr(text, CAST(i AS INTEGER), 1))
         |         ELSE 0 END) AS px
         |  FROM documents),
         |f AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 16), p ->
         |      CAST(list_sum(list_transform(range(0, 8), j ->
         |        px[1 + 16*(2*(p//4) + (j//4)) + (4*(p%4) + (j%4))]
         |      )) AS DOUBLE) / 8.0) AS pf,
         |    CAST(list_sum(px) AS DOUBLE) / 128.0 AS mu
         |  FROM b)
         |SELECT doc_id AS media_id, CAST(p AS INT) AS pos,
         |  pf[CAST(p + 1 AS INTEGER)] - mu AS f
         |FROM f, range(0, 16) t(p)""".stripMargin,
    // mm_embed's feature replay -> exact cosine kNN (k=3) -> mutual
    // edges at 0.99 on both directions -> recursive component walk
    // (the emb_knn_dedup oracle pattern over PIXEL features)
    "mm_dedup" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT doc_id, list_transform(range(1, 129), i ->
         |    CASE WHEN i <= len(text)
         |         THEN ord(substr(text, CAST(i AS INTEGER), 1))
         |         ELSE 0 END) AS px
         |  FROM documents WHERE doc_id < 300),
         |f AS (
         |  SELECT doc_id,
         |    list_transform(range(0, 16), p ->
         |      CAST(list_sum(list_transform(range(0, 8), j ->
         |        px[1 + 16*(2*(p//4) + (j//4)) + (4*(p%4) + (j%4))]
         |      )) AS DOUBLE) / 8.0) AS pf,
         |    CAST(list_sum(px) AS DOUBLE) / 128.0 AS mu
         |  FROM b),
         |c AS (SELECT doc_id, list_transform(pf, x -> x - mu) AS e FROM f),
         |n AS (SELECT doc_id, e, sqrt(list_dot_product(e, e)) AS nrm
         |  FROM c WHERE list_dot_product(e, e) > 0),
         |g AS (SELECT query_id, neighbor_id, qcos FROM (
         |  SELECT a.doc_id AS query_id, b2.doc_id AS neighbor_id,
         |    list_dot_product(a.e, b2.e) / (b2.nrm * a.nrm) AS qcos,
         |    ROW_NUMBER() OVER (PARTITION BY a.doc_id
         |      ORDER BY list_dot_product(a.e, b2.e) / (b2.nrm * a.nrm)
         |        DESC, b2.doc_id ASC) AS rnk
         |  FROM n a JOIN n b2 ON a.doc_id <> b2.doc_id) t
         |  WHERE rnk <= 3),
         |mutual AS (
         |  SELECT a.query_id AS u, a.neighbor_id AS v2
         |  FROM g a JOIN g b ON b.query_id = a.neighbor_id
         |    AND b.neighbor_id = a.query_id
         |  WHERE a.query_id < a.neighbor_id
         |    AND a.qcos >= 0.99 AND b.qcos >= 0.99),
         |edges AS (SELECT u, v2 FROM mutual
         |          UNION SELECT v2, u FROM mutual),
         |walk(id, r2) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) nn
         |  UNION
         |  SELECT w.id, e2.v2 FROM walk w JOIN edges e2 ON e2.u = w.r2),
         |comp AS (SELECT id, MIN(r2) AS component FROM walk GROUP BY id)
         |SELECT d.doc_id AS media_id,
         |  COALESCE(c2.component, d.doc_id) AS component,
         |  COUNT(*) OVER (PARTITION BY COALESCE(c2.component, d.doc_id))
         |    AS n_members,
         |  d.doc_id = COALESCE(c2.component, d.doc_id) AS keep
         |FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
         |LEFT JOIN comp c2 ON c2.id = d.doc_id""".stripMargin,
    // nearest-neighbor 4x8 RGB -> 2x2: src (y,x) in {0,4}x{0,2}, byte
    // base ((4y + x)*3), so the twelve 1-based sampled text positions
    // are the fixed triples below
    "mm_resize_rgb" ->
      """SELECT doc_id AS media_id, 2 AS width, 2 AS height,
        |  array_to_string(list_transform(
        |    [1,2,3,7,8,9,49,50,51,55,56,57], i ->
        |    CAST(CASE WHEN i <= len(text)
        |              THEN ord(substr(text, CAST(i AS INTEGER), 1))
        |              ELSE 0 END AS VARCHAR)), ',') AS pixels
        |FROM documents""".stripMargin,
    // 64 samples -> 8 windows of 8: window w pools squares of
    // samples 8w+1..8w+8 (1-based), feature = winSum/8.0 - total/64.0
    // - the identical IEEE sequence as audioEnergyVec
    "mm_audio_embed" ->
      """WITH sm AS (
        |  SELECT doc_id, list_transform(range(0, 64), j ->
        |    (CASE WHEN 2*j + 1 <= len(text)
        |          THEN ord(substr(text, CAST(2*j + 1 AS INTEGER), 1))
        |          ELSE 0 END)
        |    + 256 * (CASE WHEN 2*j + 2 <= len(text)
        |          THEN ord(substr(text, CAST(2*j + 2 AS INTEGER), 1))
        |          ELSE 0 END)) AS sv
        |  FROM documents),
        |sq AS (SELECT doc_id,
        |  list_transform(sv, x -> CAST(x AS BIGINT) * x) AS s2,
        |  CAST(list_sum(list_transform(sv, x -> CAST(x AS BIGINT) * x))
        |    AS DOUBLE) / 64.0 AS mu
        |  FROM sm)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS pos,
        |  CAST(list_sum(list_slice(s2, CAST(8*w + 1 AS INTEGER),
        |    CAST(8*w + 8 AS INTEGER))) AS DOUBLE) / 8.0 - mu AS f
        |FROM sq, range(0, 8) t(w)""".stripMargin,
    // frame fr of the 3-frame 4x4 4:2:0 stream consumes text bytes
    // 24*fr+1 .. 24*fr+24 (1-based); its Y plane is the first 16 —
    // exact integer stats like mm_decode, per TRUE container frame
    "mm_video_frames" ->
      """WITH b AS (
        |  SELECT doc_id, fr, list_transform(range(1, 17), i ->
        |    CASE WHEN 24*fr + i <= len(text)
        |         THEN ord(substr(text, CAST(24*fr + i AS INTEGER), 1))
        |         ELSE 0 END) AS py
        |  FROM documents, range(0, 3) t(fr))
        |SELECT doc_id AS media_id, CAST(fr AS INT) AS frame_idx,
        |  TRUE AS decoded, 4 AS width, 4 AS height, 16 AS n_pixels,
        |  CAST(list_sum(py) AS BIGINT) AS y_sum,
        |  CAST(list_min(py) AS INTEGER) AS y_min,
        |  CAST(list_max(py) AS INTEGER) AS y_max,
        |  CAST(list_sum(py) AS DOUBLE) / 16 AS y_mean
        |FROM b""".stripMargin,
    // each 4x4 luma plane's 2x2 feature grid: patch (p//2, p%2) pools
    // the 2x2 pixel block at rows 2*(p//2).., cols 2*(p%2)..; Y index
    // of pixel (y,x) is 4y + x (0-based -> +1 for the list) — the
    // mm_embed replay at frame granularity
    "mm_video_embed" ->
      """WITH b AS (
        |  SELECT doc_id, fr, list_transform(range(1, 17), i ->
        |    CASE WHEN 24*fr + i <= len(text)
        |         THEN ord(substr(text, CAST(24*fr + i AS INTEGER), 1))
        |         ELSE 0 END) AS py
        |  FROM documents, range(0, 3) t(fr)),
        |f2 AS (
        |  SELECT doc_id, fr,
        |    list_transform(range(0, 4), p ->
        |      CAST(list_sum(list_transform(range(0, 4), j ->
        |        py[1 + 4*(2*(p//2) + (j//2)) + (2*(p%2) + (j%2))]
        |      )) AS DOUBLE) / 4.0) AS pf,
        |    CAST(list_sum(py) AS DOUBLE) / 16.0 AS mu
        |  FROM b)
        |SELECT doc_id AS media_id, CAST(fr AS INT) AS frame_idx,
        |  CAST(p AS INT) AS pos,
        |  pf[CAST(p + 1 AS INTEGER)] - mu AS f
        |FROM f2, range(0, 4) t2(p)""".stripMargin,
    // per-frame 16-dim centered luma vectors (4x4 grid over a 4x4
    // frame = the centered pixels) -> exact cosine kNN over frame
    // nodes fid = 3*doc + fr -> mutual edges at 0.9999 -> recursive
    // walk -> project fid back to (media_id, frame_idx)
    "mm_video_dedup" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT doc_id, fr, list_transform(range(1, 17), i ->
         |    CASE WHEN 24*fr + i <= len(text)
         |         THEN ord(substr(text, CAST(24*fr + i AS INTEGER), 1))
         |         ELSE 0 END) AS py
         |  FROM documents, range(0, 3) t(fr) WHERE doc_id < 300),
         |f2 AS (
         |  SELECT doc_id*3 + fr AS fid,
         |    list_transform(py, x -> CAST(x AS DOUBLE)
         |      - CAST(list_sum(py) AS DOUBLE) / 16.0) AS e
         |  FROM b),
         |n AS (SELECT fid, e, sqrt(list_dot_product(e, e)) AS nrm
         |  FROM f2 WHERE list_dot_product(e, e) > 0),
         |g AS (SELECT query_id, neighbor_id, qcos FROM (
         |  SELECT a.fid AS query_id, b2.fid AS neighbor_id,
         |    list_dot_product(a.e, b2.e) / (b2.nrm * a.nrm) AS qcos,
         |    ROW_NUMBER() OVER (PARTITION BY a.fid
         |      ORDER BY list_dot_product(a.e, b2.e) / (b2.nrm * a.nrm)
         |        DESC, b2.fid ASC) AS rnk
         |  FROM n a JOIN n b2 ON a.fid <> b2.fid) t
         |  WHERE rnk <= 3),
         |mutual AS (
         |  SELECT a.query_id AS u, a.neighbor_id AS v2
         |  FROM g a JOIN g b ON b.query_id = a.neighbor_id
         |    AND b.neighbor_id = a.query_id
         |  WHERE a.query_id < a.neighbor_id
         |    AND a.qcos >= 0.9999 AND b.qcos >= 0.9999),
         |edges AS (SELECT u, v2 FROM mutual
         |          UNION SELECT v2, u FROM mutual),
         |walk(id, r2) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) nn
         |  UNION
         |  SELECT w.id, e2.v2 FROM walk w JOIN edges e2 ON e2.u = w.r2),
         |comp AS (SELECT id, MIN(r2) AS component FROM walk GROUP BY id),
         |ids AS (SELECT doc_id*3 + fr AS id FROM
         |  (SELECT doc_id FROM documents WHERE doc_id < 300) d,
         |  range(0, 3) t(fr))
         |SELECT CAST(ids.id // 3 AS BIGINT) AS media_id,
         |  CAST(ids.id % 3 AS INT) AS frame_idx,
         |  COALESCE(c2.component, ids.id) AS component,
         |  COUNT(*) OVER (PARTITION BY COALESCE(c2.component, ids.id))
         |    AS n_members,
         |  ids.id = COALESCE(c2.component, ids.id) AS keep
         |FROM ids LEFT JOIN comp c2 ON c2.id = ids.id""".stripMargin,
    // the mm_audio_embed contour replay -> exact cosine kNN (k=3) ->
    // mutual edges at 0.999 on both directions -> recursive component
    // walk (the mm_dedup oracle pattern over ENERGY-CONTOUR features)
    "mm_audio_dedup" ->
      s"""WITH RECURSIVE sm AS (
         |  SELECT doc_id, list_transform(range(0, 64), j ->
         |    (CASE WHEN 2*j + 1 <= len(text)
         |          THEN ord(substr(text, CAST(2*j + 1 AS INTEGER), 1))
         |          ELSE 0 END)
         |    + 256 * (CASE WHEN 2*j + 2 <= len(text)
         |          THEN ord(substr(text, CAST(2*j + 2 AS INTEGER), 1))
         |          ELSE 0 END)) AS sv
         |  FROM documents WHERE doc_id < 300),
         |sq AS (SELECT doc_id,
         |  list_transform(sv, x -> CAST(x AS BIGINT) * x) AS s2,
         |  CAST(list_sum(list_transform(sv, x -> CAST(x AS BIGINT) * x))
         |    AS DOUBLE) / 64.0 AS mu
         |  FROM sm),
         |f AS (SELECT doc_id, list_transform(range(0, 8), w ->
         |  CAST(list_sum(list_slice(s2, CAST(8*w + 1 AS INTEGER),
         |    CAST(8*w + 8 AS INTEGER))) AS DOUBLE) / 8.0 - mu) AS e
         |  FROM sq),
         |n AS (SELECT doc_id, e, sqrt(list_dot_product(e, e)) AS nrm
         |  FROM f WHERE list_dot_product(e, e) > 0),
         |g AS (SELECT query_id, neighbor_id, qcos FROM (
         |  SELECT a.doc_id AS query_id, b2.doc_id AS neighbor_id,
         |    list_dot_product(a.e, b2.e) / (b2.nrm * a.nrm) AS qcos,
         |    ROW_NUMBER() OVER (PARTITION BY a.doc_id
         |      ORDER BY list_dot_product(a.e, b2.e) / (b2.nrm * a.nrm)
         |        DESC, b2.doc_id ASC) AS rnk
         |  FROM n a JOIN n b2 ON a.doc_id <> b2.doc_id) t
         |  WHERE rnk <= 3),
         |mutual AS (
         |  SELECT a.query_id AS u, a.neighbor_id AS v2
         |  FROM g a JOIN g b ON b.query_id = a.neighbor_id
         |    AND b.neighbor_id = a.query_id
         |  WHERE a.query_id < a.neighbor_id
         |    AND a.qcos >= 0.999 AND b.qcos >= 0.999),
         |edges AS (SELECT u, v2 FROM mutual
         |          UNION SELECT v2, u FROM mutual),
         |walk(id, r2) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) nn
         |  UNION
         |  SELECT w.id, e2.v2 FROM walk w JOIN edges e2 ON e2.u = w.r2),
         |comp AS (SELECT id, MIN(r2) AS component FROM walk GROUP BY id)
         |SELECT d.doc_id AS media_id,
         |  COALESCE(c2.component, d.doc_id) AS component,
         |  COUNT(*) OVER (PARTITION BY COALESCE(c2.component, d.doc_id))
         |    AS n_members,
         |  d.doc_id = COALESCE(c2.component, d.doc_id) AS keep
         |FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
         |LEFT JOIN comp c2 ON c2.id = d.doc_id""".stripMargin,
    // int16 little-endian from text byte pairs (zero-padded to 64
    // samples); ASCII corpus -> b1 < 128 -> all samples positive, so
    // no sign arithmetic is needed in the replay
    "mm_audio_stats" ->
      """WITH sm AS (
        |  SELECT doc_id, list_transform(range(0, 64), j ->
        |    (CASE WHEN 2*j + 1 <= len(text)
        |          THEN ord(substr(text, CAST(2*j + 1 AS INTEGER), 1))
        |          ELSE 0 END)
        |    + 256 * (CASE WHEN 2*j + 2 <= len(text)
        |          THEN ord(substr(text, CAST(2*j + 2 AS INTEGER), 1))
        |          ELSE 0 END)) AS sv
        |  FROM documents)
        |SELECT doc_id AS media_id, TRUE AS decoded, 1 AS channels,
        |  8000 AS sample_rate, 64 AS n_samples,
        |  CAST(list_sum(sv) AS BIGINT) AS s_sum,
        |  CAST(list_min(sv) AS INTEGER) AS s_min,
        |  CAST(list_max(sv) AS INTEGER) AS s_max,
        |  CAST(list_sum(sv) AS DOUBLE) / 64 AS s_mean
        |FROM sm""".stripMargin)
}
