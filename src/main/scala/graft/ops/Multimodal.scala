package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, plus decode / feature-extract / frame-sample stages.
  * The reference decodes JPEGs with OpenCV inside RDD closures
  * (/root/reference/kmeans_clustering/image_classification.py:77-97).
  * Two decode paths here share one mapPartitions seam:
  *  - the ORACLE path (`decodeStub` over the documents-derived media
  *    table) keeps byte-level features so DuckDB can check the full
  *    Spark plumbing bit-for-bit;
  *  - the LIVE path (`decodeJpegGray32`/`decodeReal`, query
  *    mm_decode_real) really decodes the reference repo's JPEGs with
  *    JDK javax.imageio → 32×32 gray → F1 stats, matching the
  *    reference's cv2 pipeline shape.
  * Every Spark-side seam is real in both: binary column schema, typed
  * Dataset batches via mapPartitions, metadata struct, frame slicing,
  * partition-parallel execution.
  *
  * The media table derives from documents (text bytes as payload — pure
  * ASCII, verified, so byte i == ascii(char i) and the stub is
  * oracle-checkable in DuckDB).
  *
  * Scale notes: payloads stay in one binary cell per row — parquet
  * stores them as byte arrays with column pruning, so metadata-only
  * queries never read payload bytes (ReadSchema shows the pruned
  * struct). Decode runs mapPartitions — one JVM-side iterator per
  * parquet row-group, the same batch shape a Pandas-UDF/Arrow pipeline
  * has — embarrassingly parallel, no shuffle.
  */
object Multimodal {

  import Tables._

  final case class MediaRow(media_id: Long, content: Array[Byte], fmt: String)
  final case class MediaFeatures(media_id: Long, n_bytes: Long,
                                 features: Array[Double])

  /** documents → media table: payload bytes + metadata struct. */
  def media(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      struct(
        col("source").as("origin"),
        col("n_chars").as("declared_len"),
        lit("text/plain").as("mime")
      ).as("meta"))

  /** STUB decode kernel for the documents-derived media table (payloads
    * are text bytes, so this stays DuckDB-oracle-checkable).
    * Deterministic byte-level "features": first 8 payload bytes. The
    * LIVE image path is decodeJpegGray32/decodeReal below — same seam,
    * real javax.imageio decode. */
  def decodeStub(content: Array[Byte]): Array[Double] =
    content.take(8).map(b => (b & 0xff).toDouble)

  final case class AudioFrame(media_id: Long, win_id: Long, n_samples: Long,
                              sumsq: Long, zcr: Long)

  /** AUDIO stub kernel: payload bytes as synthetic 8-bit PCM (sample =
    * byte − 100, centered near the corpus's lowercase-letter byte range
    * so the derived signal actually crosses zero at word boundaries —
    * a deterministic fake per the multimodal-stub convention; a real
    * PCM/FLAC decoder drops into this exact seam). Per 256-sample
    * window: exact integer sum of squares (|s| ≤ 155 → s² ≤ 24 025,
    * ×256 ≪ 2⁶³) and the zero-crossing count (sign(s_i) ≠ sign(s_{i+1}),
    * zero counted nonnegative). RMS = sqrt(sumsq/n) is computed later in
    * ONE double expression from the exact integers — bit-identical on
    * both engines (sqrt and division are IEEE-exact). */
  def pcmFrames(mediaId: Long, content: Array[Byte], win: Int): Seq[AudioFrame] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[AudioFrame]
    var w = 0
    while (w * win < content.length) {
      val start = w * win
      val end = math.min(start + win, content.length)
      var i = start; var sumsq = 0L; var zcr = 0L
      var prevNonNeg = false; var first = true
      while (i < end) {
        val v = (content(i) & 0xff) - 100
        sumsq += v.toLong * v
        val nonNeg = v >= 0
        if (!first && nonNeg != prevNonNeg) zcr += 1
        prevNonNeg = nonNeg; first = false
        i += 1
      }
      out += AudioFrame(mediaId, w.toLong, (end - start).toLong, sumsq, zcr)
      w += 1
    }
    out.toSeq
  }

  // ── S4 live path: real JPEG decode (JDK javax.imageio — no new dep) ──
  // Mirrors the reference's cv2.imread → resize(32,32) → BGR2GRAY
  // (image_classification.py:77-97): decode, deterministic area-average
  // resize to 32×32 (pure integer-grid math — no platform-dependent
  // Graphics2D filtering), BT.601 luma (the same 0.299/0.587/0.114
  // weights cv2 uses), then the F1 stats (:173-185).

  /** JPEG bytes → 32×32 grayscale plane (row-major, values 0..255). */
  def decodeJpegGray32(bytes: Array[Byte]): Array[Double] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    // ImageIO.read signals an unsupported/corrupt payload with null, not
    // an exception — without this check the executor dies on an opaque
    // NPE instead of naming the bad record.
    require(img != null,
      s"undecodable image payload (${bytes.length} bytes) — not a supported JPEG")
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Double](32 * 32)
    var ty = 0
    while (ty < 32) {
      val y0 = ty * h / 32; val y1 = math.max((ty + 1) * h / 32, y0 + 1)
      var tx = 0
      while (tx < 32) {
        val x0 = tx * w / 32; val x1 = math.max((tx + 1) * w / 32, x0 + 1)
        var sum = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        out(ty * 32 + tx) = sum / n
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** JPEG bytes → 32×32 RGB planes (row-major, uint8 0..255): the same
    * integer-grid block resize as [[decodeJpegGray32]] but per channel,
    * block means rounded half-up to uint8 — the color input the
    * reference's extract_color_histogram consumes
    * (image_classification.py:136-171). */
  def decodeJpegRgb32(bytes: Array[Byte]): (Array[Int], Array[Int], Array[Int]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null,
      s"undecodable image payload (${bytes.length} bytes) — not a supported JPEG")
    val (w, h) = (img.getWidth, img.getHeight)
    val (ro, go, bo) = (new Array[Int](1024), new Array[Int](1024), new Array[Int](1024))
    var ty = 0
    while (ty < 32) {
      val y0 = ty * h / 32; val y1 = math.max((ty + 1) * h / 32, y0 + 1)
      var tx = 0
      while (tx < 32) {
        val x0 = tx * w / 32; val x1 = math.max((tx + 1) * w / 32, x0 + 1)
        var (sr, sg, sb) = (0L, 0L, 0L); var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            n += 1; x += 1
          }
          y += 1
        }
        // round-half-up block mean, exactly (2*sum + n) / (2*n) in ints
        val i = ty * 32 + tx
        ro(i) = ((2 * sr + n) / (2 * n)).toInt
        go(i) = ((2 * sg + n) / (2 * n)).toInt
        bo(i) = ((2 * sb + n) / (2 * n)).toInt
        tx += 1
      }
      ty += 1
    }
    (ro, go, bo)
  }

  /** The queries that read [[JpegDir]] through [[jpegBytes]]: the live
    * S4 decode (`mm_decode_real`, below) and the seven live S5 pixel
    * kernels in Image.scala. No other query reads the corpus, so every
    * other query can be built and run without it (perfbench's
    * `workloads.json` excludes the same eight names for that reason). */
  val CorpusQueries: Set[String] = Set(
    "img_ahash", "img_blur_stats", "img_contour_features", "img_find_edges",
    "img_glcm_texture", "img_hsv_histogram", "img_whash", "mm_decode_real")

  /** Default JPEG corpus: the reference repo's own 20 test images
    * (`Cat1..10.jpeg`, `Dog1..10.jpeg`; read-only). The directory lies
    * outside this repository; [[CorpusQueries]] are the queries that
    * read it. Where it is absent, building any of them raises
    * `AnalysisException` `[PATH_NOT_FOUND]` naming this path (the
    * `binaryFile` source checks its path when the DataFrame is built,
    * before any action); PlanSpec's window sweep asserts that. */
  val JpegDir = "/root/reference/data"

  final case class ImageStats(file: String, n_pixels: Long, mean: Double,
                              std: Double, median: Double, vmin: Double, vmax: Double)

  /** The reference's per-image F1 stats over a decoded gray plane. */
  def imageStats(name: String, gray: Array[Double]): ImageStats = {
    val n = gray.length
    val mean = gray.sum / n
    val std = math.sqrt(gray.map(x => (x - mean) * (x - mean)).sum / n)
    val sorted = gray.sorted
    val median =
      if (n % 2 == 0) (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0 else sorted(n / 2)
    ImageStats(name, n.toLong, mean, std, median, sorted.head, sorted.last)
  }

  /** The (file, bytes) JPEG source stage — the ONE place the corpus
    * dir, glob, and filename extraction live (Image.scala's pixel
    * kernels read the same Dataset, so a corpus change can't desync
    * the live paths). */
  def jpegBytes(s: SparkSession, dir: String = JpegDir): org.apache.spark.sql.Dataset[(String, Array[Byte])] = {
    import s.implicits._
    s.read.format("binaryFile").option("pathGlobFilter", "*.jpeg").load(dir)
      .select(element_at(split(col("path"), "/"), -1).as("file"), col("content"))
      .as[(String, Array[Byte])]
  }

  /** binaryFile source → per-partition decode → stats. Same
    * mapPartitions seam as the stub path; payloads never shuffle. */
  def decodeReal(s: SparkSession, dir: String = JpegDir): DataFrame = {
    import s.implicits._
    jpegBytes(s, dir)
      .mapPartitions(_.map { case (f, bytes) => imageStats(f, decodeJpegGray32(bytes)) })
      .toDF()
  }

  /** Typed batch decode: one iterator per partition (row-group), the
    * batch seam where a vectorized decoder would run. */
  def decodeFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d)
      .select(col("media_id"), col("content"), col("meta.mime").as("fmt"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          MediaFeatures(r.media_id, r.content.length.toLong, decodeStub(r.content))
        }
      }
      .toDF()
  }

  val queries: Seq[Q] = Seq(
    // ── metadata-only scan: payload column must be pruned away ─────────
    Q(
      "mm_meta_only",
      (s, d) =>
        media(s, d)
          .select(col("media_id"), col("meta.origin").as("origin"),
            col("meta.declared_len").as("declared_len"))
          .groupBy("origin")
          .agg(count(lit(1)).as("n"), sum(col("declared_len")).as("total_len"))
          .orderBy("origin"),
      Some("""SELECT source AS origin, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS total_len
             |FROM documents GROUP BY 1 ORDER BY origin""".stripMargin)
    ),

    // ── payload integrity: byte length + content hash ──────────────────
    Q(
      "mm_payload_hash",
      (s, d) =>
        media(s, d)
          .select(col("media_id"),
            length(col("content")).as("n_bytes"),
            md5(col("content")).as("payload_md5"))
          .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
             |  md5(text) AS payload_md5
             |FROM documents ORDER BY media_id""".stripMargin)
    ),

    // ── batch decode via typed mapPartitions (stub kernel) ─────────────
    // Oracle works because payloads are ASCII: byte i == ascii(char i).
    // The feature vector (whole-number byte values) is serialized
    // "b1,...,b8" — the driver comparator hashes scalar cells only, and
    // integer→string is format-identical on both engines.
    Q(
      "mm_decode_features",
      (s, d) => decodeFeatures(s, d)
        .select(col("media_id"), col("n_bytes"),
          array_join(transform(col("features"), _.cast("long").cast("string")), ",")
            .as("features"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS n_bytes,
             |  array_to_string(list_transform(range(1, least(length(text), 8) + 1),
             |                                 i -> CAST(ascii(text[i:i]) AS VARCHAR)), ',') AS features
             |FROM documents ORDER BY media_id""".stripMargin)
    ),

    // ── S4 LIVE: real JPEG decode → 32×32 gray → F1 stats ──────────────
    // DuckDB has no JPEG codec, so this is a rows-only driver check; the
    // distributed result is cross-checked against a local single-image
    // decode in MultimodalSpec. The sf dir is unused — the corpus is the
    // reference repo's 20 JPEGs.
    Q(
      "mm_decode_real",
      (s, _) => decodeReal(s).orderBy("file"),
      None
    ),

    // ── frame sampling: slice payload into 4 equal frames ──────────────
    // (the video-frame-sample shape: substr on binary is an O(1) slice,
    // no copy of the rest of the payload)
    Q(
      "mm_frame_sample",
      (s, d) => {
        media(s, d)
          .select(col("media_id"),
            explode(array((0 until 4).map(f =>
              struct(lit(f).as("frame"),
                md5(substring(col("content"), f * 100 + 1, 100)).as("frame_md5"))): _*)).as("fr"))
          .select(col("media_id"), col("fr.frame"), col("fr.frame_md5"))
          .orderBy("media_id", "frame")
      },
      Some("""SELECT doc_id AS media_id, f AS frame,
             |  md5(substr(text, f * 100 + 1, 100)) AS frame_md5
             |FROM documents, (SELECT unnest([0, 1, 2, 3]) AS f)
             |ORDER BY media_id, frame""".stripMargin)
    ),

    // ── audio-modality windowed features (RMS energy + zero crossings) ─
    // The audio counterpart of the frame-sample stage: payloads as
    // synthetic PCM, framed into 256-sample windows by the typed
    // mapPartitions kernel (the seam a real audio decoder occupies —
    // embarrassingly parallel, payloads never shuffle), then RMS from
    // the exact integer sum-of-squares in one double expression. The
    // oracle replays the framing relationally: explode samples with an
    // index, window = idx/256, lag() for the crossing test.
    Q(
      "mm_audio_energy",
      (s, d) => {
        import s.implicits._
        media(s, d)
          .select(col("media_id"), col("content"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, bytes) => pcmFrames(id, bytes, 256) })
          .toDF()
          .select(col("media_id"), col("win_id"), col("n_samples"), col("zcr"),
            sqrt(col("sumsq").cast("double") / col("n_samples")).as("rms"))
          .orderBy("media_id", "win_id")
      },
      Some("""WITH e AS (
             |  SELECT doc_id AS media_id, CAST(i - 1 AS BIGINT) AS idx,
             |    ascii(text[CAST(i AS INT)]) - 100 AS v
             |  FROM documents, LATERAL unnest(range(1, len(text) + 1)) AS t(i)),
             |g AS (
             |  SELECT media_id, idx // 256 AS win_id, v,
             |    lag(v) OVER (PARTITION BY media_id, idx // 256 ORDER BY idx) AS pv
             |  FROM e),
             |f AS (
             |  SELECT media_id, win_id, CAST(count(*) AS BIGINT) AS n_samples,
             |    CAST(sum(v * v) AS BIGINT) AS sumsq,
             |    CAST(sum(CASE WHEN pv IS NOT NULL AND ((v >= 0) <> (pv >= 0))
             |                  THEN 1 ELSE 0 END) AS BIGINT) AS zcr
             |  FROM g GROUP BY media_id, win_id)
             |SELECT media_id, win_id, n_samples, zcr,
             |  sqrt(CAST(sumsq AS DOUBLE) / n_samples) AS rms
             |FROM f ORDER BY media_id, win_id""".stripMargin)
    ),

    // ── cross-modality fusion: text features ⋈ embedding features ──────
    // The training-example assembly step: per-example text signals and
    // vector signals come from different tables and meet on the example
    // id — a 1:1 equi-join that stays broadcast/co-partitioned at scale
    // (both sides pre-pruned to the needed columns; the scan reads 2 of
    // each table's columns). The embedding norm folds sequentially over
    // the array's storage order, identical on both engines.
    Q(
      "mm_fusion_features",
      (s, d) => {
        import graft.ops.Vector.{seqSum, vec}
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), length(col("text")).as("n_chars"))
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), vec(col("embedding")).as("v"))
        docs.join(emb, col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("n_chars"),
            seqSum(transform(col("v"), x => x * x)).as("norm_sq"))
          .orderBy("doc_id")
      },
      Some {
        import graft.ops.Vector.{sqlSeqSum, sqlVec}
        s"""SELECT d.doc_id, length(d.text) AS n_chars,
           |  ${sqlSeqSum(s"list_transform(${sqlVec("e.embedding")}, x -> x * x)")} AS norm_sq
           |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
           |ORDER BY d.doc_id""".stripMargin
      }
    ),

    // ── video scene-change detection over the frame stream ─────────────
    // The shot-boundary primitive every video-curation pipeline runs:
    // sample frames (mm_frame_sample's slicing, here ALL 100-byte
    // frames, not just 4), reduce each to a scalar "luma" (exact byte
    // sum — the stub stands where a real decoder's mean-pixel sits, same
    // seam as decodeStub), then flag frames whose luma jumps > τ from
    // the previous frame via one lag() over the per-media frame index.
    // SCALE: per-char explode is narrow (no shuffle); the only exchange
    // is the (media_id, frame) partial-agg + the per-media window —
    // frames-per-video is bounded, so partitions stay small at 100 TB.
    // All-integer arithmetic → hash-exact on both engines.
    Q(
      "mm_scene_change",
      (s, d) => {
        val w = Window.partitionBy("media_id").orderBy(col("frame").asc)
        Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            posexplode(split(col("text"), "")).as(Seq("idx", "ch")))
          .select(col("media_id"), expr("CAST(idx AS BIGINT) DIV 100").as("frame"),
            ascii(col("ch")).cast("long").as("v"))
          .groupBy("media_id", "frame")
          .agg(count(lit(1)).as("n_px"), sum("v").as("luma"))
          .withColumn("delta", abs(col("luma") - lag(col("luma"), 1).over(w)))
          .select(col("media_id"), col("frame"), col("n_px"), col("luma"),
            col("delta"),
            when(col("delta") > 1500L, 1L).otherwise(0L).as("is_cut"))
          .orderBy("media_id", "frame")
      },
      Some("""WITH e AS (
             |  SELECT doc_id AS media_id, (CAST(i AS BIGINT) - 1) // 100 AS frame,
             |    CAST(ascii(text[CAST(i AS INT)]) AS BIGINT) AS v
             |  FROM documents, LATERAL unnest(range(1, len(text) + 1)) AS t(i)),
             |f AS (
             |  SELECT media_id, frame, CAST(count(*) AS BIGINT) AS n_px,
             |    CAST(sum(v) AS BIGINT) AS luma
             |  FROM e GROUP BY media_id, frame),
             |lg AS (
             |  SELECT media_id, frame, n_px, luma,
             |    abs(luma - lag(luma) OVER (PARTITION BY media_id ORDER BY frame ASC)) AS delta
             |  FROM f)
             |SELECT media_id, frame, n_px, luma, delta,
             |  CASE WHEN delta > 1500 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_cut
             |FROM lg ORDER BY media_id, frame""".stripMargin)
    ),

    // ── per-shot statistics (the read side of scene-change detection) ──
    // What a video-curation pipeline actually consumes: SHOTS, not cut
    // flags — each maximal run of frames between cuts, with bounds,
    // length, and luma stats. The shot id is the running count of cuts
    // (a cut frame OPENS a new shot), so segmentation is one more
    // window over the same per-media frame ordering mm_scene_change
    // already computes — exact integers end to end; the mean divides
    // once at the end. Per-media windows + one partial agg: the plan a
    // 100 TB frame table runs unchanged, partitioned by media_id.
    Q(
      "mm_video_shot_stats",
      (s, d) => {
        val w = Window.partitionBy("media_id").orderBy(col("frame").asc)
        val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
        Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            posexplode(split(col("text"), "")).as(Seq("idx", "ch")))
          .select(col("media_id"), expr("CAST(idx AS BIGINT) DIV 100").as("frame"),
            ascii(col("ch")).cast("long").as("v"))
          .groupBy("media_id", "frame")
          .agg(count(lit(1)).as("n_px"), sum("v").as("luma"))
          .withColumn("delta", abs(col("luma") - lag(col("luma"), 1).over(w)))
          .withColumn("is_cut", when(col("delta") > 1500L, 1L).otherwise(0L))
          .withColumn("shot", sum(col("is_cut")).over(wCum))
          .groupBy("media_id", "shot")
          .agg(min("frame").as("start_frame"), max("frame").as("end_frame"),
            count(lit(1)).as("n_frames"), sum("luma").as("luma_total"))
          .withColumn("luma_mean",
            col("luma_total").cast("double") / col("n_frames").cast("double"))
          .orderBy("media_id", "shot")
      },
      Some("""WITH e AS (
             |  SELECT doc_id AS media_id, (CAST(i AS BIGINT) - 1) // 100 AS frame,
             |    CAST(ascii(text[CAST(i AS INT)]) AS BIGINT) AS v
             |  FROM documents, LATERAL unnest(range(1, len(text) + 1)) AS t(i)),
             |f AS (
             |  SELECT media_id, frame, CAST(count(*) AS BIGINT) AS n_px,
             |    CAST(sum(v) AS BIGINT) AS luma
             |  FROM e GROUP BY media_id, frame),
             |lg AS (
             |  SELECT media_id, frame, luma,
             |    CASE WHEN abs(luma - lag(luma) OVER (PARTITION BY media_id ORDER BY frame ASC)) > 1500
             |         THEN 1 ELSE 0 END AS is_cut
             |  FROM f),
             |sh AS (
             |  SELECT media_id, frame, luma,
             |    CAST(sum(is_cut) OVER (PARTITION BY media_id ORDER BY frame ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS shot
             |  FROM lg)
             |SELECT media_id, shot, min(frame) AS start_frame, max(frame) AS end_frame,
             |  CAST(count(*) AS BIGINT) AS n_frames, CAST(sum(luma) AS BIGINT) AS luma_total,
             |  CAST(sum(luma) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS luma_mean
             |FROM sh GROUP BY media_id, shot
             |ORDER BY media_id, shot""".stripMargin)
    ),

    // ── voice-activity segments: energy gate + gaps-and-islands ────────
    // The VAD step an audio-curation pipeline runs before transcription:
    // a window is ACTIVE iff its mean energy clears the gate —
    // sumsq ≥ 900·n, tested as a pure BIGINT cross-multiply (no float
    // anywhere, so there is NO knife edge at all, unlike every
    // ln/division fixed point in this repo); consecutive active windows
    // merge into segments by the gaps-and-islands trick (win_id −
    // row_number is constant within a run). Emits per segment: bounds,
    // length, and the exact integer energy. Runs on the same
    // [[pcmFrames]] typed seam as mm_audio_energy — the decoder slots
    // in; the segmentation itself is two narrow windows over
    // media-partitioned frames + one partial agg, the shape that holds
    // per-recording at any corpus size.
    Q(
      "mm_audio_vad",
      (s, d) => {
        import s.implicits._
        val frames = media(s, d)
          .select(col("media_id"), col("content"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, bytes) => pcmFrames(id, bytes, 256) })
          .toDF()
        val active = frames.filter(col("sumsq") >= lit(900L) * col("n_samples"))
        val grp = active.withColumn("grp",
          col("win_id") - row_number().over(
            Window.partitionBy("media_id").orderBy(col("win_id").asc)))
        grp.groupBy("media_id", "grp")
          .agg(min("win_id").as("start_win"), max("win_id").as("end_win"),
            count(lit(1)).as("n_wins"), sum("sumsq").as("energy"))
          .withColumn("seg", row_number().over(
            Window.partitionBy("media_id").orderBy(col("start_win").asc)))
          .select(col("media_id"), col("seg"), col("start_win"),
            col("end_win"), col("n_wins"), col("energy"))
          .orderBy("media_id", "seg")
      },
      Some("""WITH e AS (
             |  SELECT doc_id AS media_id, CAST(i - 1 AS BIGINT) AS idx,
             |    ascii(text[CAST(i AS INT)]) - 100 AS v
             |  FROM documents, LATERAL unnest(range(1, len(text) + 1)) AS t(i)),
             |f AS (
             |  SELECT media_id, idx // 256 AS win_id,
             |    CAST(count(*) AS BIGINT) AS n_samples,
             |    CAST(sum(v * v) AS BIGINT) AS sumsq
             |  FROM e GROUP BY media_id, win_id),
             |act AS (
             |  SELECT media_id, win_id, sumsq,
             |    win_id - row_number() OVER (PARTITION BY media_id ORDER BY win_id ASC) AS grp
             |  FROM f WHERE sumsq >= 900 * n_samples),
             |seg AS (
             |  SELECT media_id, min(win_id) AS start_win, max(win_id) AS end_win,
             |    CAST(count(*) AS BIGINT) AS n_wins, CAST(sum(sumsq) AS BIGINT) AS energy
             |  FROM act GROUP BY media_id, grp)
             |SELECT media_id,
             |  CAST(row_number() OVER (PARTITION BY media_id ORDER BY start_win ASC) AS INT) AS seg,
             |  start_win, end_win, n_wins, energy
             |FROM seg ORDER BY media_id, seg""".stripMargin)
    )
  )
}
