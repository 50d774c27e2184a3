package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal column plumbing (SURVEY.md §2f): image/audio/video payloads
  * as opaque `binary` columns with typed metadata, flowing through
  * ordinary Spark plans. m4/m5 run a REAL image codec path (grayscale
  * PNG via the JDK's javax.imageio inside the batched executor stage),
  * m6 adds the color + lossy pair (RGB PNG and JPEG — the dominant
  * training-corpus format), and m7 runs codec-less PCM audio windowing
  * (raw 16-bit samples need no decoder). Only m1's generic
  * feature-extraction step remains a clearly-marked deterministic stub
  * (no video codecs in this container) — the Spark-side contract
  * (schema, binary handling, chunking, partitioning) is real and
  * tested throughout.
  *
  * At 100 TB: payloads stay in parquet binary columns (or object-store
  * pointers for >row-group-size blobs); metadata extraction is a per-row
  * scalar pipeline (no shuffle), and frame sampling fans out rows only
  * for the sampled chunks, partitioned by (doc_id) so one oversized blob
  * can't skew a partition.
  */
object Multimodal {

  /** Synthetic binary payloads derived from the documents table — stands
    * in for an image/audio bytes column with a mime + dims header. */
  private def withPayload(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("payload", to_binary(col("text"), lit("utf-8")))
      .withColumn("mime",
        element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")))

  /** m1_binary_meta — typed metadata + stubbed feature extraction over a
    * binary column. `fake_embedding_seed` is the stub for a real decoder
    * (deterministic stand-in; swap for an actual codec UDF off-container). */
  def m1BinaryMeta(s: SparkSession, d: String): DataFrame =
    withPayload(s, d)
      .select(
        col("doc_id"), col("mime"),
        length(col("payload")).cast("long").as("n_bytes"),
        substring(hex(col("payload")), 1, 8).as("magic_hex"),
        // STUB decode: real pipeline would decode pixels/samples here.
        xxhash64(col("payload")).as("fake_embedding_seed"),
        (length(col("payload")) > 256).cast("long").as("is_large"))
      .orderBy("doc_id")

  /** m2_frame_sample — deterministic chunk/frame sampling over binary
    * payloads: split each payload into 64-byte "frames", keep every 4th
    * (a video keyframe-sampling shape). Fan-out via an index sequence —
    * pure narrow transformation, no shuffle until the final ordering. */
  def m2FrameSample(s: SparkSession, d: String): DataFrame =
    withPayload(s, d)
      .withColumn("n_frames", ceil(length(col("payload")) / lit(64.0)).cast("long"))
      // empty payloads produce no frames (sequence(0, -1) would emit
      // [0, -1], not an empty list — filter first)
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("mime"), col("n_frames"),
        posexplode(sequence(lit(0L), col("n_frames") - 1)).as(Seq("pos", "frame_idx")))
      .filter(pmod(col("frame_idx"), lit(4)) === 0)
      .select(col("doc_id"), col("mime"), col("n_frames"), col("frame_idx"))
      .orderBy("doc_id", "frame_idx")

  /** m2 is oracle-checkable: the frame fan-out is pure arithmetic on the
    * payload length (= text length for these utf-8 payloads). */
  val m2Sql: String =
    """WITH p AS (SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
      |    WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
      |  CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames FROM documents),
      |f AS (SELECT doc_id, mime, n_frames,
      |  unnest(range(0, n_frames)) AS frame_idx FROM p)
      |SELECT doc_id, mime, n_frames, frame_idx FROM f
      |WHERE frame_idx % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin

  /** m3_byte_features — REAL feature extraction over the binary column
    * (no stub): one-pass byte statistics (length, byte sum → mean,
    * distinct-byte count, longest run) via the native byte_stats kernel
    * inside WholeStageCodegen, then a per-mime rollup. This is the
    * no-codec slice of a decode pipeline — the same per-row scalar
    * shape a real pixel/sample feature extractor has (swap the kernel
    * for a codec call off-container), so it proves the plumbing at
    * scale: single scan, no shuffle before the final rollup.
    * MultimodalSpec checks the stats against an independent plain-Scala
    * byte computation. */
  def m3ByteFeatures(s: SparkSession, d: String): DataFrame =
    withPayload(s, d)
      .select(col("doc_id"), col("mime"),
        graft.functions.byte_stats(col("payload")).as("bs"))
      .select(col("doc_id"), col("mime"),
        element_at(col("bs"), 1).as("n_bytes"),
        element_at(col("bs"), 2).as("byte_sum"),
        element_at(col("bs"), 3).as("n_distinct_bytes"),
        element_at(col("bs"), 4).as("max_run"))
      .groupBy(col("mime"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        (sum(col("byte_sum")).cast("double") / sum(col("n_bytes"))).as("mean_byte"),
        max(col("n_distinct_bytes")).as("max_distinct_bytes"),
        max(col("max_run")).as("longest_run"))
      .orderBy("mime")

  /** m4's batch size: rows materialized at once inside a partition —
    * the bounded-memory batch contract a vectorized (Arrow/pandas-UDF
    * style) decode stage runs under. */
  private[graft] val M4BatchSize = 64
  private[graft] val M4GridW = 32 // fake image width in bytes
  private[graft] val M4Out = 8    // output grid edge (8x8 pooled cells)

  /** Block-average "resize": view the payload as a M4GridW-wide byte
    * image (height = ceil(len/W)) and average-pool it to an 8×8 double
    * grid — the real pixel math of a thumbnail/resize stage, minus only
    * the codec (bytes stand in for decoded pixels). Pure integer sums
    * divided once at the end → bit-stable doubles. */
  private[graft] def resizePool(bytes: Array[Byte]): Array[Double] = {
    val w = M4GridW
    val h = math.max(1, (bytes.length + w - 1) / w)
    val out = new Array[Double](M4Out * M4Out)
    val sums = new Array[Long](M4Out * M4Out)
    val counts = new Array[Long](M4Out * M4Out)
    var i = 0
    while (i < bytes.length) {
      val r = (i / w) * M4Out / h
      val c = (i % w) * M4Out / w
      val cell = r * M4Out + c
      sums(cell) += bytes(i) & 0xff
      counts(cell) += 1
      i += 1
    }
    var j = 0
    while (j < out.length) {
      out(j) = if (counts(j) == 0) 0.0 else sums(j).toDouble / counts(j)
      j += 1
    }
    out
  }

  // Per-thread codec instances: ImageIO.write/read do a registry scan
  // and ImageOutputStream/cache-file setup PER CALL — measured ~3ms per
  // payload, which dominated the whole stage. PNG reader/writer objects
  // are not thread-safe but are reusable; one pair per executor thread
  // amortizes the setup across every row that thread processes.
  private val pngWriter = ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
    javax.imageio.ImageIO.getImageWritersByFormatName("png").next())
  private val pngReader = ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
    javax.imageio.ImageIO.getImageReadersByFormatName("png").next())

  /** Encode `bytes` as a REAL grayscale PNG: width M4GridW, height
    * ceil(len/W), row-major, zero-padded final row. This is m4's
    * fixture synthesizer — the container ships no image files, so the
    * encoded column a production ingest would carry is manufactured
    * from the payload bytes; everything downstream of it is the real
    * codec path. The true content length rides alongside as metadata
    * (real formats carry dims the same way). */
  private[graft] def encodePng(bytes: Array[Byte]): Array[Byte] = {
    val w = M4GridW
    val h = math.max(1, (bytes.length + w - 1) / w)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    // bulk raster fill: the backing buffer of TYPE_BYTE_GRAY is the
    // row-major byte array itself
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    System.arraycopy(bytes, 0, buf, 0, bytes.length)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val writer = pngWriter.get()
    writer.setOutput(out)
    writer.write(img)
    out.flush()
    bos.toByteArray
  }

  /** REAL codec work: decode a PNG byte stream back to its grayscale
    * pixels (row-major). Lossless for 8-bit grayscale, which the
    * round-trip spec asserts byte-for-byte. */
  private[graft] def decodePng(png: Array[Byte]): Array[Byte] = {
    val reader = pngReader.get()
    reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(png)))
    val img = reader.read(0)
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    val out = new Array[Byte](w * h)
    var i = 0
    while (i < out.length) {
      out(i) = raster.getSample(i % w, i / w, 0).toByte
      i += 1
    }
    out
  }

  /** m4_resize_pool — the decode + resize/feature-extract stage of a
    * multimodal ingest pipeline, with the BATCHED per-partition
    * execution shape a vectorized decoder runs under: `mapPartitions` +
    * `grouped(64)` bounds rows materialized at once (the Arrow batch
    * contract), per-row imperative work inside — preference order (d)
    * from SURVEY §4, justified because codec calls and variable-size
    * nested block loops don't decompose into Column expressions. Each
    * payload is PNG-ENCODED (fixture synthesis, see encodePng) and then
    * run through the REAL decoder (javax.imageio) before pooling, so
    * the features are computed from decoded pixels; the zero-pad pixels
    * of the final row are stripped via the content-length metadata so
    * the features describe the content, not the padding. Emits the
    * pooled grid's corner cells + L2 norm per doc; the full 64-cell
    * vector is what a real pipeline would hand to an encoder. rows-only
    * (codec math has no DuckDB twin); MultimodalSpec recomputes the
    * pooling independently in plain Scala and pins the PNG round-trip
    * byte-for-byte. */
  def m4ResizePool(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = withPayload(s, d)
      .select(col("doc_id"), col("mime"), col("payload"))
      // the documents table is ONE small file here → one input split →
      // the codec stage would run single-threaded. Real per-row CPU
      // work must be spread across cores: round-robin repartition to
      // task-slot count (a few MB shuffled — trivially worth 32× codec
      // parallelism). At 100 TB the input is thousands of splits and
      // the exchange is a no-op to keep: partition count already ≫
      // slots, so a planner would drop it; it guards the degenerate
      // small-file case, the shape this bench actually runs.
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, String, Array[Byte])]
    src.mapPartitions { it =>
      it.grouped(M4BatchSize).flatMap { batch =>
        batch.iterator.map { case (id, mime, bytes) =>
          val pixels = decodePng(encodePng(bytes)).take(bytes.length)
          val g = resizePool(pixels)
          val norm = math.sqrt(g.map(v => v * v).sum)
          (id, mime, g(0), g(M4Out * M4Out - 1), norm)
        }
      }
    }.toDF("doc_id", "mime", "cell_00", "cell_77", "grid_norm")
      .orderBy("doc_id")
  }

  private[graft] val M5TwinOffset = 1000000L
  private[graft] val M5MaxHamming = 10
  private val M5Bands = 4

  /** Perceptual difference-hash of a byte image (the pHash-family
    * fingerprint image dedup pipelines run): block-average the pixels
    * to a 9×8 grid, emit bit (r,c) = [cell(r,c+1) > cell(r,c)] — 8 rows
    * × 8 adjacent comparisons = 64 bits. Gradient STRUCTURE, not
    * absolute intensity: small perturbations move cell averages a
    * little and flip few comparisons, so visually-near images land
    * within a small hamming distance. */
  private[graft] def dhash(pixels: Array[Byte]): Long = {
    val W = 9; val H = 8
    val w = M4GridW
    val h = math.max(1, (pixels.length + w - 1) / w)
    val sums = new Array[Long](H * W)
    val counts = new Array[Long](H * W)
    var i = 0
    while (i < pixels.length) {
      val r = (i / w) * H / h
      val c = (i % w) * W / w
      sums(r * W + c) += pixels(i) & 0xff
      counts(r * W + c) += 1
      i += 1
    }
    def cell(r: Int, c: Int): Double = {
      val k = r * W + c
      if (counts(k) == 0) 0.0 else sums(k).toDouble / counts(k)
    }
    var bits = 0L
    var k = 0
    var r = 0
    while (r < H) {
      var c = 0
      while (c < W - 1) {
        if (cell(r, c + 1) > cell(r, c)) bits |= 1L << k
        k += 1; c += 1
      }
      r += 1
    }
    bits
  }

  /** m5_phash_pairs — visual near-duplicate detection over the REAL
    * codec path: every payload is PNG-encoded, decoded (javax.imageio),
    * dHashed; candidate pairs come from 4×16-bit hash-band buckets
    * (same banding as d4's SimHash), verified by exact `bit_count(xor)`
    * ≤ M5MaxHamming. Recall contract: pigeonhole over 4 bands GUARANTEES
    * a matching band only for hamming ≤ 3 (4 differing bits can land one
    * per band); pairs at hamming 4..10 pass the verify filter when found
    * but are caught probabilistically — a miss needs the differing bits
    * spread across all 4 bands, which dHash's spatially-local bit flips
    * make unlikely (MultimodalSpec measures 100% recall on the planted
    * twins). Guaranteed recall at hamming ≤ 10 would need 11 bands —
    * ~3× the candidate volume for a recall tail the verify threshold is
    * already generous about. The fixture plants a NOISY TWIN for every 10th doc
    * (+8 on every 50th byte before encoding — a perturbed re-encode of
    * the "same" image, the case byte-exact dedup d1 can never catch);
    * MultimodalSpec pins 100% twin recall and hand-computed hash bits.
    *
    * Scale shape: the codec stage is the batched parallel map m4 uses;
    * after it only 16-byte (id, hash) rows flow — the band self-join
    * shuffles hashes, never pixels, and candidate cost tracks bucket
    * density exactly like d3/d4/s6. */
  /** m5's verified pair frame, memoized per (session, dir) — the d2/d3
    * pair-table idiom: the codec + banding stage runs once and both m5
    * (pair listing) and m8 (cluster labeling) read the pinned rows;
    * localCheckpoint truncates lineage, [[graft.SessionMemo]] evicts on
    * application end. */
  private val m5Memo = new graft.SessionMemo[DataFrame]
  private def m5Pairs(s: SparkSession, d: String): DataFrame =
    // budgeted runs bypass the memo: the memo key is (session, dir) and
    // must only ever hold the exact (unbudgeted) contract
    if (s.conf.get(M5BudgetKey, "0").toInt > 0) m5Compute(s, d)
    else m5Memo.getOrElseUpdate(s, d) { m5Compute(s, d).localCheckpoint(true) }

  def m5PhashPairs(s: SparkSession, d: String): DataFrame =
    m5Pairs(s, d).orderBy("doc_a", "doc_b")

  /** Per-bucket candidate budget — the scale valve for ADVERSARIAL
    * duplicate density (SURVEY §5's 32× probe: replication makes the
    * pair count quadratic in duplicate multiplicity — 60.3M pairs,
    * 2 GiB page-allocation retries). 0 (default) = unlimited, the
    * exact contract. When set, each band bucket keeps only its
    * `budget` LOWEST doc_ids (deterministic), bounding per-bucket
    * candidates at budget·(budget−1)/2 whatever the density. Inside a
    * capped bucket the members are near-duplicates of each other
    * (that is why the bucket is dense), so dropped memberships mostly
    * re-pair through another band or transitively through m8's
    * clustering — m5's per-pair guarantee narrows to kept members,
    * which is the trade the valve exists to make. NO SILENT CAP: when
    * the budget bites, the dropped membership and bucket counts are
    * printed before the pair join runs. */
  private[graft] val M5BudgetKey = "spark.graft.m5.bucketBudget"

  private def m5Compute(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = withPayload(s, d)
      .select(col("doc_id"), col("payload"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val twin = if (id % 10 == 0) {
          val p = bytes.clone()
          var i = 0
          while (i < p.length) { if (i % 50 == 0) p(i) = (p(i) + 8).toByte; i += 1 }
          Seq((id + M5TwinOffset, p))
        } else Nil
        (id, bytes) +: twin
      }
    val hashes = src.mapPartitions { it =>
      it.grouped(M4BatchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          (id, dhash(decodePng(encodePng(bytes)).take(bytes.length)))
        }
      }
    }.toDF("doc_id", "h")
    val banded0 = hashes.select(col("doc_id"), col("h"),
      posexplode(array((0 until M5Bands).map(i =>
        shiftrightunsigned(col("h"), i * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "bkey")))
    val budget = s.conf.get(M5BudgetKey, "0").toInt
    val banded =
      if (budget <= 0) banded0
      else {
        // deterministic keep-set (lowest ids per bucket); persist so the
        // audit action below does not re-run the codec stage
        val ranked = banded0.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bkey")).orderBy(col("doc_id"))))
          .persist()
        try {
          val a = ranked.filter(col("rk") > budget)
            .agg(count(lit(1)), count_distinct(col("band"), col("bkey"))).head()
          if (a.getLong(0) > 0)
            println(s"[graft] m5 bucket budget $budget dropped ${a.getLong(0)} " +
              s"band memberships across ${a.getLong(1)} over-budget buckets — " +
              "pair recall narrows to kept members (see M5BudgetKey scaladoc)")
          // eager-materialize the keep-set OFF the cached frame so the
          // persist can be released here (ADVICE r11: the returned frame
          // used to keep referencing `ranked`, leaking one cached copy of
          // the banded frame per budgeted call — largest at exactly the
          // adversarial density the valve exists for). localCheckpoint
          // blocks are ContextCleaner-managed: freed when the frame is
          // GC'd, not held for the session.
          ranked.filter(col("rk") <= budget).drop("rk").localCheckpoint(true)
        } finally { ranked.unpersist(); () }
      }
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= M5MaxHamming)
  }

  private[graft] val M6Width = 24 // RGB fixture width in pixels (3 bytes/px)

  private val jpegWriter = ThreadLocal.withInitial[javax.imageio.ImageWriter](() =>
    javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next())
  private val jpegReader = ThreadLocal.withInitial[javax.imageio.ImageReader](() =>
    javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next())

  /** View `bytes` as a packed RGB image (M6Width px wide, 3 bytes per
    * pixel row-major, zero-padded final row) — the color twin of
    * encodePng's fixture synthesis. */
  private[graft] def toRgbImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val w = M6Width
    val h = math.max(1, (bytes.length + 3 * w - 1) / (3 * w))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    // fixture bytes are R,G,B triplets; the raster buffer is B,G,R
    var i = 0
    while (i < bytes.length) {
      val px = i / 3
      val ch = i % 3 // 0=R,1=G,2=B
      buf(px * 3 + (2 - ch)) = bytes(i)
      i += 1
    }
    img
  }

  private[graft] def writeImage(img: java.awt.image.BufferedImage,
      writer: javax.imageio.ImageWriter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(out)
    writer.write(img)
    out.flush()
    bos.toByteArray
  }

  private[graft] def readImage(data: Array[Byte],
      reader: javax.imageio.ImageReader): java.awt.image.BufferedImage = {
    reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(data)))
    reader.read(0)
  }

  private[graft] def pngCodec: (javax.imageio.ImageWriter, javax.imageio.ImageReader) =
    (pngWriter.get(), pngReader.get())
  private[graft] def jpegCodec: (javax.imageio.ImageWriter, javax.imageio.ImageReader) =
    (jpegWriter.get(), jpegReader.get())

  /** Per-channel (R,G,B) pixel sums via getRGB — codec-agnostic, so PNG
    * and JPEG decodes are summed identically. */
  private[graft] def channelSums(img: java.awt.image.BufferedImage): (Long, Long, Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    var r = 0L; var g = 0L; var b = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
        x += 1
      }
      y += 1
    }
    (r, g, b, w.toLong * h)
  }

  /** Mean absolute per-channel difference between two same-size decodes
    * — the lossy-codec distortion measure. */
  private[graft] def meanAbsDiff(a: java.awt.image.BufferedImage,
      b: java.awt.image.BufferedImage): Double = {
    val w = a.getWidth; val h = a.getHeight
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val pa = a.getRGB(x, y); val pb = b.getRGB(x, y)
        sum += math.abs(((pa >> 16) & 0xff) - ((pb >> 16) & 0xff)) +
          math.abs(((pa >> 8) & 0xff) - ((pb >> 8) & 0xff)) +
          math.abs((pa & 0xff) - (pb & 0xff))
        x += 1
      }
      y += 1
    }
    sum.toDouble / (3.0 * w * h)
  }

  /** m6_rgb_jpeg_stats — the COLOR + LOSSY half of the image pipeline
    * (m4/m5 are grayscale PNG): each payload becomes a packed RGB
    * image, pushed through BOTH codecs — PNG (lossless, the archival
    * format) and JPEG (lossy, the dominant training-corpus format;
    * javax.imageio's native JFIF writer) — emitting per-channel means
    * from the lossless decode and the JPEG round-trip distortion (mean
    * abs channel diff vs the PNG decode). A corpus ingest runs exactly
    * this pair: trust lossless decodes, track distortion on lossy ones.
    * Execution shape: m4's batched mapPartitions with round-robin
    * repartition for codec parallelism; after the codec stage only
    * 7-column scalar rows flow. rows-only + RgbAudioSpec (solid-color
    * channel means exact, JPEG dims preserved, distortion bounded,
    * deterministic across runs). */
  def m6RgbJpegStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = withPayload(s, d)
      .select(col("doc_id"), col("payload"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Array[Byte])]
    src.mapPartitions { it =>
      it.grouped(M4BatchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          val img = toRgbImage(bytes)
          val png = readImage(writeImage(img, pngWriter.get()), pngReader.get())
          val jpg = readImage(writeImage(img, jpegWriter.get()), jpegReader.get())
          val (r, g, b, n) = channelSums(png)
          (id, png.getWidth.toLong, png.getHeight.toLong,
            r.toDouble / n, g.toDouble / n, b.toDouble / n,
            meanAbsDiff(png, jpg))
        }
      }
    }.toDF("doc_id", "width", "height", "mean_r", "mean_g", "mean_b", "jpeg_mae")
      .orderBy("doc_id")
  }

  /** 64 samples/chunk (128 bytes) — sized so every synthetic payload
    * (≥128 bytes) yields at least one full window; a real 16 kHz feed
    * would use 25 ms windows (400 samples), a constant swap. */
  private[graft] val M7ChunkSamples = 64

  /** Per-chunk PCM features: RMS energy (exact integer sum of squares,
    * one sqrt at the end) and zero-crossing count — the two features a
    * VAD/segmentation front-end computes per window. */
  private[graft] def pcmChunkFeatures(samples: Array[Short]): (Double, Long) = {
    var sq = 0L
    var zc = 0L
    var i = 0
    while (i < samples.length) {
      val v = samples(i).toLong
      sq += v * v
      if (i > 0 && ((samples(i - 1) < 0 && samples(i) >= 0) ||
        (samples(i - 1) >= 0 && samples(i) < 0))) zc += 1
      i += 1
    }
    (math.sqrt(sq.toDouble / samples.length), zc)
  }

  /** m7_audio_chunks — the audio-modality pipeline shape: interpret the
    * payload as 16-bit little-endian PCM mono (the WAV data-section
    * layout), window it into fixed [[M7ChunkSamples]]-sample chunks
    * (tail dropped — partial windows carry no comparable energy), and
    * emit RMS + zero-crossing per chunk — what an ASR/VAD front-end
    * computes before any model sees a sample. Chunking fans out scalar
    * ROWS (id, idx, rms, zc), never payload copies, and each chunk's
    * math is integer-exact so results are bit-stable. rows-only +
    * RgbAudioSpec (square-wave fixture: RMS and crossings in closed
    * form; chunk counts recomputed independently). */
  def m7AudioChunks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = withPayload(s, d)
      .filter(col("mime") === "audio/wav")
      .select(col("doc_id"), col("payload"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Array[Byte])]
    src.flatMap { case (id, bytes) =>
      val n = bytes.length / 2
      val chunks = n / M7ChunkSamples
      (0 until chunks).iterator.map { c =>
        val samples = new Array[Short](M7ChunkSamples)
        var i = 0
        while (i < M7ChunkSamples) {
          val o = 2 * (c * M7ChunkSamples + i)
          samples(i) = ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort
          i += 1
        }
        val (rms, zc) = pcmChunkFeatures(samples)
        (id, c.toLong, rms, zc)
      }
    }.toDF("doc_id", "chunk_idx", "rms", "zero_crossings")
      .orderBy("doc_id", "chunk_idx")
  }

  /** m8_image_dedup_clusters — m5's duplicate pairs routed into
    * connected-component clustering, one row per image: the 100 TB
    * answer to the 32×-replica finding (SURVEY §5) that pair
    * MATERIALIZATION is quadratic in duplicate multiplicity (60.3M pair
    * rows at 32×, with per-pair cost rising under the memory pressure
    * of holding them).
    * A k-duplicate cluster costs k label rows here instead of k(k-1)/2
    * pair rows — the same d6→d7 discipline the text family uses:
    * pointer-doubling min-label propagation over the banded pairs,
    * log₂(diameter) rounds, no vector or pixel ever shuffled.
    * cluster_id = min image id in the component; the keeper is the
    * cluster representative (the dedup verdict a curation pipeline
    * joins against). Rows-only by design (iterative propagation has no
    * SQL twin); the spec pins labels ≡ the transitive closure of m5's
    * pairs and every planted twin clustered with its original. */
  def m8ImageDedupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = m5Pairs(s, d).select("doc_a", "doc_b")
    val (labels, _) = graft.operators.Dedup.propagateLabels(pairs)
    // the id universe m5 hashed: every payload plus its planted twin
    val ids = withPayload(s, d).select(col("doc_id"))
    val universe = ids.union(
      ids.filter(pmod(col("doc_id"), lit(10L)) === 0)
        .select((col("doc_id") + M5TwinOffset).as("doc_id")))
    graft.operators.Dedup.clusterVerdict(universe, labels)
  }

  val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "m8_image_dedup_clusters" -> (m8ImageDedupClusters _, None),
    "m6_rgb_jpeg_stats" -> (m6RgbJpegStats _, None),
    "m7_audio_chunks" -> (m7AudioChunks _, None),
    "m5_phash_pairs" -> (m5PhashPairs _, None),
    "m4_resize_pool" -> (m4ResizePool _, None),
    "m1_binary_meta" -> (m1BinaryMeta _, None),
    "m2_frame_sample" -> (m2FrameSample _, Some(m2Sql)),
    "m3_byte_features" -> (m3ByteFeatures _, None),
  )
}
