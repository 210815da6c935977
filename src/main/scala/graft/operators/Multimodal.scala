package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2 #28): media as opaque binary
  * columns with typed metadata. The container has no image/audio
  * codecs, so the decode step is a clearly marked DETERMINISTIC STUB —
  * the real parts are the Spark-side plumbing: binary schema, magic
  * sniffing, the decode's batch shape, and the mapPartitions pipeline
  * that a codec (JNI/FFI or vectorized reader) would slot into. Resize,
  * frame sampling and feature extraction are per-row typed maps.
  *
  * Scale: payloads stay opaque bytes end-to-end (no row explosion, no
  * driver collect); decode batches bound memory per task; metadata
  * extraction is a codegen'd projection over prefixes, so the parquet
  * scan can prune to (doc_id, payload) and nothing shuffles.
  */
object Multimodal {

  private val PngMagic: Array[Byte] = Array(0x89.toByte, 0x50, 0x4e, 0x47)
  private val JpegMagic: Array[Byte] = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte)
  private val RiffMagic: Array[Byte] = Array(0x52, 0x49, 0x46, 0x46)

  /** documents → (doc_id, payload): a synthetic media payload — one of
    * three magic headers (by doc_id mod 3) followed by the utf-8 text
    * bytes. Stands in for a real media column; everything downstream
    * treats it as opaque bytes.
    */
  def withPayload(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0, lit(PngMagic))
          .when(col("doc_id") % 3 === 1, lit(JpegMagic))
          .otherwise(lit(RiffMagic)),
        // coalesce: a NULL text would make the whole concat NULL, and a
        // NULL payload NPEs every JVM-side stage's byte-array access
        encode(coalesce(col("text"), lit("")), "utf-8")).as("payload"))

  /** SURVEY #28: typed metadata from the binary column — byte length,
    * 4-byte magic (hex), sniffed container kind. Pure projection.
    */
  def metaExtract(payloads: DataFrame): DataFrame = {
    val magicHex = hex(substring(col("payload"), 1, 4))
    payloads.select(
      col("doc_id"),
      octet_length(col("payload")).cast("bigint").as("n_bytes"),
      magicHex.as("magic_hex"),
      when(magicHex === "89504E47", "png")
        .when(magicHex === "FFD8FFE0", "jpeg")
        .when(magicHex === "52494646", "riff")
        .otherwise("unknown").as("kind"))
  }

  /** Low-parallelism guard for the CPU-bound per-payload stages — the
    * shared [[CpuSpread]] (its r8-r10 adjudication history lives in
    * that object's scaladoc; extracted r19 so the text/dedup pipelines
    * reuse the identical guard). plannedFallback=true preserves this
    * caller's pre-extraction semantics: a frame with no file-scan leaf
    * falls back to the PLANNED partition count (r8's
    * `df.rdd.getNumPartitions`), so a 1-partition in-memory frame still
    * spreads before the per-byte decode kernels instead of pinning them
    * to one task.
    */
  private def cpuSpread(df: DataFrame): DataFrame =
    CpuSpread.spread(df, plannedFallback = true)

  /** Decoded-media metadata row. `bit_depth` is the parsed bits-per-
    * channel/pixel for payloads that structurally parse as a real
    * container (PNG/BMP), 0 on the stub path.
    */
  final case class DecodedMeta(
      doc_id: Long, kind: String, width: Int, height: Int, bit_depth: Int,
      duration_ms: Long, batch_size: Int)

  /** The batched partition-wise decode pipeline. Batches of `batchSize`
    * payloads are handed to [[decodeBatch]]: payloads that structurally
    * parse as a real container — a full 8-byte PNG signature with a
    * leading IHDR chunk, or a BMP file header with a BITMAPINFOHEADER —
    * get their TRUE dimensions and bit depth from the header bytes
    * (header-only, O(1) per payload — no pixel decode, no codec
    * dependency); everything else falls through to the deterministic
    * stub, the seam where a full codec (libjpeg/ffmpeg via FFI, or an
    * Arrow-vectorized reader) would plug in. Batch shape, schema, and
    * per-task memory bounds are real for both paths.
    */
  def decodeMeta(payloads: DataFrame, batchSize: Int = 64): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] =
      cpuSpread(
        payloads.select(col("doc_id").cast("long"), col("payload").cast("binary")))
        .as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap(batch => decodeBatch(batch, batch.size))
    }.toDF()
  }

  /** Resized-media row (what a real resize kernel would emit). */
  final case class ResizedPayload(
      doc_id: Long, kind: String, width: Int, height: Int, payload: Array[Byte])

  /** Per-row binary→binary resize stage. Real parts:
    * binary-in/binary-out schema, magic preservation, bounded output
    * size per row (a resized image is O(width·height), independent of
    * input size — the property that makes resize-early the standard
    * scale move). STUB part: the "pixels" are a deterministic prefix of
    * the source payload instead of an actual rescale.
    */
  def resize(payloads: DataFrame, width: Int = 256, height: Int = 256): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    require(width > 0 && height > 0, s"bad target dims ${width}x$height")
    val ds = cpuSpread(
      payloads.select(col("doc_id").cast("long"), col("payload").cast("binary")))
      .as[(Long, Array[Byte])]
    ds.map { case (id, bytes) =>
      val body = bytes.drop(4).take(math.max(16, width * height / 64))
      ResizedPayload(id, sniffKind(bytes), width, height, bytes.take(4) ++ body)
    }.toDF()
  }

  /** Feature row: an L1-normalized 256-bin byte histogram. Unlike the
    * decode/resize stubs this extractor is fully REAL — byte histograms
    * are a legitimate (if crude) content feature — so the multimodal →
    * similarity composition is testable end-to-end: its output schema
    * (id + float vector) is exactly what the ANN and embedding-dedup
    * operators consume.
    */
  final case class FeatureRow(vec_id: Long, embedding: Array[Float])

  /** Per-row payload → feature-vector extraction (the "feature-extract"
    * stage of the multimodal pipeline). One pass per payload, fixed
    * 256-float output per row regardless of input size.
    */
  def featureExtract(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val ds = cpuSpread(
      payloads.select(col("doc_id").cast("long"), col("payload").cast("binary")))
      .as[(Long, Array[Byte])]
    ds.map { case (id, bytes) =>
      val h = new Array[Float](256)
      var i = 0
      while (i < bytes.length) { h(bytes(i) & 0xff) += 1f; i += 1 }
      val n = math.max(1, bytes.length).toFloat
      var j = 0
      while (j < 256) { h(j) /= n; j += 1 }
      FeatureRow(id, h)
    }.toDF()
  }

  /** Harness-safe scalar summary of [[featureExtract]]'s histogram
    * vectors: (vec_id, dim, n_bytes, nnz, byte_checksum), all BIGINT.
    * The raw `array<float>` column crashes tabular consumers that sort
    * or hash rows (pandas can't factorize ndarrays), so the wired query
    * projects to scalars — and does so via an INTEGER-EXACT recovery of
    * the original byte counts from the normalized floats:
    * `count_b = round(double(h_b) * n)` is exact whenever n < 2^23
    * (float32 has 24 mantissa bits, so the relative quantization error
    * `n * 2^-24` stays below the 0.5 rounding radius), which any sanely
    * sized media payload satisfies. That makes the checksum
    * `sum_b count_b * (b+1)` a bit-exact gate on the FEATURE VALUES
    * themselves — an independent engine can derive the same integers
    * straight from the payload bytes with no float parity risk.
    *
    * The n_bytes join is sf-scale plumbing: at 100 TB the extractor
    * would carry n through its own output row instead of re-deriving it
    * from the payload branch (both branches here are cheap projections
    * of the same scan).
    */
  def featureSummary(payloads: DataFrame): DataFrame = {
    val feats = featureExtract(payloads)
    val nBytes = payloads.select(
      col("doc_id"), octet_length(col("payload")).cast("bigint").as("n_bytes"))
    // floor(x+0.5) == round-HALF_UP for the non-negative values here,
    // WITHOUT round()'s per-element BigDecimal detour — at 256 elements
    // x 2 inlined consumers per row the BigDecimal allocations were the
    // dominant cost of the whole query (profiled at sf1, SCALING_r8's
    // 11.75x flag)
    val counts = transform(
      col("embedding"),
      x => floor(x.cast("double") * col("n_bytes") + lit(0.5)).cast("long"))
    feats.join(nBytes, col("vec_id") === col("doc_id"))
      .withColumn("counts", counts)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("bigint").as("dim"),
        col("n_bytes"),
        size(filter(col("counts"), _ > lit(0L))).cast("bigint").as("nnz"),
        aggregate(
          transform(col("counts"), (c, i) => c * (i.cast("long") + lit(1L))),
          lit(0L), (acc, x) => acc + x).as("byte_checksum"))
  }

  /** Sampled video frame (what a real frame extractor would emit). */
  final case class Frame(
      doc_id: Long, frame_idx: Int, frame_ms: Long, frame_payload: Array[Byte])

  /** One-to-many frame sampler: every `everyMs` of (stub)
    * duration emits one frame, hard-capped at `maxFrames` per doc —
    * the cap is the real scale contract (an unbounded per-doc fan-out
    * is how a single 10-hour video OOMs a task); non-video payloads
    * emit their single "frame". STUB part: the frame payload is a
    * deterministic byte slice, the duration the same hash the decode
    * stub reports.
    */
  def frameSample(
      payloads: DataFrame, everyMs: Long = 5000L, maxFrames: Int = 8): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    require(everyMs > 0 && maxFrames > 0, s"bad sampling ($everyMs ms, $maxFrames frames)")
    val ds = cpuSpread(
      payloads.select(col("doc_id").cast("long"), col("payload").cast("binary")))
      .as[(Long, Array[Byte])]
    ds.flatMap { case (id, bytes) =>
      val kind = sniffKind(bytes)
      val h = graft.functions.RollingHash.hashBytes(bytes)
      val durationMs = if (kind == "riff") math.abs(h % 60000L) else 0L
      val n = math.min(durationMs / everyMs + 1, maxFrames.toLong).toInt
      (0 until n).map { i =>
        val off = 4 + ((bytes.length - 4) * i.toLong / n).toInt
        Frame(id, i, i * everyMs, bytes.slice(off, math.min(off + 64, bytes.length)))
      }
    }.toDF()
  }

  private def sniffKind(bytes: Array[Byte]): String =
    if (bytes.length >= 2 && bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte) "bmp"
    else bytes.take(4) match {
      case b if b.sameElements(PngMagic) => "png"
      case b if b.sameElements(JpegMagic) => "jpeg"
      case b if b.sameElements(RiffMagic) => "riff"
      case _ => "unknown"
    }

  private def be32(bytes: Array[Byte], o: Int): Int =
    ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
      ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)

  private def le32(bytes: Array[Byte], o: Int): Int =
    (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
      ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)

  /** PNG signature + leading IHDR chunk (the PNG spec mandates IHDR
    * first): full 8-byte signature, chunk length 13, chunk type "IHDR";
    * then width/height are big-endian at 16/20 and bit depth (bits per
    * channel) at 24. Returns None for anything structurally off — a
    * 4-byte-magic synthetic payload never gets here, which is exactly
    * the invariant the decode oracle's stub replay gates.
    */
  private[operators] def parsePngHeader(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (bytes.length < 33) return None
    var i = 0
    while (i < 8) { if (bytes(i) != sig(i)) return None; i += 1 }
    if (be32(bytes, 8) != 13) return None
    if (!(bytes(12) == 'I'.toByte && bytes(13) == 'H'.toByte &&
        bytes(14) == 'D'.toByte && bytes(15) == 'R'.toByte)) return None
    val w = be32(bytes, 16); val h = be32(bytes, 20)
    if (w <= 0 || h <= 0) return None
    Some((w, h, bytes(24) & 0xff))
  }

  /** BMP file header + BITMAPINFOHEADER (or a later, longer DIB
    * header): "BM" magic, DIB header size >= 40 at offset 14; then
    * little-endian width at 18, SIGNED height at 22 (negative = top-down
    * row order — dimensions are its magnitude), bits-per-pixel at 28.
    */
  private[operators] def parseBmpHeader(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes.length < 30) return None
    if (!(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte)) return None
    if (le32(bytes, 14) < 40) return None
    val w = le32(bytes, 18); val h = le32(bytes, 22)
    if (w <= 0 || h == 0 || h == Int.MinValue) return None
    val depth = (bytes(28) & 0xff) | ((bytes(29) & 0xff) << 8)
    Some((w, math.abs(h), depth))
  }

  /** Batch decode: header-parse the real containers, fall through to
    * the DETERMINISTIC FAKE for the rest — the stub derives
    * "dimensions" from payload bytes so tests are reproducible; a full
    * codec integration would replace only that else-branch.
    */
  private def decodeBatch(
      batch: Seq[(Long, Array[Byte])], batchSize: Int): Seq[DecodedMeta] =
    batch.map { case (id, bytes) =>
      parsePngHeader(bytes).map { case (w, h, d) =>
        DecodedMeta(id, "png", w, h, d, 0L, batchSize)
      }.orElse(parseBmpHeader(bytes).map { case (w, h, d) =>
        DecodedMeta(id, "bmp", w, h, d, 0L, batchSize)
      }).getOrElse {
        val kind = sniffKind(bytes)
        val h = graft.functions.RollingHash.hashBytes(bytes)
        DecodedMeta(
          doc_id = id, kind = kind,
          // abs AFTER the modulo (like frameSample): abs(Long.MinValue)
          // is still negative, so abs-first could emit non-positive dims
          width = (math.abs(h % 1920) + 1).toInt,
          height = (math.abs(h / 7 % 1080) + 1).toInt,
          bit_depth = 0,
          duration_ms = if (kind == "riff") math.abs(h % 60000L) else 0L,
          batch_size = batchSize)
      }
    }
}
