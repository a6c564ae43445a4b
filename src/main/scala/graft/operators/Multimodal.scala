package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with a typed metadata struct; decode / feature-extract
  * / frame-sample are per-partition batch operators (the Scala analogue of
  * arrow-batched Python UDFs).
  *
  * The DECODE STEP IS A DETERMINISTIC STUB — this container has no
  * image/audio codecs, so [[decodeStub]] derives "features" from raw bytes
  * with a fixed formula. The Spark-side plumbing is real and tested:
  * schema, binary column handling, partition-wise batch iteration, chunked
  * frame sampling, and the pure-column byte operators. A real decoder
  * drops into [[decodeStub]]'s inner function without touching any plan
  * shape.
  *
  * Scale shape: every operator is a narrow per-partition map — no shuffle,
  * no driver collect; payload bytes never leave their partition.
  */
object Multimodal {

  /** Canonical media schema: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),    // image|audio|video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true))), nullable = true)))

  /** Deterministic fake media table derived from any (id, text) frame —
    * payload = utf-8 bytes, metadata from byte length. Lets every
    * downstream operator be exercised without codec libraries. */
  def synthesizeMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      element_at(lit(Array("image", "audio", "video")),
        (col(idCol) % 3).cast(IntegerType) + 1).as("kind"),
      encode(col(textCol), "UTF-8").as("bytes"),
      struct(
        (length(encode(col(textCol), "UTF-8")) % 640).cast(IntegerType).as("width"),
        (length(encode(col(textCol), "UTF-8")) % 480).cast(IntegerType).as("height"),
        lit(16000).as("sample_rate")).as("meta"))

  /** Pure-column byte operators (codegen'd, no UDF): size, content
    * fingerprint, checksum. */
  def byteStats(df: DataFrame): DataFrame =
    df.withColumn("n_bytes", length(col("bytes")).cast(LongType))
      .withColumn("fingerprint", md5(col("bytes")))
      .withColumn("checksum", crc32(col("bytes")))

  private val FeatureDim = 8

  /** ── STUB BOUNDARY ──  "Decode + feature-extract" per media row.
    * A real implementation decodes the payload (JPEG/PCM/...) here; the
    * stub emits FeatureDim moments of the byte distribution, computed
    * deterministically from the raw payload. Runs partition-batch-wise via
    * mapPartitions: rows stream through one partition-local function call,
    * the same execution shape a heavyweight decoder needs (amortized model
    * or codec init per partition, not per row). */
  def decodeStub(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(df.schema.fields.toSeq :+
      StructField("features", ArrayType(FloatType), nullable = true))
    val bytesIdx = df.schema.fieldIndex("bytes")
    val rdd = df.rdd.mapPartitions { rows =>
      // per-partition init happens HERE (codec/model load in a real impl)
      rows.map { r =>
        val payload = r.get(bytesIdx).asInstanceOf[Array[Byte]]
        val feats: Array[Float] =
          if (payload == null) null
          else {
            val buckets = new Array[Long](FeatureDim)
            var i = 0
            while (i < payload.length) {
              buckets((payload(i) & 0xff) % FeatureDim) += 1
              i += 1
            }
            val n = math.max(payload.length, 1).toFloat
            buckets.map(_ / n)
          }
        Row.fromSeq(r.toSeq :+ (feats: Any))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Container magic bytes per kind — REAL file signatures (PNG / JPEG /
    * RIFF-WAV), so [[sniffFormat]] exercises the actual detection a
    * production ingest runs, not a placeholder. */
  val magic: Map[String, Array[Byte]] = Map(
    "image" -> Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte), // PNG
    "video" -> Array(0xFF, 0xD8, 0xFF).map(_.toByte),                               // JPEG (MJPEG frame)
    "audio" -> Array(0x52, 0x49, 0x46, 0x46).map(_.toByte))                         // RIFF/WAV

  /** [[synthesizeMedia]] with a real container signature prepended, so
    * format detection has true headers to find. */
  def synthesizeMediaWithMagic(df: DataFrame, idCol: String, textCol: String): DataFrame =
    synthesizeMedia(df, idCol, textCol)
      .withColumn("bytes", concat(
        element_at(lit(Array(magic("image"), magic("audio"), magic("video"))),
          (col("media_id") % 3).cast(IntegerType) + 1),
        col("bytes")))

  /** Sniff the container format from payload magic bytes — a codegen'd
    * prefix compare on the binary column (no UDF, no decode): the
    * validation step that catches mislabeled/corrupt payloads BEFORE a
    * 100 TB decode job wastes a cluster on them. */
  def sniffFormat(bytes: Column): Column =
    when(hex(substring(bytes, 1, 8)) === "89504E470D0A1A0A", "png")
      .when(hex(substring(bytes, 1, 3)) === "FFD8FF", "jpeg")
      .when(hex(substring(bytes, 1, 4)) === "52494646", "riff")
      .when(substring(bytes, 1, 3).cast(StringType) === "GIF", "gif")
      .otherwise("unknown")

  /** Serialize an int column as 4 big-endian bytes (the byte order every
    * image container uses for lengths/dimensions): hex → pad to 8
    * nibbles → unhex. Codegen'd builtins only. */
  def beInt32(v: Column): Column = unhex(lpad(hex(v.cast(LongType)), 8, "0"))

  /** Read 4 big-endian bytes at 1-based `pos` as a long — the inverse of
    * [[beInt32]]; `substring` slices binary, `conv` parses the hex. */
  def beInt32At(bytes: Column, pos: Int): Column =
    conv(hex(substring(bytes, pos, 4)), 16, 10).cast(LongType)

  /** Build a REAL (header-level) PNG payload: 8-byte signature, IHDR
    * length, "IHDR", width, height, bit depth 8 / color type 2 (plus a
    * stub body) — enough structure that a header parser, including
    * [[pngDims]] and any external tool reading IHDR, sees a valid start
    * of file. Pure byte concat, no UDF. */
  def pngPayload(width: Column, height: Column): Column =
    concat(
      lit(magic("image")),                         // PNG signature
      beInt32(lit(13)), lit("IHDR".getBytes("US-ASCII")),
      beInt32(width), beInt32(height),
      lit(Array[Byte](8, 2, 0, 0, 0)),             // depth/color/compress/filter/interlace
      beInt32(lit(0)))                             // CRC stub

  /** Parse (width, height) from a PNG IHDR — the codec-free slice of
    * image decode a byte-level parser CAN do in this container: width is
    * bytes 17-20, height 21-24 (1-based), both big-endian. Returns null
    * dims for non-PNG payloads (checked via [[sniffFormat]]'s prefix). */
  def pngDims(bytes: Column): Column = {
    val isPng = hex(substring(bytes, 1, 8)) === "89504E470D0A1A0A"
    struct(
      when(isPng, beInt32At(bytes, 17)).as("width"),
      when(isPng, beInt32At(bytes, 21)).as("height"))
  }

  /** Read a 4-byte LITTLE-endian int at 1-based `pos` (RIFF byte order):
    * per-byte hex parse folded with powers of 256 — still pure codegen'd
    * builtins. */
  def leInt32At(bytes: Column, pos: Int): Column =
    (0 until 4).map(i =>
      conv(hex(substring(bytes, pos + i, 1)), 16, 10).cast(LongType) *
        lit(1L << (8 * i))).reduce(_ + _)

  /** Sample rate from a canonical RIFF/WAVE header (bytes 25-28,
    * little-endian, after RIFF+size+WAVE+"fmt "+len+format+channels).
    * Null for anything that isn't a canonical WAV head. */
  def wavSampleRate(bytes: Column): Column =
    when(hex(substring(bytes, 1, 4)) === "52494646" &&
         hex(substring(bytes, 9, 8)) === "57415645666D7420",
      leInt32At(bytes, 25))

  /** Serialize an int column as 2 big-endian bytes (JPEG segment fields). */
  def beInt16(v: Column): Column = unhex(lpad(hex(v.cast(LongType)), 4, "0"))

  /** Read 2 big-endian bytes at a DYNAMIC 1-based position — marker scans
    * land on data-dependent offsets, so `pos` is a column. */
  def beInt16At(bytes: Column, pos: Column): Column =
    conv(hex(bytes.substr(pos, lit(2))), 16, 10).cast(LongType)

  /** Build a minimal REAL JPEG: SOI, a full 16-byte APP0/JFIF segment,
    * an SOF0 frame header carrying (height, width), EOI. The dimensions
    * sit in the THIRD segment — a parser must walk the marker chain to
    * find them, exactly like a real file. */
  def jpegPayload(width: Column, height: Column): Column =
    concat(
      lit(Array(0xFF, 0xD8).map(_.toByte)),                    // SOI
      lit(Array(0xFF, 0xE0).map(_.toByte)), beInt16(lit(16)),  // APP0, len 16
      lit("JFIF".getBytes("US-ASCII")),
      lit(Array[Byte](0, 1, 1, 0)),                            // \0, version 1.1, units 0
      beInt16(lit(1)), beInt16(lit(1)),                        // x/y density
      lit(Array[Byte](0, 0)),                                  // no thumbnail
      lit(Array(0xFF, 0xC0).map(_.toByte)), beInt16(lit(11)),  // SOF0, len 8+3*1
      lit(Array[Byte](8)),                                     // precision
      beInt16(height), beInt16(width),
      lit(Array[Byte](1, 0x11, 0)),                            // 1 component
      lit(Array(0xFF, 0xD9).map(_.toByte)))                    // EOI

  /** Parse (width, height) from a JPEG by WALKING THE MARKER CHAIN — the
    * real shape of JPEG metadata: segments are length-prefixed and the
    * SOF frame header can sit anywhere, so the scan hops `pos → pos +
    * 2 + len` until it lands on an SOF0/1/2 marker, then reads height
    * (offset +5) and width (+7), both big-endian. The bounded recursion
    * unrolls into one nested codegen'd expression — `maxSegments` hops,
    * no UDF, no decode; null dims for non-JPEG or SOF-not-found. */
  def jpegDims(bytes: Column, maxSegments: Int = 8): Column = {
    def scan(pos: Column, k: Int): Column =
      if (k == 0)
        lit(null).cast("struct<width:bigint,height:bigint>")
      else {
        val marker = hex(bytes.substr(pos, lit(2)))
        val segLen = beInt16At(bytes, pos + lit(2))
        when(marker.isin("FFC0", "FFC1", "FFC2"),
          struct(
            beInt16At(bytes, pos + lit(7)).as("width"),
            beInt16At(bytes, pos + lit(5)).as("height")))
          .otherwise(scan(pos + segLen + lit(2), k - 1))
      }
    when(hex(substring(bytes, 1, 3)) === "FFD8FF", scan(lit(3), maxSegments))
      .otherwise(lit(null).cast("struct<width:bigint,height:bigint>"))
  }

  /** Read 2 LITTLE-endian bytes at 1-based `pos` (GIF byte order). */
  def leInt16At(bytes: Column, pos: Int): Column =
    (0 until 2).map(i =>
      conv(hex(substring(bytes, pos + i, 1)), 16, 10).cast(LongType) *
        lit(1L << (8 * i))).reduce(_ + _)

  /** Serialize an int column as 2 little-endian bytes: byte-swap the
    * big-endian hex before unhex. */
  def leInt16(v: Column): Column = {
    val he = lpad(hex(v.cast(LongType)), 4, "0")
    unhex(concat(substring(he, 3, 2), substring(he, 1, 2)))
  }

  /** Build a minimal REAL GIF89a: signature + logical screen descriptor
    * (width/height little-endian at offsets 7/9) + trailer. */
  def gifPayload(width: Column, height: Column): Column =
    concat(
      lit("GIF89a".getBytes("US-ASCII")),
      leInt16(width), leInt16(height),
      lit(Array[Byte](0, 0, 0)),                               // flags/bg/aspect
      lit(Array(0x3B).map(_.toByte)))                          // trailer

  /** Parse (width, height) from a GIF logical screen descriptor —
    * little-endian u16s right after the 6-byte signature; null for
    * payloads that aren't GIF87a/GIF89a. */
  def gifDims(bytes: Column): Column = {
    val sig = substring(bytes, 1, 6).cast(StringType)
    when(sig === "GIF87a" || sig === "GIF89a",
      struct(leInt16At(bytes, 7).as("width"), leInt16At(bytes, 9).as("height")))
      .otherwise(lit(null).cast("struct<width:bigint,height:bigint>"))
  }

  /** Serialize a gray tile as raw bytes: `gray(i)` (an int column in
    * 0..255) per pixel index, hex-encoded then unhexed once — a binary
    * payload built from codegen'd builtins, standing in for a decoder's
    * resized-grayscale output so the byte-level fingerprint path below is
    * exercised end-to-end without codec libraries. */
  def grayTilePayload(n: Int)(gray: Column => Column): Column =
    unhex(concat_ws("",
      transform(sequence(lit(0), lit(n - 1)), i => lpad(hex(gray(i)), 2, "0"))))

  /** 64-bit perceptual difference hash of a `width×height` gray tile
    * riding in a binary column — one native fused pass
    * ([[graft.plans.DHashExpr]]); null for truncated payloads. */
  def dhash64(bytes: Column, width: Int = 9, height: Int = 8): Column =
    graft.plans.DHashExpr(bytes, width, height)

  /** Image near-duplicate pairs via dHash LSH: band the 64-bit
    * fingerprint into 4×16-bit slices; payloads sharing any slice at the
    * same position are candidates (pigeonhole: full recall for
    * hamming ≤ 3, high recall far beyond — near-identical images agree on
    * almost every gradient bit); verify `bit_count(xor) ≤ maxHamming`.
    * Identical shuffle shape to [[Dedup.simhashPairs]]: one banding
    * shuffle of width 4×rows, mega-buckets (flat-color images all hash to
    * 0) bounded by [[Dedup.capBuckets]]'s deterministic, observe-audited
    * cap, then one bucket-local self-join — no O(n²) stage, nothing
    * collects. This is the whole-corpus image-dedup path: fingerprints
    * are 8 bytes/row however large the payloads, so the shuffle carries
    * ~1/10⁶ of the corpus bytes at 100 TB. */
  def phashPairs(df: DataFrame, idCol: String, bytesCol: String,
                 width: Int = 9, height: Int = 8,
                 maxHamming: Int = 10,
                 maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val banded = df
      .select(col(idCol).as("id"), dhash64(col(bytesCol), width, height).as("ph"))
      .filter(col("ph").isNotNull)
      .select(col("id"), col("ph"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("ph"), 16 * b).bitwiseAND(65535L)): _*)).as(Seq("band", "key")))
    Dedup.capBuckets(banded, maxBucket, "phash").selfPairs("id", "ph")
      .withColumn("hamming", bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Frame/segment sampling: slice the payload into up to `n` fixed-size
    * chunks (video frame-sampling shape), one output row per chunk. Pure
    * column ops — `substring` works on binary. */
  def frameSample(df: DataFrame, n: Int, chunkBytes: Int): DataFrame =
    df.select(col("*"),
        posexplode(transform(
          sequence(lit(0),
            least(lit(n - 1),
              floor((length(col("bytes")) - 1) / chunkBytes).cast(IntegerType))),
          i => substring(col("bytes"), i * chunkBytes + 1, lit(chunkBytes))))
          .as(Seq("frame_idx", "frame")))
      .drop("bytes")
}
