package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads ride through the engine as
  * opaque `binary` columns plus typed metadata structs; decode/feature
  * steps run per-partition over iterators (the Scala analogue of
  * mapInPandas' batch shape) so a real codec would amortize its init cost
  * across a partition, not pay it per row.
  *
  * The actual byte→pixels decode is STUBBED (no image/audio libs in this
  * container): `fakeDecode` derives deterministic pseudo-metadata from the
  * bytes. Everything around it — schema, encoders, partition-iterator
  * plumbing, digesting, batching — is real and tested; swapping in javacv/
  * soundlibs later means replacing one function body.
  */
object Multimodal {

  /** Typed metadata a decoder would produce for an image-ish payload. */
  case class MediaMeta(
      mediaId: Long, byteLen: Long, sha256: String,
      width: Int, height: Int, channels: Int)

  /** STUB decode: deterministic fake dimensions derived from the payload
    * bytes. A real implementation would hand `bytes` to an image codec.
    */
  def fakeDecode(bytes: Array[Byte]): (Int, Int, Int) = {
    val h = java.util.Arrays.hashCode(bytes)
    (((h & 0x7fffffff) % 1920) + 1, (((h >> 8) & 0x7fffffff) % 1080) + 1,
      if ((h & 1) == 0) 3 else 1)
  }

  /** Binary ingestion: project an id + binary payload (here: utf-8 text
    * bytes standing in for a media blob) with digest + length computed as
    * native expressions — these never leave codegen.
    */
  def asBinary(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      sha2(col(payloadCol).cast("binary"), 256).as("sha256"),
      octet_length(col(payloadCol)).cast("long").as("byte_len"))

  /** Decode + feature-extract over partition iterators. Batch shape
    * mirrors mapInPandas: one decoder instantiation per partition, rows
    * streamed through it.
    */
  def decodeFeatures(spark: SparkSession, binDf: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    binDf.select("media_id", "payload", "sha256", "byte_len")
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { rows =>
        // real codec init would happen here, once per partition
        rows.map { case (id, bytes, sha, len) =>
          val (w, h, c) = fakeDecode(bytes)
          MediaMeta(id, len, sha, w, h, c)
        }
      }
  }

  /** Frame sampling for video-ish payloads: emit every `stride`-th chunk
    * of `frameBytes` bytes as its own row (media_id, frame_idx, digest,
    * n_bytes) — the explode-shaped operator a frame pipeline needs. The
    * chunking is the stub; the one-to-many row shape, per-frame digests,
    * and ordering are the real plumbing.
    */
  case class Frame(mediaId: Long, frameIdx: Int, sha256: String,
      nBytes: Int)

  def sampleFrames(spark: SparkSession, binDf: DataFrame,
      frameBytes: Int, stride: Int): Dataset[Frame] = {
    import spark.implicits._
    binDf.select("media_id", "payload").as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        (0 until bytes.length by frameBytes).zipWithIndex
          .filter { case (_, i) => i % stride == 0 }
          .map { case (off, i) =>
            val end = math.min(off + frameBytes, bytes.length)
            val chunk = java.util.Arrays.copyOfRange(bytes, off, end)
            val hex = md.digest(chunk).map("%02x".format(_)).mkString
            Frame(id, i, hex, end - off)
          }
      }
  }

  // ---- real container-header metadata (not stubbed) -------------------
  // The pixel DECODE above is stubbed (no codec libs in this container);
  // container metadata needs no codec. imageHeaderDecode reads
  // width/height/bit-depth straight from PNG IHDR / JPEG SOFn bytes —
  // the first thing an actual multimodal ingest computes per blob — via
  // the compiled one-pass functions.ImageHeaderMeta expression.

  /** 4-byte big-endian binary of a non-negative int column (hex/lpad/
    * unhex are all codegen'd natives).
    */
  private def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))

  /** 2-byte big-endian binary of a non-negative int column. */
  private def be16(c: Column): Column = unhex(lpad(hex(c), 4, "0"))

  /** A spec-shaped PNG file prefix (signature + IHDR chunk) with the
    * given dimensions — a deterministic fixture CONSTRUCTOR for a
    * container with no image libs, built from native expressions so
    * generated payloads scale with the corpus. The CRC is a fixed
    * placeholder: imageHeaderDecode reads structure, not checksums.
    */
  def pngHeaderBytes(w: Column, h: Column, bitDepth: Column,
      colorType: Column): Column =
    concat(
      lit(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)),
      lit(Array[Byte](0, 0, 0, 13)), lit("IHDR").cast("binary"),
      be32(w), be32(h),
      unhex(lpad(hex(bitDepth), 2, "0")),
      unhex(lpad(hex(colorType), 2, "0")),
      lit(Array[Byte](0, 0, 0)), // compression, filter, interlace
      lit(Array[Byte](0xde.toByte, 0xad.toByte, 0xbe.toByte, 0xef.toByte)))

  /** A spec-shaped JPEG file prefix: SOI, a standard 16-byte JFIF APP0,
    * a COM segment padded to `comPad` bytes (0-64 — per-row VARIABLE
    * segment lengths make the parser's marker walk load-bearing, not
    * decorative), then a 3-component SOF0 frame header with the given
    * dimensions. A comPad outside [0, 64] would desync the walk: above
    * 64 the pad bytes truncate while the declared segment length keeps
    * growing; below 0 `left()` emits zero bytes while be16(pad+2) — the
    * hex of a negative int lpad-truncated to 4 chars — declares a huge
    * COM length. The two-sided clamp keeps length and bytes consistent
    * for any input instead.
    */
  def jpegHeaderBytes(w: Column, h: Column, comPad: Column): Column = {
    val pad = greatest(lit(0), least(comPad, lit(64)))
    concat(
      lit(Array[Byte](0xff.toByte, 0xd8.toByte)), // SOI
      lit(Array[Byte](0xff.toByte, 0xe0.toByte, 0x00, 0x10)), // APP0 len 16
      lit("JFIF").cast("binary"),
      lit(Array[Byte](0, 1, 1, 0, 0, 0x48, 0, 0x48, 0, 0)),
      lit(Array[Byte](0xff.toByte, 0xfe.toByte)), be16(pad + lit(2)),
      left(lit("x" * 64), pad).cast("binary"),
      lit(Array[Byte](0xff.toByte, 0xc0.toByte, 0x00, 0x11, 0x08)),
      be16(h), be16(w),
      lit(Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)))
  }

  /** Parse PNG/JPEG header metadata out of a binary column:
    * (idCol, img_fmt, width, height, bit_depth), all four null for an
    * unparseable payload (nulls surface, they don't gate). ONE compiled
    * parse per row: the packed meta is staged as its own aliased
    * projection (CollapseProject keeps multi-use non-trivial aliases
    * staged), and the four field decodes are integer bit arithmetic on
    * that attribute — zero shuffles, zero joins, whole-stage codegen.
    */
  def imageHeaderDecode(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    Seq("__imeta", "img_fmt", "width", "height", "bit_depth").foreach(c =>
      require(!df.columns.contains(c),
        s"Multimodal.imageHeaderDecode reserves column name '$c'; " +
          "rename the input"))
    val m = col("__imeta")
    def field(shift: Int, mask: Long): Column =
      when(m >= 0, shiftright(m, shift).bitwiseAND(lit(mask)).cast("int"))
    df.select(col(idCol),
        graft.functions.SketchFunctions.imageHeaderMeta(col(binCol))
          .as("__imeta"))
      .select(col(idCol),
        when(m >= 0, when(shiftright(m, 56) === 1, "png").otherwise("jpeg"))
          .as("img_fmt"),
        field(24, 0xffffffL).as("width"),
        field(0, 0xffffffL).as("height"),
        field(48, 0xffL).as("bit_depth"))
  }

  /** One byte, little-endian building block: the low 8 bits of an int
    * column as a 1-byte binary.
    */
  private def leByte(c: Column): Column =
    unhex(lpad(hex(c.bitwiseAND(lit(255))), 2, "0"))

  /** 2-byte LITTLE-endian binary of a non-negative int column (GIF and
    * RIFF are LE containers, unlike PNG/JPEG).
    */
  private def le16(c: Column): Column =
    concat(leByte(c), leByte(shiftright(c, 8)))

  /** 4-byte little-endian binary of a non-negative int column. */
  private def le32(c: Column): Column =
    concat(leByte(c), leByte(shiftright(c, 8)),
      leByte(shiftright(c, 16)), leByte(shiftright(c, 24)))

  /** A spec-shaped GIF file prefix (GIF89a signature + logical screen
    * descriptor) with the given dimensions and colour-resolution bits
    * (1-8; stored as bits-1 in bits 4-6 of the packed byte, GIF89a
    * §18). Same fixture-constructor role as pngHeaderBytes.
    */
  def gifHeaderBytes(w: Column, h: Column, colorResBits: Column): Column = {
    val cr = greatest(lit(1), least(colorResBits, lit(8)))
    concat(
      lit("GIF89a").cast("binary"),
      le16(w), le16(h),
      leByte(shiftleft(cr - 1, 4)), // no GCT, no sort, GCT size 0
      lit(Array[Byte](0, 0))) // background colour index, aspect ratio
  }

  /** A spec-shaped WAV file prefix: RIFF/WAVE header, a JUNK chunk
    * padded to `junkPad` bytes (0-64, clamped two-sided like
    * jpegHeaderBytes' comPad; ODD pads exercise the RIFF even-alignment
    * rule — the declared size stays odd, the walk must skip the pad
    * byte), then a 16-byte PCM "fmt " chunk with the given rate,
    * channel count, and bit depth, and an empty data chunk.
    */
  def wavHeaderBytes(sampleRate: Column, channels: Column,
      bits: Column, junkPad: Column): Column = {
    val pad = greatest(lit(0), least(junkPad, lit(64)))
    val parity = pad.bitwiseAND(lit(1))
    val blockAlign = channels * shiftright(bits, 3)
    // riff size = everything after the 8-byte RIFF header: "WAVE"(4) +
    // junk chunk (8 + pad + parity) + fmt chunk (8 + 16) + data (8)
    val riffSize = lit(4) + lit(8) + pad + parity + lit(24) + lit(8)
    concat(
      lit("RIFF").cast("binary"), le32(riffSize),
      lit("WAVE").cast("binary"),
      lit("JUNK").cast("binary"), le32(pad),
      left(lit("j" * 64), pad).cast("binary"),
      // the alignment byte is NOT part of the declared size
      substring(lit(Array[Byte](0)), lit(1), parity),
      lit("fmt ").cast("binary"), le32(lit(16)),
      le16(lit(1)), le16(channels), le32(sampleRate),
      le32(sampleRate * blockAlign), le16(blockAlign), le16(bits),
      lit("data").cast("binary"), le32(lit(0)))
  }

  /** Parse PNG/JPEG/GIF/WAV header metadata out of a binary column:
    * (idCol, media_fmt, width, height, bit_depth, sample_rate,
    * channels). Image rows carry width/height and null audio fields;
    * wav rows carry sample_rate/channels and null dimensions; bit_depth
    * is populated for every parseable format (bits per channel for
    * images, bits per sample for wav); a fully unparseable payload is
    * all-null. Same one-compiled-parse-per-row shape as
    * imageHeaderDecode (PlanSpec pins the single staged parse).
    */
  def mediaHeaderDecode(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    Seq("__mmeta", "media_fmt", "width", "height", "bit_depth",
        "sample_rate", "channels").foreach(c =>
      require(!df.columns.contains(c),
        s"Multimodal.mediaHeaderDecode reserves column name '$c'; " +
          "rename the input"))
    val m = col("__mmeta")
    val fmt = shiftright(m, 56)
    def field(shift: Int, mask: Long): Column =
      shiftright(m, shift).bitwiseAND(lit(mask)).cast("int")
    df.select(col(idCol),
        graft.functions.SketchFunctions.mediaHeaderMeta(col(binCol))
          .as("__mmeta"))
      .select(col(idCol),
        when(m >= 0,
          when(fmt === 1, "png").when(fmt === 2, "jpeg")
            .when(fmt === 3, "gif").otherwise("wav")).as("media_fmt"),
        when(m >= 0 && fmt =!= 4, field(24, 0xffffffL)).as("width"),
        when(m >= 0 && fmt =!= 4, field(0, 0xffffffL)).as("height"),
        when(m >= 0, field(48, 0xffL)).as("bit_depth"),
        when(m >= 0 && fmt === 4, field(24, 0xffffffL)).as("sample_rate"),
        when(m >= 0 && fmt === 4, field(0, 0xffffffL)).as("channels"))
  }
}
