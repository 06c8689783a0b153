package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkTestBase {

  private lazy val bin = Multimodal.asBinary(
    spark.read.parquet(s"$sfDir/documents.parquet").limit(50),
    "doc_id", "text")

  test("asBinary computes digest and byte length natively") {
    val r = bin.collect()
    assert(r.length == 50)
    r.foreach { row =>
      val payload = row.getAs[Array[Byte]]("payload")
      assert(row.getAs[Long]("byte_len") == payload.length)
      assert(row.getAs[String]("sha256").matches("[0-9a-f]{64}"))
    }
  }

  test("decodeFeatures runs per partition and is deterministic") {
    val a = Multimodal.decodeFeatures(spark, bin).collect()
      .sortBy(_.mediaId)
    val b = Multimodal.decodeFeatures(spark, bin.repartition(7)).collect()
      .sortBy(_.mediaId)
    assert(a.length == 50)
    assert(a.toSeq == b.toSeq) // partitioning must not change results
    a.foreach { m =>
      assert(m.width >= 1 && m.width <= 1920)
      assert(m.height >= 1 && m.height <= 1080)
      assert(m.channels == 1 || m.channels == 3)
    }
  }

  test("fakeDecode is a pure function of bytes") {
    val x = "hello".getBytes("UTF-8")
    assert(Multimodal.fakeDecode(x) == Multimodal.fakeDecode(x.clone()))
  }

  test("sampleFrames explodes payloads into ordered per-frame rows") {
    val frames = Multimodal.sampleFrames(spark, bin, frameBytes = 64,
      stride = 2).collect()
    assert(frames.nonEmpty)
    // per media: frame indices are even (stride 2) and digests differ
    val byMedia = frames.groupBy(_.mediaId)
    byMedia.values.foreach { fs =>
      assert(fs.forall(_.frameIdx % 2 == 0))
      assert(fs.map(_.sha256).distinct.length == fs.length)
      assert(fs.forall(_.nBytes <= 64))
    }
    // deterministic under repartitioning
    val again = Multimodal.sampleFrames(spark, bin.repartition(5), 64, 2)
      .collect().sortBy(f => (f.mediaId, f.frameIdx)).toSeq
    assert(again == frames.sortBy(f => (f.mediaId, f.frameIdx)).toSeq)
  }

  test("sampleFrames at stride 1 conserves every payload byte") {
    // narrow import: functions.bin would shadow this suite's `bin` frame
    import org.apache.spark.sql.functions.{col, count, lit, max, sum}
    val all = Multimodal.sampleFrames(spark, bin, frameBytes = 64, stride = 1)
      .toDF().groupBy("mediaId").agg(sum("nBytes").as("frame_bytes"),
        count(lit(1)).as("n_frames"), max("frameIdx").as("max_idx"))
    val lens = bin.select(col("media_id"), col("byte_len"))
    val bad = all.join(lens, col("mediaId") === col("media_id"))
      .filter(col("frame_bytes") =!= col("byte_len") ||
        col("n_frames") =!= col("max_idx") + 1)
      .count()
    assert(bad == 0) // no byte lost or duplicated, no frame index gap
  }

  test("imageHeaderDecode inverts the header constructors for every " +
    "(w, h, depth, pad) dial, and surfaces unparseable rows as nulls") {
    import spark.implicits._
    val dials = (for (i <- 1L to 60L) yield i).toDF("i")
      .select(col("i"),
        (col("i") * 977 % 65000 + 1).cast("int").as("w"),
        (col("i") * 131 % 50000 + 1).cast("int").as("h"),
        when(col("i") % 3 === 0, 16).otherwise(8).as("dep"),
        (col("i") % 13).cast("int").as("pad"))
    val png = Multimodal.imageHeaderDecode(
      dials.select(col("i"),
        Multimodal.pngHeaderBytes(col("w"), col("h"), col("dep"),
          lit(6)).as("p")), "i", "p")
    png.collect().foreach { r =>
      val i = r.getLong(0)
      assert(r.getString(1) == "png")
      assert(r.getInt(2) == (i * 977 % 65000 + 1).toInt, s"w at $i")
      assert(r.getInt(3) == (i * 131 % 50000 + 1).toInt, s"h at $i")
      assert(r.getInt(4) == (if (i % 3 == 0) 16 else 8), s"depth at $i")
    }
    val jpg = Multimodal.imageHeaderDecode(
      dials.select(col("i"),
        Multimodal.jpegHeaderBytes(col("w"), col("h"), col("pad"))
          .as("p")), "i", "p")
    // JPEG dims are BE16 fields: the dial arithmetic stays under 2^16
    jpg.collect().foreach { r =>
      val i = r.getLong(0)
      assert(r.getString(1) == "jpeg")
      assert(r.getInt(2) == (i * 977 % 65000 + 1).toInt, s"w at $i")
      assert(r.getInt(3) == (i * 131 % 50000 + 1).toInt, s"h at $i")
      assert(r.getInt(4) == 8)
    }
    // unparseable payloads and null payloads: all four fields null
    val bad = Multimodal.imageHeaderDecode(
      Seq((1L, Array[Byte](1, 2, 3)), (2L, null))
        .toDF("i", "p"), "i", "p").collect()
    bad.foreach { r =>
      assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) &&
        r.isNullAt(4))
    }
  }

  test("imageHeaderDecode reads real files through the binaryFile " +
    "source — the actual multimodal ingestion path, end to end") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-media").toFile
    // a REAL complete 1x1 PNG (the canonical 67-byte transparent
    // pixel: signature, IHDR w/ its correct CRC, IDAT, IEND)
    val png = (Seq(
      0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13) ++ "IHDR".map(_.toInt) ++ Seq(
      0, 0, 0, 1, 0, 0, 0, 1, 8, 6, 0, 0, 0, 0x1f, 0x15, 0xc4, 0x89,
      0, 0, 0, 0x0a) ++ "IDAT".map(_.toInt) ++ Seq(
      0x78, 0x9c, 0x63, 0x00, 0x01, 0x00, 0x00, 0x05, 0x00, 0x01,
      0x0d, 0x0a, 0x2d, 0xb4, 0, 0, 0, 0) ++ "IEND".map(_.toInt) ++
      Seq(0xae, 0x42, 0x60, 0x82)).map(_.toByte).toArray
    // a minimal real-structure JPEG header (SOI, JFIF APP0, DQT, SOF0
    // 2x3) with an EOI so the file is well-formed front to back
    val jpg = (Seq(
      0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x10) ++ "JFIF".map(_.toInt) ++ Seq(
      0, 1, 1, 0, 0, 1, 0, 1, 0, 0,
      0xff, 0xdb, 0x00, 0x43, 0x00) ++ Seq.fill(64)(0) ++ Seq(
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x02, 0x00, 0x03, 0x01,
      0x01, 0x11, 0x00, 0xff, 0xd9)).map(_.toByte).toArray
    java.nio.file.Files.write(
      new java.io.File(dir, "a.png").toPath, png)
    java.nio.file.Files.write(
      new java.io.File(dir, "b.jpg").toPath, jpg)
    val files = spark.read.format("binaryFile").load(dir.getAbsolutePath)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        col("content"))
    val got = Multimodal.imageHeaderDecode(files, "name", "content")
      .orderBy("name").collect()
    assert(got.length == 2)
    assert(got(0).getString(0) == "a.png" &&
      got(0).getString(1) == "png" && got(0).getInt(2) == 1 &&
      got(0).getInt(3) == 1 && got(0).getInt(4) == 8)
    assert(got(1).getString(0) == "b.jpg" &&
      got(1).getString(1) == "jpeg" && got(1).getInt(2) == 3 &&
      got(1).getInt(3) == 2 && got(1).getInt(4) == 8)
  }

  test("mediaHeaderDecode inverts the GIF and WAV constructors for " +
    "every dial, agrees with imageHeaderDecode on images, and " +
    "surfaces unparseable rows as nulls") {
    import spark.implicits._
    val dials = (for (i <- 1L to 60L) yield i).toDF("i")
      .select(col("i"),
        (col("i") * 977 % 65000 + 1).cast("int").as("w"),
        (col("i") * 131 % 50000 + 1).cast("int").as("h"),
        (col("i") % 8 + 1).cast("int").as("crbits"),
        ((col("i") * 441) % 48000 + 8000).cast("int").as("rate"),
        (col("i") % 6 + 1).cast("int").as("ch"),
        ((col("i") % 3 + 1) * 8).cast("int").as("bits"),
        (col("i") % 11).cast("int").as("jpad")) // odd pads: even-align rule
    val gif = Multimodal.mediaHeaderDecode(
      dials.select(col("i"),
        Multimodal.gifHeaderBytes(col("w"), col("h"), col("crbits"))
          .as("p")), "i", "p")
    gif.collect().foreach { r =>
      val i = r.getLong(0)
      assert(r.getString(1) == "gif")
      assert(r.getInt(2) == (i * 977 % 65000 + 1).toInt, s"w at $i")
      assert(r.getInt(3) == (i * 131 % 50000 + 1).toInt, s"h at $i")
      assert(r.getInt(4) == (i % 8 + 1).toInt, s"crbits at $i")
      assert(r.isNullAt(5) && r.isNullAt(6), s"audio fields at $i")
    }
    val wav = Multimodal.mediaHeaderDecode(
      dials.select(col("i"),
        Multimodal.wavHeaderBytes(col("rate"), col("ch"), col("bits"),
          col("jpad")).as("p")), "i", "p")
    wav.collect().foreach { r =>
      val i = r.getLong(0)
      assert(r.getString(1) == "wav")
      assert(r.isNullAt(2) && r.isNullAt(3), s"image fields at $i")
      assert(r.getInt(4) == ((i % 3 + 1) * 8).toInt, s"bits at $i")
      assert(r.getInt(5) == ((i * 441) % 48000 + 8000).toInt, s"rate at $i")
      assert(r.getInt(6) == (i % 6 + 1).toInt, s"channels at $i")
    }
    // images parse identically through both decoders (delegation law)
    val pngs = dials.select(col("i"),
      Multimodal.pngHeaderBytes(col("w"), col("h"), lit(8), lit(6))
        .as("p"))
    val viaMedia = Multimodal.mediaHeaderDecode(pngs, "i", "p")
      .select(col("i"), col("media_fmt"), col("width"), col("height"),
        col("bit_depth"))
    val viaImage = Multimodal.imageHeaderDecode(pngs, "i", "p")
      .select(col("i"), col("img_fmt"), col("width"), col("height"),
        col("bit_depth"))
    assert(viaMedia.exceptAll(viaImage).isEmpty &&
      viaImage.exceptAll(viaMedia).isEmpty)
    // unparseable and null payloads: every field null
    val bad = Multimodal.mediaHeaderDecode(
      Seq((1L, Array[Byte](1, 2, 3)), (2L, null),
        (3L, "RIFFxxxxWAVE".getBytes("UTF-8")), // truncated: no fmt chunk
        (4L, "GIF89a".getBytes("UTF-8"))) // truncated: no LSD
        .toDF("i", "p"), "i", "p").collect()
    bad.foreach { r =>
      (1 to 6).foreach(j => assert(r.isNullAt(j), s"row $r field $j"))
    }
  }

  test("mediaHeaderMeta parses CANONICAL fixed bytes: a hand-written " +
    "GIF89a screen descriptor and the classic 44-byte PCM WAV header") {
    // GIF89a, 2x3 logical screen, colour resolution 8 bits
    // (packed byte 0x70: (8-1)<<4, no GCT)
    val gif = ("GIF89a".map(_.toInt) ++ Seq(
      0x02, 0x00, 0x03, 0x00, 0x70, 0x00, 0x00)).map(_.toByte).toArray
    val gm = graft.functions.Sketches.mediaHeaderMeta(gif)
    assert(gm >> 56 == 3L, s"fmt: $gm")
    assert(((gm >> 48) & 0xff) == 8L, s"depth: $gm")
    assert(((gm >> 24) & 0xffffff) == 2L, s"w: $gm")
    assert((gm & 0xffffff) == 3L, s"h: $gm")
    // the canonical 44-byte WAV prefix: PCM, stereo, 44.1 kHz, 16-bit
    // (44100 = 0xAC44 LE, byte rate 176400 = 0x0002B110 LE)
    val wav = ("RIFF".map(_.toInt) ++ Seq(0x24, 0x08, 0x00, 0x00) ++
      "WAVE".map(_.toInt) ++ "fmt ".map(_.toInt) ++ Seq(
      0x10, 0x00, 0x00, 0x00, // fmt chunk size 16
      0x01, 0x00, 0x02, 0x00, // PCM, 2 channels
      0x44, 0xac, 0x00, 0x00, // 44100 Hz
      0x10, 0xb1, 0x02, 0x00, // byte rate 176400
      0x04, 0x00, 0x10, 0x00) ++ // block align 4, 16 bits
      "data".map(_.toInt) ++ Seq(0x00, 0x08, 0x00, 0x00))
      .map(_.toByte).toArray
    val wm = graft.functions.Sketches.mediaHeaderMeta(wav)
    assert(wm >> 56 == 4L, s"fmt: $wm")
    assert(((wm >> 48) & 0xff) == 16L, s"bits: $wm")
    assert(((wm >> 24) & 0xffffff) == 44100L, s"rate: $wm")
    assert((wm & 0xffffff) == 2L, s"channels: $wm")
    // a leading LIST chunk with an ODD declared size: the walk must
    // skip its alignment byte to land on "fmt " (RIFF even-pad rule)
    val padded = ("RIFF".map(_.toInt) ++ Seq(0x31, 0x08, 0x00, 0x00) ++
      "WAVE".map(_.toInt) ++ "LIST".map(_.toInt) ++
      Seq(0x05, 0x00, 0x00, 0x00) ++ // size 5 (odd)
      Seq(0x69, 0x69, 0x69, 0x69, 0x69, 0x00)) // 5 bytes + pad
      .map(_.toByte).toArray ++ wav.drop(12)
    assert(graft.functions.Sketches.mediaHeaderMeta(padded) == wm,
      "odd-size chunk skip lost alignment")
    // images delegate: identical packed value to imageHeaderMeta
    val png = (Seq(
      0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13) ++ "IHDR".map(_.toInt) ++ Seq(
      0, 0, 0, 1, 0, 0, 0, 1, 8, 6, 0, 0, 0, 0x1f, 0x15, 0xc4, 0x89))
      .map(_.toByte).toArray
    assert(graft.functions.Sketches.mediaHeaderMeta(png) ==
      graft.functions.Sketches.imageHeaderMeta(png))
  }

  test("mediaHeaderDecode reads real GIF and WAV files through the " +
    "binaryFile source alongside images — one decode, four formats") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-media4").toFile
    // a COMPLETE real 1x1 GIF89a (35 bytes: header, LSD, GCT of 2,
    // graphics control, image descriptor, 2-colour LZW data, trailer)
    val gif = ("GIF89a".map(_.toInt) ++ Seq(
      0x01, 0x00, 0x01, 0x00, 0x80, 0x00, 0x00, // LSD: 1x1, GCT, cr 1
      0x00, 0x00, 0x00, 0xff, 0xff, 0xff, // GCT: black, white
      0x2c, 0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00,
      0x02, 0x02, 0x44, 0x01, 0x00, 0x3b)).map(_.toByte).toArray
    // a complete real WAV: canonical header + 4 bytes of silence
    val wav = ("RIFF".map(_.toInt) ++ Seq(0x28, 0x00, 0x00, 0x00) ++
      "WAVE".map(_.toInt) ++ "fmt ".map(_.toInt) ++ Seq(
      0x10, 0x00, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00,
      0x40, 0x1f, 0x00, 0x00, // 8000 Hz
      0x80, 0x3e, 0x00, 0x00, // byte rate 16000
      0x02, 0x00, 0x10, 0x00) ++
      "data".map(_.toInt) ++ Seq(0x04, 0x00, 0x00, 0x00, 0, 0, 0, 0))
      .map(_.toByte).toArray
    java.nio.file.Files.write(
      new java.io.File(dir, "c.gif").toPath, gif)
    java.nio.file.Files.write(
      new java.io.File(dir, "d.wav").toPath, wav)
    val files = spark.read.format("binaryFile").load(dir.getAbsolutePath)
      .select(element_at(split(col("path"), "/"), -1).as("name"),
        col("content"))
    val got = Multimodal.mediaHeaderDecode(files, "name", "content")
      .orderBy("name").collect()
    assert(got.length == 2)
    assert(got(0).getString(0) == "c.gif" &&
      got(0).getString(1) == "gif" && got(0).getInt(2) == 1 &&
      got(0).getInt(3) == 1 && got(0).getInt(4) == 1 &&
      got(0).isNullAt(5) && got(0).isNullAt(6))
    assert(got(1).getString(0) == "d.wav" &&
      got(1).getString(1) == "wav" && got(1).isNullAt(2) &&
      got(1).isNullAt(3) && got(1).getInt(4) == 16 &&
      got(1).getInt(5) == 8000 && got(1).getInt(6) == 1)
  }

  test("imageHeaderDecode reserves its output column names") {
    import spark.implicits._
    val clash = Seq((1L, Array[Byte](0))).toDF("i", "width")
    val e = intercept[IllegalArgumentException](
      Multimodal.imageHeaderDecode(clash, "i", "width"))
    assert(e.getMessage.contains("reserves column name"))
  }
}
