package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("image_stats decodes a known PNG exactly and NULLs undecodable bytes") {
    import graft.functions.{GraftFunctions => GF}
    // 2x3 image with known pixels: r = 10x+y, g = 100+x, b = 200+y
    val img = new java.awt.image.BufferedImage(
      2, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 2)
      img.setRGB(x, y, ((10 * x + y) << 16) | ((100 + x) << 8) | (200 + y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val out = Seq((1L, png), (2L, "not an image".getBytes("UTF-8")))
      .toDF("id", "bytes")
      .select($"id", GF.imageStats($"bytes").as("st"))
      .orderBy("id").collect()
    val st = out(0).getStruct(1)
    assert(st.getInt(0) == 2 && st.getInt(1) == 3)
    // rsum = sum(10x+y) = (0+1+2)+(10+11+12) = 36; gsum = 3*100+3*101 = 603
    // bsum = 2*(200+201+202) = 1206
    assert(st.getLong(2) == 36L && st.getLong(3) == 603L && st.getLong(4) == 1206L)
    assert(out(1).isNullAt(1), "non-image bytes must decode to NULL")
  }

  test("image_stats NULLs hostile bytes that make the decoder throw") {
    import graft.functions.ImageCore
    // A valid PNG, truncated mid-stream: the reader is selected from the
    // intact signature, then crashes inside the decode — depending on the
    // JDK this surfaces as IOException OR RuntimeException, and the
    // TRY()-like contract is NULL either way, never a crash
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val hostile = Seq(
      png.take(png.length / 2),              // truncated mid-IDAT
      png.take(24),                          // signature + partial IHDR
      png.updated(25, 0x7f.toByte),          // corrupted IHDR fields
      (png.take(16) ++ Array.fill[Byte](32)(-1)).toArray)
    hostile.zipWithIndex.foreach { case (bytes, i) =>
      assert(ImageCore.stats(bytes) == null, s"hostile payload $i must be NULL")
    }
  }

  test("audio_stats decodes a known WAV exactly and NULLs undecodable bytes (r11)") {
    import graft.functions.{GraftFunctions => GF}
    // 5 samples with known int16 values; 16-bit mono PCM at 8 kHz
    val samples = Array[Int](100, -250, 0, 32767, -32768)
    val data = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val out = Seq((1L, wav), (2L, "not audio".getBytes("UTF-8")))
      .toDF("id", "bytes")
      .select($"id", GF.audioStats($"bytes").as("st"))
      .orderBy("id").collect()
    val st = out(0).getStruct(1)
    assert(st.getLong(0) == 5L)
    assert(st.getInt(1) == 1)                                // channels
    assert(st.getInt(2) == 8000)
    assert(st.getLong(3) == 100L + 250 + 0 + 32767 + 32768) // sum_abs
    assert(st.getLong(4) == 32768L)                          // peak
    assert(out(1).isNullAt(1), "non-audio bytes must decode to NULL")

    // STEREO (r13, the r12 ADVICE defect): 3 frames × 2 channels — the
    // value count is 6 but the channel count must ride along so
    // duration divides by 2 (the old 4-field struct read stereo 2× long)
    val sSamples = Array[Int](10, -20, 30, -40, 50, -60)
    val sData = new Array[Byte](sSamples.length * 2)
    sSamples.zipWithIndex.foreach { case (v, i) =>
      sData(2 * i) = (v & 0xff).toByte
      sData(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val sFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val sBos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(sData), sFmt, 3L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, sBos)
    val sSt = graft.functions.AudioCore.stats(sBos.toByteArray)
    assert(sSt.getLong(0) == 6L, "stereo counts 6 interleaved values")
    assert(sSt.getInt(1) == 2, "stereo channel count")
    assert(sSt.getLong(3) == 10L + 20 + 30 + 40 + 50 + 60)
    assert(sSt.getLong(4) == 60L)

    // hostile payloads: truncated/corrupted WAV headers NULL, not crash
    import graft.functions.AudioCore
    val hostile = Seq(
      wav.take(wav.length / 2),
      wav.take(12),
      (wav.take(8) ++ Array.fill[Byte](16)(-1)).toArray)
    hostile.zipWithIndex.foreach { case (bytes, i) =>
      val r = AudioCore.stats(bytes)
      // a truncated DATA section can still parse as a shorter valid WAV;
      // the contract is only "never crash, never garbage": NULL or a
      // sample count no larger than the original
      assert(r == null || r.getLong(0) <= 5L, s"hostile payload $i")
    }
  }

  test("decodeStub: deterministic L1-normalized 16-bin histogram") {
    val f = Multimodal.decodeStub("hello world".getBytes("UTF-8"))
    assert(f.length == 16)
    assert(math.abs(f.sum - 1.0f) < 1e-5)
    assert(f.sameElements(Multimodal.decodeStub("hello world".getBytes("UTF-8"))))
  }

  test("decodeStub: null/empty payload yields zero vector") {
    assert(Multimodal.decodeStub(null).forall(_ == 0f))
    assert(Multimodal.decodeStub(Array.emptyByteArray).forall(_ == 0f))
  }

  test("frameSample: exact fan-out, sampled indices, tail frame size (L7b)") {
    // 1000-byte payload, 256-byte frames → frames 0..3 (tail = 232 bytes);
    // every=2 keeps frames 0 and 2
    val payload = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    val media = Seq(Multimodal.MediaRow(7L, "video", payload)).toDS()
    val frames = Multimodal.frameSample(media, 256, 2).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).sameElements(Array(0, 2)))
    assert(frames.forall(_.n_bytes == 256))
    // frame content determinism: features equal a direct stub call on the slice
    assert(frames(1).features.sameElements(
      Multimodal.decodeStub(payload.slice(512, 768))))
    // null payload → zero frames, not a crash
    val empty = Multimodal.frameSample(
      Seq(Multimodal.MediaRow(8L, "video", null)).toDS(), 256, 2).count()
    assert(empty == 0)
  }

  test("thumbnailDims: aspect-preserving, bounded by max edge (L7c)") {
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Array[Byte](100, 10)),
      Multimodal.MediaRow(2L, "image", Array[Byte](0, 0)),
      Multimodal.MediaRow(3L, "image", null)).toDS()
    val dims = Multimodal.thumbnailDims(media, 128)
      .select($"media_id", $"width", $"height", $"thumb_w", $"thumb_h")
      .as[(Long, Int, Int, Int, Int)].collect().sortBy(_._1)
    dims.foreach { case (_, w, h, tw, th) =>
      assert(tw <= 128 && th <= 128 && tw >= 1 && th >= 1)
      // aspect ratio preserved within rounding
      assert(math.abs(tw.toDouble / th - w.toDouble / h) < 0.05 ||
        (tw == 128 || th == 128))
    }
    // an image already smaller than maxEdge is not upscaled
    val small = dims.find(_._1 == 2L).get
    assert(small._4 == small._2 && small._5 == small._3)
  }

  test("featurize pipeline: schema, batch shape, byte counts (L7)") {
    val out = Multimodal.documentPayloadFeatures(spark, sf)
    assert(out.columns.sameElements(Array("media_id", "kind", "n_bytes", "features")))
    val row = out.orderBy($"media_id").limit(1)
      .select($"n_bytes", size($"features")).as[(Long, Int)].head()
    assert(row._1 > 0 && row._2 == 16)
    assert(out.count() == Tables.documents(spark, sf).count())
  }
}
