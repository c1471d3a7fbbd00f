package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The REAL pure-JDK codec paths (javax.imageio / javax.sound): format
  * sniffing across containers, exact raster/PCM roundtrips, and the
  * quarantine rows for undecodable or truncated bytes. The oracle side
  * (q137/q138) pins the PNG/WAV roundtrip values; this spec covers what
  * SQL can't reach — other containers and the failure modes.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def grayImage(w: Int, h: Int)(px: (Int, Int) => Int) = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w)
      img.getRaster.setSample(x, y, 0, px(x, y))
    img
  }

  private def encoded(fmt: String, img: java.awt.image.BufferedImage) = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  test("decodeImage sniffs png/bmp/gif, decodes real rasters, quarantines junk") {
    val img = grayImage(6, 4)((x, y) => (x * 40 + y * 7) % 256)
    val lumaSum = (for (y <- 0 until 4; x <- 0 until 6)
      yield (x * 40 + y * 7) % 256).map(_.toLong).sum
    val png = encoded("png", img)
    val bmp = encoded("bmp", img)
    val gif = encoded("gif", img)
    val media = Seq(
      (1L, png), (2L, bmp), (3L, gif),
      (4L, Array[Byte](1, 2, 3)),       // no reader claims it
      (5L, png.take(20))                // valid magic, truncated body
    ).toDF("id", "media")
    val out = Multimodal.decodeImage(spark, media, "id", "media")
      .collect().map(d => d.id -> d).toMap
    // png and bmp roundtrip the gray raster losslessly
    for ((id, fmt) <- Seq(1L -> "png", 2L -> "bmp")) {
      assert(out(id).format == fmt && out(id).width == 6 && out(id).height == 4)
      assert(out(id).mean_luma_x1000 == lumaSum * 1000 / 24)
    }
    // gif decodes with correct dims (palette quantization may shift
    // values, so only the shape is asserted)
    assert(out(3L).format == "gif" && out(3L).width == 6 && out(3L).height == 4)
    assert(out(4L).format == "unknown" && out(4L).width == -1)
    assert(out(5L).format == "png" && out(5L).width == -1,
      "truncated body keeps the sniffed format but decodes to the error row")
  }

  test("resize: exact nearest-neighbor subsample, real PNG out, geometry gate") {
    // 6×4 ramp raster: pixel (x,y) = 10x + y. factor 2 → 3×2 keeping
    // (0,0),(2,0),(4,0),(0,2),(2,2),(4,2) = 0,20,40,2,22,42 — sum 126,
    // mean_x1000 = 126*1000/6 = 21000
    val ramp = encoded("png", grayImage(6, 4)((x, y) => 10 * x + y))
    // bmp input proves the sniffer, not just the PNG path
    val bmp = encoded("bmp", grayImage(6, 4)((x, y) => 10 * x + y))
    // 5×4 is not divisible by 2 → geometry quarantine
    val odd = encoded("png", grayImage(5, 4)((_, _) => 7))
    val df = Seq((1L, ramp), (2L, bmp), (3L, odd),
      (4L, Array[Byte](1, 2, 3))).toDF("id", "media")
    val out = Multimodal.resizeImage(spark, df, "id", "media", 2)
      .collect().map(r => r.id -> r).toMap
    for (id <- Seq(1L, 2L)) {
      val r = out(id)
      assert((r.w_in, r.h_in, r.w_out, r.h_out) == (6, 4, 3, 2))
      assert(r.mean_luma_out_x1000 == 21000L)
      // the output is a REAL standalone PNG: decode it independently
      val back = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.media_out))
      assert(back.getWidth == 3 && back.getHeight == 2)
      assert(back.getRaster.getSample(1, 1, 0) == 22)
    }
    assert(out(3L).w_out == -1 && out(3L).media_out.isEmpty)
    assert(out(4L).format == "unknown" && out(4L).w_out == -1)
  }

  test("jpeg decodes with exact dims and plausible luma (lossy codec)") {
    val img = grayImage(16, 16)((_, _) => 128)
    val media = Seq((1L, encoded("jpg", img))).toDF("id", "media")
    val d = Multimodal.decodeImage(spark, media, "id", "media").collect().head
    assert(d.format == "jpeg" && d.width == 16 && d.height == 16)
    // flat gray 128 should come back within a quantization hair
    assert(math.abs(d.mean_luma_x1000 - 128000L) < 3000, d.mean_luma_x1000)
  }

  test("wav roundtrip is sample-exact; junk and null blobs quarantine") {
    val docs = Seq((7L, "abc"), (8L, "")).toDF("doc_id", "text")
    val media = Multimodal.encodePcmWav(spark, docs, "doc_id", "text",
      n = 4, sampleRate = 16000)
    val good = Multimodal.decodeAudio(spark, media, "id", "media")
      .collect().map(d => d.id -> d).toMap
    // "abc" → bytes 97,98,99 then space pad: samples (b-96)*128
    val s7 = Seq(97, 98, 99, 32).map(b => math.abs((b - 96) * 128).toLong)
    assert(good(7L).sample_rate_hz == 16000 && good(7L).channels == 1)
    assert(good(7L).n_frames == 4L)
    assert(good(7L).mean_abs_x1000 == s7.sum * 1000 / 4)
    // all-pad doc decodes too (constant −64·128 amplitude)
    assert(good(8L).mean_abs_x1000 == 64 * 128 * 1000L)
    val bad = Multimodal.decodeAudio(spark,
      Seq((9L, Array[Byte](9, 9, 9)), (10L, null.asInstanceOf[Array[Byte]]))
        .toDF("id", "media"), "id", "media")
      .collect().map(d => d.id -> d).toMap
    assert(bad(9L).sample_rate_hz == -1 && bad(10L).sample_rate_hz == -1)
  }

  test("audio frame features: exact energy/peak/zc, tail dropped, junk quarantines") {
    import org.apache.spark.sql.functions._
    // 5 'docs': text chars chosen so samples = (byte-96)*128 have known
    // signs: 'a'=97 → +128, ' '=32 → -8192. Pattern "a a a ..." flips
    // sign every char → zc = frameLen-1 within a frame.
    val flip = "a " * 40 // 80 chars → 128 samples space-padded
    val const = "aaaa" * 32 // all +128, zc = 0
    val docs = Seq((1L, flip), (2L, const)).toDF("doc_id", "text")
    val media = Multimodal.encodePcmWav(spark, docs, "doc_id", "text",
      n = 128, sampleRate = 8000)
    val out = Multimodal.audioFrameFeatures(spark, media, "id", "media",
        frameLen = 32)
      .collect().groupBy(_.id)
    assert(out(1L).length == 4 && out(2L).length == 4)
    val f0 = out(1L).find(_.frame_idx == 0L).get
    // frame 0 of flip: 16×(+128) + 16×(−8192), strict alternation
    assert(f0.zero_crossings == 31L)
    assert(f0.peak_abs == 8192L)
    assert(f0.energy_sum_sq == 16L * 128 * 128 + 16L * 8192 * 8192)
    val c0 = out(2L).find(_.frame_idx == 0L).get
    assert(c0.zero_crossings == 0L && c0.peak_abs == 128L)
    // a 40-sample WAV at frameLen 32 emits exactly 1 frame (tail dropped)
    val short = Multimodal.encodePcmWav(spark,
      Seq((3L, "x")).toDF("doc_id", "text"), "doc_id", "text",
      n = 40, sampleRate = 8000)
    assert(Multimodal.audioFrameFeatures(spark, short, "id", "media", 32)
      .collect().length == 1)
    // junk bytes → one quarantine row
    val junk = Seq((4L, Array[Byte](9, 9, 9))).toDF("id", "media")
    val q = Multimodal.audioFrameFeatures(spark, junk, "id", "media", 32)
      .collect()
    assert(q.length == 1 && q.head.frame_idx == -1L)
    // STEREO de-interleaves: reinterpreting doc 1's 128 mono samples
    // ("a a a…" ×40, space-padded: +128/−8192 alternating through
    // sample 79, then −8192) as 2ch × 64 puts every 'a' on channel 0
    // and every space on channel 1. Channel 1 must be pure −8192 (zc
    // 0 — interleaved framing would show zc 31 like the mono frame
    // above); channel 0 frame 0 is pure +128 and frame 1 crosses into
    // the padding exactly once — the stride AND the frame boundary
    // are both value-pinned per channel.
    val mono = media.filter(col("id") === 1L)
      .select("media").collect()(0).getAs[Array[Byte]](0)
    val stereo = mono.clone()
    stereo(22) = 2 // fmt channels (LE16 low byte)
    stereo(32) = 4 // fmt blockAlign for 2ch × 16-bit
    val s2 = Seq((5L, stereo)).toDF("id", "media")
    val sq = Multimodal.audioFrameFeatures(spark, s2, "id", "media", 32)
      .collect()
    assert(sq.length == 4) // 2 channels × 2 frames of 32 from 64/ch
    def frame(c: Long, f: Long) =
      sq.find(r => r.channel == c && r.frame_idx == f).get
    assert(frame(0L, 0L).energy_sum_sq == 32L * 128 * 128 &&
      frame(0L, 0L).peak_abs == 128L && frame(0L, 0L).zero_crossings == 0L)
    assert(frame(0L, 1L).energy_sum_sq ==
      8L * 128 * 128 + 24L * 8192 * 8192 &&
      frame(0L, 1L).zero_crossings == 1L)
    assert(Seq(0L, 1L).forall { f =>
      frame(1L, f).energy_sum_sq == 32L * 8192 * 8192 &&
      frame(1L, f).zero_crossings == 0L })
    // a blockAlign that CONTRADICTS 16-bit × channels is truly
    // malformed — the stride is unknowable, so it quarantines
    val bad = mono.clone()
    bad(22) = 2 // claims stereo but leaves blockAlign = 2
    val bq = Multimodal.audioFrameFeatures(spark,
        Seq((6L, bad)).toDF("id", "media"), "id", "media", 32)
      .collect()
    assert(bq.length == 1 && bq.head.frame_idx == -1L &&
      bq.head.n_samples == -1L && bq.head.channel == -1L)
  }

  test("crafted RIFF chunk size near 2^32 terminates and quarantines") {
    // chunk sizes are untrusted 32-bit fields: 0xFFFFFFF8 as an Int is
    // -8, so the old Int-arithmetic walk advanced by 8 + (-8) = 0 and
    // spun the executor task forever; the Long-safe walk must bail to
    // the general decoder, which quarantines the blob (-1 row)
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
            ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val crafted = "RIFF".getBytes ++ le32(1000L) ++ "WAVE".getBytes ++
      "junk".getBytes ++ le32(0xFFFFFFF8L) ++ Array.fill[Byte](32)(0)
    val out = Multimodal.decodeAudio(spark,
        Seq((1L, crafted)).toDF("id", "media"), "id", "media")
      .collect().head
    assert(out.sample_rate_hz == -1 && out.n_frames == -1)
  }

  test("manually-written WAV bytes interop with the platform codec") {
    // encodePcmWav writes the RIFF header itself (AudioSystem.write's
    // provider lookup contends across threads); the bytes must stay
    // the canonical layout any WAV consumer reads — pinned by decoding
    // through javax.sound itself, not our parser
    val docs = Seq((1L, "xy")).toDF("doc_id", "text")
    val bytes = Multimodal.encodePcmWav(spark, docs, "doc_id", "text",
        n = 4, sampleRate = 8000)
      .collect().head.getAs[Array[Byte]]("media")
    val ain = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    assert(ain.getFormat.getSampleRate == 8000f)
    assert(ain.getFormat.getChannels == 1)
    assert(ain.getFormat.getSampleSizeInBits == 16)
    assert(!ain.getFormat.isBigEndian)
    assert(ain.getFrameLength == 4L)
    val pcm = ain.readAllBytes()
    val s0 = ((pcm(0) & 0xff) | (pcm(1) << 8)).toShort
    assert(s0 == (('x'.toInt - 96) * 128).toShort)
  }
}
