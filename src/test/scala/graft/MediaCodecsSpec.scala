package graft

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}


import graft.operators.{MediaCodecs, Multimodal}

/** Real pure-JVM media decode: PCM WAV and binary PPM payloads built
  * byte-by-byte here, decoded by MediaCodecs, and flowing through the
  * Multimodal decode operator next to opaque blobs in one column. */
class MediaCodecsSpec extends SparkSpec {
  import spark.implicits._

  /** Minimal valid PCM WAV: 16-bit mono `rate` Hz, given samples. */
  private def wavBytes(rate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + dataLen); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1); buf.putShort(1)          // PCM, mono
    buf.putInt(rate); buf.putInt(rate * 2)    // byte rate
    buf.putShort(2); buf.putShort(16)         // block align, bits
    buf.put("data".getBytes); buf.putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Binary P6 PPM with a comment line in the header. */
  private def ppmBytes(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(s"P6\n# test image\n$w $h\n255\n".getBytes("US-ASCII"))
    out.write(rgb)
    out.toByteArray
  }

  test("parseWav: rate/duration/rms/peak exact on a square wave") {
    // 1 second of 1 kHz-sample square wave at half amplitude
    val samples = Array.tabulate[Short](1000)(i =>
      if (i % 2 == 0) 16384 else -16384)
    val info = MediaCodecs.parseWav(wavBytes(1000, samples)).get
    assert(info.sampleRate == 1000 && info.channels == 1 && info.bitsPerSample == 16)
    assert(info.nFrames == 1000L && info.durationSec == 1.0)
    assert(math.abs(info.rms - 0.5) < 1e-9 && info.peak == 0.5)
    // strictness: truncated container, wrong magic, non-PCM all refuse
    assert(MediaCodecs.parseWav(wavBytes(1000, samples).take(30)).isEmpty)
    assert(MediaCodecs.parseWav("RIFFxxxxJUNK".getBytes).isEmpty)
    assert(MediaCodecs.parseWav("hello world, not audio at all...............".getBytes).isEmpty)
  }

  test("parseAu: .snd header, BE samples, annotation offset; strict otherwise") {
    val samples = Array.tabulate[Short](800)(i =>
      if (i % 2 == 0) 8192 else -8192)
    val built = MediaCodecs.buildAu(1600, samples)
    val info = MediaCodecs.parseAu(built).get
    assert(info.sampleRate == 1600 && info.channels == 1)
    assert(info.nFrames == 800L && info.durationSec == 0.5)
    assert(info.rms == 0.25 && info.peak == 0.25)
    // annotation bytes between header and data: dataOffset honors them
    val annotated = ByteBuffer.allocate(32 + samples.length * 2)
      .order(ByteOrder.BIG_ENDIAN)
    annotated.putInt(0x2e736e64).putInt(32).putInt(samples.length * 2)
      .putInt(3).putInt(1600).putInt(1).putLong(0L) // 8 annotation bytes
    samples.foreach(annotated.putShort)
    assert(MediaCodecs.parseAu(annotated.array()).get.rms == 0.25)
    // strictness: magic, encoding, truncation, ASCII payloads
    assert(MediaCodecs.parseAu(built.take(20)).isEmpty)
    assert(MediaCodecs.parseAu(".sndxxxxxxxxxxxxxxxxxxxxxxxx".getBytes).isEmpty)
    val mulaw = ByteBuffer.allocate(28).order(ByteOrder.BIG_ENDIAN)
      .putInt(0x2e736e64).putInt(24).putInt(4).putInt(1) // mu-law: refuse
      .putInt(8000).putInt(1).putInt(0)
    assert(MediaCodecs.parseAu(mulaw.array()).isEmpty)
    assert(MediaCodecs.parseAu("plain old text, definitely not audio".getBytes).isEmpty)
  }

  test("parseAiff: FORM/COMM/SSND walk, 80-bit rate field; strict otherwise") {
    val samples = Array.tabulate[Short](512)(i =>
      if (i % 2 == 0) 16384 else -16384)
    val built = MediaCodecs.buildAiff(44100, samples)
    val info = MediaCodecs.parseAiff(built).get
    assert(info.sampleRate == 44100 && info.channels == 1 && info.bitsPerSample == 16)
    assert(info.nFrames == 512L && info.durationSec == 512.0 / 44100)
    assert(info.rms == 0.5 && info.peak == 0.5)
    // the 80-bit extended rate round-trips across magnitudes
    Seq(1, 8000, 11025, 44100, 48000, 96000, 1000000).foreach { r =>
      val b = MediaCodecs.buildAiff(r, Array[Short](0, 0))
      assert(MediaCodecs.parseAiff(b).get.sampleRate == r, s"rate $r")
    }
    // SSND offset bytes are honored
    val withOffset = {
      val dataLen = samples.length * 2
      val formLen = 4 + (8 + 18) + (8 + 8 + 4 + dataLen)
      val buf = ByteBuffer.allocate(8 + formLen).order(ByteOrder.BIG_ENDIAN)
      buf.put("FORM".getBytes); buf.putInt(formLen); buf.put("AIFF".getBytes)
      buf.put("COMM".getBytes); buf.putInt(18)
      buf.putShort(1); buf.putInt(samples.length); buf.putShort(16)
      val rateBytes = MediaCodecs.buildAiff(8000, Array.empty[Short]).slice(28, 38)
      buf.put(rateBytes)
      buf.put("SSND".getBytes); buf.putInt(8 + 4 + dataLen)
      buf.putInt(4); buf.putInt(0); buf.putInt(0xdeadbeef) // 4 offset bytes
      samples.foreach(buf.putShort)
      buf.array()
    }
    assert(MediaCodecs.parseAiff(withOffset).get.rms == 0.5)
    // strictness: magic, truncation, ASCII, non-16-bit
    assert(MediaCodecs.parseAiff(built.take(20)).isEmpty)
    assert(MediaCodecs.parseAiff("FORMxxxxAIFC nope".getBytes).isEmpty)
    assert(MediaCodecs.parseAiff("FORM, an ordinary sentence.".getBytes).isEmpty)
    assert(MediaCodecs.parseWav(built).isEmpty) // containers don't cross-parse
    assert(MediaCodecs.parseAiff(MediaCodecs.buildPcmWav(8000, samples)).isEmpty)
  }

  test("parsePpm: dims, channel means, luma exact; strict on size mismatch") {
    // 2x2: pure red, pure green, pure blue, white
    val rgb = Array[Int](255,0,0, 0,255,0, 0,0,255, 255,255,255).map(_.toByte)
    val info = MediaCodecs.parsePpm(ppmBytes(2, 2, rgb)).get
    assert(info.width == 2 && info.height == 2 && info.maxVal == 255)
    assert(info.meanR == 127.5 && info.meanG == 127.5 && info.meanB == 127.5)
    assert(math.abs(info.meanLuma - 127.5) < 1e-9)
    // payload one byte short: refuse rather than misdecode
    assert(MediaCodecs.parsePpm(ppmBytes(2, 2, rgb.dropRight(1))).isEmpty)
    assert(MediaCodecs.parsePpm("P6 but not really".getBytes).isEmpty)
  }

  test("parsePgm: grayscale dims/mean/min/max; strict like P6") {
    val px = Array[Int](0, 64, 128, 255).map(_.toByte)
    val bytes = ("P5\n# gray\n4 1\n255\n").getBytes("US-ASCII") ++ px
    val info = MediaCodecs.parsePgm(bytes).get
    assert(info.width == 4 && info.height == 1 && info.maxVal == 255)
    assert(info.mean == (0 + 64 + 128 + 255) / 4.0)
    assert(info.min == 0 && info.max == 255)
    assert(MediaCodecs.parsePgm(bytes.dropRight(1)).isEmpty) // short raster
    assert(MediaCodecs.parsePgm("P5 nope".getBytes).isEmpty)
    // P5 payload must not parse as P6 and vice versa
    assert(MediaCodecs.parsePpm(bytes).isEmpty)
  }

  test("decode operator dispatches per row: wav, ppm, opaque fallback in one column") {
    val wav = wavBytes(8000, Array.tabulate[Short](800)(i => if (i % 2 == 0) 8192 else -8192))
    val ppm = ppmBytes(2, 1, Array[Int](10, 20, 30, 30, 40, 50).map(_.toByte))
    val txt = "just an opaque payload".getBytes("UTF-8")
    val df = Seq((1L, wav), (2L, ppm), (3L, txt)).toDF("doc_id", "blob")
    val out = Multimodal.decodeFeaturesStub(df, "doc_id", "blob", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val w = out(1L)
    assert(w(0) == 1.0 && w(1) == 8000.0 && w(2) == 1.0 && w(3) == 0.1, w) // tag, rate, mono, 0.1s
    assert(math.abs(w(4) - 0.25) < 1e-9 && w(5) == 0.25) // rms, peak
    val p = out(2L)
    assert(p(0) == 2.0 && p(1) == 2.0 && p(2) == 1.0, p) // tag, 2x1
    assert(p(3) == 20.0 && p(4) == 30.0 && p(5) == 40.0) // channel means
    val t = out(3L)
    assert(t(0) != 1.0 && t(0) != 2.0 && t.length == 8) // chunk-mean fallback
  }

  test("PNG round-trip: every filter type reconstructs the raster byte-for-byte") {
    import graft.operators.MediaCodecs
    // non-trivial raster (gradients + LCG noise) so Sub/Up/Average/
    // Paeth all see real deltas — a solid color would make every
    // filter inverse trivially pass
    val (w, h) = (7, 5)
    var seed = 12345L
    val rgb = Array.tabulate(w * h * 3) { i =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((i * 11) + (seed >>> 56)).toInt & 0xff).toByte
    }
    for (ft <- 0 to 4) {
      val png = MediaCodecs.buildPng(w, h, rgb, filterType = ft)
      val decoded = MediaCodecs.decodePngPixels(png)
      assert(decoded.nonEmpty, s"filter $ft failed to decode")
      val (dw, dh, px) = decoded.get
      assert(dw == w && dh == h)
      assert(px.sameElements(rgb), s"filter $ft: pixel mismatch")
    }
  }

  test("PNG strictness: corrupt CRC, truncated IDAT, wrong color type, non-PNG all -> None") {
    import graft.operators.MediaCodecs
    val rgb = Array.tabulate(4 * 2 * 3)(i => (i * 17 & 0xff).toByte)
    val good = MediaCodecs.buildPng(4, 2, rgb, filterType = 4)
    assert(MediaCodecs.parsePng(good).nonEmpty)
    // flip one byte inside the IDAT payload: CRC check must catch it
    val corrupt = good.clone(); corrupt(good.length - 20) = (corrupt(good.length - 20) ^ 0x7f).toByte
    assert(MediaCodecs.parsePng(corrupt).isEmpty, "corrupt CRC accepted")
    // truncate mid-chunk
    assert(MediaCodecs.parsePng(good.take(good.length - 10)).isEmpty)
    // non-PNG payloads fall through cleanly
    assert(MediaCodecs.parsePng("not a png at all".getBytes("US-ASCII")).isEmpty)
    assert(MediaCodecs.parsePng(Array.emptyByteArray).isEmpty)
    // the decoded means equal the raster means exactly (closed form)
    val info = MediaCodecs.parsePng(good).get
    val mr = rgb.grouped(3).map(t => t(0) & 0xff).sum / 8.0
    assert(info.meanR == mr)
  }
}
