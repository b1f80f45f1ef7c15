package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal
import graft.ops.Multimodal.{FakeCodec, Media, MediaMeta}

/** Multimodal plumbing: codec roundtrip, corrupt-row containment,
  * nearest-neighbor resize arithmetic, frame sampling, partition
  * balancing. The codec payload is fake; the batch shape, schema and
  * byte math are the real deliverable. */
class MultimodalSpec extends AnyFunSuite with SparkTestSession {

  test("codec: encode/decode roundtrip preserves meta and payload") {
    val payload = Array.tabulate[Byte](24)(i => (i * 7).toByte)
    val blob = FakeCodec.encode(4, 3, 2, payload)
    val Some((meta, px)) = FakeCodec.decodePixels(blob)
    assert(meta == MediaMeta(4, 3, 2))
    assert(px.toSeq == payload.toSeq)
  }

  test("codec: malformed inputs decode to None, never throw") {
    assert(FakeCodec.decodePixels(null).isEmpty)
    assert(FakeCodec.decodePixels(Array[Byte](1, 2, 3)).isEmpty)
    assert(FakeCodec.decodePixels("NOPE|4|3|1|xx".getBytes).isEmpty)     // wrong magic
    assert(FakeCodec.decodePixels("GIMG|x|3|1|xx".getBytes).isEmpty)     // bad dims
    assert(FakeCodec.decodePixels("GIMG|4|3".getBytes).isEmpty)          // truncated
    assert(FakeCodec.decodePixels("GIMG|0|3|1|xx".getBytes).isEmpty)     // zero dim
  }

  test("decode dataset: corrupt rows survive tagged, valid rows carry meta") {
    import spark.implicits._
    val media = Seq(
      Media(1L, "image", FakeCodec.encode(2, 2, 1, Array[Byte](10, 20, 30, 40))),
      Media(2L, "image", "garbage-bytes".getBytes)).toDS()
    val out = Multimodal.decode(media).collect().sortBy(_.media_id)
    assert(out(0).meta.contains(MediaMeta(2, 2, 1)))
    assert(out(1).meta.isEmpty && out(1).kind == "image:corrupt")
  }

  test("features: byte statistics and 16-bin histogram") {
    import spark.implicits._
    val px = Array[Byte](0, 16, 32, 0xFF.toByte)
    val media = Seq(Media(7L, "image", FakeCodec.encode(2, 2, 1, px))).toDS()
    val f = Multimodal.features(Multimodal.decode(media)).collect().head
    assert(f.n_bytes == 4 && f.width == 2 && f.height == 2)
    assert(f.mean_byte == (0 + 16 + 32 + 255) / 4.0)
    assert(f.histogram(0) == 1 && f.histogram(1) == 1 && f.histogram(2) == 1 && f.histogram(15) == 1)
    assert(f.histogram.sum == 4)
  }

  test("resize: nearest-neighbor downsample picks the right source pixels") {
    // 4x2 single-channel grid, values encode (row, col)
    val meta = MediaMeta(4, 2, 1)
    val px = Array[Byte](11, 12, 13, 14, 21, 22, 23, 24)
    val (m2, out) = Multimodal.resizeNearest(meta, px, 2, 1)
    assert(m2 == MediaMeta(2, 1, 1))
    assert(out.toSeq == Seq[Byte](11, 13)) // cols 0,2 of row 0
    val (m3, up) = Multimodal.resizeNearest(meta, px, 8, 4)
    assert(m3 == MediaMeta(8, 4, 1))
    assert(up.length == 32)
    assert(up(0) == 11 && up(31) == 24)
  }

  test("frame sampling: every k-th fixed-size frame") {
    val frames = Array.tabulate[Byte](30)(_.toByte) // 5 frames x 6 bytes
    val sampled = Multimodal.sampleFrames(frames, frameBytes = 6, everyK = 2)
    assert(sampled.length == 3) // frames 0, 2, 4
    assert(sampled(0).toSeq == (0 until 6).map(_.toByte))
    assert(sampled(1).toSeq == (12 until 18).map(_.toByte))
    assert(sampled(2).toSeq == (24 until 30).map(_.toByte))
  }

  test("balanced: opaque blobs spread across the requested partitions") {
    import spark.implicits._
    val media = (1L to 64L).map(i => Media(i, "image", FakeCodec.encode(1, 1, 1, Array[Byte](1)))).toDS()
    val parts = Multimodal.balanced(media, 8).rdd.getNumPartitions
    assert(parts == 8)
  }

  test("binary ingestion shape: mediaFromText produces decodable BINARY payloads") {
    import spark.implicits._
    val docs = Seq((3L, "hello world")).toDF("doc_id", "text")
    val media = Multimodal.mediaFromText(docs, "doc_id", "text").as[Media].collect().head
    val Some((meta, px)) = FakeCodec.decodePixels(media.data)
    assert(meta == MediaMeta(4, 4, 1)) // (3%16)+1, (3%8)+1
    assert(new String(px) == "hello world")
  }

  // Committed real PNG, generated as a 7×5 TYPE_INT_RGB gradient with
  // R = x*36, G = y*51, B = (x+y)*17 — every pixel is predictable, so
  // the decode is asserted value-by-value, not just shape-by-shape.
  private val PngFixture = TestFixtures.TinyRgbPng

  test("ImageIO codec: real PNG decodes to exact dimensions and pixel bytes") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(PngFixture))
    assert(Multimodal.ImageCodec.looksLikeImage(bytes))
    val Some((meta, px)) = Multimodal.ImageCodec.decodePixels(bytes)
    assert(meta == MediaMeta(7, 5, 3))
    assert(px.length == 7 * 5 * 3)
    // exact pixel values per the generator formula
    for (y <- 0 until 5; x <- 0 until 7) {
      val i = (y * 7 + x) * 3
      assert((px(i) & 0xff) == x * 36, s"R at ($x,$y)")
      assert((px(i + 1) & 0xff) == y * 51, s"G at ($x,$y)")
      assert((px(i + 2) & 0xff) == (x + y) * 17, s"B at ($x,$y)")
    }
    // and the full-buffer checksum, so any future regression in byte
    // order or channel layout trips even outside the sampled loop
    val want = (for (y <- 0 until 5; x <- 0 until 7)
      yield x * 36 + y * 51 + (x + y) * 17).sum
    assert(px.map(_ & 0xff).sum == want)
  }

  test("ImageIO codec: truncated PNG is contained, not thrown") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(PngFixture))
    assert(Multimodal.ImageCodec.decodePixels(bytes.take(20)) == None)
    assert(Multimodal.ImageCodec.decodePixels(Array.emptyByteArray) == None)
    assert(Multimodal.ImageCodec.decodePixels(null) == None)
  }

  test("AudioCodec: WAV round-trip through the real javax.sound parser") {
    import Multimodal.AudioCodec
    // 100-sample 16-bit ramp at 8 kHz mono: every byte value exercised
    // on both the low and high byte of a sample
    val pcm = Array.tabulate[Byte](200)(i => ((i * 7 + 3) % 256 - 128).toByte)
    val wav = AudioCodec.wavBytes(pcm, sampleRate = 8000)
    assert(AudioCodec.looksLikeAudio(wav))
    val Some((meta, decoded)) = AudioCodec.decodeSamples(wav)
    assert(meta == Multimodal.AudioMeta(8000, 1, 16, 100))
    assert(decoded.toSeq == pcm.toSeq, "decoded PCM must be byte-exact")
    // stereo: frame count halves, channels doubles
    val Some((meta2, _)) = AudioCodec.decodeSamples(AudioCodec.wavBytes(pcm, 8000, channels = 2))
    assert(meta2 == Multimodal.AudioMeta(8000, 2, 16, 50))
  }

  test("AudioCodec: AIFF and AU containers decode through the sniffed dispatch") {
    import Multimodal.AudioCodec
    // The fast path orders readers by container magic (the MIDI-registry
    // lock fix), so the non-WAV families must still decode — this pins
    // the dispatch for all three magics the sniffer knows. Containers
    // are produced by the JDK's own writers from a known PCM signal.
    val pcm = Array.tabulate[Byte](200)(i => ((i * 7 + 3) % 256 - 128).toByte)
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    def containerBytes(t: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, pcm.length / 2)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in, t, bos)
      bos.toByteArray
    }
    val aiff = containerBytes(javax.sound.sampled.AudioFileFormat.Type.AIFF)
    val au = containerBytes(javax.sound.sampled.AudioFileFormat.Type.AU)
    assert(AudioCodec.looksLikeAudio(aiff) && AudioCodec.looksLikeAudio(au))
    val Some((aiffMeta, aiffPcm)) = AudioCodec.decodeSamples(aiff)
    val Some((auMeta, auPcm)) = AudioCodec.decodeSamples(au)
    // Same signal, same meta; payload byte order is the CONTAINER's
    // (AIFF/AU are big-endian), so compare sample VALUES, not bytes.
    assert(aiffMeta == Multimodal.AudioMeta(8000, 1, 16, 100))
    assert(auMeta == Multimodal.AudioMeta(8000, 1, 16, 100))
    def samplesLE(b: Array[Byte]) =
      b.grouped(2).map(p => ((p(0) & 0xff) | (p(1) << 8)).toShort).toSeq
    def samplesBE(b: Array[Byte]) =
      b.grouped(2).map(p => ((p(1) & 0xff) | (p(0) << 8)).toShort).toSeq
    assert(samplesBE(aiffPcm) == samplesLE(pcm))
    assert(samplesBE(auPcm) == samplesLE(pcm))
  }

  test("AudioCodec: malformed containers are contained, never thrown") {
    import Multimodal.AudioCodec
    assert(AudioCodec.decodeSamples(null) == None)
    assert(AudioCodec.decodeSamples(Array.emptyByteArray) == None)
    assert(AudioCodec.decodeSamples("RIFFxxxxWAVEgarbage".getBytes) == None)
    assert(!AudioCodec.looksLikeAudio("not audio at all".getBytes))
  }

  test("audioFeatures: frame count, duration, and signed sample-sum checksum") {
    import spark.implicits._
    import Multimodal.AudioCodec
    // samples: +1, -1, 256, -32768 → sum = -32512
    val pcm = Array[Byte](1, 0, -1, -1, 0, 1, 0, -128)
    val media = Seq(
      Media(1L, "audio", AudioCodec.wavBytes(pcm, 8000)),
      Media(2L, "audio", "garbage".getBytes)).toDS()
    val out = Multimodal.audioFeatures(media).collect().sortBy(_.media_id)
    assert(out(0) == Multimodal.AudioFeatures(1L, 8000, 1, 4L, 0.5, 1L - 1L + 256L - 32768L))
    assert(out(1).sample_rate == -1 && out(1).n_frames == 0L, "corrupt row must survive")
  }

  test("decode dataset dispatches per row: real PNG, GIMG container, corrupt") {
    import spark.implicits._
    val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(PngFixture))
    val media = Seq(
      Media(1L, "png", png),
      Media(2L, "image", FakeCodec.encode(2, 2, 1, Array[Byte](9, 8, 7, 6))),
      Media(3L, "png", png.take(20)) // sniffs as PNG, fails to decode
    ).toDS()
    val out = Multimodal.decode(media).collect().sortBy(_.media_id)
    assert(out(0).meta.contains(MediaMeta(7, 5, 3)) && out(0).pixels.length == 105)
    assert(out(1).meta.contains(MediaMeta(2, 2, 1)) && out(1).pixels.toSeq == Seq[Byte](9, 8, 7, 6))
    assert(out(2).kind == "png:corrupt" && out(2).meta.isEmpty)
  }
}
