package graft.ext

import org.apache.spark.sql.functions._

/** Real-codec multimodal decode: every payload here is the output of an
  * actual JDK encoder (ImageIO / AudioSystem), and every assertion checks
  * DECODED pixel/sample values — a header-only or stubbed decoder cannot
  * pass these. (Lives in graft.ext to reach the package-private encode
  * helpers.)
  */
class MultimodalCodecSpec extends graft.SparkSpec {
  import spark.implicits._

  implicit private val s: org.apache.spark.sql.SparkSession = spark

  private def mediaDf(rows: Seq[(Long, String, Array[Byte])]) =
    rows.map { case (id, t, b) => (id, t, "t", b) }
      .toDF("media_id", "media_type", "source", "content")

  test("image decode: png/bmp round-trip recovers dims and exact pixel sums") {
    val png = Multimodal.encodeImage("png", 17, 9, 10, 20, 30)
    val bmp = Multimodal.encodeImage("bmp", 5, 7, 200, 100, 50)
    val dec = Multimodal.decode(mediaDf(Seq(
      (1L, "image/png", png), (2L, "image/bmp", bmp))))
      .collect().map(d => d.media_id -> d).toMap
    assert(dec(1L).format == "png" && dec(1L).width == 17 && dec(1L).height == 9)
    assert(dec(1L).n_samples == 17L * 9)
    assert(dec(1L).content_sum == 17L * 9 * (10 + 20 + 30))
    assert(dec(2L).format == "bmp" && dec(2L).width == 5 && dec(2L).height == 7)
    assert(dec(2L).content_sum == 5L * 7 * (200 + 100 + 50))
  }

  test("image decode: jpeg/gif real encoder output recovers true dimensions") {
    // jpeg is lossy and gif palettizes — dims are exact, pixel sums aren't
    val jpg = Multimodal.encodeImage("jpg", 33, 21, 128, 128, 128)
    val gif = Multimodal.encodeImage("gif", 12, 18, 0, 255, 0)
    val dec = Multimodal.decode(mediaDf(Seq(
      (1L, "image/jpeg", jpg), (2L, "image/gif", gif))))
      .collect().map(d => d.media_id -> d).toMap
    assert(dec(1L).format == "jpeg" && dec(1L).width == 33 && dec(1L).height == 21)
    assert(dec(1L).content_sum >= 0, "jpeg must actually decode")
    assert(dec(2L).format == "gif" && dec(2L).width == 12 && dec(2L).height == 18)
    // constant green survives gif's palette exactly
    assert(dec(2L).content_sum == 12L * 18 * 255)
    // header parsing agrees with the codec on REAL encoder output
    val meta = Multimodal.extractMeta(mediaDf(Seq(
      (1L, "image/jpeg", jpg), (2L, "image/gif", gif))))
      .collect().map(m => m.media_id -> m).toMap
    assert(meta(1L).width == 33 && meta(1L).height == 21)
    assert(meta(2L).width == 12 && meta(2L).height == 18)
  }

  test("pcmWavBytes is byte-identical to AudioSystem's WAVE output") {
    // the hand-rolled RIFF writer exists to dodge AudioSystem's
    // synchronized provider registry (a lock convoy under 32 concurrent
    // encode tasks) — it must stay indistinguishable from the real
    // encoder's bytes, or the "every payload is a genuine encoder's
    // output" contract breaks
    def viaAudioSystem(rate: Int, data: Array[Byte], frames: Long): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, frames)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    for (rate <- Seq(8000, 10000, 16000); n <- Seq(0, 1, 64, 3200)) {
      val data = Array.tabulate(n * 2)(i => ((i * 37 + rate) % 251 - 125).toByte)
      assert(java.util.Arrays.equals(
        Multimodal.pcmWavBytes(rate, data), viaAudioSystem(rate, data, n.toLong)),
        s"mismatch at rate=$rate frames=$n")
    }
  }

  test("audio decode: wav round-trip recovers rate, frames and exact sample sum") {
    val wav = Multimodal.encodeWav(16000, 250, -123)
    val dec = Multimodal.decode(mediaDf(Seq((1L, "audio/wav", wav)))).collect().head
    assert(dec.format == "wav" && dec.sample_rate == 16000)
    assert(dec.n_samples == 250L)
    assert(dec.content_sum == 250L * -123)
    val meta = Multimodal.extractMeta(mediaDf(Seq((1L, "audio/wav", wav)))).collect().head
    assert(meta.sample_rate == 16000)
  }

  test("audio decode: au and aiff round-trip recovers rate, frames and exact sample sum") {
    // 16-bit big-endian mono PCM through the JDK's own AU and AIFF writers
    def encode(kind: javax.sound.sampled.AudioFileFormat.Type, rate: Int, samples: Seq[Int]) = {
      val data = samples.flatMap(v => Seq((v >> 8).toByte, v.toByte)).toArray
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, true)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong), kind, bos)
      bos.toByteArray
    }
    val samples = (0 until 120).map(i => i * 211 % 4001 - 2000)
    val media = mediaDf(Seq(
      (1L, "audio/basic", encode(javax.sound.sampled.AudioFileFormat.Type.AU, 11025, samples)),
      (2L, "audio/aiff", encode(javax.sound.sampled.AudioFileFormat.Type.AIFF, 22050, samples))))
    val dec = Multimodal.decode(media).collect().map(d => d.media_id -> d).toMap
    assert(dec(1L).format == "au" && dec(1L).sample_rate == 11025)
    assert(dec(2L).format == "aiff" && dec(2L).sample_rate == 22050)
    Seq(1L, 2L).foreach { id =>
      assert(dec(id).n_samples == samples.size.toLong, s"media $id")
      assert(dec(id).content_sum == samples.map(_.toLong).sum, s"media $id")
    }
    val meta = Multimodal.extractMeta(media).collect().map(m => m.media_id -> m).toMap
    assert(meta(1L).format == "au" && meta(1L).sample_rate == 11025)
    assert(meta(2L).format == "aiff")
    // the Column sniff and the JVM sniff read the same table
    val sniffed = media.select(col("media_id"), Multimodal.sniffFormat(col("content")))
      .as[(Long, String)].collect().toMap
    assert(sniffed == Map(1L -> "au", 2L -> "aiff"))
  }

  test("jpeg header scan: 0xFF fill bytes skipped, stops at SOS/EOI") {
    // synthetic marker stream: SOI, fill bytes, then SOF0 with dims 640x480
    val h = 480; val w = 640
    val withPadding = Array[Int](
      0xFF, 0xD8, // SOI
      0xFF, 0xFF, 0xFF, // fill bytes before the marker
      0xC0, 0x00, 0x0B, 0x08, h >> 8, h & 0xff, w >> 8, w & 0xff, 0x01, 0x00, 0x00,
      0xFF, 0xD9).map(_.toByte)
    assert(Multimodal.parseHeader(withPadding).contains((640, 480, 0)))
    // SOS before any SOF terminates the scan (no bogus dims from entropy data)
    val sosFirst = Array[Int](
      0xFF, 0xD8,
      0xFF, 0xDA, 0x00, 0x04, 0x01, 0x00, // SOS, then entropy-coded garbage
      0xFF, 0xC0, 0x00, 0x0B, 0x08, 0x00, 0x10, 0x00, 0x10, 0x01, 0x00, 0x00).map(_.toByte)
    assert(Multimodal.parseHeader(sosFirst).isEmpty)
  }

  test("real resize: nearest-neighbor resample hits target dims, keeps constant color") {
    val src = Multimodal.encodeImage("png", 16, 12, 40, 80, 120)
    val out = Multimodal.resize(mediaDf(Seq((1L, "image/png", src))), 8, 8).collect().head
    assert(out.target_w == 8 && out.target_h == 8)
    val dec = Multimodal.decode(mediaDf(Seq((1L, "image/png", out.content)))).collect().head
    assert(dec.width == 8 && dec.height == 8)
    assert(dec.content_sum == 8L * 8 * (40 + 80 + 120), "constant color must survive resize")
  }

  test("syntheticMedia round-trips through decode to the planted integer formulas") {
    val docs = (0L until 30L).map(id => (id, s"doc $id", "src0")).toDF("doc_id", "text", "source")
    val dec = Multimodal.decode(Multimodal.syntheticMedia(docs))
      .collect().map(d => d.media_id -> d).toMap
    (0L until 30L).foreach { id =>
      val d = dec(id)
      if (id % 3 == 1) {
        assert(d.format == "wav")
        assert(d.sample_rate == 8000 + (id % 5).toInt * 2000)
        assert(d.n_samples == 64 + id % 64)
        assert(d.content_sum == (64 + id % 64) * (id % 2000 - 1000))
      } else {
        assert(d.format == (if (id % 3 == 0) "png" else "bmp"))
        val w = 8 + (id % 17).toInt; val hh = 8 + (id % 13).toInt
        assert(d.width == w && d.height == hh)
        assert(d.content_sum ==
          w.toLong * hh * ((id % 256) + (id * 7 % 256) + (id * 13 % 256)))
      }
    }
  }

  test("frameSample: md5 hashes match local computation; empty payload emits no frames") {
    val content = ("x" * 150).getBytes("UTF-8")
    val media = Seq((1L, "bin", "t", content), (2L, "bin", "t", Array.emptyByteArray))
      .toDF("media_id", "media_type", "source", "content")
    val frames = Multimodal.frameSample(media, 64, 8).collect()
    assert(frames.forall(_.getLong(0) == 1L), "empty payload must emit no frames")
    assert(frames.length == 3) // ceil(150/64) = 3
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect0 = md.digest(content.slice(0, 64)).map("%02x".format(_)).mkString
    assert(frames.find(_.getInt(1) == 0).get.getString(3) == expect0)
    assert(frames.find(_.getInt(1) == 2).get.getInt(2) == 150 - 128)
  }

  test("openAudio gives each reader a fresh stream: a rejecting reader that moves the mark is harmless") {
    // consumes 12 bytes, marks there, then rejects — on one shared
    // stream, reset() would rewind the next reader only to byte 12
    val marking = new javax.sound.sampled.spi.AudioFileReader {
      private def reject = throw new javax.sound.sampled.UnsupportedAudioFileException("not mine")
      override def getAudioInputStream(in: java.io.InputStream): javax.sound.sampled.AudioInputStream = {
        in.readNBytes(12); in.mark(1 << 16); reject
      }
      override def getAudioInputStream(u: java.net.URL): javax.sound.sampled.AudioInputStream = reject
      override def getAudioInputStream(f: java.io.File): javax.sound.sampled.AudioInputStream = reject
      override def getAudioFileFormat(in: java.io.InputStream): javax.sound.sampled.AudioFileFormat = reject
      override def getAudioFileFormat(u: java.net.URL): javax.sound.sampled.AudioFileFormat = reject
      override def getAudioFileFormat(f: java.io.File): javax.sound.sampled.AudioFileFormat = reject
    }
    val ais = Multimodal.openAudio(Multimodal.encodeWav(16000, 250, -123),
      marking +: Multimodal.audioReaders)
    assert(ais.getFormat.getSampleRate == 16000f && ais.getFrameLength == 250L)
    val data = ais.readAllBytes()
    assert(data.length == 500)
    assert(data.grouped(2).forall(p => ((p(1) << 8) | (p(0) & 0xff)).toShort == -123))
  }

  test("32x32 kernels and resampleAudio equal a naive per-pixel / per-sample recomputation") {
    // the planted closed form behind phashMedia
    def lum(id: Long)(x: Int, y: Int): Long =
      ((1 + id % 7) * x + (1 + id % 5) * y + id % 256) % 256
    val ids = Seq(3L, 17L, 42L)
    val planted = Multimodal.phashMedia(ids.map(id => (id, "s")).toDF("doc_id", "source"))
      .collect().map(r => (r.getAs[Long]("media_id"), "image", r.getAs[Array[Byte]]("content")))
    // every 32x32 kernel drops these: null, empty, undecodable, non-32x32
    val dropped = Seq[(Long, String, Array[Byte])](
      (90L, "image", null), (91L, "image", Array.emptyByteArray),
      (92L, "image", "not an image".getBytes("UTF-8")),
      (93L, "audio/wav", Multimodal.encodeWav(8000, 64, 5)),
      (94L, "image", Multimodal.encodeImage("png", 16, 32, 1, 2, 3)),
      (95L, "image", Multimodal.encodeImage("bmp", 32, 16, 1, 2, 3)))
    val media = mediaDf(planted.toSeq ++ dropped)
    def rows[T](ds: org.apache.spark.sql.Dataset[T])(f: T => (Long, Any)): Map[Long, Seq[Any]] =
      ds.collect().toSeq.map(f).groupMap(_._1)(_._2)
    val kernels: Seq[(String, Map[Long, Seq[Any]], Long => Seq[Any])] = Seq(
      ("lumaHistogram", rows(Multimodal.lumaHistogram(media))(h => h.media_id -> (h.bin, h.n_px)),
        id => {
          val px = for (y <- 0 until 32; x <- 0 until 32) yield lum(id)(x, y)
          (0 until 16).map(b => (b.toLong, px.count(_ / 16 == b).toLong))
        }),
      ("patchGrid", rows(Multimodal.patchGrid(media))(p =>
        p.media_id -> (p.px, p.py, p.n_px, p.sum_luma, p.min_luma, p.max_luma)),
        id => for (py <- 0 until 4; px <- 0 until 4) yield {
          val v = for (y <- py * 8 until py * 8 + 8; x <- px * 8 until px * 8 + 8) yield lum(id)(x, y)
          (px.toLong, py.toLong, 64L, v.sum, v.min, v.max)
        }),
      ("blockiness", rows(Multimodal.blockiness(media))(b =>
        b.media_id -> (b.bsum, b.isum, b.blockiness_micro)),
        id => {
          val d = for (y <- 0 until 32; x <- 0 until 31)
            yield (x % 8 == 7, math.abs(lum(id)(x + 1, y) - lum(id)(x, y)))
          val bs = d.filter(_._1).map(_._2).sum
          val is = d.filterNot(_._1).map(_._2).sum
          Seq((bs, is, if (is == 0) 0L else bs * 28 * 1000000 / (is * 3)))
        }),
      ("lumaVector", rows(Multimodal.lumaVector(media))(v => v.media_id -> v.luma.toSeq),
        id => Seq(for (y <- 0 until 32; x <- 0 until 32) yield lum(id)(x, y))),
      ("sharpness", rows(Multimodal.sharpness(media))(s => s.media_id -> (s.n_px, s.lap_var)),
        id => {
          val l = lum(id) _
          val v = for (y <- 1 until 31; x <- 1 until 31)
            yield 4 * l(x, y) - l(x - 1, y) - l(x + 1, y) - l(x, y - 1) - l(x, y + 1)
          val n = v.size.toLong
          Seq((n, (n * v.map(a => a * a).sum - v.sum * v.sum) / (n * n)))
        }))
    for ((name, got, want) <- kernels) {
      assert(got.keySet == ids.toSet, s"$name keeps only the decodable 32x32 images")
      ids.foreach(id => assert(got(id) == want(id), s"$name, media $id"))
    }

    // resampleAudio: 16-bit mono PCM (either byte order) is resampled by
    // linear interpolation; everything else passes through, null as empty
    def naiveResample(s: Seq[Int], src: Int, dst: Int): Seq[Int] = {
      val n = s.length
      (0 until math.max(1, (n.toLong * dst / src).toInt)).map { k =>
        val pos = k.toDouble * src / dst
        val i0 = math.min(pos.toInt, n - 1); val i1 = math.min(i0 + 1, n - 1)
        Math.round(s(i0) + (pos - i0) * (s(i1) - s(i0))).toInt
      }
    }
    def viaAudioSystem(samples: Seq[Int], rate: Int, bits: Int, bigEndian: Boolean,
                       kind: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
      val width = bits / 8
      val data = samples.flatMap { v =>
        val b = (0 until width).map(i => ((v >> (8 * i)) & 0xff).toByte)
        if (bigEndian) b.reverse else b
      }.toArray
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, bits, 1, bits > 8, bigEndian)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong), kind, bos)
      bos.toByteArray
    }
    // a decoded 16-bit mono clip as (rate, samples); any other payload as its bytes
    def view(b: Array[Byte]): Any =
      scala.util.Try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(b))
        val f = ais.getFormat
        require(f.getSampleSizeInBits == 16 && f.getChannels == 1)
        val d = ais.readAllBytes()
        (f.getSampleRate.toInt, d.indices.by(2).map { i =>
          if (f.isBigEndian) ((d(i) << 8) | (d(i + 1) & 0xff)).toShort.toInt
          else ((d(i + 1) << 8) | (d(i) & 0xff)).toShort.toInt
        })
      }.getOrElse(b.toSeq)
    val ramp = (0 until 101).map(i => i * 613 % 20001 - 10000)
    val synth = Multimodal.syntheticMedia((0L until 6L).map(id => (id, "t", "s"))
      .toDF("doc_id", "text", "source")).as[(Long, String, String, Array[Byte])].collect()
    val resampled: Seq[(Long, Array[Byte], Any)] = Seq(
      (101L, viaAudioSystem(ramp, 11025, 16, bigEndian = false,
        javax.sound.sampled.AudioFileFormat.Type.WAVE), (8000, naiveResample(ramp, 11025, 8000))),
      (102L, viaAudioSystem(ramp, 16000, 16, bigEndian = true,
        javax.sound.sampled.AudioFileFormat.Type.AU), (8000, naiveResample(ramp, 16000, 8000))),
      (103L, viaAudioSystem(ramp.map(_ / 100), 8000, 8, bigEndian = false,
        javax.sound.sampled.AudioFileFormat.Type.WAVE), null)) ++
      synth.toSeq.map { case (id, _, _, b) =>
        (id, b, if (id % 3 != 1) null
        else (8000, naiveResample(Seq.fill(64 + (id % 64).toInt)((id % 2000 - 1000).toInt),
          8000 + (id % 5).toInt * 2000, 8000)))
      } ++ dropped.map { case (id, _, b) => (id, b, if (id == 93L) (8000, Seq.fill(64)(5)) else null) }
    assert(view(resampled.head._2).isInstanceOf[(_, _)], "the test's own WAV must decode")
    assert(view(resampled(1)._2).isInstanceOf[(_, _)], "the test's own AU must decode")
    val out = Multimodal.resampleAudio(mediaDf(resampled.map { case (id, b, _) => (id, "audio", b) }), 8000)
      .collect().map(r => r.media_id -> r).toMap
    assert(out.keySet == resampled.map(_._1).toSet, "resampleAudio keeps every row")
    resampled.foreach { case (id, in, want) =>
      assert(out(id).target_rate == 8000)
      val passThrough = if (in == null) Array.emptyByteArray else in
      assert(view(out(id).content) == (if (want == null) view(passThrough) else want), s"resampleAudio, media $id")
    }
  }
}

