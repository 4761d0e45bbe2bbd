package graft

import org.apache.spark.sql.types.{BinaryType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{FakeDecoder, MediaFile, MediaMeta}

/** Multimodal plumbing: schema shape, batch-path equivalence, decoder
  * determinism, frame sampling, and partitioning behavior (narrow
  * transform — no shuffle).
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("media table: opaque binary payload + typed metadata struct") {
    val schema = Multimodal.mediaTable(spark, dir).schema
    assert(schema("content").dataType == BinaryType)
    val meta = schema("meta").dataType.asInstanceOf[StructType]
    assert(meta.fieldNames.toSeq == Seq("format", "width", "height", "duration_ms"))
  }

  test("FakeDecoder is deterministic and content-sensitive") {
    val m = MediaFile(1, "image", "hello world".getBytes("UTF-8"), MediaMeta("raw", 16, 16, 0))
    val f1 = FakeDecoder.features(m)
    val f2 = FakeDecoder.features(m.copy(media_id = 2))
    assert(f1.content_hash == f2.content_hash) // hash depends on bytes only
    assert(f1.content_hash != FakeDecoder.features(
      m.copy(content = "different".getBytes("UTF-8"))).content_hash)
    assert(f1.n_bytes == 11)
    assert(f1.mean_byte == "hello world".getBytes("UTF-8").map(_ & 0xff).sum.toDouble / 11)
  }

  test("frame sampling takes every nth fixed-size chunk") {
    val bytes = Array.tabulate[Byte](300)(_.toByte)
    val frames = FakeDecoder.sampleFrames(bytes, frameBytes = 64, everyNth = 2)
    assert(frames.map(_.length) == Seq(64, 64, 44)) // chunks 0,2,4 of 64,64,64,64,44
  }

  test("sampledFrames rows carry the md5 of the exact byte slice they sample") {
    import spark.implicits._
    val bytes = Array.tabulate[Byte](300)(_.toByte)
    val ds = Seq(MediaFile(7, "video", bytes, MediaMeta("raw", 16, 16, 0)),
      MediaFile(8, "image", bytes, MediaMeta("raw", 16, 16, 0))).toDS()
    val frames = Multimodal.sampledFrames(ds, FakeDecoder).collect().sortBy(_.frame_idx)
    // only the video row produces frames; sampled index p ↔ source chunk 2p
    assert(frames.map(_.media_id).distinct.toSeq == Seq(7L))
    assert(frames.map(f => (f.frame_idx, f.frame_bytes)).toSeq == Seq((0, 64), (1, 64), (2, 44)))
    val md = java.security.MessageDigest.getInstance("MD5")
    frames.foreach { f =>
      val slice = bytes.slice(128 * f.frame_idx, 128 * f.frame_idx + f.frame_bytes)
      assert(f.frame_hash == md.digest(slice).map("%02x".format(_)).mkString)
    }
  }

  test("extractFeatures over partitions equals direct per-row decoding") {
    val ds = Multimodal.mediaTable(spark, dir).repartition(3)
    val viaSpark = Multimodal.extractFeatures(ds, FakeDecoder)
      .collect().sortBy(_.media_id)
    val direct = ds.collect().map(FakeDecoder.features).sortBy(_.media_id)
    assert(viaSpark.toSeq == direct.toSeq)
    assert(viaSpark.exists(f => f.kind == "video" && f.n_frames > 1))
  }

  test("feature extraction is a narrow transform: partition count preserved, no shuffle") {
    val ds = Multimodal.mediaTable(spark, dir).repartition(4)
    val out = Multimodal.extractFeatures(ds, FakeDecoder)
    assert(out.rdd.getNumPartitions == 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") || plan.indexOf("Exchange") > plan.indexOf("MapPartitions"))
  }

  test("mm5: perceptual near-dup catches copied AND perturbed frames, not disjoint ones") {
    import spark.implicits._
    // deterministic planted frames (md5 is fixed, so these hamming
    // distances are pinned forever): an exact copy (hamming 0), a
    // 1-char perturbation landing inside the radius-3 ball (the
    // "re-encode jitter" case mm4's exact hash misses), and a disjoint
    // all-digit frame far outside it
    val a = "the quick brown fox jumps over the lazy dog and keeps on running"
    val b = "f" + a.drop(1) // perturb position 0: lands at hamming 2 of 64
    val c = "0123456789" * 6 + "0123" // hamming 42 — far outside
    val frames = Seq(
      (1L, 0, a), (2L, 0, a), (3L, 0, b), (4L, 0, c))
      .toDF("media_id", "frame_idx", "frame_str")
    val pairs = graft.queries.MultimodalQueries.frameNearDup(frames)
      .collect().map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"),
        r.getAs[Int]("hamming"))).toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"got $pairs")
    assert(pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 == 0) // exact copy
    assert(pairs.filter(_._2 == 3L).forall(p => p._3 >= 1 && p._3 <= 3)) // jitter
    // brute-force equivalence on the real fixture: banding at radius 3
    // has EXACT recall by pigeonhole (three differing bits leave one of
    // four 16-bit bands intact), so the banded sweep must equal
    // all-pairs hamming <= 3 over the fingerprints
    val media = Multimodal.mediaTable(spark, dir)
    val fc = Multimodal.frameContents(media, FakeDecoder).toDF()
    val sims = graft.queries.MultimodalQueries.frameSimhash(fc)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("simhash")))
    val brute = (for {
      (ka, sa) <- sims; (kb, sb) <- sims if ka < kb
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ka, kb)).toSet
    val swept = graft.queries.MultimodalQueries.frameNearDup(fc)
      .collect().map(r => (r.getAs[Long]("media_a") * (1L << 32) + r.getAs[Int]("idx_a"),
        r.getAs[Long]("media_b") * (1L << 32) + r.getAs[Int]("idx_b"))).toSet
    assert(swept == brute, s"banded sweep ${swept.size} pairs vs brute ${brute.size}")
    assert(brute.nonEmpty, "fixture produced no near-dup frames — vacuous pin")
  }

  test("RawCodec: real WAV decode from payload bytes (rate, frames, duration, amplitude)") {
    import graft.multimodal.RawCodec
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-assemble a 44-byte-header RIFF/PCM WAV: 8000 Hz mono 16-bit,
    // 8 samples alternating +1000/-1000
    val samples = Array.tabulate[Short](8)(i => if (i % 2 == 0) 1000 else -1000)
    val dataSize = samples.length * 2
    val bb = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize).put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(bb.putShort)
    val wav = bb.array()

    val info = RawCodec.parseWav(wav).getOrElse(fail("WAV did not parse"))
    assert(info.channels == 1 && info.sampleRate == 8000 && info.bitsPerSample == 16)
    assert(info.nSamples == 8)
    assert(info.durationMs == 1) // 8 / 8000 s
    assert(info.meanAbsAmplitude == 1000.0)
    // corrupt magic must be rejected, not crash
    val bad = wav.clone(); bad(0) = 'X'.toByte
    assert(RawCodec.parseWav(bad).isEmpty)
  }

  test("RawCodec: RLE8 round-trip equals the closed form (runs AND absolute rows)") {
    import graft.multimodal.RawCodec
    def f(i: Long): Long = (i * 3) % 256 + (i * 5 + 1) % 256 + (i * 7 + 2) % 256
    // heights ≥ 3 include an absolute-mode row (r % 4 == 2); widths hit
    // run tails (< 8) and absolute tails (< 3 → unit-run fallback)
    for ((seed, w, h) <- Seq((13L, 6, 3), (38L, 16, 11), (63L, 7, 4), (88L, 1, 5))) {
      val info = RawCodec.parseRle8Bmp(RawCodec.synthRle8Bmp(seed, w, h)).get
      val want = (for { r <- 0 until h; x <- 0 until w }
        yield f((seed + r * 7 + (x / 8) * 11) % 256)).sum
      assert(info.width == w && info.height == h && info.nPx == w.toLong * h)
      assert(info.sumChannels == want, s"seed=$seed w=$w h=$h")
    }
  }

  test("RawCodec: RLE8 delta/early-EOL gaps default to palette 0; malformed payloads → None") {
    import graft.multimodal.RawCodec
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-build a 4x2 RLE8 BMP: row 0 = run(2, idx 5) then EOL (2-pixel
    // gap), row 1 = delta skip (dx=1) then run(3, idx 5), EOB — gaps and
    // the skipped pixel read as palette index 0
    def container(stream: Array[Byte]): Array[Byte] = {
      val off = 54 + 4 * 256
      val buf = ByteBuffer.allocate(off + stream.length).order(ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(off + stream.length)
      buf.putInt(0).putInt(off)
      buf.putInt(40).putInt(4).putInt(2).putShort(1).putShort(8)
      buf.putInt(1).putInt(stream.length)
      buf.putInt(2835).putInt(2835).putInt(256).putInt(0)
      (0 until 256).foreach { i => // grayscale palette: B=G=R=i
        buf.put(i.toByte).put(i.toByte).put(i.toByte).put(0.toByte)
      }
      buf.put(stream)
      buf.array()
    }
    val stream = Array[Byte](
      2, 5, 0, 0, // run of 2 × idx5, end of line
      0, 2, 1, 0, // delta: dx=1, dy=0
      3, 5, // run of 3 × idx5
      0, 1) // end of bitmap
    val info = RawCodec.parseRle8Bmp(container(stream)).get
    // 5 pixels of palette 5 (3·5 channels each) + 3 gap pixels of palette 0
    assert(info.nPx == 8 && info.sumChannels == 5L * 15 + 3L * 0)
    // malformed: truncated stream (no EOB) and a wrong-compression
    // container (plain 24-bpp BMP) both refuse, not throw
    assert(RawCodec.parseRle8Bmp(container(Array[Byte](9, 1))).isEmpty)
    assert(RawCodec.parseRle8Bmp(RawCodec.synthBmp(7L, 5, 4)).isEmpty)
    assert(RawCodec.parseRle8Bmp(Array.fill[Byte](10)(0)).isEmpty)
  }

  test("RawCodec: real BMP decode from payload bytes (dims, mean channel, padding skipped)") {
    import graft.multimodal.RawCodec
    import java.nio.{ByteBuffer, ByteOrder}
    // 2x2 24-bpp BMP: rowBytes=6, stride=8 (2 padding bytes per row).
    // Pixels chosen so the mean is exact: all channel bytes = 10 except
    // one = 22 -> mean over 12 channel bytes = 11.
    val stride = 8
    val dataOffset = 54
    val bb = ByteBuffer.allocate(dataOffset + stride * 2).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(dataOffset + stride * 2)
      .putInt(0).putInt(dataOffset)
    bb.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24).putInt(0)
      .putInt(stride * 2).putInt(0).putInt(0).putInt(0).putInt(0)
    val px = Array.fill[Byte](stride * 2)(10)
    px(0) = 22           // first channel byte of bottom row
    px(6) = 99; px(7) = 99 // PADDING bytes - must NOT affect the mean
    bb.put(px)
    val bmp = bb.array()

    val info = RawCodec.parseBmp(bmp).getOrElse(fail("BMP did not parse"))
    assert(info.width == 2 && info.height == 2 && info.bitsPerPixel == 24)
    assert(info.meanChannel == 11.0)
    assert(RawCodec.parseBmp(bmp.take(30)).isEmpty) // truncated header rejected
  }

  test("synthWav/synthBmp round-trip: writer inverse of parser, closed forms hold") {
    import graft.multimodal.RawCodec
    // WAV: id=6 → channels 2, frames 70, sample i = (6·31+7i) mod 2^16 − 2^15
    val id = 6L
    val frames = (64 + id % 64).toInt
    val channels = (1 + (id / 2) % 2).toInt
    val wav = RawCodec.synthWav(id, channels, 8000, frames)
    val w = RawCodec.parseWav(wav).getOrElse(fail("synthWav did not parse"))
    assert(w.channels == channels && w.sampleRate == 8000 && w.nSamples == frames)
    val total = frames * channels
    val expMean = (0 until total)
      .map(i => math.abs(((id * 31 + i * 7) % 65536) - 32768)).sum.toDouble / total
    assert(w.meanAbsAmplitude == expMean)
    assert(wav.length == 44 + 2 * total)

    // BMP: id=7 → w 12, h 3... use an UNALIGNED width so padding is real
    val bid = 5L
    val bw = (5 + bid % 12).toInt // 10 → rowBytes 30, stride 32
    val bh = (4 + bid % 8).toInt
    val bmp = RawCodec.synthBmp(bid, bw, bh)
    val b = RawCodec.parseBmp(bmp).getOrElse(fail("synthBmp did not parse"))
    assert(b.width == bw && b.height == bh)
    val n = bw * 3 * bh
    val expPix = (for (r <- 0 until bh; i <- 0 until bw * 3)
      yield (bid + r * 13 + i * 7) % 256).sum.toDouble / n
    assert(b.meanChannel == expPix)
    assert((bw * 3) % 4 != 0, "fixture width must exercise stride padding")
  }

  test("mm7: window sums partition parseWav's total amplitude; parser is byte-sensitive") {
    import graft.multimodal.RawCodec
    val wav = RawCodec.synthWav(seed = 42L, channels = 2, rate = 8000, frames = 70)
    val (total, sums) = RawCodec.wavWindowAbsSums(wav, 32).get
    assert(total == 140)
    assert(sums.length == 5) // ceil(140/32)
    // the windows partition the exact same samples parseWav averages
    val info = RawCodec.parseWav(wav).get
    assert(sums.sum.toDouble / total == info.meanAbsAmplitude)
    // flipping ONE payload byte must move exactly one window's sum
    val corrupt = wav.clone()
    corrupt(60) = (corrupt(60) ^ 0x7f).toByte // inside the data chunk
    val (_, sums2) = RawCodec.wavWindowAbsSums(corrupt, 32).get
    assert(sums2.zip(sums).count { case (a, b) => a != b } == 1,
      "byte flip did not localize to one window — offset arithmetic broken")
    // structural damage → None, not garbage
    val trunc = wav.take(40)
    assert(RawCodec.wavWindowAbsSums(trunc, 32).isEmpty)
  }

  test("mm6 rawMediaTable: real containers decode through RawCodecDecoder in Spark") {
    import graft.multimodal.RawCodec
    val feats = Multimodal.extractFeatures(
      Multimodal.rawMediaTable(spark, dir), RawCodec.RawCodecDecoder)
      .collect()
    assert(feats.nonEmpty, "no media rows at sf0.001 — vacuous gate")
    feats.foreach { f =>
      if (f.media_id % 2 == 0) {
        val frames = (64 + f.media_id % 64).toInt
        val channels = (1 + (f.media_id / 2) % 2).toInt
        assert(f.kind == "audio" && f.n_frames == frames)
        assert(f.n_bytes == 44 + 2 * frames * channels)
      } else {
        val w = (5 + f.media_id % 12).toInt
        val h = (4 + f.media_id % 8).toInt
        assert(f.kind == "image" && f.n_frames == 1)
        assert(f.n_bytes == 54 + ((3 * w + 3) & ~3) * h)
      }
    }
  }

  test("RawCodecDecoder: Spark batch extraction decodes real containers, falls back on others") {
    import spark.implicits._
    import graft.multimodal.RawCodec
    import java.nio.{ByteBuffer, ByteOrder}
    val bb = ByteBuffer.allocate(44 + 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 4).put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(1000).putInt(2000).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(4).putShort(512).putShort(-512)
    val wav = bb.array()
    val meta = MediaMeta("raw", 0, 0, 0L)
    val files = Seq(
      MediaFile(1L, "audio", wav, meta),
      MediaFile(2L, "image", "not a container".getBytes("UTF-8"), meta))
    val out = Multimodal.extractFeatures(spark.createDataset(files), RawCodec.RawCodecDecoder)
      .collect().map(f => f.media_id -> f).toMap
    // real decode: 2 PCM frames, mean |sample|/256 = 512/256 = 2.0
    assert(out(1L).n_frames == 2)
    assert(out(1L).mean_byte == 2.0)
    // non-container payload: FakeDecoder raw-byte statistics (1 frame, byte mean)
    val raw = "not a container".getBytes("UTF-8")
    assert(out(2L).n_frames == 1)
    assert(out(2L).mean_byte == raw.map(_ & 0xff).sum.toDouble / raw.length)
  }

  test("mm8 bmpPatchSums: image-space patches replay the closed form, flips localize") {
    import graft.multimodal.RawCodec
    val (seed, w, h) = (7L, 5, 6)
    val bmp = RawCodec.synthBmp(seed, w, h)
    // closed form: byte i of STORAGE row r is (seed + 13r + 7i) mod 256;
    // image row ir maps to storage row h-1-ir (bottom-up file)
    def pix(ir: Int, x: Int): Long =
      (0 until 3).map(k => (seed + 13 * (h - 1 - ir) + 7 * (3 * x + k)) % 256).sum
    val got = RawCodec.bmpPatchSums(bmp, 4).get
      .map { case (pr, pc, n, sum) => (pr, pc) -> (n, sum) }.toMap
    assert(got.keySet == Set((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L)))
    for (pr <- 0 to 1; pc <- 0 to 1) {
      val irs = (pr * 4) until math.min(h, pr * 4 + 4)
      val xs = (pc * 4) until math.min(w, pc * 4 + 4)
      val want = (irs.size.toLong * xs.size,
        irs.flatMap(ir => xs.map(x => pix(ir, x))).sum)
      assert(got((pr.toLong, pc.toLong)) == want, s"patch ($pr,$pc)")
    }
    // a flipped payload byte moves exactly ONE patch sum
    val corrupt = bmp.clone()
    corrupt(54) = (corrupt(54) ^ 0x3f).toByte // first byte of storage row 0 = image row h-1
    val got2 = RawCodec.bmpPatchSums(corrupt, 4).get
      .map { case (pr, pc, n, sum) => (pr, pc) -> (n, sum) }.toMap
    val diffs = got.keySet.filter(k => got(k) != got2(k))
    assert(diffs == Set((1L, 0L)), s"flip did not localize to the bottom-left patch: $diffs")
    // negative height = top-down row order: patch grid reads rows unflipped
    val topDown = bmp.clone()
    val bb = java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -h)
    def pixTD(ir: Int, x: Int): Long =
      (0 until 3).map(k => (seed + 13 * ir + 7 * (3 * x + k)) % 256).sum
    val gotTD = RawCodec.bmpPatchSums(topDown, 4).get
      .map { case (pr, pc, n, sum) => (pr, pc) -> (n, sum) }.toMap
    for (pr <- 0 to 1; pc <- 0 to 1) {
      val irs = (pr * 4) until math.min(h, pr * 4 + 4)
      val xs = (pc * 4) until math.min(w, pc * 4 + 4)
      val want = (irs.size.toLong * xs.size,
        irs.flatMap(ir => xs.map(x => pixTD(ir, x))).sum)
      assert(gotTD((pr.toLong, pc.toLong)) == want, s"top-down patch ($pr,$pc)")
    }
  }

  test("binaryFile source: on-disk media ingests into the decode pipeline") {
    // The actual 100 TB ingest path: media as FILES (not a parquet
    // column), read with Spark's binaryFile source — (path, content)
    // rows — mapped into MediaFile and pushed through the same decoder
    // as the column-backed tables. Pins that the plumbing is
    // source-agnostic: the decode results match a direct driver-side
    // parse of the same bytes.
    import graft.multimodal.RawCodec
    import Multimodal.{MediaFile, MediaMeta}
    import spark.implicits._
    val tmp = new java.io.File(SharedSpark.scratchDir("media"))
    tmp.mkdirs()
    try {
      val specs = Seq(3L -> "bmp", 4L -> "wav", 9L -> "bmp", 10L -> "wav")
      specs.foreach { case (id, kind) =>
        val bytes =
          if (kind == "wav") RawCodec.synthWav(id, 1 + (id % 2).toInt, 8000, (32 + id).toInt)
          else RawCodec.synthBmp(id, (5 + id % 7).toInt, (4 + id % 5).toInt)
        java.nio.file.Files.write(
          new java.io.File(tmp, s"media_$id.$kind").toPath, bytes)
      }
      val files = spark.read.format("binaryFile").load(tmp.getAbsolutePath)
        .select(org.apache.spark.sql.functions.col("path"), org.apache.spark.sql.functions.col("content"))
        .as[(String, Array[Byte])]
        .map { case (path, content) =>
          val name = path.split('/').last // media_<id>.<kind>
          val id = name.stripPrefix("media_").takeWhile(_.isDigit).toLong
          val kind = if (name.endsWith(".wav")) "audio" else "image"
          MediaFile(id, kind, content, MediaMeta(name.split('.').last, 0, 0, 0L))
        }
      val feats = Multimodal.extractFeatures(files, RawCodec.RawCodecDecoder)
        .collect().map(f => f.media_id -> f).toMap
      assert(feats.keySet == Set(3L, 4L, 9L, 10L))
      // every file really decoded (not the byte-stat fallback): frame
      // counts match the synthesized geometry
      assert(feats(4L).n_frames == 36 && feats(4L).kind == "audio")
      assert(feats(10L).n_frames == 42 && feats(10L).kind == "audio")
      Seq(3L, 9L).foreach { id =>
        val want = RawCodec.parseBmp(
          RawCodec.synthBmp(id, (5 + id % 7).toInt, (4 + id % 5).toInt)).get
        assert(feats(id).n_frames == 1 && feats(id).kind == "image")
        assert(math.abs(feats(id).mean_byte - want.meanChannel) < 1e-12,
          s"media $id decode mean diverged")
      }
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  test("mm9: active ranges aggregate mm7's own window table; gating is non-vacuous") {
    val s = SparkEntry.configure(spark)
    val windows = SparkEntry.queries("mm7_audio_windows")(s, dir).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("window_id"),
        r.getAs[Long]("n_in_window"), r.getAs[Long]("sum_abs")))
    val got = SparkEntry.queries("mm9_active_range")(s, dir).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(got.nonEmpty)
    windows.groupBy(_._1).foreach { case (m, ws) =>
      val active = ws.filter(w => w._4 >= 24576L * w._3)
      val r = got(m)
      assert(r.getAs[Long]("n_windows") == ws.length.toLong)
      assert(r.getAs[Long]("n_active") == active.length.toLong)
      if (active.nonEmpty) {
        assert(r.getAs[Long]("first_active") == active.map(_._2).min)
        assert(r.getAs[Long]("last_active") == active.map(_._2).max)
      } else {
        assert(r.isNullAt(r.fieldIndex("first_active")))
      }
    }
    // the gate actually gates: at least one window somewhere is inactive
    assert(got.values.exists(r => r.getAs[Long]("n_active") < r.getAs[Long]("n_windows")),
      "every window active — threshold vacuous")
  }

  test("mm11 ADPCM: independent nibble-walk reference matches parseAdpcmWav exactly") {
    import graft.multimodal.RawCodec
    // reference decode straight from the closed forms (no byte layout):
    // proves the parser's wire walk (header offsets, channel interleave,
    // low-nibble-first order, block reset) reconstructs the same stream
    def refSum(seed: Long, channels: Int, groups: Int, blocks: Int): Long = {
      var sum = 0L
      for (c <- 0 until channels; bl <- 0 until blocks) {
        var p = (((seed * 131 + c * 37 + bl * 53) % 65536) - 32768).toInt
        var idx = ((seed * 17 + c * 5 + bl * 11) % 89).toInt
        sum += math.abs(p.toLong)
        for (j <- 0 until 8 * groups) {
          val nib = ((seed * 7 + c * 3 + bl * 19 + j * 5) % 16).toInt
          val step = RawCodec.ImaSteps(idx)
          var diff = step >> 3
          if ((nib & 4) != 0) diff += step
          if ((nib & 2) != 0) diff += step >> 1
          if ((nib & 1) != 0) diff += step >> 2
          p = math.max(-32768, math.min(32767, if ((nib & 8) != 0) p - diff else p + diff))
          idx = math.max(0, math.min(88, idx + RawCodec.ImaIndexAdj(nib)))
          sum += math.abs(p.toLong)
        }
      }
      sum
    }
    for ((seed, ch, g, bl) <- Seq((7L, 2, 2, 2), (32L, 1, 3, 1), (57L, 2, 4, 2), (9L, 1, 2, 2))) {
      val info = RawCodec.parseAdpcmWav(RawCodec.synthAdpcmWav(seed, ch, g, bl, 8000)).get
      assert(info.channels == ch && info.sampleRate == 8000)
      assert(info.nSamplesPerChannel == bl.toLong * (8 * g + 1))
      assert(info.sumAbs == refSum(seed, ch, g, bl),
        s"seed=$seed ch=$ch g=$g bl=$bl")
    }
  }

  test("mm11 ADPCM: fact chunk truncates the counted samples; corrupt payloads parse to None") {
    import graft.multimodal.RawCodec
    val wav = RawCodec.synthAdpcmWav(11L, 2, 2, 2, 8000)
    // shrink the fact count below the decoded total: counted samples
    // (and the sum) must shrink with it
    val full = RawCodec.parseAdpcmWav(wav).get
    val truncated = wav.clone()
    val factPos = 12 + 28 + 8 // RIFF hdr + fmt chunk + fact id/size
    java.nio.ByteBuffer.wrap(truncated).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(factPos, 5)
    val t = RawCodec.parseAdpcmWav(truncated).get
    assert(t.nSamplesPerChannel == 5L && t.sumAbs < full.sumAbs)
    // corrupt step index (> 88) in the first block header
    val badIdx = wav.clone()
    badIdx(12 + 28 + 12 + 8 + 2) = 120.toByte
    assert(RawCodec.parseAdpcmWav(badIdx).isEmpty)
    // PCM format tag is not ADPCM
    assert(RawCodec.parseAdpcmWav(RawCodec.synthWav(11L, 1, 8000, 32)).isEmpty)
    // truncated container
    assert(RawCodec.parseAdpcmWav(wav.take(40)).isEmpty)
  }
}
