package graft.multimodal

/** Pure-JVM AVI (RIFF) demuxer for MJPEG video — the VIDEO modality
  * made real bytes: an AVI is a RIFF container ([[RawCodec]] already
  * walks RIFF for WAV) whose `movi` LIST carries one `00dc` chunk per
  * frame; with the MJPG codec each chunk is a complete baseline JPEG,
  * so demux + [[JpegCodec.parseJpeg]] is a genuine video decode path —
  * container walk, frame extraction, every-Nth frame sampling, and
  * per-frame entropy decode — with zero native dependencies. (What
  * has no decoder here is INTER-frame codecs — H.264's motion
  * compensation — which MJPEG doesn't have:
  * every frame is independently coded, which is also why it's the
  * classic frame-sampling-friendly format.)
  *
  * Decoder ([[parseAvi]]): RIFF signature + `AVI ` form type, `hdrl`
  * LIST with an `avih` main header (frame count + geometry), `movi`
  * LIST walk collecting `00dc`/`00db` chunks (word-aligned, as RIFF
  * requires), then every-`everyNth`-th frame decoded as baseline JPEG.
  * Any structural mismatch, a frame that fails the JPEG decode, or a
  * frame whose geometry disagrees with the header is None — an
  * undecodable payload is data. Frames NOT sampled are never entropy-
  * decoded (the point of sampling: at 100 TB of video the decode cost
  * is per SAMPLED frame, the demux walk is a byte scan).
  *
  * Encoder ([[synthAvi]]): writes a structurally valid AVI — RIFF /
  * hdrl / avih / strl / strh(vids, MJPG) / strf / movi — whose frame
  * f is [[JpegCodec.synthJpeg]] with seed id·7 + f, so every frame is
  * DISTINCT and the mm15 oracle (which replays the mm12 arithmetic per
  * sampled frame) catches wrong frame SELECTION, not just wrong
  * decode.
  */
object AviCodec {

  case class AviInfo(width: Int, height: Int, nFrames: Int, nSampled: Int, sumPx: Long)

  private def fourCC(s: String): Int = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)
  }

  // ------------------------------------------------------------ decoder

  def parseAvi(bytes: Array[Byte], everyNth: Int): Option[AviInfo] =
    walk(bytes, everyNth,
      f => JpegCodec.parseJpeg(f).map(i => (i.width, i.height, i.sumPx)))
      .map { case (w, h, nFrames, sums) =>
        AviInfo(w, h, nFrames, sums.size, sums.sum)
      }

  /** Per-frame content signatures: [[JpegCodec.parseJpegSig]]'s
    * position-weighted pixel sum of EVERY frame, in frame order. This
    * is the dedup entry point — near-dup detection needs a
    * collision-resistant signature per frame (mm17's frame-fingerprint
    * join), unlike the sampling path where unsampled frames are never
    * decoded. Same structural validation as [[parseAvi]]; an
    * undecodable payload is None (data, not an error).
    */
  def frameSigs(bytes: Array[Byte]): Option[Seq[Long]] =
    walk(bytes, 1, JpegCodec.parseJpegSig).map(_._4)

  /** Shared RIFF/movi walk: (width, height, nFrames, per-sampled-frame
    * values), where `frameVal` decodes one frame to (w, h, value). */
  private def walk(
      bytes: Array[Byte], everyNth: Int,
      frameVal: Array[Byte] => Option[(Int, Int, Long)]): Option[(Int, Int, Int, Seq[Long])] = {
    if (everyNth < 1 || bytes.length < 12 + 8) return None
    val b = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def u32(p: Int): Long = b.getInt(p) & 0xffffffffL
    if (b.getInt(0) != fourCC("RIFF") || b.getInt(8) != fourCC("AVI ")) return None
    val riffEnd = 8 + u32(4)
    if (riffEnd > bytes.length) return None

    var width = -1
    var height = -1
    var declaredFrames = -1L
    val sums = scala.collection.mutable.ListBuffer.empty[Long]
    var nFrames = 0

    // walk the top-level chunks; recurse only into hdrl and movi LISTs
    var pos = 12L
    while (pos + 8 <= riffEnd) {
      val id = b.getInt(pos.toInt)
      val size = u32(pos.toInt + 4)
      val body = pos + 8
      if (body + size > riffEnd) return None
      if (id == fourCC("LIST")) {
        if (size < 4) return None
        val listType = b.getInt(body.toInt)
        if (listType == fourCC("hdrl")) {
          // find avih: first chunk of hdrl by spec
          if (body + 4 + 8 > riffEnd || b.getInt(body.toInt + 4) != fourCC("avih")) return None
          val avihSize = u32(body.toInt + 8)
          // the 40 bytes read below must sit inside BOTH the list and the file
          if (avihSize < 40 || body + 12 + 40 > body + size || body + 12 + 40 > riffEnd)
            return None
          val a = body.toInt + 12
          declaredFrames = u32(a + 16)
          width = b.getInt(a + 32)
          height = b.getInt(a + 36)
          if (width <= 0 || height <= 0) return None
        } else if (listType == fourCC("movi")) {
          var p = body + 4
          val end = body + size
          while (p + 8 <= end) {
            val cid = b.getInt(p.toInt)
            val csize = u32(p.toInt + 4)
            if (p + 8 + csize > end) return None
            // '##dc' compressed / '##db' uncompressed video chunks
            val tag = (cid >>> 16) & 0xffff
            if (tag == ((fourCC("00dc") >>> 16) & 0xffff) ||
              tag == ((fourCC("00db") >>> 16) & 0xffff)) {
              if (nFrames % everyNth == 0) {
                val frame = java.util.Arrays.copyOfRange(
                  bytes, (p + 8).toInt, (p + 8 + csize).toInt)
                frameVal(frame) match {
                  case Some((fw, fh, v)) =>
                    if (width >= 0 && (fw != width || fh != height)) return None
                    sums += v
                  case None => return None
                }
              }
              nFrames += 1
            }
            p += 8 + csize + (csize & 1) // RIFF word alignment
          }
        }
      }
      pos = body + size + (size & 1)
    }
    if (width < 0 || nFrames == 0) return None
    if (declaredFrames >= 0 && declaredFrames != nFrames) return None
    Some((width, height, nFrames, sums.toSeq))
  }

  // ------------------------------------------------------------ encoder

  /** Structurally valid AVI/MJPG with `frames` distinct
    * [[JpegCodec.synthJpeg]] frames (seed id·7 + f) of `wb`×`hb`
    * 8-pixel blocks.
    */
  def synthAvi(id: Long, wb: Int, hb: Int, frames: Int): Array[Byte] =
    synthAviSeeds((0 until frames).map(f => id * 7 + f), wb, hb)

  /** Variant with explicit per-frame JPEG seeds — the near-dup fixture
    * ([[Multimodal.aviNearDupMediaTable]]) shares seed lists across
    * videos so frame-signature overlap is constructed, not accidental.
    */
  def synthAviSeeds(seeds: Seq[Long], wb: Int, hb: Int): Array[Byte] = {
    val frames = seeds.size
    require(frames > 0 && wb > 0 && hb > 0, s"degenerate $frames frames ${wb}x$hb")
    val w = wb * 8
    val h = hb * 8
    val payloads = seeds.map(sd => JpegCodec.synthJpeg(sd, wb, hb))

    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    def tag(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))

    // avih(56) + strl LIST(4 + strh-chunk 64 + strf-chunk 48)
    val strlSize = 4 + 8 + 56 + 8 + 40
    val hdrlSize = 4 + 8 + 56 + 8 + strlSize
    val moviSize = 4 + payloads.map(p => 8L + p.length + (p.length & 1)).sum
    val riffSize = 4 + 8 + hdrlSize + 8 + moviSize

    tag("RIFF"); u32(riffSize); tag("AVI ")
    tag("LIST"); u32(hdrlSize); tag("hdrl")
    tag("avih"); u32(56)
    u32(40000) // us per frame (25 fps)
    u32(0); u32(0); u32(0x10) // rates/padding/flags (HASINDEX off)
    u32(frames); u32(0); u32(1); u32(0) // total frames, initial, streams, bufsize
    u32(w); u32(h); u32(0); u32(0); u32(0); u32(0)
    tag("LIST"); u32(strlSize); tag("strl")
    tag("strh"); u32(56)
    tag("vids"); tag("MJPG")
    u32(0); u32(0); u32(0) // flags, prio+lang, initial frames
    u32(1); u32(25) // scale, rate
    u32(0); u32(frames); u32(0); u32(0); u32(0) // start, length, bufsize, quality, samplesize
    u32(0); u32(0) // rcFrame
    tag("strf"); u32(40)
    u32(40); u32(w); u32(h)
    out.write(1); out.write(0); out.write(24); out.write(0) // planes 1, 24 bpp
    tag("MJPG")
    u32(w.toLong * h * 3); u32(0); u32(0); u32(0); u32(0)
    tag("LIST"); u32(moviSize); tag("movi")
    payloads.foreach { p =>
      tag("00dc"); u32(p.length)
      out.write(p, 0, p.length)
      if ((p.length & 1) == 1) out.write(0) // word alignment
    }
    out.toByteArray
  }
}
