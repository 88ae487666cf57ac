package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM video-container METADATA parsing — the first thing a
  * multimodal curation pipeline meets before any codec work: MP4
  * (ISO BMFF box walk: `moov`/`mvhd`/`trak`/`tkhd`/`mdia`/`stbl`) and
  * WebM (Matroska EBML walk: Info / Tracks / Clusters), extracting
  * duration, video track dimensions, frame count and keyframe
  * positions WITHOUT decoding a single pixel — exactly the fields
  * frame-sampling, bucketing and dedup curation ops need
  * (reference keeps payloads opaque the same way; see
  * [[Multimodal]]'s scale notes). Byte layouts follow the public
  * ISO/IEC 14496-12 box grammar and the Matroska/EBML RFC 8794
  * element grammar.
  *
  * The parser never guesses: unknown boxes/elements are SKIPPED (both
  * grammars are length-prefixed precisely so readers can do this), but
  * structural damage — truncated lengths, missing required boxes, a
  * file that is neither container — fails loudly.
  *
  * [[buildMp4]]/[[buildWebm]] are minimal deterministic encoders of the
  * same subset (structurally valid, playable-shaped, fake frame bytes).
  * They exist in main source because the oracle path generates
  * containers from per-row parameters at query time and parses them
  * back — a full round-trip gate on both halves (see `mm_container`).
  */
object MediaContainers {

  /** Parsed container facts. `keyframes` are 0-based frame indices of
    * sync points; `keyframeOffsets` are byte positions in the payload
    * (MP4: the sync sample's chunk offset — exact under the 1-sample-
    * per-chunk layout real muxers use for video keyframe seeks; WebM:
    * the SimpleBlock element's position).
    */
  final case class ContainerInfo(format: String, durationMs: Long,
                                 width: Int, height: Int, frameCount: Int,
                                 keyframes: Seq[Int],
                                 keyframeOffsets: Seq[Long])

  /** Sniff + parse; fails loudly on anything that is neither. */
  def parse(payload: Array[Byte]): ContainerInfo =
    if (isMp4(payload)) parseMp4(payload)
    else if (isWebm(payload)) parseWebm(payload)
    else throw new IllegalArgumentException(
      s"payload (${payload.length} B) is neither MP4 (no ftyp box) nor " +
        "WebM (no EBML header)")

  def isMp4(b: Array[Byte]): Boolean =
    b.length >= 8 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'

  def isWebm(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xff) == 0x1a && (b(1) & 0xff) == 0x45 &&
      (b(2) & 0xff) == 0xdf && (b(3) & 0xff) == 0xa3

  // ---------------------------------------------------------------- MP4

  /** (start, end) of each direct child box of [from, to); name → spans. */
  private def boxes(b: Array[Byte], from: Int, to: Int): Seq[(String, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    var p = from
    while (p + 8 <= to) {
      val buf = ByteBuffer.wrap(b, p, 8).order(ByteOrder.BIG_ENDIAN)
      var size = buf.getInt().toLong & 0xffffffffL
      val name = new String(b, p + 4, 4, "US-ASCII")
      var hdr = 8
      if (size == 1) { // 64-bit largesize
        require(p + 16 <= to, s"truncated largesize box '$name'")
        size = ByteBuffer.wrap(b, p + 8, 8).order(ByteOrder.BIG_ENDIAN).getLong()
        hdr = 16
      } else if (size == 0) size = (to - p).toLong // box extends to end
      require(size >= hdr && p + size <= to,
        s"box '$name' size $size overruns container (at $p, end $to)")
      out += ((name, p + hdr, p + size.toInt))
      p += size.toInt
    }
    out.toSeq
  }

  private def child(b: Array[Byte], spans: Seq[(String, Int, Int)],
                    name: String): Option[(Int, Int)] =
    spans.find(_._1 == name).map(s => (s._2, s._3))

  private def u32(b: Array[Byte], p: Int): Long =
    ByteBuffer.wrap(b, p, 4).order(ByteOrder.BIG_ENDIAN).getInt().toLong & 0xffffffffL

  def parseMp4(payload: Array[Byte]): ContainerInfo = {
    val top = boxes(payload, 0, payload.length)
    val (moovFrom, moovTo) = child(payload, top, "moov").getOrElse(
      throw new IllegalArgumentException("MP4 has no moov box"))
    val moov = boxes(payload, moovFrom, moovTo)
    // mvhd v0: ver/flags(4) ctime(4) mtime(4) timescale(4) duration(4)
    val (mvFrom, _) = child(payload, moov, "mvhd").getOrElse(
      throw new IllegalArgumentException("MP4 moov has no mvhd"))
    val mvVer = payload(mvFrom) & 0xff
    val (timescale, duration) =
      if (mvVer == 1) (u32(payload, mvFrom + 20),
        ByteBuffer.wrap(payload, mvFrom + 24, 8).order(ByteOrder.BIG_ENDIAN).getLong())
      else (u32(payload, mvFrom + 12), u32(payload, mvFrom + 16))
    require(timescale > 0, "MP4 mvhd timescale 0")
    val durationMs = duration * 1000L / timescale

    // the video track: the trak whose tkhd has nonzero dimensions
    val tracks = moov.filter(_._1 == "trak").map { case (_, f, t) =>
      val tk = boxes(payload, f, t)
      val dims = child(payload, tk, "tkhd").map { case (kf, kt) =>
        // width/height: last 8 bytes, 16.16 fixed point
        (u32(payload, kt - 8).toInt >>> 16, u32(payload, kt - 4).toInt >>> 16)
      }.getOrElse((0, 0))
      (tk, f, t, dims._1, dims._2)
    }
    val video = tracks.find(t => t._4 > 0 && t._5 > 0).getOrElse(
      throw new IllegalArgumentException("MP4 has no video track " +
        "(no trak with tkhd dimensions)"))
    val (tk, _, _, w, h) = video
    val stbl = (for {
      (mdFrom, mdTo) <- child(payload, tk, "mdia")
      mdia = boxes(payload, mdFrom, mdTo)
      (mnFrom, mnTo) <- child(payload, mdia, "minf")
      minf = boxes(payload, mnFrom, mnTo)
      (sbFrom, sbTo) <- child(payload, minf, "stbl")
    } yield boxes(payload, sbFrom, sbTo)).getOrElse(
      throw new IllegalArgumentException("MP4 video track has no stbl"))

    // stsz: ver/flags(4) sample_size(4) count(4)
    val nFrames = child(payload, stbl, "stsz").map { case (f, _) =>
      u32(payload, f + 8).toInt
    }.getOrElse(throw new IllegalArgumentException("MP4 stbl has no stsz"))

    // stss: sync sample numbers (1-based); absent = every frame syncs
    val keyframes = child(payload, stbl, "stss").map { case (f, _) =>
      val n = u32(payload, f + 4).toInt
      (0 until n).map(i => u32(payload, f + 8 + 4 * i).toInt - 1)
    }.getOrElse(0 until nFrames)

    // chunk offsets; keyframe byte offsets are exact when the stsc map
    // says one sample per chunk (the video-keyframe-seek layout), else
    // conservatively empty rather than wrong
    val chunkOffsets = child(payload, stbl, "stco").map { case (f, _) =>
      val n = u32(payload, f + 4).toInt
      (0 until n).map(i => u32(payload, f + 8 + 4 * i))
    }.orElse(child(payload, stbl, "co64").map { case (f, _) =>
      val n = u32(payload, f + 4).toInt
      (0 until n).map(i => ByteBuffer.wrap(payload, f + 8 + 8 * i, 8)
        .order(ByteOrder.BIG_ENDIAN).getLong())
    }).getOrElse(Seq.empty)
    val oneSamplePerChunk = child(payload, stbl, "stsc").exists { case (f, t) =>
      val n = u32(payload, f + 4).toInt
      n == 1 && u32(payload, f + 12) == 1L // one entry, samples-per-chunk 1
    }
    val keyframeOffsets =
      if (oneSamplePerChunk && chunkOffsets.length >= nFrames)
        keyframes.map(k => chunkOffsets(k))
      else Seq.empty

    ContainerInfo("mp4", durationMs, w, h, nFrames,
      keyframes, keyframeOffsets)
  }

  /** Byte span of every keyframe SimpleBlock's FRAME DATA in a WebM
    * payload: (frameIdx 0-based, offset, size) — track vint + 2-byte
    * timestamp + flags stripped. Unlaced blocks only (lacing bits in
    * the flags byte reject loudly — a wrong slice would decode
    * garbage); the video track is resolved exactly as [[parseWebm]].
    */
  def webmKeyframeSpans(payload: Array[Byte]): Seq[(Int, Long, Int)] = {
    val top = ebmlChildren(payload, 0, payload.length)
    val seg = top.find(_._1 == 0x18538067L).getOrElse(
      throw new IllegalArgumentException("WebM has no Segment element"))
    val segCh = ebmlChildren(payload, seg._2, seg._3)
    val tracks = segCh.find(_._1 == 0x1654AE6BL).getOrElse(
      throw new IllegalArgumentException("WebM Segment has no Tracks"))
    val entries = ebmlChildren(payload, tracks._2, tracks._3)
      .filter(_._1 == 0xAEL)
      .map(e => ebmlChildren(payload, e._2, e._3))
    val video = entries.find(_.exists(c =>
        c._1 == 0x83L && ebmlUint(payload, c._2, c._3) == 1L))
      .getOrElse(throw new IllegalArgumentException("WebM has no video track"))
    val trackNum = video.find(_._1 == 0xD7L)
      .map(e => ebmlUint(payload, e._2, e._3)).getOrElse(1L)
    var nFrames = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Int)]
    segCh.filter(_._1 == 0x1F43B675L).foreach { cl =>
      ebmlChildren(payload, cl._2, cl._3).filter(_._1 == 0xA3L)
        .foreach { blk =>
          val (tn, tnLen) = vint(payload, blk._2, keepMarker = false)
          if (tn == trackNum) {
            val flags = payload(blk._2 + tnLen + 2) & 0xff
            if ((flags & 0x80) != 0) {
              require((flags & 0x06) == 0,
                "laced WebM SimpleBlock unsupported for keyframe spans")
              val dataStart = blk._2 + tnLen + 3
              out += ((nFrames, dataStart.toLong, blk._3 - dataStart))
            }
            nFrames += 1
          }
        }
    }
    out.toSeq
  }

  // --------------------------------------------------------------- WebM

  /** EBML variable-length integer at p: (value, bytes consumed). For
    * element IDs pass `keepMarker = true` (IDs keep the length-marker
    * bit; sizes strip it).
    */
  private def vint(b: Array[Byte], p: Int, keepMarker: Boolean): (Long, Int) = {
    require(p < b.length, "truncated EBML varint")
    val first = b(p) & 0xff
    require(first != 0, s"invalid EBML varint lead byte 0 at $p")
    val len = Integer.numberOfLeadingZeros(first) - 24 + 1
    require(p + len <= b.length, "truncated EBML varint body")
    var v = if (keepMarker) first.toLong else (first & (0xff >>> len)).toLong
    var i = 1
    while (i < len) { v = (v << 8) | (b(p + i) & 0xff); i += 1 }
    (v, len)
  }

  /** Direct children of an EBML master element body [from, to):
    * (id, bodyFrom, bodyTo, elementStart).
    */
  private def ebmlChildren(b: Array[Byte], from: Int,
                           to: Int): Seq[(Long, Int, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Int)]
    var p = from
    while (p < to) {
      val start = p
      val (id, idLen) = vint(b, p, keepMarker = true)
      val (sz, szLen) = vint(b, p + idLen, keepMarker = false)
      val bodyFrom = p + idLen + szLen
      require(bodyFrom + sz <= to,
        s"EBML element 0x${id.toHexString} overruns parent (at $p)")
      out += ((id, bodyFrom, bodyFrom + sz.toInt, start))
      p = bodyFrom + sz.toInt
    }
    out.toSeq
  }

  private def ebmlUint(b: Array[Byte], from: Int, to: Int): Long = {
    var v = 0L
    var p = from
    while (p < to) { v = (v << 8) | (b(p) & 0xff); p += 1 }
    v
  }

  private def ebmlFloat(b: Array[Byte], from: Int, to: Int): Double =
    (to - from) match {
      case 4 => java.lang.Float.intBitsToFloat(ebmlUint(b, from, to).toInt).toDouble
      case 8 => java.lang.Double.longBitsToDouble(ebmlUint(b, from, to))
      case n => throw new IllegalArgumentException(s"EBML float of $n bytes")
    }

  def parseWebm(payload: Array[Byte]): ContainerInfo = {
    val top = ebmlChildren(payload, 0, payload.length)
    val seg = top.find(_._1 == 0x18538067L).getOrElse(
      throw new IllegalArgumentException("WebM has no Segment element"))
    val segCh = ebmlChildren(payload, seg._2, seg._3)

    // Info: TimestampScale (ns per tick, default 1_000_000) + Duration
    val info = segCh.find(_._1 == 0x1549A966L).getOrElse(
      throw new IllegalArgumentException("WebM Segment has no Info"))
    val infoCh = ebmlChildren(payload, info._2, info._3)
    val tsScale = infoCh.find(_._1 == 0x2AD7B1L)
      .map(e => ebmlUint(payload, e._2, e._3)).getOrElse(1000000L)
    val durTicks = infoCh.find(_._1 == 0x4489L)
      .map(e => ebmlFloat(payload, e._2, e._3)).getOrElse(
        throw new IllegalArgumentException("WebM Info has no Duration"))
    val durationMs = math.round(durTicks * tsScale / 1e6)

    // Tracks → the TrackEntry with TrackType 1 (video) → Video dims
    val tracks = segCh.find(_._1 == 0x1654AE6BL).getOrElse(
      throw new IllegalArgumentException("WebM Segment has no Tracks"))
    val entries = ebmlChildren(payload, tracks._2, tracks._3)
      .filter(_._1 == 0xAEL)
      .map(e => ebmlChildren(payload, e._2, e._3))
    val video = entries.find(_.exists(c =>
        c._1 == 0x83L && ebmlUint(payload, c._2, c._3) == 1L))
      .getOrElse(throw new IllegalArgumentException("WebM has no video track"))
    val trackNum = video.find(_._1 == 0xD7L)
      .map(e => ebmlUint(payload, e._2, e._3)).getOrElse(1L)
    val vids = video.find(_._1 == 0xE0L).map(e =>
      ebmlChildren(payload, e._2, e._3)).getOrElse(
      throw new IllegalArgumentException("WebM video track has no Video element"))
    val w = vids.find(_._1 == 0xB0L).map(e => ebmlUint(payload, e._2, e._3))
      .getOrElse(0L).toInt
    val h = vids.find(_._1 == 0xBAL).map(e => ebmlUint(payload, e._2, e._3))
      .getOrElse(0L).toInt
    require(w > 0 && h > 0, "WebM video track has no pixel dimensions")

    // Clusters → SimpleBlocks of the video track: frame count + the
    // keyframe flag (bit 7 of the flags byte after the 2-byte timestamp)
    var nFrames = 0
    val keyframes = scala.collection.mutable.ArrayBuffer.empty[Int]
    val keyOffsets = scala.collection.mutable.ArrayBuffer.empty[Long]
    segCh.filter(_._1 == 0x1F43B675L).foreach { cl =>
      ebmlChildren(payload, cl._2, cl._3).filter(_._1 == 0xA3L)
        .foreach { blk =>
          val (tn, tnLen) = vint(payload, blk._2, keepMarker = false)
          if (tn == trackNum) {
            val flags = payload(blk._2 + tnLen + 2) & 0xff
            if ((flags & 0x80) != 0) {
              keyframes += nFrames
              keyOffsets += blk._4.toLong // element start in the payload
            }
            nFrames += 1
          }
        }
    }
    ContainerInfo("webm", durationMs, w, h, nFrames,
      keyframes.toSeq, keyOffsets.toSeq)
  }

  // ------------------------------------------------------- deterministic
  // builders (structurally valid minimal files; fake frame payloads)

  /** Payload bytes of each fake frame the two builders emit. */
  private val FrameSize = 16

  /** Minimal valid MP4: ftyp + moov(mvhd, trak(tkhd, mdia(mdhd, hdlr,
    * minf(stbl(stts, stsc, stsz, stco, stss))))) + mdat holding
    * 16-byte fake frames, one sample per chunk, a keyframe
    * every `keyEvery` frames, `ticksPerFrame` at a 1000 Hz movie
    * timescale (so durationMs = nFrames × ticksPerFrame).
    */
  def buildMp4(width: Int, height: Int, nFrames: Int, ticksPerFrame: Int,
               keyEvery: Int): Array[Byte] = {
    // bitwise-identical to the original fixed-size form: frame j is the
    // [j*16, (j+1)*16) slice of the (i % 251) byte ramp
    buildMp4Samples(width, height,
      (0 until nFrames).map(j => Array.tabulate(FrameSize)(i =>
        ((j * FrameSize + i) % 251).toByte)),
      ticksPerFrame, keyEvery)
  }

  /** [[buildMp4]] with CALLER-SUPPLIED sample payloads (variable sizes —
    * e.g. real PNG/JPEG intra frames for the MJPEG-in-MP4 shape): stsz
    * carries each sample's true size and stco each sample's true byte
    * offset, so keyframe spans sliced from the sample table recover the
    * exact encoded frame bytes.
    */
  def buildMp4Samples(width: Int, height: Int, frames: Seq[Array[Byte]],
                      ticksPerFrame: Int, keyEvery: Int): Array[Byte] = {
    val nFrames = frames.length
    require(width > 0 && height > 0 && nFrames > 0 && keyEvery > 0)
    def box(name: String, payload: Array[Byte]*): Array[Byte] = {
      val n = 8 + payload.map(_.length).sum
      val b = ByteBuffer.allocate(n).order(ByteOrder.BIG_ENDIAN)
      b.putInt(n); b.put(name.getBytes("US-ASCII"))
      payload.foreach(b.put)
      b.array()
    }
    def full(name: String, body: Array[Byte]): Array[Byte] =
      box(name, new Array[Byte](4), body) // version 0 + zero flags
    def be32(vs: Int*): Array[Byte] = {
      val b = ByteBuffer.allocate(4 * vs.length).order(ByteOrder.BIG_ENDIAN)
      vs.foreach(b.putInt); b.array()
    }
    val timescale = 1000
    val duration = nFrames * ticksPerFrame
    val keyIdx = (0 until nFrames).filter(_ % keyEvery == 0)

    val ftyp = box("ftyp", "isom".getBytes, be32(0x200), "isomiso2".getBytes)
    // mvhd v0 body after ctime/mtime/timescale/duration: rate(4)
    // volume(2) reserved(10) matrix(36) predefined(24) nextTrack(4) = 80
    val mvhd = full("mvhd", be32(0, 0, timescale, duration) ++
      new Array[Byte](80))
    // tkhd: ctime mtime id reserved duration | reserved×2 layer group
    // volume matrix(36) width height (16.16)
    val tkhd = full("tkhd", be32(0, 0, 1, 0, duration) ++
      new Array[Byte](8 + 8 + 36) ++ be32(width << 16, height << 16))
    val mdhd = full("mdhd", be32(0, 0, timescale, duration) ++ be32(0x55C40000).take(4))
    val hdlr = full("hdlr", be32(0) ++ "vide".getBytes ++ new Array[Byte](13))
    val stts = full("stts", be32(1, nFrames, ticksPerFrame))
    val stsc = full("stsc", be32(1, 1, 1, 1)) // one entry: 1 sample/chunk
    val stsz = full("stsz", be32(0, nFrames) ++
      be32(frames.map(_.length): _*))
    val stss = full("stss", be32(keyIdx.length +: keyIdx.map(_ + 1): _*))
    // stco is back-patched once the mdat position is known
    val stcoBody = be32(nFrames +: (0 until nFrames).map(_ => 0): _*)
    val stco = full("stco", stcoBody)
    val stbl = box("stbl", stts, stsc, stsz, stco, stss)
    val minf = box("minf", stbl)
    val mdia = box("mdia", mdhd, hdlr, minf)
    val trak = box("trak", tkhd, mdia)
    val moov = box("moov", mvhd, trak)
    val mdat = box("mdat", frames.toArray: _*)
    val out = ftyp ++ moov ++ mdat
    // back-patch chunk offsets: find stco inside the flat file (the
    // builder wrote zeros there), first frame starts 8 bytes into mdat
    val mdatPos = ftyp.length + moov.length
    val stcoPos = indexOfBox(out, "stco")
    val b = ByteBuffer.wrap(out).order(ByteOrder.BIG_ENDIAN)
    val starts = frames.scanLeft(mdatPos + 8)(_ + _.length)
    (0 until nFrames).foreach { i =>
      b.putInt(stcoPos + 16 + 4 * i, starts(i))
    }
    out
  }

  /** Byte span of every sync sample of the video track:
    * (frameIdx 0-based, offset, size). Exact under the
    * 1-sample-per-chunk stsc layout (the video-keyframe-seek layout
    * real muxers write); fails loudly otherwise — a wrong slice would
    * silently decode garbage.
    */
  def mp4KeyframeSpans(payload: Array[Byte]): Seq[(Int, Long, Int)] = {
    val top = boxes(payload, 0, payload.length)
    val (moovFrom, moovTo) = child(payload, top, "moov").getOrElse(
      throw new IllegalArgumentException("MP4 has no moov box"))
    val moov = boxes(payload, moovFrom, moovTo)
    val tracks = moov.filter(_._1 == "trak").map { case (_, f, t) =>
      val tk = boxes(payload, f, t)
      val dims = child(payload, tk, "tkhd").map { case (_, kt) =>
        (u32(payload, kt - 8).toInt >>> 16, u32(payload, kt - 4).toInt >>> 16)
      }.getOrElse((0, 0))
      (tk, dims._1, dims._2)
    }
    val tk = tracks.find(t => t._2 > 0 && t._3 > 0).map(_._1).getOrElse(
      throw new IllegalArgumentException("MP4 has no video track"))
    val stbl = (for {
      (mdFrom, mdTo) <- child(payload, tk, "mdia")
      mdia = boxes(payload, mdFrom, mdTo)
      (mnFrom, mnTo) <- child(payload, mdia, "minf")
      minf = boxes(payload, mnFrom, mnTo)
      (sbFrom, sbTo) <- child(payload, minf, "stbl")
    } yield boxes(payload, sbFrom, sbTo)).getOrElse(
      throw new IllegalArgumentException("MP4 video track has no stbl"))
    val (szFrom, _) = child(payload, stbl, "stsz").getOrElse(
      throw new IllegalArgumentException("MP4 stbl has no stsz"))
    val fixedSize = u32(payload, szFrom + 4)
    val nFrames = u32(payload, szFrom + 8).toInt
    val sizes: Int => Int =
      if (fixedSize != 0L) _ => fixedSize.toInt
      else i => u32(payload, szFrom + 12 + 4 * i).toInt
    val keyframes = child(payload, stbl, "stss").map { case (f, _) =>
      val n = u32(payload, f + 4).toInt
      (0 until n).map(i => u32(payload, f + 8 + 4 * i).toInt - 1)
    }.getOrElse(0 until nFrames)
    val chunkOffsets = child(payload, stbl, "stco").map { case (f, _) =>
      val n = u32(payload, f + 4).toInt
      (0 until n).map(i => u32(payload, f + 8 + 4 * i))
    }.orElse(child(payload, stbl, "co64").map { case (f, _) =>
      val n = u32(payload, f + 4).toInt
      (0 until n).map(i => ByteBuffer.wrap(payload, f + 8 + 8 * i, 8)
        .order(ByteOrder.BIG_ENDIAN).getLong())
    }).getOrElse(throw new IllegalArgumentException(
      "MP4 stbl has no stco/co64"))
    val oneSamplePerChunk = child(payload, stbl, "stsc").exists { case (f, _) =>
      u32(payload, f + 4).toInt == 1 && u32(payload, f + 12) == 1L
    }
    require(oneSamplePerChunk && chunkOffsets.length >= nFrames,
      "MP4 keyframe spans need the 1-sample-per-chunk stsc layout " +
        s"(entries=${chunkOffsets.length}, frames=$nFrames)")
    keyframes.map(k => (k, chunkOffsets(k), sizes(k)))
  }

  private def indexOfBox(b: Array[Byte], name: String): Int = {
    val target = name.getBytes("US-ASCII")
    var p = 0
    while (p + 8 <= b.length) {
      if (b(p + 4) == target(0) && b(p + 5) == target(1) &&
        b(p + 6) == target(2) && b(p + 7) == target(3)) return p
      p += 1
    }
    throw new IllegalStateException(s"box $name not found")
  }

  /** Minimal valid WebM: EBML header + Segment(Info(TimestampScale=1ms,
    * Duration), Tracks(video TrackEntry), one Cluster of SimpleBlocks
    * with 16-byte fake frames —
    * keyframe flag every `keyEvery`-th block).
    */
  def buildWebm(width: Int, height: Int, nFrames: Int, msPerFrame: Int,
                keyEvery: Int): Array[Byte] =
    // bitwise-identical to the original fixed-size form
    buildWebmSamples(width, height,
      (0 until nFrames).map(i =>
        Array.tabulate(FrameSize)(j => ((i * 31 + j) % 251).toByte)),
      msPerFrame, keyEvery)

  /** [[buildWebm]] with CALLER-SUPPLIED frame payloads (variable sizes
    * — real PNG/JPEG intra frames for the intra-coded-WebM shape).
    */
  def buildWebmSamples(width: Int, height: Int, frames: Seq[Array[Byte]],
                       msPerFrame: Int, keyEvery: Int): Array[Byte] = {
    val nFrames = frames.length
    require(width > 0 && height > 0 && nFrames > 0 && keyEvery > 0)
    def id(v: Long): Array[Byte] = { // IDs are stored verbatim
      val n = (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8
      val b = new Array[Byte](n)
      (0 until n).foreach(i => b(n - 1 - i) = ((v >> (8 * i)) & 0xff).toByte)
      b
    }
    def sz(v: Int): Array[Byte] = { // 2-byte size marker (fits our fixtures)
      require(v < 0x4000)
      Array(((v >> 8) | 0x40).toByte, (v & 0xff).toByte)
    }
    def el(eid: Long, body: Array[Byte]): Array[Byte] = id(eid) ++ sz(body.length) ++ body
    def uint(v: Long): Array[Byte] = {
      val n = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(v) + 7) / 8)
      val b = new Array[Byte](n)
      (0 until n).foreach(i => b(n - 1 - i) = ((v >> (8 * i)) & 0xff).toByte)
      b
    }
    val ebml = el(0x1A45DFA3L, el(0x4282L, "webm".getBytes) ++
      el(0x4287L, uint(4)) ++ el(0x4285L, uint(2)))
    val info = el(0x1549A966L, el(0x2AD7B1L, uint(1000000L)) ++
      el(0x4489L, {
        val b = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
        b.putDouble(nFrames.toDouble * msPerFrame); b.array()
      }))
    val trackEntry = el(0xAEL, el(0xD7L, uint(1)) ++ el(0x73C5L, uint(1)) ++
      el(0x83L, uint(1)) ++ el(0x86L, "V_FAKE".getBytes) ++
      el(0xE0L, el(0xB0L, uint(width)) ++ el(0xBAL, uint(height))))
    val tracks = el(0x1654AE6BL, trackEntry)
    val blocks = (0 until nFrames).flatMap { i =>
      val flags = if (i % keyEvery == 0) 0x80 else 0x00
      val body = Array[Byte](0x81.toByte, // track 1 as a 1-byte varint
        ((i * msPerFrame) >> 8).toByte, (i * msPerFrame).toByte, flags.toByte) ++
        frames(i)
      el(0xA3L, body)
    }.toArray
    val cluster = el(0x1F43B675L, el(0xE7L, uint(0)) ++ blocks)
    val segment = el(0x18538067L, info ++ tracks ++ cluster)
    ebml ++ segment
  }
}
