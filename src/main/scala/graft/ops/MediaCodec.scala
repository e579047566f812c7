package graft.ops

/** Container-header codecs for multimodal binary columns: real parsers for
  * the public PNG / JPEG / GIF / WAV container formats (magic detection +
  * dimension/frame extraction from the headers — no pixel/sample decode,
  * which is all the metadata stage needs).
  *
  * Field conventions in [[MediaMeta]]:
  *  - images (png/jpeg/gif): width/height in pixels, n_frames = 1
  *  - wav audio: width = sample rate (Hz), height = channel count,
  *    n_frames = sample frames (data bytes / block align)
  */
object MediaCodec {

  final case class MediaMeta(media_type: String, width: Int, height: Int,
                             n_frames: Int, byte_len: Long)

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  @inline private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  @inline private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  @inline private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  @inline private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  private def ascii4(b: Array[Byte], i: Int): String =
    new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** PNG: 8-byte signature, then the IHDR chunk holds width/height as
    * big-endian int32 at byte offsets 16 and 20.
    */
  def probePng(b: Array[Byte]): Option[MediaMeta] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (b.length < 24 || !b.take(8).sameElements(sig)) return None
    if (ascii4(b, 12) != "IHDR") return None
    Some(MediaMeta("png", be32(b, 16), be32(b, 20), 1, b.length.toLong))
  }

  /** JPEG: SOI marker then a sequence of FF-marker segments; the first SOF
    * (start-of-frame, 0xC0-0xCF except C4/C8/CC) segment carries height
    * (BE16 at data offset +3) and width (+5). Non-SOF segments are skipped
    * via their BE16 length field. Encoders may pad between segments with
    * runs of 0xFF fill bytes (ITU T.81 §B.1.1.2: any marker may be
    * preceded by fill) — the walk skips them rather than misreading the
    * fill byte as a marker with a bogus length.
    */
  def probeJpeg(b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    var p = 2
    while (p + 3 < b.length) {
      if (u8(b, p) != 0xff) return None
      while (p + 3 < b.length && u8(b, p + 1) == 0xff) p += 1 // fill bytes
      // a truncated stream ending inside a fill run leaves p near the end;
      // re-check before the length-field reads below touch p+2/p+3
      if (p + 3 >= b.length) return None
      val m = u8(b, p + 1)
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) p += 2 // standalone markers
      else if (m == 0xd9) return None // EOI before any SOF
      else {
        val len = be16(b, p + 2)
        if (len < 2) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (p + 8 >= b.length) return None
          return Some(MediaMeta("jpeg", be16(b, p + 7), be16(b, p + 5), 1, b.length.toLong))
        }
        p += 2 + len
      }
    }
    None
  }

  /** GIF87a/GIF89a: logical screen width/height as LE16 at offsets 6/8. */
  def probeGif(b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 10) return None
    val hdr = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    Some(MediaMeta("gif", le16(b, 6), le16(b, 8), 1, b.length.toLong))
  }

  /** WAV: RIFF/WAVE container; walk the chunk list for `fmt ` (channels
    * LE16 at data +2, sample rate LE32 at +4, block align LE16 at +12) and
    * `data` (size → frame count). Chunk sizes are LE32 and padded to even.
    */
  def probeWav(b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 12 || ascii4(b, 0) != "RIFF" || ascii4(b, 8) != "WAVE") return None
    var p = 12
    var sampleRate = 0; var channels = 0; var blockAlign = 0
    var dataSize = -1
    while (p + 8 <= b.length) {
      val id = ascii4(b, p)
      val size = le32(b, p + 4)
      // a corrupt/crafted size with the top bit set decodes negative and
      // would stall or reverse the chunk walk — reject the container
      if (size < 0) return None
      if (id == "fmt " && p + 8 + 14 <= b.length) {
        channels = le16(b, p + 10)
        sampleRate = le32(b, p + 12)
        blockAlign = le16(b, p + 20)
      } else if (id == "data") {
        dataSize = size
      }
      p += 8 + size + (size & 1)
    }
    if (sampleRate == 0 || dataSize < 0) return None
    val frames = if (blockAlign > 0) dataSize / blockAlign else 0
    Some(MediaMeta("wav", sampleRate, channels, frames, b.length.toLong))
  }

  /** Detect by magic bytes and parse; unknown containers fall back to the
    * declared type with zero dimensions (byte_len always real).
    */
  def probe(b: Array[Byte], declaredType: String): MediaMeta =
    probePng(b).orElse(probeJpeg(b)).orElse(probeGif(b)).orElse(probeWav(b))
      .getOrElse(MediaMeta(declaredType, 0, 0, 1, b.length.toLong))

  /** Static entry point for generated code ([[graft.expressions.MediaProbeExpr]]):
    * probe never fails (unknown containers fall back to the declared type),
    * so the row is always non-null for a non-null payload.
    */
  def probeRow(b: Array[Byte],
               declared: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val m = probe(b, if (declared == null) "unknown" else declared.toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(m.media_type),
      m.width, m.height, m.n_frames, m.byte_len))
  }

  // ---------- fixtures (test/dev only): minimal valid containers ----------

  /** Minimal PNG: signature + IHDR chunk (CRC zeroed — not validated by
    * header parsers) + IEND. 8 + 25 + 12 = 45 bytes.
    */
  def pngFixture(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(45)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    out.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .putInt(0) // IHDR CRC (unchecked)
    out.putInt(0).put("IEND".getBytes).putInt(0)
    out.array()
  }

  /** Minimal JPEG: SOI + APP0 (so parsers must skip a segment) + two 0xFF
    * fill bytes before SOF0 (so parsers must handle inter-segment padding,
    * T.81 §B.1.1.2) + SOF0 + EOI.
    */
  def jpegFixture(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(2 + 18 + 2 + 13 + 2)
    out.put(0xff.toByte).put(0xd8.toByte)                      // SOI
    out.put(0xff.toByte).put(0xe0.toByte).putShort(16.toShort) // APP0, len 16
      .put("JFIF".getBytes).put(0.toByte)
      .putShort(0x0101.toShort).put(0.toByte).putShort(1.toShort).putShort(1.toShort)
      .put(0.toByte).put(0.toByte)
    out.put(0xff.toByte).put(0xff.toByte)                      // fill bytes
    out.put(0xff.toByte).put(0xc0.toByte).putShort(11.toShort) // SOF0, len 11
      .put(8.toByte).putShort(h.toShort).putShort(w.toShort).put(1.toByte)
      .put(1.toByte).put(0x11.toByte).put(0.toByte)
    out.put(0xff.toByte).put(0xd9.toByte)                      // EOI
    out.array()
  }

  /** Minimal GIF89a: 6-byte header, LE16 logical screen width/height,
    * packed/background/aspect bytes, trailer. 14 bytes.
    */
  def gifFixture(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(14).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("GIF89a".getBytes)
    out.putShort(w.toShort).putShort(h.toShort)
    out.put(0.toByte).put(0.toByte).put(0.toByte) // packed, bg index, aspect
    out.put(0x3b.toByte)                          // trailer
    out.array()
  }

  /** Minimal WAV: RIFF/WAVE + fmt + empty data chunk whose declared size
    * encodes `frames` sample frames (header-only, 44 bytes).
    */
  def wavFixture(sampleRate: Int, channels: Int, frames: Int): Array[Byte] = {
    val blockAlign = channels * 2 // 16-bit PCM
    val dataSize = frames * blockAlign
    val out = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    out.put("fmt ".getBytes).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort).putShort(16.toShort)
    out.put("data".getBytes).putInt(dataSize)
    out.array() // data chunk declared but not materialized (header fixture)
  }

  // ---------- sample/pixel decode: the REAL decode stage ----------

  final case class PcmStats(n_samples: Long, sum_abs: Long, max_abs: Long,
                            zero_cross: Long)

  /** REAL 16-bit PCM decode: walk the RIFF chunk list (like [[probeWav]]),
    * require audio format 1 (PCM) at 16 bits/sample, then decode every
    * little-endian sample in the data chunk (clamped to the bytes actually
    * present) and fold exact integer statistics in one pass — sample
    * count, Σ|s|, max |s|, and the sign-change count over the interleaved
    * stream ((s_i < 0) != (s_{i-1} < 0)). All-integer outputs make the
    * decode restatable exactly in SQL from a known generator. None for
    * non-WAV / non-PCM16 payloads.
    */
  /** Shared RIFF/WAVE walk to the PCM16 sample region: (dataOff,
    * n_samples) — the common front half of [[pcmStats]] and
    * [[pcmEnergyFingerprint]].
    */
  private[ops] def pcmData(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 12 || ascii4(b, 0) != "RIFF" || ascii4(b, 8) != "WAVE") return None
    var p = 12
    var fmtOk = false
    var dataOff = -1; var dataLen = 0
    while (p + 8 <= b.length) {
      val id = ascii4(b, p)
      val size = le32(b, p + 4)
      if (size < 0) return None
      if (id == "fmt " && p + 8 + 16 <= b.length) {
        fmtOk = le16(b, p + 8) == 1 && le16(b, p + 22) == 16
      } else if (id == "data") {
        dataOff = p + 8
        dataLen = math.min(size, b.length - dataOff)
      }
      p += 8 + size + (size & 1)
    }
    if (!fmtOk || dataOff < 0) return None
    Some((dataOff, dataLen / 2))
  }

  def pcmStats(b: Array[Byte]): Option[PcmStats] = {
    val (dataOff, n) = pcmData(b) match {
      case Some(t) => t
      case None => return None
    }
    var sumAbs = 0L; var maxAbs = 0L; var zc = 0L
    var prevNeg = false
    var i = 0
    while (i < n) {
      val s = (le16(b, dataOff + 2 * i) << 16) >> 16 // sign-extend LE16
      val a = math.abs(s).toLong
      sumAbs += a
      if (a > maxAbs) maxAbs = a
      val neg = s < 0
      if (i > 0 && neg != prevNeg) zc += 1
      prevNeg = neg
      i += 1
    }
    Some(PcmStats(n.toLong, sumAbs, maxAbs, zc))
  }

  /** Static entry point for generated code ([[graft.expressions.PcmStatsExpr]]):
    * null when the payload isn't decodable PCM16.
    */
  def pcmStatsRow(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    pcmStats(b) match {
      case Some(s) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](s.n_samples, s.sum_abs, s.max_abs, s.zero_cross))
      case None => null
    }

  final case class PcmFingerprint(n_windows: Long, n_peaks: Long, fingerprint: Long)

  /** Energy-envelope audio fingerprint over REAL decoded PCM16: sum of
    * squares per `window`-sample frame (exact BIGINT), then an
    * order-sensitive polynomial fold over the WHOLE envelope —
    * `h ← (h·31 + e_w mod 2¹⁶) mod 1e9+7` frame by frame — as the
    * content key, plus the count of strict interior energy peaks (the
    * constellation summary). Folding every frame rather than peaks only
    * keeps the key discriminative on smooth-envelope content (a linear
    * ramp has no interior maxima at all); identical content fingerprints
    * identically regardless of container padding, and any edit moves
    * every downstream frame's contribution. Restatable verbatim in SQL —
    * every step is integer arithmetic over the decoded samples. Trailing
    * partial frames are dropped; zero full frames → fingerprint 0.
    */
  def pcmEnergyFingerprint(b: Array[Byte], window: Int = 8): Option[PcmFingerprint] = {
    require(window >= 1, s"window must be >= 1, got $window")
    val (dataOff, n) = pcmData(b) match {
      case Some(t) => t
      case None => return None
    }
    val k = n / window
    val e = new Array[Long](k)
    var w = 0
    while (w < k) {
      var s = 0L
      var j = 0
      while (j < window) {
        val smp = (le16(b, dataOff + 2 * (w * window + j)) << 16) >> 16
        s += smp.toLong * smp
        j += 1
      }
      e(w) = s
      w += 1
    }
    val M = 1000000007L
    var h = 0L
    var peaks = 0L
    w = 0
    while (w < k) {
      h = (h * 31 + e(w) % 65536) % M
      if (w >= 1 && w < k - 1 && e(w) > e(w - 1) && e(w) > e(w + 1)) peaks += 1
      w += 1
    }
    Some(PcmFingerprint(k.toLong, peaks, h))
  }

  /** Static entry point for generated code
    * ([[graft.expressions.PcmFingerprintExpr]]).
    */
  def pcmEnergyFingerprintRow(b: Array[Byte], window: Int): org.apache.spark.sql.catalyst.InternalRow =
    pcmEnergyFingerprint(b, window) match {
      case Some(f) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](f.n_windows, f.n_peaks, f.fingerprint))
      case None => null
    }

  final case class PixelStats(width: Long, height: Long, channels: Long,
                              sum_r: Long, sum_g: Long, sum_b: Long, max_px: Long)

  /** REAL PNG pixel decode for 8-bit greyscale / RGB / RGBA non-interlaced
    * images: IHDR validation, IDAT concatenation, zlib inflate
    * (`java.util.zip.Inflater`), full five-filter scanline reconstruction
    * (None/Sub/Up/Average/Paeth — RFC 2083 §6.2-6.6), then exact
    * per-channel integer sums over the reconstructed pixels (greyscale
    * folds into sum_r; alpha excluded). CRCs are not validated — decode
    * integrity comes from inflate plus the exact expected buffer length.
    * None for malformed / unsupported payloads (16-bit, palette,
    * interlaced).
    */
  /** Shared PNG decode: returns (w, h, channels, reconstructed scanlines
    * (filter byte slots still present, pixel bytes reconstructed),
    * stride) — the common front half of [[pngPixelStats]] and
    * [[pngDhash63]]. All the guards (bit depth, interlace, 256 MB cap,
    * truncated stream) live here once.
    */
  private[ops] def pngDecodePixels(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte], Int)] = {
    // probePng admits 24 bytes (width and height); the IHDR fields read
    // below run to the interlace byte at offset 28
    if (b.length < 29 || probePng(b).isEmpty) return None
    val w = be32(b, 16); val h = be32(b, 20)
    val bitDepth = u8(b, 24); val colorType = u8(b, 25); val interlace = u8(b, 28)
    if (bitDepth != 8 || interlace != 0) return None
    val ch = colorType match { case 0 => 1; case 2 => 3; case 6 => 4; case _ => return None }
    // 256 MB reconstructed-pixel cap: a crafted 2^31-pixel header would
    // otherwise allocate the executor to death before inflate even fails
    if (w <= 0 || h <= 0 || w.toLong * h * ch + h > (1L << 28)) return None
    val idat = new java.io.ByteArrayOutputStream()
    var p = 8
    var sawEnd = false
    while (!sawEnd && p + 8 <= b.length) {
      val len = be32(b, p); val id = ascii4(b, p + 4)
      if (len < 0 || p + 8 + len > b.length) return None
      if (id == "IDAT") idat.write(b, p + 8, len)
      if (id == "IEND") sawEnd = true
      p += 12 + len // length + type + data + crc
    }
    val comp = idat.toByteArray
    if (comp.isEmpty) return None
    val stride = 1 + w * ch
    val raw = new Array[Byte](stride * h)
    val inf = new java.util.zip.Inflater()
    inf.setInput(comp)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        val got = inf.inflate(raw, off, raw.length - off)
        if (got == 0 && inf.needsInput()) return None // truncated stream
        off += got
      }
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    if (off != raw.length) return None

    // scanline reconstruction, in place (raw(y*stride) is the filter byte)
    var y = 0
    while (y < h) {
      val f = u8(raw, y * stride)
      if (f > 4) return None
      val row = y * stride + 1
      val prev = (y - 1) * stride + 1
      var i = 0
      while (i < w * ch) {
        val x = u8(raw, row + i)
        val a = if (i >= ch) u8(raw, row + i - ch) else 0          // left
        val bb = if (y > 0) u8(raw, prev + i) else 0               // up
        val c = if (y > 0 && i >= ch) u8(raw, prev + i - ch) else 0 // up-left
        val recon = f match {
          case 0 => x
          case 1 => x + a
          case 2 => x + bb
          case 3 => x + ((a + bb) >> 1)
          case 4 =>
            val pp = a + bb - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - bb); val pc = math.abs(pp - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else c)
        }
        raw(row + i) = (recon & 0xff).toByte
        i += 1
      }
      y += 1
    }
    Some((w, h, ch, raw, stride))
  }

  def pngPixelStats(b: Array[Byte]): Option[PixelStats] = {
    val (w, h, ch, raw, stride) = pngDecodePixels(b) match {
      case Some(t) => t
      case None => return None
    }
    val sums = new Array[Long](3)
    var maxPx = 0L
    var y = 0
    while (y < h) {
      val row = y * stride + 1
      var i = 0
      while (i < w * ch) {
        val cIdx = i % ch
        if (cIdx < 3) { // alpha (cIdx == 3) excluded
          val v = u8(raw, row + i).toLong
          sums(if (ch == 1) 0 else cIdx) += v
          if (v > maxPx) maxPx = v
        }
        i += 1
      }
      y += 1
    }
    Some(PixelStats(w.toLong, h.toLong, ch.toLong, sums(0), sums(1), sums(2), maxPx))
  }

  /** Static entry point for generated code
    * ([[graft.expressions.PngPixelStatsExpr]]): null when not decodable.
    */
  def pngPixelStatsRow(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    pngPixelStats(b) match {
      case Some(s) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](s.width, s.height, s.channels, s.sum_r, s.sum_g, s.sum_b, s.max_px))
      case None => null
    }

  /** Perceptual 63-bit difference hash (dHash) over REAL decoded PNG
    * pixels — the image-dedup fingerprint: decode ([[pngDecodePixels]],
    * all five scanline filters), integer luma `(299r+587g+114b)/1000`
    * (identity for grayscale, alpha ignored), average-pool to a 9×8 grid
    * (floor mean over exact (w/9)×(h/8) boxes — `None` unless 9|w and
    * 8|h so the pool is integer-exact and SQL-restatable; production
    * callers resize upstream), then bit `y·8+x` = 1 iff
    * `pool[y][x] < pool[y][x+1]`. Bit 63 (the last comparison) is
    * deliberately dropped: every engine that restates the hash as
    * `Σ CASE·2^bit` would overflow signed BIGINT on bit 63 — the same
    * entropy trade as [[graft.ops.Dedup.tokenHash61]].
    *
    * Near-identical images differ in few bits (a changed region moves
    * only its own pools), so [[graft.ops.Dedup.hammingPairs]] over this
    * column is exact perceptual dedup above the pigeonhole floor.
    */
  def pngDhash63(b: Array[Byte]): Option[Long] = {
    val (w, h, ch, raw, stride) = pngDecodePixels(b) match {
      case Some(t) => t
      case None => return None
    }
    if (w % 9 != 0 || h % 8 != 0) return None
    val bw = w / 9; val bh = h / 8
    val pool = new Array[Long](72) // 8 rows x 9 cols
    var py = 0
    while (py < 8) {
      var px = 0
      while (px < 9) {
        var s = 0L
        var y = py * bh
        while (y < (py + 1) * bh) {
          val row = y * stride + 1
          var x = px * bw
          while (x < (px + 1) * bw) {
            val l =
              if (ch == 1) u8(raw, row + x)
              else (299 * u8(raw, row + x * ch) + 587 * u8(raw, row + x * ch + 1)
                + 114 * u8(raw, row + x * ch + 2)) / 1000
            s += l
            x += 1
          }
          y += 1
        }
        pool(py * 9 + px) = s / (bw.toLong * bh)
        px += 1
      }
      py += 1
    }
    var hash = 0L
    var py2 = 0
    while (py2 < 8) {
      var px2 = 0
      while (px2 < 8) {
        val bit = py2 * 8 + px2
        if (bit < 63 && pool(py2 * 9 + px2) < pool(py2 * 9 + px2 + 1))
          hash |= 1L << bit
        px2 += 1
      }
      py2 += 1
    }
    Some(hash)
  }

  /** Static entry point for generated code
    * ([[graft.expressions.PngDhashExpr]]): null when not decodable or
    * not pool-divisible.
    */
  def pngDhashBoxed(b: Array[Byte]): java.lang.Long =
    pngDhash63(b) match {
      case Some(v) => java.lang.Long.valueOf(v)
      case None => null
    }

  /** Animated GIF89a fixture: logical screen descriptor, a NETSCAPE
    * application extension (exercises generic extension skipping), and
    * per frame a Graphic Control Extension carrying `delayCs` (GIF
    * delays are centiseconds) + an image descriptor with one opaque LZW
    * data sub-block (the structure walk never decodes LZW). Real GIF89a
    * block grammar — a real parser reads it; ours does.
    */
  def gifAnimFixture(w: Int, h: Int, frames: Int, delayCs: Int): Array[Byte] = {
    require(frames >= 1 && delayCs >= 0)
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes)
    le16(w); le16(h)
    out.write(0); out.write(0); out.write(0) // packed (no global table), bg, aspect
    // NETSCAPE looping extension: 0x21 0xFF, 11-byte app block, one
    // 3-byte data sub-block, terminator
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes)
    out.write(3); out.write(1); le16(0)
    out.write(0)
    (0 until frames).foreach { _ =>
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0); le16(delayCs); out.write(0) // packed, delay, transparent idx
      out.write(0)                               // GCE terminator
      out.write(0x2c)                            // image descriptor
      le16(0); le16(0); le16(w); le16(h)
      out.write(0)                               // packed: no local color table
      out.write(2)                               // LZW minimum code size
      out.write(2); out.write(0x4c); out.write(0x01) // one 2-byte data sub-block
      out.write(0)                               // data terminator
    }
    out.write(0x3b)
    out.toByteArray
  }

  final case class GifFrames(n_frames: Long, total_delay_cs: Long)

  /** REAL GIF89a/87a block-structure walk (no LZW decode — frame
    * counting and timing need only the grammar): header + logical
    * screen descriptor (+ global color table when flagged), then blocks:
    * image descriptors (count a frame; skip the local color table when
    * flagged and the LZW sub-block chain), extensions (accumulate the
    * Graphic Control delay, skip every other label's sub-block chain
    * generically), trailer. Malformed/truncated structure → None —
    * never a partial count.
    */
  def gifFrameStats(b: Array[Byte]): Option[GifFrames] = {
    if (b.length < 14) return None
    val hdr = new String(b, 0, 6, "ISO-8859-1")
    if (hdr != "GIF87a" && hdr != "GIF89a") return None
    var p = 10
    val packed = u8(b, p); p += 3 // packed, bg index, aspect
    if ((packed & 0x80) != 0) p += 3 * (1 << ((packed & 7) + 1))
    var frames = 0L
    var delay = 0L
    def skipSubBlocks(): Boolean = {
      while (p < b.length) {
        val len = u8(b, p); p += 1
        if (len == 0) return true
        p += len
      }
      false
    }
    while (p < b.length) {
      u8(b, p) match {
        case 0x3b => return Some(GifFrames(frames, delay))
        case 0x2c =>
          if (p + 10 > b.length) return None
          val ipacked = u8(b, p + 9)
          p += 10
          if ((ipacked & 0x80) != 0) p += 3 * (1 << ((ipacked & 7) + 1))
          p += 1 // LZW minimum code size
          if (p > b.length || !skipSubBlocks()) return None
          frames += 1
        case 0x21 =>
          if (p + 2 > b.length) return None
          val label = u8(b, p + 1)
          if (label == 0xf9 && p + 7 <= b.length && u8(b, p + 2) == 4)
            delay += le16(b, p + 4)
          p += 2
          if (!skipSubBlocks()) return None
        case _ => return None
      }
    }
    None // ran off the end without a trailer
  }

  /** Static entry point for generated code
    * ([[graft.expressions.GifFramesExpr]]).
    */
  def gifFrameStatsRow(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    gifFrameStats(b) match {
      case Some(g) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](g.n_frames, g.total_delay_cs))
      case None => null
    }

  /** WAV fixture with MATERIALIZED 16-bit PCM samples:
    * s(i) = ((seed·31 + i·17) mod 4096) − 2048 over frames×channels
    * interleaved samples — integer-exact and restatable in SQL.
    */
  def wavPcmFixture(sampleRate: Int, channels: Int, frames: Int, seed: Long): Array[Byte] = {
    val blockAlign = channels * 2
    val dataSize = frames * blockAlign
    val out = java.nio.ByteBuffer.allocate(44 + dataSize).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    out.put("fmt ".getBytes).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * blockAlign).putShort(blockAlign.toShort).putShort(16.toShort)
    out.put("data".getBytes).putInt(dataSize)
    var i = 0
    val n = frames * channels
    while (i < n) {
      out.putShort((((seed * 31 + i * 17) % 4096) - 2048).toShort)
      i += 1
    }
    out.array()
  }

  /** PNG fixture with REAL zlib-compressed 8-bit pixel data (greyscale,
    * RGB or RGBA by `channels` ∈ {1,3,4}): v(y,x,c) = (seed + 7x + 13y +
    * 29c) mod 256 by default, or the caller's `pixel(y, x, c)` (masked
    * to a byte) — the cross-format gates render the SAME pattern into
    * PNG and JPEG. Scanlines written under `filterType` (0-4 — the
    * decoder must reverse it), chunk CRCs real.
    */
  def pngPixelFixture(w: Int, h: Int, seed: Long, filterType: Int = 0,
                      channels: Int = 3,
                      pixel: (Int, Int, Int) => Int = null): Array[Byte] = {
    require(filterType >= 0 && filterType <= 4, s"bad filter $filterType")
    val ch = channels
    val colorType = ch match {
      case 1 => 0
      case 3 => 2
      case 4 => 6
      case _ => throw new IllegalArgumentException(s"channels must be 1/3/4, got $ch")
    }
    val stride = 1 + w * ch
    val px = Array.tabulate(h, w * ch) { (y, i) =>
      val x = i / ch; val c = i % ch
      if (pixel != null) pixel(y, x, c) & 0xff
      else (((seed + 7 * x + 13 * y + 29 * c) % 256).toInt)
    }
    val raw = new Array[Byte](stride * h)
    for (y <- 0 until h) {
      raw(y * stride) = filterType.toByte
      for (i <- 0 until w * ch) {
        val orig = px(y)(i)
        val a = if (i >= ch) px(y)(i - ch) else 0
        val b = if (y > 0) px(y - 1)(i) else 0
        val c = if (y > 0 && i >= ch) px(y - 1)(i - ch) else 0
        val pred = filterType match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) >> 1
          case 4 =>
            val pp = a + b - c
            val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        raw(y * stride + 1 + i) = ((orig - pred) & 0xff).toByte
      }
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val compBuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) compBuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val comp = compBuf.toByteArray

    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(typ.getBytes).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes); crc.update(data)
      out.putInt(crc.getValue.toInt)
      out.array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", comp) ++ chunk("IEND", Array.empty)
  }
}
