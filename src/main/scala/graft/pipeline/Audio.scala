package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Audio-column analytics over opaque `binary` columns — the audio leg of
  * the multimodal plumbing (cf. reference
  * python/whylogs/extras/image_metric.py:57-127 for the image analog; the
  * reference ships no audio metric, so this is the beyond-reference
  * training-pipeline surface: corpus-level audio QA + fingerprint dedup).
  *
  * Uncompressed PCM WAV needs no codec — [[Wav]] is a pure-JVM RIFF chunk
  * walker (16-bit PCM, any channel count / sample rate) with O(1) memory
  * per file: stats and fingerprints stream over the sample bytes without
  * materializing a sample array. Compressed formats (MP3/AAC/Opus) have
  * no JDK decoder and fail loudly at [[Wav.parse]] — wire a codec into
  * the same per-partition iterator shape in production.
  *
  * Everything here is EXACT integer arithmetic (sums, sums of squares,
  * cross-window comparisons), so a SQL engine replays every output
  * bit-for-bit from closed-form fixtures — the same oracle discipline as
  * [[Multimodal.Bmp]] / [[Multimodal.DHash]].
  */
object Audio {

  /** One-pass exact stats of a 16-bit PCM stream.
    *
    * - `peak` = max |sample| (32768 when a full-scale negative occurs)
    * - `sumSq` = Σ sample² (exact; 2⁵³-safe far beyond hour-long files)
    * - `zeroCrossings` = per-channel count of adjacent frames whose
    *   (sample ≥ 0) state differs, summed over channels
    * - `clipped` = count of samples at either digital rail
    * - `leadSilence`/`trailSilence` = frames before the first / after the
    *   last frame with any-channel |sample| ≥ `silenceThreshold` (both =
    *   nFrames for all-silent audio)
    * - `durationMs` = nFrames·1000 / sampleRate (integer division)
    * - `rms` = the one non-integer: sqrt(sumSq / totalSamples), two
    *   correctly-rounded IEEE ops over exact integers — engine-portable */
  final case class AudioStats(nFrames: Long, channels: Int, sampleRate: Int,
      durationMs: Long, peak: Int, sumSq: Long, zeroCrossings: Long,
      clipped: Long, leadSilence: Long, trailSilence: Long) {
    def rms: Double =
      if (nFrames == 0L) 0.0
      else math.sqrt(sumSq.toDouble / (nFrames.toDouble * channels))
  }

  /** RIFF/WAVE PCM-16 parse + exact feature extraction. */
  object Wav {

    /** (channels, sampleRate, dataOffset, nFrames) of a 16-bit PCM WAV. */
    private[pipeline] def parse(bytes: Array[Byte]): (Int, Int, Int, Int) = {
      require(bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E',
        "not a RIFF/WAVE file")
      var off = 12
      var channels = -1; var sampleRate = -1; var bps = -1
      var dataOff = -1; var dataLen = -1
      // chunk walk: id(4) size(4) payload(size, even-padded)
      while (off + 8 <= bytes.length && (channels < 0 || dataOff < 0)) {
        val id = new String(bytes, off, 4, "US-ASCII")
        val size = Multimodal.Bmp.le32(bytes, off + 4)
        require(size >= 0 && off + 8 + size <= bytes.length,
          s"truncated WAV chunk '$id' (size $size at offset $off)")
        id match {
          case "fmt " =>
            require(size >= 16, s"fmt chunk too small: $size")
            val fmt = Multimodal.Bmp.le16(bytes, off + 8)
            require(fmt == 1, s"only PCM (format 1) supported, got $fmt")
            channels = Multimodal.Bmp.le16(bytes, off + 10)
            sampleRate = Multimodal.Bmp.le32(bytes, off + 12)
            bps = Multimodal.Bmp.le16(bytes, off + 22)
            require(bps == 16, s"only 16-bit PCM supported, got $bps")
            require(channels >= 1 && sampleRate >= 1,
              s"degenerate fmt: $channels ch @ $sampleRate Hz")
          case "data" =>
            dataOff = off + 8; dataLen = size
          case _ => () // LIST/fact/cue chunks: skip
        }
        off += 8 + size + (size & 1)
      }
      require(channels > 0, "missing fmt chunk")
      require(dataOff >= 0, "missing data chunk")
      val frameBytes = channels * 2
      (channels, sampleRate, dataOff, dataLen / frameBytes)
    }

    /** Sample of frame `i`, channel `ch` (signed 16-bit LE). */
    @inline private def sampleAt(bytes: Array[Byte], dataOff: Int,
        channels: Int, i: Int, ch: Int): Int = {
      val o = dataOff + (i * channels + ch) * 2
      ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort.toInt
    }

    /** Encode a 16-bit PCM WAV; `sample(frame, channel)` supplies each
      * value (clamped to the rails) — the synthetic-fixture builder. */
    def encodePcm16(channels: Int, sampleRate: Int, nFrames: Int,
        sample: (Int, Int) => Int): Array[Byte] = {
      require(channels >= 1 && sampleRate >= 1 && nFrames >= 0, "degenerate WAV")
      val dataLen = nFrames * channels * 2
      val out = new Array[Byte](44 + dataLen)
      def put32(o: Int, v: Int): Unit = {
        out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
        out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
      }
      def put16(o: Int, v: Int): Unit = {
        out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
      }
      def putTag(o: Int, s: String): Unit =
        s.getBytes("US-ASCII").copyToArray(out, o)
      putTag(0, "RIFF"); put32(4, 36 + dataLen); putTag(8, "WAVE")
      putTag(12, "fmt "); put32(16, 16); put16(20, 1); put16(22, channels)
      put32(24, sampleRate); put32(28, sampleRate * channels * 2)
      put16(32, channels * 2); put16(34, 16)
      putTag(36, "data"); put32(40, dataLen)
      var i = 0
      while (i < nFrames) {
        var ch = 0
        while (ch < channels) {
          val v = math.max(-32768, math.min(32767, sample(i, ch)))
          put16(44 + (i * channels + ch) * 2, v)
          ch += 1
        }
        i += 1
      }
      out
    }

    /** RIFF LIST/INFO metadata tags (the audio analog of EXIF — INAM
      * title, IART artist, ICRD date, ICMT comment, IGNR genre, …):
      * walk the top-level chunks to a `LIST` of type `INFO`, then its
      * sub-chunks; values are ASCII with trailing NULs stripped. A WAV
      * without an INFO list yields an empty map. Malformed sub-chunk
      * sizes fail loudly like every other truncation. */
    def info(bytes: Array[Byte]): Map[String, String] = {
      require(bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E',
        "not a RIFF/WAVE file") // a full magic check: WebP etc. are RIFF too
      var off = 12
      var out = Map.empty[String, String]
      while (off + 8 <= bytes.length) {
        val id = new String(bytes, off, 4, "US-ASCII")
        val size = Multimodal.Bmp.le32(bytes, off + 4)
        require(size >= 0 && off + 8 + size <= bytes.length,
          s"truncated WAV chunk '$id' (size $size at offset $off)")
        if (id == "LIST" && size >= 4 &&
            new String(bytes, off + 8, 4, "US-ASCII") == "INFO") {
          var so = off + 12
          val end = off + 8 + size
          while (so + 8 <= end) {
            val sid = new String(bytes, so, 4, "US-ASCII")
            val ssize = Multimodal.Bmp.le32(bytes, so + 4)
            require(ssize >= 0 && so + 8 + ssize <= end,
              s"truncated INFO sub-chunk '$sid' (size $ssize)")
            val raw = new String(bytes, so + 8, ssize, "US-ASCII")
            out += sid -> raw.takeWhile(_ != '\u0000')
            so += 8 + ssize + (ssize & 1)
          }
        }
        off += 8 + size + (size & 1)
      }
      out
    }

    /** [[encodePcm16]] plus a RIFF LIST/INFO metadata chunk (each value
      * NUL-terminated and even-padded, per the RIFF spec) — the tagged
      * synthetic-fixture builder. */
    def encodePcm16WithInfo(channels: Int, sampleRate: Int, nFrames: Int,
        sample: (Int, Int) => Int, info: Seq[(String, String)]): Array[Byte] = {
      val base = encodePcm16(channels, sampleRate, nFrames, sample)
      if (info.isEmpty) return base
      val subs = info.map { case (id, v) =>
        require(id.length == 4, s"INFO tag ids are 4 ASCII chars, got '$id'")
        val value = v.getBytes("US-ASCII") :+ 0.toByte
        val padded = if (value.length % 2 == 1) value :+ 0.toByte else value
        (id, value.length, padded)
      }
      val listLen = 4 + subs.map(8 + _._3.length).sum
      val chunk = new Array[Byte](8 + listLen)
      def put32(a: Array[Byte], o: Int, v: Int): Unit = {
        a(o) = v.toByte; a(o + 1) = (v >> 8).toByte
        a(o + 2) = (v >> 16).toByte; a(o + 3) = (v >> 24).toByte
      }
      "LIST".getBytes("US-ASCII").copyToArray(chunk, 0)
      put32(chunk, 4, listLen)
      "INFO".getBytes("US-ASCII").copyToArray(chunk, 8)
      var o = 12
      for ((id, declared, padded) <- subs) {
        id.getBytes("US-ASCII").copyToArray(chunk, o)
        put32(chunk, o + 4, declared)
        padded.copyToArray(chunk, o + 8)
        o += 8 + padded.length
      }
      // splice between the fmt chunk (ends at 36) and the data chunk
      val out = new Array[Byte](base.length + chunk.length)
      System.arraycopy(base, 0, out, 0, 36)
      System.arraycopy(chunk, 0, out, 36, chunk.length)
      System.arraycopy(base, 36, out, 36 + chunk.length, base.length - 36)
      put32(out, 4, out.length - 8) // RIFF size covers the new chunk
      out
    }

    /** One streaming pass → [[AudioStats]]. */
    def statsOf(bytes: Array[Byte], silenceThreshold: Int = 256): AudioStats = {
      val (channels, sampleRate, dataOff, nFrames) = parse(bytes)
      var peak = 0; var sumSq = 0L; var zc = 0L; var clipped = 0L
      var firstLoud = -1L; var lastLoud = -1L
      val prevNonNeg = new Array[Boolean](channels)
      var i = 0
      while (i < nFrames) {
        var frameMax = 0
        var ch = 0
        while (ch < channels) {
          val s = sampleAt(bytes, dataOff, channels, i, ch)
          val a = math.abs(s)
          if (a > frameMax) frameMax = a
          if (a > peak) peak = a
          sumSq += s.toLong * s
          if (s == 32767 || s == -32768) clipped += 1
          val nonNeg = s >= 0
          if (i > 0 && nonNeg != prevNonNeg(ch)) zc += 1
          prevNonNeg(ch) = nonNeg
          ch += 1
        }
        if (frameMax >= silenceThreshold) {
          if (firstLoud < 0) firstLoud = i
          lastLoud = i
        }
        i += 1
      }
      val lead = if (firstLoud < 0) nFrames.toLong else firstLoud
      val trail = if (lastLoud < 0) nFrames.toLong else nFrames - 1 - lastLoud
      AudioStats(nFrames, channels, sampleRate,
        nFrames * 1000L / sampleRate, peak, sumSq, zc, clipped, lead, trail)
    }

    /** 64-bit energy fingerprint — the audio analog of
      * [[Multimodal.DHash]]: partition frames into 65 equal time windows
      * (frame `i` → window `i·65 / nFrames`, integer division), window
      * energy = Σ |sample| over the window's frames and ALL channels, set
      * bit `b` iff window `b+1` is strictly louder than window `b`.
      * Integer-only, so engine-exact; amplitude-SCALING invariant is NOT
      * claimed (energies compare raw) but uniform gain preserves every
      * strict inequality, so constant-gain copies hash identically until
      * clamping bites. Pair with [[Dedup.hashNearDups]] for banded
      * near-dup audio detection. */
    def fingerprint(bytes: Array[Byte]): Long = {
      val (channels, _, dataOff, nFrames) = parse(bytes)
      require(nFrames >= 1, "fingerprint of empty audio")
      val e = new Array[Long](65)
      var i = 0
      while (i < nFrames) {
        val w = (i.toLong * 65 / nFrames).toInt
        var ch = 0
        var acc = 0L
        while (ch < channels) {
          acc += math.abs(sampleAt(bytes, dataOff, channels, i, ch))
          ch += 1
        }
        e(w) += acc
        i += 1
      }
      var hash = 0L
      var b = 0
      while (b < 64) {
        if (e(b + 1) > e(b)) hash |= 1L << b
        b += 1
      }
      hash
    }
  }

  private def appended(df: DataFrame, field: StructField)(
      value: Row => Any): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ field)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    // NOT widened (r20): measured net-negative at sf0.1 — the WAV/AVI
    // fixtures are hundreds of rows, so 32-task scheduling overhead
    // exceeds the single-core decode saved (unlike the image family,
    // whose per-row work is 5-10× heavier).
    df.mapPartitions { rows =>
      rows.map(row => Row.fromSeq(row.toSeq :+ value(row)))
    }(encoder)
  }

  val statsSchema: StructType = StructType(Seq(
    StructField("n_frames", LongType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("zero_crossings", LongType, nullable = false),
    StructField("clipped", LongType, nullable = false),
    StructField("lead_silence", LongType, nullable = false),
    StructField("trail_silence", LongType, nullable = false)))

  /** Append a struct of [[AudioStats]] fields for a binary WAV column
    * (same per-partition streaming-decode shape as
    * [[Multimodal.withImageStats]]; NULL binaries yield a NULL struct). */
  def withAudioStats(df: DataFrame, binCol: String, out: String = "audio",
      silenceThreshold: Int = 256): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    appended(df, StructField(out, statsSchema)) { row =>
      val bytes = row.getAs[Array[Byte]](binIdx)
      if (bytes == null) null
      else {
        val s = Wav.statsOf(bytes, silenceThreshold)
        Row(s.nFrames, s.channels, s.sampleRate, s.durationMs, s.peak,
          s.sumSq, s.rms, s.zeroCrossings, s.clipped, s.leadSilence,
          s.trailSilence)
      }
    }
  }

  /** Append the [[Wav.fingerprint]] of a binary WAV column (NULL in,
    * NULL out). */
  def withFingerprint(df: DataFrame, binCol: String,
      out: String = "afp"): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    appended(df, StructField(out, LongType)) { row =>
      val bytes = row.getAs[Array[Byte]](binIdx)
      if (bytes == null) null else Wav.fingerprint(bytes)
    }
  }

  /** Append selected RIFF LIST/INFO tag values ([[Wav.info]]) as string
    * columns named by the lowercased tag id (NULL when the tag — or the
    * whole INFO list, or the binary — is absent). Tags are looked up
    * by the raw key, then by its uppercased canonical form, so
    * `Seq("inam")` and `Seq("INAM")` behave identically. The audio
    * analog of the EXIF extraction ([[Exif]]): same per-partition
    * streaming shape. */
  def withAudioInfo(df: DataFrame, binCol: String,
      keys: Seq[String]): DataFrame = {
    val outSchema = StructType(df.schema.fields ++
      keys.map(k => StructField(k.toLowerCase(java.util.Locale.ROOT), StringType)))
    val binIdx = df.schema.fieldIndex(binCol)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val m = if (bytes == null) Map.empty[String, String] else Wav.info(bytes)
        Row.fromSeq(row.toSeq ++ keys.map(k =>
          m.get(k).orElse(m.get(k.toUpperCase(java.util.Locale.ROOT))).orNull))
      }
    }(encoder)
  }

  /** [[syntheticWav]] with a closed-form LIST/INFO tag set — the tagged
    * fixture for the metadata path:
    * `INAM = "track " + base`, `IART = "artist " + base % 7`,
    * `ICRD = 2000 + base % 25`. */
  def syntheticWavTagged(df: DataFrame, baseCol: String,
      out: String = "wav"): DataFrame = {
    val baseIdx = df.schema.fieldIndex(baseCol)
    appended(df, StructField(out, BinaryType)) { row =>
      val base = row.getLong(baseIdx)
      Wav.encodePcm16WithInfo(1, 8000, (40 + base % 13).toInt,
        (i, _) => ((base * 31 + i * 17) % 1001).toInt - 500,
        Seq("INAM" -> s"track $base", "IART" -> s"artist ${base % 7}",
          "ICRD" -> (2000 + base % 25).toString))
    }
  }

  /** Synthetic closed-form PCM fixture (the audio sibling of
    * [[Multimodal.syntheticBmpShifted]]): per row, a WAV whose frame
    * count, channel count, sample rate and every sample derive from
    * integer formulas of (`baseCol`, `shiftCol`) — silent lead-in/out,
    * periodic full-scale spikes, bounded pseudo-noise body. An analytic
    * oracle replays each sample exactly:
    * {{{
    * nFrames   = 300 + base % 211        channels = 1 + base % 2
    * rate      = 8000 * (1 + base % 3)
    * lead0     = base % 37               trail0   = base % 23
    * s(i, ch)  = 0                              if i < lead0 or i >= nFrames - trail0
    *           = 32767                          else if (base + i) % 97 == 0
    *           = (base*131 + i*773 + ch*409 + p) % 4001 - 2000   otherwise,
    *             where p = shift*17 on every 50th frame else 0
    * }}}
    * The shift perturbs ~2% of frames, so variant rows are NEAR-duplicate
    * audio (fingerprints a few Hamming bits apart — most window-energy
    * comparisons survive a handful of ±17 sample nudges) while unrelated
    * rows sit ~32 bits apart. */
  def syntheticWav(df: DataFrame, baseCol: String, shiftCol: String,
      out: String = "wav"): DataFrame = {
    val baseIdx = df.schema.fieldIndex(baseCol)
    val shiftIdx = df.schema.fieldIndex(shiftCol)
    appended(df, StructField(out, BinaryType)) { row =>
      val base = row.getLong(baseIdx)
      val shift = row.getInt(shiftIdx)
      val nFrames = (300 + base % 211).toInt
      val channels = (1 + base % 2).toInt
      val rate = (8000 * (1 + base % 3)).toInt
      val lead0 = (base % 37).toInt
      val trail0 = (base % 23).toInt
      Wav.encodePcm16(channels, rate, nFrames, (i, ch) =>
        if (i < lead0 || i >= nFrames - trail0) 0
        else if ((base + i) % 97 == 0) 32767
        else {
          val p = if (i % 50 == 0) shift * 17 else 0
          ((base * 131 + i * 773L + ch * 409 + p) % 4001 - 2000).toInt
        })
    }
  }
}
