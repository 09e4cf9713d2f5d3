package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Video-column analytics over opaque `binary` columns — the video leg
  * of the multimodal plumbing (cf. reference
  * python/whylogs/extras/image_metric.py:57-127 for the image analog;
  * the reference ships no video metric).
  *
  * Uncompressed AVI needs no codec: AVI is a RIFF container (the same
  * chunk grammar as [[Audio.Wav]]) whose `movi` list carries one `00db`
  * DIB chunk per frame — raw 24-bpp bottom-up pixels, the BMP body
  * without a file header. [[Avi]] walks `hdrl`/`avih` for geometry and
  * timing, then streams the frame chunks; per-frame features reuse the
  * image machinery ([[Multimodal.DHash]]), so "frame sampling" here is
  * REAL per-frame decode, not byte-window hashing (that cheaper path
  * remains as `frame_hashes`). Compressed codecs (`00dc` chunks,
  * H.264/VP9/…) have no JDK decoder and fail loudly — wire a codec into
  * the same per-partition iterator shape in production.
  *
  * Exact-integer arithmetic throughout, so a SQL engine replays every
  * output bit-for-bit from closed-form fixtures — the same oracle
  * discipline as [[Multimodal.Bmp]] / [[Audio.Wav]].
  */
object Video {

  /** `(width, height, nFrames, usPerFrame, durationMs)` — `durationMs`
    * = nFrames·usPerFrame / 1000, integer division. */
  final case class VideoMeta(width: Int, height: Int, nFrames: Int,
      usPerFrame: Int, durationMs: Long)

  /** Minimal uncompressed-AVI reader/writer (RIFF `AVI ` with 24-bpp
    * bottom-up DIB `00db` frames). */
  object Avi {

    private def le32(a: Array[Byte], i: Int): Int = Multimodal.Bmp.le32(a, i)

    private def tag(a: Array[Byte], i: Int): String =
      new String(a, i, 4, "US-ASCII")

    /** Validated container geometry: `(meta, moviOff, moviEnd, step,
      * rowSize)` — `moviOff` points at the first sub-chunk of the
      * `movi` LIST. */
    private[pipeline] def parse(bytes: Array[Byte]): (VideoMeta, Int, Int, Int, Int) = {
      require(bytes.length >= 12 && tag(bytes, 0) == "RIFF" &&
        tag(bytes, 8) == "AVI ", "not a RIFF/AVI file")
      var off = 12
      var meta: VideoMeta = null
      var moviOff = -1; var moviEnd = -1
      while (off + 8 <= bytes.length && (meta == null || moviOff < 0)) {
        val id = tag(bytes, off)
        val size = le32(bytes, off + 4)
        require(size >= 0 && off + 8 + size <= bytes.length,
          s"truncated AVI chunk '$id' (size $size at offset $off)")
        if (id == "LIST" && size >= 4) tag(bytes, off + 8) match {
          case "hdrl" =>
            // first sub-chunk must be avih (the spec's layout)
            val ao = off + 12
            require(ao + 8 <= bytes.length && tag(bytes, ao) == "avih",
              "hdrl list without a leading avih header")
            val asz = le32(bytes, ao + 4)
            require(asz >= 40 && ao + 8 + asz <= bytes.length,
              s"truncated avih (size $asz)")
            val usPerFrame = le32(bytes, ao + 8)
            val nFrames = le32(bytes, ao + 24)
            val width = le32(bytes, ao + 40)
            val height = le32(bytes, ao + 44)
            require(width > 0 && height > 0 && nFrames >= 0 && usPerFrame > 0,
              s"degenerate avih: ${width}x$height, $nFrames frames @ $usPerFrame us")
            meta = VideoMeta(width, height, nFrames, usPerFrame,
              nFrames.toLong * usPerFrame / 1000L)
          case "movi" =>
            moviOff = off + 12; moviEnd = off + 8 + size
          case _ => () // strl etc.: skip
        }
        off += 8 + size + (size & 1)
      }
      require(meta != null, "missing avih header")
      require(moviOff >= 0, "missing movi list")
      val step = 3
      val rowSizeL = (meta.width.toLong * step + 3) & ~3L
      require(rowSizeL * meta.height <= Int.MaxValue, "frame too large")
      (meta, moviOff, moviEnd, step, rowSizeL.toInt)
    }

    def metaOf(bytes: Array[Byte]): VideoMeta = parse(bytes)._1

    /** Per-frame 64-bit dHashes, in frame order. Only uncompressed
      * `00db` DIB chunks are supported — a `00dc` (compressed) chunk
      * fails loudly. */
    def frameDHashes(bytes: Array[Byte]): Array[Long] = {
      val (meta, moviOff, moviEnd, step, rowSize) = parse(bytes)
      val out = Array.newBuilder[Long]
      var so = moviOff
      var frames = 0
      while (so + 8 <= moviEnd) {
        val id = tag(bytes, so)
        val size = le32(bytes, so + 4)
        require(size >= 0 && so + 8 + size <= moviEnd,
          s"truncated movi sub-chunk '$id' (size $size)")
        if (id.endsWith("db")) {
          require(size == rowSize * meta.height,
            s"frame chunk size $size != ${rowSize * meta.height} for ${meta.width}x${meta.height}")
          out += Multimodal.DHash.ofDib(bytes, so + 8, meta.width,
            meta.height, step, rowSize)
          frames += 1
        } else {
          require(!id.endsWith("dc"),
            s"compressed frame chunk '$id' unsupported (no JDK codec)")
        }
        so += 8 + size + (size & 1)
      }
      require(frames == meta.nFrames,
        s"avih declares ${meta.nFrames} frames, movi holds $frames")
      out.result()
    }

    /** Encode a minimal uncompressed AVI: RIFF(`AVI `, LIST hdrl(avih,
      * LIST strl(strh vids/DIB, strf BITMAPINFOHEADER)), LIST
      * movi(`00db` bottom-up 24-bpp frames)); `rgb(frame, x, y)`
      * supplies each pixel — the synthetic-fixture builder. */
    def encode(width: Int, height: Int, nFrames: Int, usPerFrame: Int,
        rgb: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
      require(width > 0 && height > 0 && nFrames >= 0 && usPerFrame > 0,
        s"degenerate AVI: ${width}x$height, $nFrames frames")
      val rowSize = (width * 3 + 3) & ~3
      val frameBytes = rowSize * height
      val hdrlLen = 4 + (8 + 56) + (8 + (4 + (8 + 56) + (8 + 40)))
      val moviLen = 4 + nFrames * (8 + frameBytes)
      val total = 12 + (8 + hdrlLen) + (8 + moviLen)
      val out = new Array[Byte](total)
      var o = 0
      def putTag(s: String): Unit = {
        s.getBytes("US-ASCII").copyToArray(out, o); o += 4
      }
      def put32(v: Int): Unit = {
        out(o) = v.toByte; out(o + 1) = (v >> 8).toByte
        out(o + 2) = (v >> 16).toByte; out(o + 3) = (v >> 24).toByte
        o += 4
      }
      putTag("RIFF"); put32(total - 8); putTag("AVI ")
      putTag("LIST"); put32(hdrlLen); putTag("hdrl")
      putTag("avih"); put32(56)
      put32(usPerFrame); put32(0); put32(0); put32(0) // rate, maxBps, padding, flags
      put32(nFrames); put32(0); put32(1); put32(0) // frames, initial, streams, bufSize
      put32(width); put32(height)
      put32(0); put32(0); put32(0); put32(0) // reserved
      putTag("LIST"); put32(4 + (8 + 56) + (8 + 40)); putTag("strl")
      putTag("strh"); put32(56)
      putTag("vids"); putTag("DIB ")
      put32(0); put32(0); put32(0) // flags, prio+lang, initialFrames
      put32(usPerFrame); put32(1000000) // scale, rate: fps = rate/scale
      put32(0); put32(nFrames); put32(0); put32(0); put32(0) // start, length, bufSize, quality, sampleSize
      put32(0); put32(0) // rcFrame
      putTag("strf"); put32(40)
      put32(40); put32(width); put32(height)
      out(o) = 1; o += 2 // planes = 1 (LE16)
      out(o) = 24; o += 2 // bitcount = 24 (LE16)
      put32(0); put32(frameBytes) // compression, sizeImage
      put32(0); put32(0); put32(0); put32(0) // ppm x/y, clrUsed, clrImportant
      putTag("LIST"); put32(moviLen); putTag("movi")
      var f = 0
      while (f < nFrames) {
        putTag("00db"); put32(frameBytes)
        var y = 0
        while (y < height) {
          val ly = height - 1 - y // bottom-up storage
          var x = 0
          var po = o + y * rowSize
          while (x < width) {
            val (r, g, b) = rgb(f, x, ly)
            out(po) = b.toByte; out(po + 1) = g.toByte; out(po + 2) = r.toByte
            po += 3; x += 1
          }
          y += 1
        }
        o += frameBytes
        f += 1
      }
      out
    }
  }

  private def appended(df: DataFrame, field: StructField)(
      value: Row => Any): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ field)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    // NOT widened (r20): measured net-negative at sf0.1 — see
    // Audio.appended's note (same accounting).
    df.mapPartitions { rows =>
      rows.map(row => Row.fromSeq(row.toSeq :+ value(row)))
    }(encoder)
  }

  val metaSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("us_per_frame", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  /** Append a struct of [[VideoMeta]] fields for a binary AVI column
    * (NULL in, NULL out; per-partition streaming shape). */
  def withVideoMeta(df: DataFrame, binCol: String,
      out: String = "video"): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    appended(df, StructField(out, metaSchema)) { row =>
      val bytes = row.getAs[Array[Byte]](binIdx)
      if (bytes == null) null
      else {
        val m = Avi.metaOf(bytes)
        Row(m.width, m.height, m.nFrames, m.usPerFrame, m.durationMs)
      }
    }
  }

  /** Append the array of per-frame dHashes ([[Avi.frameDHashes]]) —
    * explode it for (doc, frame, dhash) rows, or feed frame-level
    * signatures into [[Dedup.hashNearDups]] for near-dup SCENE
    * detection across a corpus. NULL in, NULL out. */
  def withFrameDHashes(df: DataFrame, binCol: String,
      out: String = "frame_dhashes"): DataFrame = {
    val binIdx = df.schema.fieldIndex(binCol)
    appended(df, StructField(out, ArrayType(LongType, containsNull = false))) { row =>
      val bytes = row.getAs[Array[Byte]](binIdx)
      if (bytes == null) null else Avi.frameDHashes(bytes)
    }
  }

  /** Synthetic closed-form AVI fixture (the video sibling of
    * [[Multimodal.syntheticBmpShifted]] — same per-frame pixel formulas
    * with a `frame·19` term so every frame differs):
    * {{{
    * w = 8 + base % 9   h = 8 + base % 7   nFrames = 3 + base % 4
    * usPerFrame = 33333
    * r(f, x, y) = (base*7  + x*13 + y*31 + f*19) % 256
    * g(f, x, y) = (base*11 + x*3  + y*5  + f*19) % 256
    * b(f, x, y) = (base*5  + x*17 + y*23 + f*19) % 256
    * }}} */
  def syntheticAvi(df: DataFrame, baseCol: String,
      out: String = "avi"): DataFrame = {
    val baseIdx = df.schema.fieldIndex(baseCol)
    appended(df, StructField(out, BinaryType)) { row =>
      val base = row.getLong(baseIdx)
      val w = (8 + base % 9).toInt
      val h = (8 + base % 7).toInt
      val nf = (3 + base % 4).toInt
      Avi.encode(w, h, nf, 33333, (f, x, y) => (
        ((base * 7 + x * 13 + y * 31 + f * 19) % 256).toInt,
        ((base * 11 + x * 3 + y * 5 + f * 19) % 256).toInt,
        ((base * 5 + x * 17 + y * 23 + f * 19) % 256).toInt))
    }
  }
}
