package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing: media are opaque
  * `binary` columns with typed metadata; decode / feature-extraction runs
  * per partition over an iterator (Arrow-batch-shaped: the Scala analog of
  * a `mapInPandas` batch UDF).
  *
  * Image decode covers the standard-library formats: JPEG / PNG / GIF /
  * TIFF / BMP through `javax.imageio` ([[ImageIo]] — the JDK ships these
  * readers, no external codec needed), plus a pure-JVM streaming BMP
  * fast path ([[Bmp]], O(1) memory per image, bit-pinned integer
  * arithmetic). Both compute the reference ImageMetric's per-image
  * feature set (width/height/colorspace + HSV channel mean/stddev +
  * histogram entropy, cf. reference
  * python/whylogs/extras/image_metric.py:57-127). Uncompressed PCM WAV
  * audio decodes for real via [[Audio.Wav]] (no codec needed);
  * compressed audio/video codecs remain out of JDK scope and fail
  * loudly; the deterministic [[MediaDecoder.fake]] remains for
  * plumbing tests.
  */
object Multimodal {

  final case class DecodedMedia(width: Int, height: Int, channels: Int,
      featureNorm: Double)

  trait MediaDecoder extends Serializable {
    def decode(bytes: Array[Byte]): DecodedMedia
  }

  object MediaDecoder {
    /** Real image decode: uncompressed BMP via the streaming
      * [[Bmp.decodeStats]] fast path, every other JDK-readable format
      * (JPEG/PNG/GIF/TIFF) via [[ImageIo.decodeStats]]. Audio/video (no
      * JDK codec) fail loudly — wire a codec here in production. */
    val real: MediaDecoder = (bytes: Array[Byte]) => {
      val s =
        if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M')
          Bmp.decodeStats(bytes)
        else ImageIo.decodeStats(bytes)
      val ch = s.colorspace match {
        case "RGBA" => 4; case "L" => 1; case _ => 3
      }
      DecodedMedia(s.width, s.height, ch, s.brightMean / 255.0)
    }

    /** Deterministic fake decode: dims/features derived from content bytes
      * so tests are stable and engine-portable. */
    val fake: MediaDecoder = (bytes: Array[Byte]) => {
      val n = bytes.length
      val first = if (n > 0) bytes(0) & 0xff else 0
      DecodedMedia(64 + (n % 512), 64 + ((n / 7) % 512), 3,
        (n % 1000) / 1000.0 + first / 1e6)
    }
  }

  val metadataSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("feature_norm", DoubleType, nullable = false)))

  /** Pure-expression metadata (no decode): byte length + content hash. */
  def withBinaryMetadata(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("n_bytes", F.octet_length(F.col(binCol)))
      .withColumn("content_sha256", F.sha2(F.col(binCol), 256))

  /** Decode stage: per-partition batch iteration (one decoder instance per
    * partition, rows streamed — the Spark-idiomatic shape for per-row
    * native-lib calls; swap `decoder` for the real codec in production). */
  def decodeMetadata(df: DataFrame, binCol: String,
      decoder: MediaDecoder = MediaDecoder.fake): DataFrame = {
    val outSchema = StructType(df.schema.fields.filterNot(_.name == binCol) ++
      metadataSchema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val keepIdx = df.schema.fields.indices.filterNot(_ == binIdx)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val d = if (bytes == null) DecodedMedia(0, 0, 0, 0.0) else decoder.decode(bytes)
        Row.fromSeq(keepIdx.map(row.get) ++
          Seq[Any](d.width, d.height, d.channels, d.featureNorm))
      }
    }(encoder)
  }

  /** Per-image statistics mirroring the reference ImageMetric's feature
    * set (reference python/whylogs/extras/image_metric.py:45-127):
    * dimensions + colorspace, mean/stddev of the 8-bit Hue / Saturation /
    * Brightness channels, and Shannon entropy (bits) of the concatenated
    * per-band RGB histogram (PIL `Image.histogram()` convention). */
  final case class ImageStats(width: Int, height: Int, colorspace: String,
      hueMean: Double, hueStd: Double, satMean: Double, satStd: Double,
      brightMean: Double, brightStd: Double, entropy: Double)

  /** Streaming per-pixel accumulator shared by every decoder: exact
    * integer sums for the HSV statistics + the concatenated per-band RGB
    * histogram for entropy. O(1) memory regardless of resolution. */
  private[pipeline] final class PixelAcc {
    private var n = 0L
    private var sh, ss, sv, qh, qs, qv = 0L
    private val hist = new Array[Long](768)

    def add(r: Int, g: Int, b: Int): Unit = {
      val (h, s, v) = Bmp.hsv255(r, g, b)
      sh += h; ss += s; sv += v
      qh += h.toLong * h; qs += s.toLong * s; qv += v.toLong * v
      hist(r) += 1; hist(256 + g) += 1; hist(512 + b) += 1
      n += 1
    }

    def result(width: Int, height: Int, colorspace: String): ImageStats = {
      require(n > 0, "no pixels accumulated")
      def mean(sum: Long) = sum.toDouble / n
      // n·Σx² − (Σx)² in BigInt: the Long intermediates overflow past
      // ~12M pixels (reachable through ImageIo, e.g. an 8000×8000
      // photo) and would yield silent NaN/garbage stddevs. BigInt is
      // exact, bit-identical to the old Long path where it didn't
      // overflow, and runs 3×-per-image, not per pixel.
      def std(sum: Long, sumSq: Long) =
        math.sqrt((BigInt(n) * BigInt(sumSq) - BigInt(sum) * BigInt(sum))
          .max(BigInt(0)).toDouble) / n
      var entropy = 0.0
      val total = 3.0 * n
      var i = 0
      while (i < 768) {
        if (hist(i) > 0) {
          val p = hist(i) / total
          entropy -= p * (math.log(p) / math.log(2.0))
        }
        i += 1
      }
      ImageStats(width, height, colorspace, mean(sh), std(sh, qh), mean(ss),
        std(ss, qs), mean(sv), std(sv, qv), entropy)
    }
  }

  /** `javax.imageio` decode for every format the JDK ships a reader for
    * — JPEG, PNG, GIF, TIFF (and BMP, though [[Bmp]] is the preferred
    * streaming path for that): the standard-library analog of the
    * reference's PIL decode (`extras/image_metric.py:160-313`). Pixels
    * stream row-by-row through [[PixelAcc]] via `getRGB` row fetches, so
    * per-image memory is the decoded raster plus one row buffer. */
  object ImageIo {

    // ImageIO's stream cache is DISK-backed by default: every
    // read(InputStream)/write(.., OutputStream) creates (and deletes) a
    // temp FILE per image — pure overhead for in-memory byte codecs, and
    // a tmpdir contention point once decode runs on all cores (measured
    // r20: image_stats_png 2× slower at 32 threads with the file cache).
    // Memory-backed streams need only the image's own bytes.
    javax.imageio.ImageIO.setUseCache(false)

    def decode(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null,
        "no ImageIO reader for these bytes — the JDK decodes " +
          "JPEG/PNG/GIF/TIFF/BMP; audio/video need an external codec")
      img
    }

    def decodeStats(bytes: Array[Byte]): ImageStats = statsOf(decode(bytes))

    def statsOf(img: java.awt.image.BufferedImage): ImageStats = {
      import java.awt.image.BufferedImage._
      val w = img.getWidth
      val h = img.getHeight
      require(w > 0 && h > 0, s"degenerate dims ${w}x$h")
      val acc = new PixelAcc
      val buf = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, buf, 0, w)
        var x = 0
        while (x < w) {
          val p = buf(x)
          acc.add((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
          x += 1
        }
        y += 1
      }
      // PIL-mode-style colorspace label, like the reference's
      // ImageMetric "ImagePixelType"
      val cs =
        if (img.getColorModel.hasAlpha) "RGBA"
        else img.getType match {
          case TYPE_BYTE_GRAY | TYPE_USHORT_GRAY => "L"
          case _ => "RGB"
        }
      acc.result(w, h, cs)
    }

    /** Encode a synthetic image via the matching JDK writer ("png",
      * "jpg", "gif", "tiff", "bmp"); `rgb(x, y)` supplies the pixel at
      * column x, row y. */
    def encode(width: Int, height: Int, format: String,
        rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      require(width > 0 && height > 0, s"degenerate dims ${width}x$height")
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val (r, g, b) = rgb(x, y)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, format, bos),
        s"no ImageIO writer for format $format")
      bos.toByteArray
    }
  }

  /** Pure-JVM codec for uncompressed BMP (the one raster format that
    * needs no external library: 54-byte header + raw BGR rows). Decode is
    * a single streaming pass with integer accumulators — no pixel array is
    * materialized, so memory per image is O(1) regardless of resolution.
    *
    * HSV is the 8-bit integer convention (all three channels 0..255, like
    * PIL's `convert("HSV")`), computed in PURE INTEGER arithmetic — hue on
    * a 1530-step wheel floor-divided to 0..254 — so every statistic
    * derives from exact integer sums and is bit-reproducible across
    * engines (the image_stats oracle recomputes it in SQL). */
  object Bmp {

    /** Integer 8-bit (hue, saturation, value): saturation =
      * 255·delta/max, hue = floor(hue1530/6) with the six sextants laid
      * out r→g→b and ties broken in r, g, b precedence order. All
      * divisions are non-negative floor divisions. */
    private[pipeline] def hsv255(r: Int, g: Int, b: Int): (Int, Int, Int) = {
      val maxc = math.max(r, math.max(g, b))
      val minc = math.min(r, math.min(g, b))
      val d = maxc - minc
      val s = if (maxc == 0) 0 else 255 * d / maxc
      val h =
        if (d == 0) 0
        else {
          val h1530 =
            if (maxc == r) { if (g >= b) (g - b) * 255 / d else 1530 - (b - g) * 255 / d }
            else if (maxc == g) { if (b >= r) 510 + (b - r) * 255 / d else 510 - (r - b) * 255 / d }
            else { if (r >= g) 1020 + (r - g) * 255 / d else 1020 - (g - r) * 255 / d }
          h1530 / 6
        }
      (h, s, maxc)
    }

    private[pipeline] def le16(a: Array[Byte], i: Int): Int =
      (a(i) & 0xff) | ((a(i + 1) & 0xff) << 8)
    private[pipeline] def le32(a: Array[Byte], i: Int): Int =
      (a(i) & 0xff) | ((a(i + 1) & 0xff) << 8) | ((a(i + 2) & 0xff) << 16) | ((a(i + 3) & 0xff) << 24)

    /** Fully validated uncompressed 24/32-bpp BMP header —
      * `(pixelOff, width, rawHeight, step, rowSize)` — shared by every
      * BMP reader so they all fail loudly (never index out of bounds
      * or read in-bounds garbage) on truncated pixel data, hostile
      * dims (`width·step` is computed in Long), compressed payloads,
      * or a pixel offset pointing outside the buffer. */
    private[pipeline] def header(bytes: Array[Byte]): (Int, Int, Int, Int, Int) = {
      require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
        "not a BMP (missing BM magic)")
      val pixelOff = le32(bytes, 10)
      val hdrSize = le32(bytes, 14)
      require(hdrSize >= 40, s"unsupported BMP header size $hdrSize")
      val width = le32(bytes, 18)
      val rawH = le32(bytes, 22)
      val height = math.abs(rawH)
      val bpp = le16(bytes, 28)
      val compression = le32(bytes, 30)
      require(compression == 0, s"compressed BMP (method $compression) unsupported")
      require(bpp == 24 || bpp == 32, s"only 24/32-bpp BMP supported, got $bpp")
      require(width > 0 && height > 0, s"degenerate dims ${width}x$rawH")
      require(pixelOff >= 54, s"pixel offset $pixelOff inside the header")
      val step = bpp / 8
      val rowSizeL = (width.toLong * step + 3) & ~3L
      require(bytes.length >= pixelOff.toLong + rowSizeL * height,
        "truncated BMP pixel data")
      (pixelOff, width, rawH, step, rowSizeL.toInt)
    }

    /** Encode a 24-bpp bottom-up uncompressed BMP; `rgb(x, y)` supplies
      * the pixel at column x, TOP-DOWN row y as (r, g, b) in 0..255. */
    def encode24(width: Int, height: Int, rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      require(width > 0 && height > 0, s"degenerate dims ${width}x$height")
      val rowSize = (3 * width + 3) & ~3
      val fileSize = 54 + rowSize * height
      val out = new Array[Byte](fileSize)
      def putLe32(i: Int, v: Int): Unit = {
        out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
        out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
      }
      out(0) = 'B'; out(1) = 'M'
      putLe32(2, fileSize); putLe32(10, 54)
      putLe32(14, 40); putLe32(18, width); putLe32(22, height)
      out(26) = 1; out(28) = 24
      putLe32(34, rowSize * height)
      putLe32(38, 2835); putLe32(42, 2835) // 72 dpi
      var y = 0
      while (y < height) {
        // bottom-up storage: file row 0 is image row height-1
        var off = 54 + (height - 1 - y) * rowSize
        var x = 0
        while (x < width) {
          val (r, g, b) = rgb(x, y)
          out(off) = b.toByte; out(off + 1) = g.toByte; out(off + 2) = r.toByte
          off += 3; x += 1
        }
        y += 1
      }
      out
    }

    /** Decode an uncompressed 24/32-bpp BMP (bottom-up or top-down) and
      * compute [[ImageStats]] in one pass. Rejects anything else loudly —
      * no silent partial stats. */
    def decodeStats(bytes: Array[Byte]): ImageStats = {
      val (pixelOff, width, rawH, step, rowSize) = header(bytes)
      val height = math.abs(rawH)
      val acc = new PixelAcc
      var y = 0
      while (y < height) {
        var off = pixelOff + y * rowSize
        var x = 0
        while (x < width) {
          val b = bytes(off) & 0xff
          val g = bytes(off + 1) & 0xff
          val r = bytes(off + 2) & 0xff
          acc.add(r, g, b)
          off += step; x += 1
        }
        y += 1
      }
      acc.result(width, height, "RGB")
    }
  }

  val imageStatsSchema: StructType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("colorspace", StringType),
    StructField("hue_mean", DoubleType), StructField("hue_std", DoubleType),
    StructField("sat_mean", DoubleType), StructField("sat_std", DoubleType),
    StructField("bright_mean", DoubleType), StructField("bright_std", DoubleType),
    StructField("entropy", DoubleType)))

  /** Real decode stage: per-partition streaming decode replacing the
    * binary column with [[imageStatsSchema]] columns (same batch shape as
    * [[decodeMetadata]]; NULL binaries yield NULL stats). BMP bytes take
    * the O(1)-memory [[Bmp]] path; JPEG/PNG/GIF/TIFF go through
    * [[ImageIo]]. */
  def withImageStats(df: DataFrame, binCol: String): DataFrame = {
    val outSchema = StructType(df.schema.fields.filterNot(_.name == binCol) ++
      imageStatsSchema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val keepIdx = df.schema.fields.indices.filterNot(_ == binIdx)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val stats: Seq[Any] =
          if (bytes == null) Seq.fill[Any](10)(null)
          else {
            val s =
              if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M')
                Bmp.decodeStats(bytes)
              else ImageIo.decodeStats(bytes)
            Seq[Any](s.width, s.height, s.colorspace, s.hueMean, s.hueStd,
              s.satMean, s.satStd, s.brightMean, s.brightStd, s.entropy)
          }
        Row.fromSeq(keepIdx.map(row.get) ++ stats)
      }
    }(encoder)
  }

  /** Deterministic synthetic BMP fixture per row — REAL bytes through the
    * real encoder, with closed-form pixel values so an external oracle can
    * recompute the expected statistics analytically from `idCol` alone:
    * dims (8 + id%9) x (8 + id%7), pixel (x, y) has
    * r = (id·7 + x·13 + y·31) % 256, g = (id·11 + x·3 + y·5) % 256,
    * b = (id·5 + x·17 + y·23) % 256. */
  def syntheticBmp(df: DataFrame, idCol: String, out: String = "img"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val idIdx = df.schema.fieldIndex(idCol)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    // per-row encode (and the decode/hash stages fused above it) run at
    // this frame's partitioning — widen a one-file input (graft.core.Par)
    graft.core.Par.widen(df).mapPartitions { rows =>
      rows.map { row =>
        val id = row.getLong(idIdx)
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        val img = Bmp.encode24(w, h, (x, y) => (
          ((id * 7 + x * 13 + y * 31) % 256).toInt,
          ((id * 11 + x * 3 + y * 5) % 256).toInt,
          ((id * 5 + x * 17 + y * 23) % 256).toInt))
        Row.fromSeq(row.toSeq :+ img)
      }
    }(encoder)
  }

  /** Same deterministic fixture as [[syntheticBmp]] — identical
    * closed-form pixel values — but encoded through a JDK `ImageIO`
    * writer ("png"/"tiff"/"jpg"/...). With a lossless format the decoded
    * statistics are bit-identical to the BMP path's, which is exactly
    * what the image_stats_png oracle (and the cross-format spec)
    * checks. */
  def syntheticImage(df: DataFrame, idCol: String, format: String = "png",
      out: String = "img"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val idIdx = df.schema.fieldIndex(idCol)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    graft.core.Par.widen(df).mapPartitions { rows =>
      rows.map { row =>
        val id = row.getLong(idIdx)
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        val img = ImageIo.encode(w, h, format, (x, y) => (
          ((id * 7 + x * 13 + y * 31) % 256).toInt,
          ((id * 11 + x * 3 + y * 5) % 256).toInt,
          ((id * 5 + x * 17 + y * 23) % 256).toInt))
        Row.fromSeq(row.toSeq :+ img)
      }
    }(encoder)
  }

  /** 64-bit perceptual difference hash (dHash) — the image analog of
    * SimHash for near-duplicate IMAGE detection: downsample to a 9×8
    * luminance grid, set bit `j·8 + i` iff cell `(i+1, j)` is brighter
    * than cell `(i, j)`. All arithmetic is exact integers so every
    * engine derives the identical hash: luminance `q = 299r + 587g +
    * 114b` (×1000 ITU-R 601 weights, no division), pixel `(x, y)`
    * lands in cell `(x·9 / w, y·8 / h)` (integer division), and cell
    * MEANS compare by cross-multiplying sums with counts — no float
    * ever. Images narrower than the grid leave empty cells (count 0),
    * which compare as not-brighter: deterministic, and replayed
    * verbatim by the analytic oracle. Pair with
    * [[Dedup.hashNearDups]] for the banded near-dup join. */
  object DHash {
    /** a·b > c·d for non-negative longs, exact via 128-bit products —
      * the naive Long product overflows (and silently flips hash bits)
      * for gigapixel-scale bright images where cell sums reach ~10¹²
      * against ~10⁷ counts; the oracle's HUGEINT arithmetic is exact,
      * so the engine must be too. */
    private def productGreater(a: Long, b: Long, c: Long, d: Long): Boolean = {
      val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
      val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
      hi1 > hi2 || (hi1 == hi2 && java.lang.Long.compareUnsigned(lo1, lo2) > 0)
    }

    private[pipeline] def packed(sums: Array[Array[Long]],
        cnts: Array[Array[Long]]): Long = {
      var hash = 0L
      var j = 0
      while (j < 8) {
        var i = 0
        while (i < 8) {
          if (productGreater(sums(i + 1)(j), cnts(i)(j), sums(i)(j), cnts(i + 1)(j)))
            hash |= 1L << (j * 8 + i)
          i += 1
        }
        j += 1
      }
      hash
    }

    private def grid(): (Array[Array[Long]], Array[Array[Long]]) =
      (Array.ofDim[Long](9, 8), Array.ofDim[Long](9, 8))

    def ofBmp(bytes: Array[Byte]): Long = {
      val (pixelOff, width, rawH, step, rowSize) = Bmp.header(bytes)
      ofDib(bytes, pixelOff, width, rawH, step, rowSize)
    }

    /** dHash of a raw DIB pixel block (the BMP body without a file
      * header — also an uncompressed AVI video frame). Caller supplies
      * VALIDATED geometry (see [[Bmp.header]] / [[Video]]); positive
      * `rawH` = bottom-up storage, so storage row y is logical row
      * height−1−y — dHash is orientation-SENSITIVE, unlike the pixel
      * stats. */
    private[pipeline] def ofDib(bytes: Array[Byte], pixelOff: Int,
        width: Int, rawH: Int, step: Int, rowSize: Int): Long = {
      val height = math.abs(rawH)
      val (sums, cnts) = grid()
      var y = 0
      while (y < height) {
        var off = pixelOff + y * rowSize
        var x = 0
        val ly = if (rawH > 0) height - 1 - y else y
        val cj = ly * 8 / height
        while (x < width) {
          val q = 299L * (bytes(off + 2) & 0xff) +
            587L * (bytes(off + 1) & 0xff) + 114L * (bytes(off) & 0xff)
          val ci = x * 9 / width
          sums(ci)(cj) += q
          cnts(ci)(cj) += 1
          off += step; x += 1
        }
        y += 1
      }
      packed(sums, cnts)
    }

    def ofImage(img: java.awt.image.BufferedImage): Long = {
      val w = img.getWidth
      val h = img.getHeight
      require(w > 0 && h > 0, s"degenerate dims ${w}x$h")
      val (sums, cnts) = grid()
      val buf = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, buf, 0, w)
        val cj = y * 8 / h
        var x = 0
        while (x < w) {
          val p = buf(x)
          val q = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
            114L * (p & 0xff)
          sums(x * 9 / w)(cj) += q
          cnts(x * 9 / w)(cj) += 1
          x += 1
        }
        y += 1
      }
      packed(sums, cnts)
    }

    def of(bytes: Array[Byte]): Long =
      if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') ofBmp(bytes)
      else ofImage(ImageIo.decode(bytes))
  }

  /** Nearest-neighbor resize of an uncompressed 24/32-bpp BMP to
    * `dw`×`dh`, emitted as a fresh 24-bpp BMP. Pure integer source
    * mapping — dest (x, y) samples logical source pixel
    * (x·srcW / dw, y·srcH / dh), floor division — so a SQL oracle
    * replays every output pixel; bottom-up and top-down source layouts
    * both map through LOGICAL coordinates. */
  def resizeBmp24(bytes: Array[Byte], dw: Int, dh: Int): Array[Byte] = {
    require(dw >= 1 && dh >= 1, s"degenerate target dims ${dw}x$dh")
    val (pixelOff, width, rawH, step, rowSize) = Bmp.header(bytes)
    val height = math.abs(rawH)
    Bmp.encode24(dw, dh, (x, y) => {
      val sx = x * width / dw
      val sy = y * height / dh
      val storageY = if (rawH > 0) height - 1 - sy else sy
      val off = pixelOff + storageY * rowSize + sx * step
      ((bytes(off + 2) & 0xff), (bytes(off + 1) & 0xff), bytes(off) & 0xff)
    })
  }

  /** Append a [[resizeBmp24]]-resized copy of a binary BMP column (NULL
    * in, NULL out; per-partition streaming shape). */
  def withResizedBmp(df: DataFrame, binCol: String, dw: Int, dh: Int,
      out: String = "img_resized"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val binIdx = df.schema.fieldIndex(binCol)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val v: Any = if (bytes == null) null else resizeBmp24(bytes, dw, dh)
        Row.fromSeq(row.toSeq :+ v)
      }
    }(encoder)
  }

  /** Append the [[DHash]] of a binary image column (same per-partition
    * streaming decode shape as [[withImageStats]]; NULL binaries yield
    * NULL hashes). */
  def withDHash(df: DataFrame, binCol: String, out: String = "dhash"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, LongType))
    val binIdx = df.schema.fieldIndex(binCol)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        val v: Any = if (bytes == null) null else DHash.of(bytes)
        Row.fromSeq(row.toSeq :+ v)
      }
    }(encoder)
  }

  /** [[syntheticBmp]] with a per-row (base id, red-channel shift): dims
    * and pixel pattern come from `baseCol`, the red channel is offset
    * by `shiftCol` (mod 256) — the controlled NEAR-DUPLICATE image
    * fixture (a tiny luminance perturbation flips only the grid cells
    * whose means nearly tie). */
  def syntheticBmpShifted(df: DataFrame, baseCol: String, shiftCol: String,
      out: String = "img"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val baseIdx = df.schema.fieldIndex(baseCol)
    val shiftIdx = df.schema.fieldIndex(shiftCol)
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    graft.core.Par.widen(df).mapPartitions { rows =>
      rows.map { row =>
        val id = row.getLong(baseIdx)
        val shift = row.getInt(shiftIdx)
        val w = (8 + id % 9).toInt
        val h = (8 + id % 7).toInt
        val img = Bmp.encode24(w, h, (x, y) => (
          ((id * 7 + x * 13 + y * 31 + shift) % 256).toInt,
          ((id * 11 + x * 3 + y * 5) % 256).toInt,
          ((id * 5 + x * 17 + y * 23) % 256).toInt))
        Row.fromSeq(row.toSeq :+ img)
      }
    }(encoder)
  }

  /** Frame/chunk sampling over binary content: xxhash64 of `n` evenly-
    * spaced byte windows (expression-only; the binary never leaves the
    * executor). */
  def frameSampleHashes(df: DataFrame, binCol: String, n: Int = 4,
      window: Int = 64): DataFrame =
    df.withColumn("frame_hashes", F.expr(
      s"""transform(sequence(0, ${n - 1}),
         |  i -> xxhash64(substring($binCol,
         |         1 + cast(i * greatest(octet_length($binCol) - $window, 0) / ${math.max(n - 1, 1)} as int),
         |         $window)))""".stripMargin))
}
