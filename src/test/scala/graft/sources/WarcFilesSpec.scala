package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

/** Bounded-memory WARC file ingestion ([[WarcFiles]]): the
  * record-streaming walk must (1) parse identically to the
  * [[Warc.parse]] expression on the same bytes, (2) hold only ONE
  * record in memory regardless of file size — pinned via the
  * iterator's buffered-bytes high-water mark on a synthetic stream
  * ~1000× larger than any record, never materialized — and (3) keep
  * the lenient damage contract through files, gzip members included. */
class WarcFilesSpec extends SparkSpec {
  import spark.implicits._

  private def rec(wtype: String, id: String, payload: String): String =
    "WARC/1.0\r\n" +
      s"WARC-Type: $wtype\r\n" +
      s"WARC-Record-ID: $id\r\n" +
      s"Content-Length: ${payload.getBytes("UTF-8").length}\r\n\r\n" +
      payload + "\r\n\r\n"

  /** Streams `count` copies of `record` without ever materializing the
    * whole — the file-scale stand-in. */
  private final class RepeatingStream(record: Array[Byte], count: Long)
      extends InputStream {
    private var idx = 0L
    private var off = 0
    override def read(): Int =
      if (idx >= count) -1
      else {
        val b = record(off) & 0xff
        off += 1
        if (off == record.length) { off = 0; idx += 1 }
        b
      }
    override def read(buf: Array[Byte], o: Int, len: Int): Int = {
      if (idx >= count) return -1
      val n = math.min(len, record.length - off)
      System.arraycopy(record, off, buf, o, n)
      off += n
      if (off == record.length) { off = 0; idx += 1 }
      n
    }
  }

  test("peak memory is bounded by the largest RECORD, not the file") {
    val one = rec("response", "<r>", "x" * 400).getBytes("UTF-8")
    val count = 200000L // ~100 MB total, streamed
    val it = new WarcRecordIterator(
      new RepeatingStream(one, count), "synthetic", 1L << 30)
    var n = 0L
    while (it.hasNext) { assert(it.next().payload_bytes.length == 400); n += 1 }
    assert(n == count)
    // high-water mark ≈ one record's header + payload — file size is
    // 100 MB; anything above a few KB means the file leaked into memory
    assert(it.maxBufferedBytes < 4096,
      s"buffered ${it.maxBufferedBytes} bytes — not record-bounded")
  }

  test("stream walk parses identically to the Warc.parse expression") {
    val tricky = "WARC/1.0\r\nWARC-Type: fake\r\n\r\nnested"
    val s = rec("response", "<a>", "Café né 北京") +
      rec("request", "<b>", tricky) +
      rec("metadata", "<c>", "")
    val viaExpr = Seq(Tuple1(s)).toDF("w")
      .select(F.explode(Warc.warc_records(F.col("w"))).as("r"))
      .select("r.warc_type", "r.record_id", "r.content_length", "r.payload")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    val it = new WarcRecordIterator(
      new ByteArrayInputStream(s.getBytes("UTF-8")), "mem", 1L << 30)
    val viaStream = it.toArray.map(r =>
      (r.warc_type, r.record_id, r.content_length,
        new String(r.payload_bytes, "UTF-8")))
    assert(viaStream.toSeq == viaExpr.toSeq)
  }

  test("readRecords: plain and gzipped files (magic-detected), via Spark") {
    val dir = targetTempDir("warcfiles")
    val s1 = rec("response", "<p1>", "plain body") + rec("metadata", "<p2>", "m")
    Files.write(Paths.get(s"$dir/a.warc"), s1.getBytes("UTF-8"))
    // per-record gzip members, concatenated — the .warc.gz layout —
    // under an extension-free name so only MAGIC detection can work
    val bos = new java.io.ByteArrayOutputStream()
    Seq(rec("response", "<g1>", "gz body Café"), rec("request", "<g2>", "q")).foreach { r =>
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(r.getBytes("UTF-8")); gz.finish()
    }
    Files.write(Paths.get(s"$dir/b_no_extension"), bos.toByteArray)
    val got = WarcFiles.readRecords(spark, dir)
      .select(F.col("record_id"), F.col("warc_type"),
        graft.functions.Http.decodeWith(
          F.col("payload_bytes"), F.lit("utf-8")).as("payload"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      ("<g1>", "response", "gz body Café"), ("<g2>", "request", "q"),
      ("<p1>", "response", "plain body"), ("<p2>", "metadata", "m")))
  }

  test("a shard that is ONLY a truncated gzip header yields zero records, not a dead job") {
    // GZIPInputStream reads the member header eagerly in its
    // constructor — this file's damage throws BEFORE the record walk
    // even starts; the job must keep reading the healthy shards
    val dir = targetTempDir("warcbadhdr")
    Files.write(Paths.get(s"$dir/bad.warc.gz"),
      Array[Byte](0x1f.toByte, 0x8b.toByte)) // magic, then EOF
    Files.write(Paths.get(s"$dir/good.warc"),
      rec("response", "<ok>", "alive").getBytes("UTF-8"))
    val got = WarcFiles.readRecords(spark, dir)
      .select("record_id").collect().map(_.getString(0)).toSeq
    assert(got == Seq("<ok>"))
  }

  test("corrupt gzip member mid-file keeps the records already parsed") {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(rec("response", "<ok>", "kept").getBytes("UTF-8")); gz.finish()
    // a second member header that lies (truncated deflate stream)
    bos.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0, 1, 2))
    val it = new WarcRecordIterator(
      WarcFiles.maybeGunzip(new ByteArrayInputStream(bos.toByteArray)),
      "mem", 1L << 30)
    assert(it.toArray.map(_.record_id).toSeq == Seq("<ok>"))
  }

  test("streamRecords: crawl shards arriving as a stream yield the batch record set") {
    val dir = targetTempDir("warcstream")
    val bos = new java.io.ByteArrayOutputStream()
    (0 until 5).foreach { i =>
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(rec("response", s"<s$i>", s"body $i").getBytes("UTF-8"))
      gz.finish()
    }
    Files.write(Paths.get(s"$dir/shard.warc.gz"), bos.toByteArray)
    val qn = "warcstreamspec"
    val q = WarcFiles.streamRecords(spark, dir)
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(F.col("record_id"), F.col("warc_type"), F.col("content_length"),
        graft.functions.Http.decodeWith(
          F.col("payload_bytes"), F.lit("utf-8")).as("payload"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    val streamed = keyed(spark.table(qn))
    assert(streamed == keyed(WarcFiles.readRecords(spark, dir)))
    assert(streamed.size == 5)
  }

  test("readCrawlText: file -> responses -> HTTP split -> visible text, in one scan") {
    val dir = targetTempDir("crawltext")
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
      "<html><body><p>Hello &amp; welcome</p></body></html>"
    val s = rec("response", "<r1>", http) +
      rec("request", "<q1>", "GET / HTTP/1.1") + // dropped: not a response
      rec("response", "<r2>", "<p>bare html, no envelope</p>")
    Files.write(Paths.get(s"$dir/a.warc"), s.getBytes("UTF-8"))
    val got = WarcFiles.readCrawlText(spark, dir)
      .select("status", "content_type", "text")
      .collect().map(r => (if (r.isNullAt(0)) null else Integer.valueOf(r.getInt(0)),
        r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      (Integer.valueOf(200), "text/html; charset=utf-8", "Hello & welcome"),
      (null, null, "bare html, no envelope")))
  }

  test("readCrawlText decodes non-UTF-8 pages via charset resolution (bytes preserved)") {
    val dir = targetTempDir("crawlcs")
    val html = "<p>café mañana</p>" // é/ñ: latin-1 single bytes, invalid UTF-8
    val bodyLatin = html.getBytes("ISO-8859-1")
    // header declares the charset; Content-Length counts latin-1 BYTES
    val head = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=ISO-8859-1\r\n\r\n")
      .getBytes("US-ASCII")
    val payload = head ++ bodyLatin
    val rec = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <l1>\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes("US-ASCII") ++
      payload ++ "\r\n\r\n".getBytes("US-ASCII")
    // an undeclared-header page whose META declares windows-1252
    val html2 = "<html><head><meta charset=\"windows-1252\"></head>" +
      "<body><p>smørrebrød</p></body></html>"
    val payload2 = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
      .getBytes("US-ASCII") ++ html2.getBytes("windows-1252")
    val rec2 = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <l2>\r\n" +
      s"Content-Length: ${payload2.length}\r\n\r\n").getBytes("US-ASCII") ++
      payload2 ++ "\r\n\r\n".getBytes("US-ASCII")
    Files.write(Paths.get(s"$dir/latin.warc"), rec ++ rec2)
    val got = WarcFiles.readCrawlText(spark, dir)
      .select("charset", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("iso-8859-1", "café mañana"),
      ("windows-1252", "smørrebrød")))
  }

  test("readCrawlText decompresses content codings; unknown codings are NULL text") {
    val dir = targetTempDir("crawlce")
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.close(); bos.toByteArray
    }
    def resp(id: String, head: String, body: Array[Byte]): Array[Byte] = {
      val payload = head.getBytes("US-ASCII") ++ body
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <$id>\r\n" +
        s"WARC-Target-URI: http://h/$id\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("US-ASCII") ++
        payload ++ "\r\n\r\n".getBytes("US-ASCII")
    }
    // gzip content coding — the single most common envelope layer
    val r1 = resp("ce1", "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: gzip\r\n\r\n", gz("<p>coded page one</p>"))
    // gzip transfer coding UNDER chunked framing: dechunk, then gunzip
    val inner = gz("<p>chunk then gzip</p>")
    val chunked = f"${inner.length}%x\r\n".getBytes("US-ASCII") ++ inner ++
      "\r\n0\r\n\r\n".getBytes("US-ASCII")
    val r2 = resp("ce2", "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Transfer-Encoding: gzip, chunked\r\n\r\n", chunked)
    // brotli: not decodable here — NULL text, never silent garbage
    val r3 = resp("ce3", "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: br\r\n\r\n", Array[Byte](1, 2, 3, 4))
    Files.write(Paths.get(s"$dir/coded.warc"), r1 ++ r2 ++ r3)
    val got = WarcFiles.readCrawlText(spark, dir)
      .select("target_uri", "content_encoding", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("http://h/ce1", "gzip", "coded page one"),
      ("http://h/ce2", "gzip", "chunk then gzip"),
      ("http://h/ce3", "br", null)))
  }

  test("readCrawlText surfaces meta-robots noindex as a compliance column") {
    val dir = targetTempDir("crawlnx")
    def resp(id: String, html: String): Array[Byte] = {
      val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
        .getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <$id>\r\n" +
        s"WARC-Target-URI: http://h/$id\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("US-ASCII") ++
        payload ++ "\r\n\r\n".getBytes("US-ASCII")
    }
    val r1 = resp("n1", "<head><meta name=\"robots\" content=\"noindex\"></head><p>opted out</p>")
    val r2 = resp("n2", "<p>indexable</p>")
    Files.write(Paths.get(s"$dir/nx.warc"), r1 ++ r2)
    val got = WarcFiles.readCrawlText(spark, dir)
      .select("target_uri", "noindex", "text").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2))).toSet
    assert(got == Set(
      ("http://h/n1", true, "opted out"),
      ("http://h/n2", false, "indexable")))
  }

  test("maxRecordBytes: an over-declared record is damage — prefix kept, walk stops") {
    val s = rec("response", "<small>", "ok") + rec("response", "<big>", "z" * 10000)
    val it = new WarcRecordIterator(
      new ByteArrayInputStream(s.getBytes("UTF-8")), "mem", maxRecordBytes = 1024)
    assert(it.toArray.map(_.record_id).toSeq == Seq("<small>"))
  }
}
