package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** S8 WARC source: round-trips a handcrafted multi-record archive
  * (plain and record-gzipped), skips inter-record garbage, surfaces
  * truncated records, and composes with t34's extraction.
  */
class WarcSpec extends SparkTestBase {
  import spark.implicits._

  private def rec(typ: String, uri: String, id: String, body: String): Array[Byte] = {
    val payload = body.getBytes("UTF-8")
    (s"WARC/1.0\r\n" +
      s"WARC-Type: $typ\r\n" +
      s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
      s"WARC-Date: 2026-08-16T00:00:00Z\r\n" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
      s"Content-Length: ${payload.length}\r\n" +
      s"Content-Type: application/http; msgtype=response\r\n" +
      "\r\n").getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private val httpBody =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      "<html><body><p>A real crawled paragraph, long enough to keep.</p></body></html>"

  private def archive: Array[Byte] =
    rec("warcinfo", "", "aaa-1", "software: graft-test\r\n") ++
      rec("request", "https://example.com/x", "bbb-2", "GET /x HTTP/1.1\r\n") ++
      "JUNK BYTES BETWEEN RECORDS".getBytes("UTF-8") ++
      rec("response", "https://example.com/x", "ccc-3", httpBody)

  private def gz(bytes: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    g.write(bytes); g.close(); bo.toByteArray
  }

  test("multi-record archive round-trips; inter-record garbage skipped; gz identical") {
    val dir = tempDir("graft-warc")
    java.nio.file.Files.write(dir.resolve("a.warc"), archive)
    // record-level gzip: each record its own member, concatenated
    val members = Seq(
      gz(rec("warcinfo", "", "aaa-1", "software: graft-test\r\n")),
      gz(rec("request", "https://example.com/x", "bbb-2", "GET /x HTTP/1.1\r\n")),
      gz(rec("response", "https://example.com/x", "ccc-3", httpBody))
    ).reduce(_ ++ _)
    java.nio.file.Files.write(dir.resolve("b.warc.gz"), members)

    val df = Sources.warc(spark, dir.toString).cache()
    val plain = df.where($"path".endsWith("a.warc")).orderBy($"offset")
      .select($"warc_type", $"target_uri", $"content_length", $"truncated")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(plain == Seq(
      ("warcinfo", "", 22L, false),
      ("request", "https://example.com/x", 17L, false),
      ("response", "https://example.com/x", httpBody.length.toLong, false)), s"got $plain")
    // the gz twin parses to the same records (offsets differ — the
    // decompressed stream has no junk)
    val gzRows = df.where($"path".endsWith("b.warc.gz"))
      .select($"warc_type", $"record_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gzRows == Set(("warcinfo", "<urn:uuid:aaa-1>"),
      ("request", "<urn:uuid:bbb-2>"), ("response", "<urn:uuid:ccc-3>")))
    // payload is byte-exact
    val body = new String(df.where($"record_id" === "<urn:uuid:ccc-3>" &&
      $"path".endsWith("a.warc"))
      .select($"payload").collect()(0).getAs[Array[Byte]](0), "UTF-8")
    assert(body == httpBody)
    df.unpersist()
  }

  test("truncated record surfaces with truncated=true, payload = available bytes") {
    val full = rec("response", "https://example.com/y", "ddd-4", httpBody)
    val cut = full.take(full.length - 60) // payload cut short
    val dir = tempDir("graft-warc-t")
    java.nio.file.Files.write(dir.resolve("t.warc"),
      rec("warcinfo", "", "eee-5", "ok\r\n") ++ cut)
    val rows = Sources.warc(spark, dir.toString).orderBy($"offset")
      .select($"warc_type", $"content_length", length($"payload"), $"truncated")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getBoolean(3))).toSeq
    assert(rows.size == 2 && rows(0) == (("warcinfo", 4L, 4, false)), s"got $rows")
    val (t, len, have, trunc) = rows(1)
    assert(t == "response" && trunc && have < len.toInt, s"got ${rows(1)}")
  }

  test("missing Content-Length resyncs on the next magic instead of swallowing the archive") {
    val noLen = ("WARC/1.0\r\nWARC-Type: metadata\r\n" +
      "WARC-Record-ID: <urn:uuid:fff-6>\r\n\r\nsome unframed body").getBytes("UTF-8")
    val dir = tempDir("graft-warc-nl")
    java.nio.file.Files.write(dir.resolve("n.warc"),
      rec("warcinfo", "", "ggg-7", "ok\r\n") ++ noLen ++
        rec("response", "https://example.com/z", "hhh-8", httpBody))
    val rows = Sources.warc(spark, dir.toString).orderBy($"offset")
      .select($"warc_type", $"content_length", $"truncated")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    // the malformed record is flagged AND the response after it survives
    assert(rows == Seq(
      ("warcinfo", 4L, false),
      ("metadata", -1L, true),
      ("response", httpBody.length.toLong, false)), s"got $rows")
  }

  test("adversarial huge Content-Length reads as truncated, not a crash") {
    val huge = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 9223372036854775800\r\n\r\nshort").getBytes("UTF-8")
    val dir = tempDir("graft-warc-of")
    java.nio.file.Files.write(dir.resolve("o.warc"), huge)
    val rows = Sources.warc(spark, dir.toString)
      .select($"truncated", length($"payload")).collect()
      .map(r => (r.getBoolean(0), r.getInt(1))).toSeq
    assert(rows == Seq((true, 5)), s"got $rows")
  }

  test("a fully corrupt .gz surfaces ONE sentinel truncated record, not silence") {
    val dir = tempDir("graft-warc-gz0")
    java.nio.file.Files.write(dir.resolve("dead.warc.gz"),
      "this was never gzip".getBytes("UTF-8"))
    val rows = Sources.warc(spark, dir.toString)
      .select($"offset", $"content_length", $"truncated", length($"payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3))).toSeq
    assert(rows == Seq((0L, -1L, true, 0)), s"got $rows")
  }

  test("recordsStreamed == records on plain, gz, garbage and truncated archives") {
    val dir = tempDir("graft-warc-s")
    val gzBytes = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(archive); g.close(); bo.toByteArray
    }
    java.nio.file.Files.write(dir.resolve("a.warc"), archive)
    java.nio.file.Files.write(dir.resolve("b.warc.gz"), gzBytes)
    java.nio.file.Files.write(dir.resolve("t.warc"), // payload past EOF
      rec("response", "https://example.com/t", "ttt-9", httpBody).dropRight(12))
    def canon(ds: org.apache.spark.sql.Dataset[WarcRecord]) = ds.collect()
      .map(r => (r.path.substring(r.path.lastIndexOf('/') + 1), r.offset,
        r.warc_type, r.record_id, r.target_uri, r.warc_date,
        r.content_length, r.payload.toSeq, r.truncated))
      .sortBy(t => (t._1, t._2)).toSeq
    val viaBytes = canon(Warc.records(Sources.binaryFiles(spark, dir.toString)))
    val paths = java.nio.file.Files.list(dir).iterator()
    val pathSeq = scala.jdk.CollectionConverters.IteratorHasAsScala(paths)
      .asScala.map(_.toString).toSeq
    val viaStream = canon(Warc.recordsStreamed(spark, pathSeq))
    assert(viaBytes.nonEmpty && viaBytes == viaStream,
      s"streamed walk diverged:\nbytes:  ${viaBytes.map(_._4)}\nstream: ${viaStream.map(_._4)}")
  }

  test("the 2 GiB cliff is gone: a >2 GiB archive streams through in O(record) memory") {
    // 2,100 records x 1 MiB payloads ≈ 2.05 GiB — past Int.MaxValue,
    // impossible for the whole-file Array[Byte] walk. The stream is
    // GENERATED (shared payload template, per-record headers), so the
    // test allocates one record at a time, exactly like the parser.
    val n = 2100
    val payloadSize = 1 << 20
    val payload = new Array[Byte](payloadSize) // zeros: no stray magic
    def header(k: Int) =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <r$k>\r\n" +
        s"Content-Length: $payloadSize\r\n\r\n").getBytes("US-ASCII")
    val en = new java.util.Enumeration[java.io.InputStream] {
      private var i = 0
      override def hasMoreElements: Boolean = i < n * 2
      override def nextElement(): java.io.InputStream = {
        val s = if (i % 2 == 0) new java.io.ByteArrayInputStream(header(i / 2))
          else new java.io.ByteArrayInputStream(payload)
        i += 1; s
      }
    }
    val it = Warc.parseWarcStream("big.warc", new java.io.SequenceInputStream(en))
    var count = 0
    var lastOffset = 0L
    var lastId = ""
    var anyTruncated = false
    it.foreach { r =>
      count += 1; lastOffset = r.offset; lastId = r.record_id
      anyTruncated ||= r.truncated
      assert(r.content_length == payloadSize.toLong)
    }
    assert(count == n, s"lost records past the 2 GiB line: $count")
    assert(!anyTruncated)
    assert(lastId == s"<r${n - 1}>")
    assert(lastOffset > Int.MaxValue.toLong,
      s"test did not cross the 2 GiB boundary: $lastOffset")
  }

  test("S8 feeds t34: response payloads -> html -> extracted text") {
    val dir = tempDir("graft-warc-h")
    java.nio.file.Files.write(dir.resolve("c.warc"), archive)
    val html = Sources.warc(spark, dir.toString)
      .where($"warc_type" === "response" && !$"truncated")
      // the HTTP entity: after the message's first blank line
      .select($"target_uri",
        regexp_replace($"payload".cast("string"),
          "(?s)^.*?\r\n\r\n", "").as("html"))
    val out = graft.operators.Html.htmlExtract(html, "target_uri", "html")
      .select($"target_uri", $"text").collect()
    assert(out.length == 1 &&
      out(0).getString(1) == "A real crawled paragraph, long enough to keep.",
      s"got ${out.toSeq}")
  }
}
