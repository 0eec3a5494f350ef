package graft.streaming

import graft.SparkTestBase
import graft.operators.{CrawlIngest, GramIndex}
import org.apache.spark.sql.functions._

/** ST29 crawl ingestion end-to-end: WARC archives in a directory →
  * parsed records → provenance gate → extraction → admission
  * verdicts → admitted-only gram appends, across two micro-batches
  * with the novelty signal flowing batch-1 → batch-2.
  */
class CrawlStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def httpRec(uri: String, id: String, bodyText: String,
      date: String = "2026-08-16T00:00:00Z"): Array[Byte] = {
    val html = s"<html><head><script>nav(1<2)</script></head><body>" +
      s"<p>$bodyText</p><div>home</div></body></html>"
    val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
      .getBytes("UTF-8")
    (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
      s"WARC-Date: $date\r\n" +
      s"WARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8") ++
      payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private def words(tag: String, n: Int = 40): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  test("crawlDocs: gate before extraction, recrawls + mirror variants resolve to one latest capture") {
    val a1 = httpRec("https://ok.example.com/p1", "r1", words("alpha")) ++
      httpRec("https://SPAM-FARM.net./x", "r2", words("spam")) ++ // blocked, FQDN dot
      httpRec("https://ok.example.com/p2", "r3", words("old")) ++
      // the same resource through t36-collapsible noise: uppercase
      // scheme, default port, a tracking param — still "p2", later
      httpRec("HTTPS://ok.example.com:443/p2?utm_source=mirror", "r4", words("new"))
    val records = Seq(("f1.warc", a1)).toDF("path", "bytes")
      .select($"path", $"bytes".as("content"))
    val recs = graft.sources.Warc.records(records).toDF()
    val docs = CrawlIngest.crawlDocs(recs, block = Seq("spam-farm.net"))
      .orderBy($"url").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(docs.map(_._1) == Seq(
      "https://ok.example.com/p1", "https://ok.example.com/p2"),
      s"gate/recrawl wrong: ${docs.map(_._1)}")
    assert(docs(0)._2 == words("alpha"))
    assert(docs(1)._2 == words("new"),
      "canonical-url recrawl did not resolve to the latest capture")
  }

  test("intra-batch exact-content copies collapse to the min-url keeper") {
    // two different canonical urls, identical body, ONE batch — the
    // index-novelty gate can't see same-batch copies (probe before
    // append), so the front door must
    val a = httpRec("https://b.example.org/copy", "c1", words("same")) ++
      httpRec("https://a.example.org/original", "c2", words("same")) ++
      httpRec("https://c.example.org/other", "c3", words("other"))
    val records = Seq(("f.warc", a)).toDF("path", "content")
    val docs = CrawlIngest.crawlDocs(graft.sources.Warc.records(records).toDF())
      .select($"url").collect().map(_.getString(0)).toSet
    assert(docs == Set("https://a.example.org/original", "https://c.example.org/other"),
      s"got $docs")
  }

  test("empty-text docs are exempt from content dedup: every degenerate page keeps its verdict") {
    // two different nav-only pages extract to text='' — collapsing
    // them would lose an audit row, not dedup content
    def navRec(uri: String, id: String): Array[Byte] = {
      val payload = ("HTTP/1.1 200 OK\r\n\r\n" +
        "<html><body><div>home</div></body></html>").getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <$id>\r\n" +
        s"WARC-Date: 2026-08-16T00:00:00Z\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8") ++
        payload ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val a = navRec("https://a.example.org/nav", "n1") ++
      navRec("https://b.example.org/nav", "n2")
    val records = Seq(("f.warc", a)).toDF("path", "content")
    val docs = CrawlIngest.crawlDocs(graft.sources.Warc.records(records).toDF())
      .select($"url", $"text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(docs == Set(
      ("https://a.example.org/nav", ""), ("https://b.example.org/nav", "")),
      s"degenerate pages collapsed: $docs")
  }

  test("the dedup keeper set broadcasts: no text re-shuffle in the crawlDocs plan") {
    val a = httpRec("https://a.example.org/x", "p1", words("planx")) ++
      httpRec("https://b.example.org/y", "p2", words("plany"))
    val records = Seq(("f.warc", a)).toDF("path", "content")
    val plan = CrawlIngest.crawlDocs(graft.sources.Warc.records(records).toDF())
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"keeper semi-join is not a broadcast:\n${plan.take(800)}")
  }

  test("intra-batch NEAR-copies collapse: no verified near-dup pair survives; chains fold to the min url") {
    // B = A with only the last word changed (1 of 38 shingles ->
    // jaccard 37/39 = 0.949), C = B with the first word changed —
    // a chain A~B~C under different urls in ONE batch. The pair-local
    // drop rule must keep exactly the minimum url.
    val base = (1 to 40).map(i => s"w$i")
    val a = base.mkString(" ")
    val b = (base.init :+ "zz").mkString(" ")
    val c = ("yy" +: base.init.tail :+ "zz").mkString(" ")
    val archive =
      httpRec("https://a.example.org/1", "n1", a) ++
      httpRec("https://b.example.org/2", "n2", b) ++
      httpRec("https://c.example.org/3", "n3", c) ++
      httpRec("https://d.example.org/4", "n4", words("unrelated"))
    val records = Seq(("f.warc", archive)).toDF("path", "content")
    val kept = CrawlIngest.crawlDocs(graft.sources.Warc.records(records).toDF())
      .select($"url").as[String].collect().toSeq.sorted
    assert(kept == Seq("https://a.example.org/1", "https://d.example.org/4"),
      s"near-dup chain not collapsed to the min url: $kept")
    // pass disabled: all four survive (exact md5 keys all differ)
    val keptOff = CrawlIngest.crawlDocs(
        graft.sources.Warc.records(records).toDF(), nearDupJaccard = None)
      .count()
    assert(keptOff == 4L)
    // plan shape: candidates come from a (band, bh) equi-join — the
    // d02 discipline, never a posting/shingle self-join
    val plan = CrawlIngest.crawlDocs(graft.sources.Warc.records(records).toDF())
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("band") && plan.contains("bh"),
      s"near-dup candidates are not band-keyed:\n${plan.take(600)}")
  }

  test("recency is WARC-Date, not archive naming: crawl-9 vs crawl-10") {
    // lexicographically 'crawl-9.warc' > 'crawl-10.warc' — a
    // path-ordered 'latest' would keep the STALE capture
    val stale = httpRec("https://ok.example.com/p", "s1", words("stale"),
      date = "2026-08-01T00:00:00Z")
    val fresh = httpRec("https://ok.example.com/p", "f1", words("fresh"),
      date = "2026-08-15T00:00:00Z")
    val records = Seq(
      ("crawl-9.warc", stale), ("crawl-10.warc", fresh)
    ).toDF("path", "content")
    val docs = CrawlIngest.crawlDocs(graft.sources.Warc.records(records).toDF())
      .collect().map(r => r.getString(2)).toSeq
    assert(docs == Seq(words("fresh")),
      s"archive naming decided recency: ${docs.map(_.take(20))}")
  }

  test("ST29 end-to-end: two archive micro-batches through gate, extraction and admission") {
    val dir = tempDir("graft-crawl").toString
    // standing corpus for the gram index
    GramIndex.writeGramIndex(Seq(
      (1L, words("seed")), (2L, words("base"))).toDF("doc_id", "text"),
      s"$dir/idx", gram = 8, nBuckets = 4)
    // archive 1: two quality docs (one on a blocked domain), one spam
    val f1 = httpRec("https://good.example.org/a", "a1", words("first")) ++
      httpRec("https://spam-farm.net/b", "b1", words("evil")) ++
      httpRec("https://good.example.org/c", "c1", Seq.fill(20)("spam").mkString(" "))
    // archive 2: a verbatim restatement of archive 1's admitted doc
    // (different url, same body) + a fresh doc
    val f2 = httpRec("https://mirror.example.net/a-copy", "a2", words("first")) ++
      httpRec("https://good.example.org/d", "d1", words("fresh"))
    new java.io.File(s"$dir/in").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in/f1.warc"), f1)
    Thread.sleep(1100)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in/f2.warc"), f2)

    val q = Streams.crawlIngestStream(
        graft.sources.Sources.warcStream(spark, s"$dir/in",
          maxFilesPerTrigger = Some(1)),
        s"$dir/idx", s"$dir/out", block = Seq("spam-farm.net"))
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    q.processAllAvailable(); q.stop()

    val out = spark.read.parquet(s"$dir/out")
    val byDoc = out.collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    def idOf(url: String) =
      graft.functions.PortableHash.hash60Jvm(url)
    // blocked domain never reached admission; spam rejected on
    // quality; both batch-1 quality docs got verdicts
    assert(!byDoc.contains(idOf("https://spam-farm.net/b")),
      "blocked-domain doc reached the audit trail")
    assert(byDoc(idOf("https://good.example.org/a")) == "admitted")
    assert(byDoc(idOf("https://good.example.org/c")) == "rejected_quality")
    // the batch-2 restatement is rejected purely via batch-1's
    // APPENDED grams (the content exists nowhere else)
    assert(byDoc(idOf("https://mirror.example.net/a-copy")) == "rejected_novelty",
      s"batch-1 appends not visible to batch 2: $byDoc")
    assert(byDoc(idOf("https://good.example.org/d")) == "admitted")
    assert(byDoc.size == 4)
    // and its novelty is exactly 0 ppm (verbatim copy)
    val nov = out.where(col("doc_id") === idOf("https://mirror.example.net/a-copy"))
      .select(col("novelty_ppm")).collect()(0).getLong(0)
    assert(nov == 0L, s"verbatim restatement at $nov ppm")
  }

  test("a replayed crawl trigger is a whole-trigger no-op (ST27's ledger, inherited)") {
    val dir = tempDir("graft-crawl-r").toString
    GramIndex.writeGramIndex(Seq(
      (1L, words("seed"))).toDF("doc_id", "text"), s"$dir/idx", gram = 8, nBuckets = 4)
    val f1 = httpRec("https://good.example.org/a", "a1", words("first"))
    val archives = Seq(("f1.warc", f1)).toDF("path", "content")
    Streams.crawlIngestTrigger(archives, 0L, s"$dir/idx", s"$dir/out",
      Nil, Seq("spam-farm.net"), 5L, 350000L, 100000L)
    val once = spark.read.parquet(s"$dir/out").collect().map(_.toString).sorted.toSeq
    val grams = GramIndex.readGramIndex(spark, s"$dir/idx").grams.count()
    Streams.crawlIngestTrigger(archives, 0L, s"$dir/idx", s"$dir/out",
      Nil, Seq("spam-farm.net"), 5L, 350000L, 100000L)
    assert(spark.read.parquet(s"$dir/out").collect().map(_.toString).sorted.toSeq == once,
      "replay changed the audit trail")
    assert(GramIndex.readGramIndex(spark, s"$dir/idx").grams.count() == grams,
      "replay re-appended grams")
  }
}
