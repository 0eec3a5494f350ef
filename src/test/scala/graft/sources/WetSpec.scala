package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** S8 write half: WET conversion records roundtrip byte-exactly
  * through the reader, including adversarial payloads.
  */
class WetSpec extends SparkTestBase {

  test("writeWet -> Sources.warc roundtrip: texts byte-equal, framing survives adversarial content") {
    import spark.implicits._
    val dir = tempDir("graft-wet").toString
    val docs = Seq(
      ("https://a.ex.com/1", "2026-08-17T00:00:00Z", "plain text body"),
      ("https://a.ex.com/2", "2026-08-17T00:00:01Z",
        "payload containing\nWARC/1.0\r\nContent-Length: 999\r\n\r\nfake record"),
      ("https://a.ex.com/3", "2026-08-17T00:00:02Z", "unicode: café 世界"),
      ("https://a.ex.com/4", "2026-08-17T00:00:03Z", ""),
      ("https://evil.ex.com/5\r\nWARC-Date: 1999-01-01", "2026-08-17T00:00:04Z",
        "header injection attempt"))
      .toDF("url", "warc_date", "text")
    Warc.writeWet(docs.repartition(2), s"$dir/wet",
      dateCol = Some("warc_date"))
    val back = Sources.warc(spark, s"$dir/wet", glob = Some("part-*"))
      .where($"warc_type" === "conversion")
      .select($"target_uri", $"warc_date",
        decode($"payload", "UTF-8").as("text"), $"truncated")
      .collect()
    assert(back.length == 5)
    assert(back.forall(!_.getAs[Boolean]("truncated")))
    val byUri = back.map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(byUri("https://a.ex.com/1") == (("2026-08-17T00:00:00Z", "plain text body")))
    // Content-Length framing protects the embedded fake record
    assert(byUri("https://a.ex.com/2")._2.contains("fake record"))
    assert(byUri("https://a.ex.com/3")._2 == "unicode: café 世界")
    assert(byUri("https://a.ex.com/4")._2 == "")
    // CR/LF stripped from the header value: no fabricated date
    val injected = byUri.keys.find(_.startsWith("https://evil.ex.com/5")).get
    assert(injected == "https://evil.ex.com/5WARC-Date: 1999-01-01")
    assert(byUri(injected)._1 == "2026-08-17T00:00:04Z")
  }

  test("writeWet default date + null text") {
    import spark.implicits._
    val dir = tempDir("graft-wet2").toString
    val docs = Seq(("https://x/1", null.asInstanceOf[String])).toDF("url", "text")
    Warc.writeWet(docs, s"$dir/wet")
    val back = Sources.warc(spark, s"$dir/wet", glob = Some("part-*")).collect()
    assert(back.length == 1)
    assert(back(0).getAs[String]("warc_date") == "1970-01-01T00:00:00Z")
    assert(back(0).getAs[Array[Byte]]("payload").isEmpty)
  }
}
