package graft.sinks

import graft.SparkTestBase
import graft.core.RouteNotFound
import graft.sources.Sources
import graft.tables.Tables

class SinksSpec extends SparkTestBase {

  private def tmp(): String =
    tempDir("graft-sink").toString

  test("routed parquet/csv/json sinks round-trip") {
    val df = Tables.load(spark, sfDir, "nation")
    val sink = RoutedSink.standard()
    val base = tmp()
    sink.write(s"parquet:$base/nat_pq", df)
    sink.write(s"csv:$base/nat_csv", df)
    sink.write(s"json:$base/nat_js", df)
    sink.write(s"orc:$base/nat_orc", df)
    assert(Sources.parquet(spark, s"$base/nat_pq").count() == 25)
    assert(Sources.csv(spark, s"$base/nat_csv", df.schema).count() == 25)
    assert(Sources.json(spark, s"$base/nat_js", df.schema).count() == 25)
    assert(Sources.orc(spark, s"$base/nat_orc").count() == 25)
  }

  test("xml sink + source round-trip values through the native xml format (S6)") {
    import org.apache.spark.sql.functions._
    val df = Tables.load(spark, sfDir, "nation")
    val base = tmp()
    RoutedSink.standard().write(s"xml:$base/nat_xml:row:nation", df)
    val back = Sources.xml(spark, s"$base/nat_xml", rowTag = "nation",
      schema = Some(df.schema))
    assert(back.count() == 25)
    // value-level parity, not just counts
    val a = df.orderBy(col("n_nationkey")).collect().map(_.toSeq)
    val b = back.orderBy(col("n_nationkey")).collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("partitioned parquet sink produces hive layout") {
    val df = Tables.load(spark, sfDir, "customer")
    val base = tmp()
    RoutedSink.standard().write(s"parquet:$base/cust:by:c_mktsegment", df)
    val parts = new java.io.File(s"$base/cust").listFiles()
      .filter(_.getName.startsWith("c_mktsegment="))
    assert(parts.length == 5)
    assert(Sources.parquet(spark, s"$base/cust").count() == df.count())
  }

  test("noop sink and custom sink routes") {
    val df = Tables.load(spark, sfDir, "region")
    var called = 0
    val sink = RoutedSink.standard()
      .withSink("touch:{name}") { (d, kw) => called += d.count().toInt; assert(kw("name") == "reg") }
    sink.write("noop:anything", df)
    sink.write("touch:reg", df)
    assert(called == 5)
    intercept[RouteNotFound](sink.write("bogus::/x", df))
  }
}
