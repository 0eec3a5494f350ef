package graft.sources

import graft.SparkTestBase
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Scan-health checks: partition pruning on hive-layout writes and
  * filter/column pushdown into parquet — what keeps a 100 TB scan
  * from reading 100 TB.
  */
class PruningSpec extends SparkTestBase {

  test("binaryFiles ingests raw assets with glob and size guard") {
    val dir = tempDir("graft-bin")
    java.nio.file.Files.write(dir.resolve("a.jpg"), Array.fill[Byte](64)(1))
    java.nio.file.Files.write(dir.resolve("b.jpg"), Array.fill[Byte](2048)(2))
    java.nio.file.Files.write(dir.resolve("c.txt"), Array.fill[Byte](8)(3))
    val all = Sources.binaryFiles(spark, dir.toString)
    assert(all.count() == 3)
    val jpgs = Sources.binaryFiles(spark, dir.toString, glob = Some("*.jpg"))
    assert(jpgs.count() == 2)
    val small = Sources.binaryFiles(spark, dir.toString, glob = Some("*.jpg"),
      maxBytes = Some(1024L))
    val rows = small.select("length", "content").collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 64)
    assert(rows(0).getAs[Array[Byte]](1).forall(_ == 1))
  }

  test("partition pruning: filter on partition column prunes directories") {
    val base = tempDir("graft-prune").toString
    Tables.load(spark, sfDir, "events")
      .write.partitionBy("event_type").mode("overwrite").parquet(s"$base/ev")
    val df = spark.read.parquet(s"$base/ev").filter(col("event_type") === "purchase")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*event_type[^\\]]*\\].*"),
      s"no partition filter in plan:\n$plan")
    // pruned read returns exactly the partition's rows
    val expected = Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "purchase").count()
    assert(df.count() == expected)
  }

  test("predicate and projection reach the parquet scan") {
    val df = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("l_extendedprice"),
      s"projection not pruned:\n$plan")
  }
}
