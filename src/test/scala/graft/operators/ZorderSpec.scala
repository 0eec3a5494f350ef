package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** O21 Z-order layout: code arithmetic pinned against a bit-twiddling
  * reference, and the pruning claim MEASURED — per-file (a, b)
  * bounding boxes after a z-layout write tile the plane, so a
  * rectangle predicate touches few files, where a 1-D sort leaves the
  * other dimension unpruned in every file.
  */
class ZorderSpec extends SparkTestBase {

  test("morton code matches the bit-twiddling reference on a full grid") {
    def ref(a: Long, b: Long, bits: Int): Long = {
      var z = 0L
      var i = 0
      while (i < bits) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val rows = spark.range(0, 4096)
      .select((col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"))
      .withColumn("z", Ops.mortonCode(col("a"), col("b"), 6))
      .collect()
    assert(rows.length == 4096)
    rows.foreach { r =>
      assert(r.getAs[Long]("z") == ref(r.getAs[Long]("a"), r.getAs[Long]("b"), 6))
    }
    // the 6-bit grid is a bijection onto [0, 4096)
    assert(rows.map(_.getAs[Long]("z")).distinct.length == 4096)
  }

  test("z-layout prunes a rectangle to few files; a 1-D sort cannot") {
    val grid = spark.range(0, 65536)
      .select((col("id") % 256).as("a"), (col("id") / 256).cast("long").as("b"))
    def fileBoxes(df: DataFrame, tag: String): Array[(Long, Long, Long, Long)] = {
      val dir = tempDir(s"zorder_$tag").toString
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("a").as("la"), max("a").as("ha"),
          min("b").as("lb"), max("b").as("hb"))
        .collect()
        .map(r => (r.getAs[Long]("la"), r.getAs[Long]("ha"),
          r.getAs[Long]("lb"), r.getAs[Long]("hb")))
    }
    val zB = fileBoxes(Ops.zorderLayout(grid, "a", "b", bits = 8, numFiles = 16), "z")
    val bB = fileBoxes(
      grid.repartitionByRange(16, col("b")).sortWithinPartitions("b"), "b1d")
    assert(zB.length == 16 && bB.length == 16)
    // A scan with predicate a < 16 consults file-level (row-group)
    // min/max stats: count the files whose box intersects it.
    def hitsA(boxes: Array[(Long, Long, Long, Long)]) =
      boxes.count { case (la, _, _, _) => la < 16 }
    // z-layout: files are ~64x64 tiles, only the first tile-column
    // intersects (sampling boundaries allow slight spill)
    assert(hitsA(zB) <= 6, s"z-layout hit ${hitsA(zB)}/16 files for a<16")
    // b-sorted layout: every file spans all of a — nothing prunes
    assert(hitsA(bB) == 16)
    // the 2-D rectangle a<16 && b<16 is a single z-range → ~1 file
    val rectHits = zB.count { case (la, _, lb, _) => la < 16 && lb < 16 }
    assert(rectHits <= 2, s"z-layout hit $rectHits/16 files for the rectangle")
  }

  test("zorderLayout fails loudly on inputs outside [0, 2^bits)") {
    // silent aliasing (2098 & 255 landing on 50's cell) would quietly
    // destroy the bounding-box invariant — the guard must raise
    val bad = spark.range(0, 100)
      .select(col("id").as("a"), (col("id") + lit(200L)).as("b"))
    val ex = intercept[Exception] {
      Ops.zorderLayout(bad, "a", "b", bits = 8, numFiles = 4).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("zorderLayout")), msgs(ex).mkString(" | "))
    // in-range data on the same call path stays fine
    val ok = spark.range(0, 100)
      .select(col("id").as("a"), (col("id") % 7).as("b"))
    assert(Ops.zorderLayout(ok, "a", "b", bits = 8, numFiles = 4).count() == 100)
  }

  test("q49 cells are bounded 8x8 boxes and partition the part table") {
    val df = graft.SparkEntry.queries("q49_zorder_clustering")(spark, sfDir).cache()
    assert(df.filter(col("box_area") > 64).count() == 0)
    val total = graft.tables.Tables.load(spark, sfDir, "part").count()
    assert(df.agg(sum("n")).head().getLong(0) == total)
  }
}
