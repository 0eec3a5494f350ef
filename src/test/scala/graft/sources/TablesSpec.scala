package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.SparkTestBase
import graft.tables.Tables

/** Pins the events-loader contract (Tables.loadEvents):
  *
  *   - whatever the driver's writer emitted (µs TIMESTAMP, NTZ, NANOS,
  *     or a plain-int64 nanos replica), the loaded `ts` is a
  *     TimestampType in a plausible epoch range — the year check is
  *     the cheap detector for a wrong div-by-1000 (µs treated as ns
  *     lands in 1970; ns treated as µs lands past year 50000);
  *   - the int64-nanos fallback is value-identical to the native read;
  *   - non-NANOS failures (missing file) PROPAGATE instead of being
  *     swallowed into the fallback's misleading secondary error.
  */
class TablesSpec extends SparkTestBase {

  test("events ts loads as TimestampType in a plausible epoch range") {
    val ev = Tables.load(spark, sfDir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    val yr = ev.agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi"))
      .head()
    assert(yr.getInt(0) >= 1990 && yr.getInt(1) <= 2100,
      s"event years ${yr.getInt(0)}..${yr.getInt(1)} outside plausible range " +
        "— ts encoding assumption (µs vs ns) broke")
  }

  test("int64-nanos replica falls back and matches the native read") {
    val dir = tempDir("graft-events-nanos").toString
    val native = Tables.load(spark, sfDir, "events")
    // Rebuild the driver's replica shape: ts as raw int64 NANOS.
    native
      .withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val replica = Tables.load(spark, dir, "events")
    assert(replica.schema("ts").dataType == TimestampType)
    val diff = replica.select("event_id", "ts")
      .except(native.select("event_id", "ts")).count()
    assert(diff == 0L, s"$diff rows diverge between nanos-replica and native read")
  }

  test("a missing events file propagates, not masked by the nanos fallback") {
    val e = intercept[Exception] {
      Tables.load(spark, "/root/testdata/does-not-exist", "events")
    }
    val msg = Option(e.getMessage).getOrElse("")
    assert(msg.contains("does-not-exist") || msg.toLowerCase.contains("path"),
      s"expected a path-not-found error, got: ${e.getClass.getName}: $msg")
  }
}
