package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** AQE skew handling: the runtime complement to Joins.saltedJoin. A
  * manually salted join is the portable fix; this spec proves the
  * OTHER documented knob (SURVEY §6) actually fires in this engine —
  * AQE detects a skewed sort-merge partition at runtime and splits it
  * (`skew=true` in the final adaptive plan) with results unchanged.
  */
class AqeSkewSpec extends SparkTestBase {
  // conf-mutating suite: isolated SQLConf so concurrent suites
  // (testForkedParallel) never see this suite's toggles
  override lazy val spark = graft.SparkTestBase.isolatedSession


  test("AQE splits a skewed SMJ partition at runtime; results unchanged") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    ).map(k => k -> util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      // one pathological key (0) carrying ~99% of the left side
      val left = spark.range(0, 200000)
        .select(when($"id" < 198000, 0L).otherwise($"id").as("k"), $"id".as("v"))
      val right = spark.range(0, 64).select($"id".as("k"), ($"id" * 10).as("w"))
      val joined = left.join(right, "k")
      // drive THIS QueryExecution (count() would execute a clone and
      // leave this adaptive plan unexecuted / non-final)
      val qe = joined.queryExecution
      val n = qe.toRdd.count()
      // truth: 198k rows hit k=0 plus one row for each surviving k in [198000,200000)∩[0,64) = none
      assert(n == 198000L)
      val finalPlan = qe.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join; final plan:\n${finalPlan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
