package graft.operators

import org.apache.spark.sql.SparkSession

/** Pins [[Ops.fanOutSmallScan]]'s contract (round-16 optimization):
  * a scan NARROWER than the session parallelism is spread to session
  * width, one at-or-above it passes through UNCHANGED (the condition
  * is what makes the helper a no-op on many-split production scans —
  * no shuffle is ever added at scale), and values are preserved
  * either way.
  */
class FanOutSpec extends graft.SparkTestBase {

  override lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("fanout-spec")
    .getOrCreate()

  test("a 1-partition frame is spread to session width; values intact") {
    import spark.implicits._
    val df = (1 to 100).toDF("x").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    val out = Ops.fanOutSmallScan(df)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(out.agg(org.apache.spark.sql.functions.sum($"x")).head.getLong(0) == 5050L)
    assert(out.count() == 100L)
  }

  test("a frame at session width or wider passes through unchanged") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val wide = (1 to 100).toDF("x").repartition(cores + 3)
    val out = Ops.fanOutSmallScan(wide)
    // SAME object — no repartition node was added
    assert(out eq wide)
  }

  test("many small files open one split each: a scan that fills the cores passes through") {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    val dir = tempDir("graft-fanout-files").toString
    (1 to 32 * cores).toDF("x").repartition(4 * cores).write.mode("overwrite").parquet(dir)
    // splits are packed at openCostInBytes per file: at half a split
    // per file, 4 x cores files open about 2 x cores splits
    val session = spark.newSession()
    session.conf.set("spark.sql.files.openCostInBytes", (64L << 20).toString)
    val df = session.read.parquet(dir)
    assert(df.rdd.getNumPartitions >= cores)
    assert(Ops.fanOutSmallScan(df) eq df)
  }

  test("a shuffled input under adaptive execution is decided without running a job") {
    import spark.implicits._
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "true")
    val grouped = session.range(1000).groupBy(($"id" % 10).as("k")).count()
    val sc = session.sparkContext
    // concurrent suites share the context: count only this thread's jobs
    val group = s"fanout-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "fanOutSmallScan decision")
    val out = try Ops.fanOutSmallScan(grouped) finally {
      sc.clearJobGroup()
      org.apache.spark.graftbridge.SparkCoreBridge.flushListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"fanOutSmallScan ran ${jobs.get} jobs")
    // a few KB coalesce into one partition: spread to session width
    assert(!(out eq grouped))
    assert(out.count() == 10L)
  }
}
