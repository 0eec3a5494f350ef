package graft.tools


/** Ad-hoc per-query timer: runs the named queries N times against a
  * sf dir and prints each run's wall time. Usage:
  *   sbt "runMain graft.tools.QueryTime [sfDir] [runs] [queryName...]"
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    val names =
      if (args.length > 2) args.drop(2).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    // Optional conf overrides for A/B timing experiments:
    //   SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2)).collect { case Array(k, v) => (k, v) }
    val spark = ToolSession(("spark.sql.adaptive.enabled" -> "true") +: extra: _*)
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    names.foreach { name =>
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (dt, n)
      }
      val ts = times.map { case (t, _) => f"$t%.2f" }.mkString(" ")
      println(f"$name%-28s rows=${times.head._2}%-8d $ts")
    }
    spark.stop()
  }
}
