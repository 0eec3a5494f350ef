package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-only: run one canned query and print every Spark job's wall
  * time, stage count and task count — pinpoints whether a slow query
  * burns its seconds in data processing or in job/stage scheduling.
  * Usage: sbt "runMain graft.tools.JobProfile [sfDir] <query> [runs]"
  */
object JobProfile {
  final class L extends SparkListener {
    final case class J(id: Int, t0: Long, var t1: Long = 0L,
        var stages: Int = 0, var tasks: Int = 0, desc: String)
    val jobs = mutable.LinkedHashMap[Int, J]()
    private val stageJob = mutable.HashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = J(e.jobId, e.time, desc = d.take(60))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs(e.jobId).stages += e.stageIds.size
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach(_.tasks += 1)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args(1)
    val runs = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = ToolSession()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    (1 to runs).foreach { r =>
      val l = new L
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      try org.apache.spark.graftbridge.SparkCoreBridge.flushListenerBus(spark.sparkContext)
      catch { case _: Throwable => () }
      spark.sparkContext.removeSparkListener(l)
      spark.catalog.clearCache()
      println(f"== run $r: $name wall=$wall%.2f s rows=$n jobs=${l.jobs.size}")
      var sum = 0L
      var t50 = 0
      l.jobs.values.foreach { j =>
        val ms = j.t1 - j.t0
        sum += ms
        if (ms >= 50) { t50 += 1
          println(f"  job ${j.id}%3d ${ms}%6d ms stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc}")
        }
      }
      println(f"  [sum job ms=$sum, jobs>=50ms: $t50, sub-50ms jobs: ${l.jobs.size - t50}]")
    }
    spark.stop()
  }
}
