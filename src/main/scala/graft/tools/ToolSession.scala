package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local session the dev mains build: `local[N]` with N
  * shuffle partitions, where N is `SPARK_GRAFT_CPUS` or, when unset,
  * the host's core count — so no tool oversubscribes the machine it
  * measures. Set `SPARK_GRAFT_CPUS=32` to compare with numbers taken
  * under the former fixed `local[32]`. `conf` carries a tool's own
  * settings (its AQE choice, extra confs).
  */
private[tools] object ToolSession {
  def apply(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
  }
}
