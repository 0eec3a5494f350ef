package graft.sinks

import org.apache.spark.sql.DataFrame
import graft.core.{Router, RouteNotFound}

/** Pattern-routed multi-sink writer — the reference's routing
  * capability applied at write time: a sink URI like
  * `parquet:/out/events` or `csv:/out/report` is matched against
  * registered sink routes and dispatched, with route params passed to
  * the writer. Custom sinks register like workflow routes.
  */
final class RoutedSink private (
    router: Router[(DataFrame, Map[String, String]) => Unit]
) {

  def write(target: String, df: DataFrame): Unit =
    router.matchKey(target) match {
      case Some(m) => m.value(df, m.kw)
      case None    => throw new RouteNotFound(s"No sink route matches '$target'")
    }

  def withSink(pattern: String)(fn: (DataFrame, Map[String, String]) => Unit): RoutedSink = {
    router.add(pattern, fn)
    this
  }
}

object RoutedSink {

  /** Built-in sinks:
    *   - `parquet:{path:path}` (+ `parquet:{path:path}:by:{cols}` for
    *     hive-style partitioned layout),
    *   - `csv:{path:path}`, `json:{path:path}`, `orc:{path:path}`,
    *     `xml:{path:path}:row:{tag}` (native Spark 4 xml source),
    *     `noop:{name}`.
    */
  def standard(): RoutedSink = {
    val r = new Router[(DataFrame, Map[String, String]) => Unit]
    r.add("parquet:{path:path}", (df, kw) =>
      df.write.mode("overwrite").parquet(kw("path")))
    r.add("parquet:{path:path}:by:{cols}", (df, kw) =>
      df.write.mode("overwrite").partitionBy(kw("cols").split('+').toIndexedSeq: _*).parquet(kw("path")))
    // append variant: day-N maintenance of partitioned artifacts
    // (e.g. the band index) adds new rows without rewriting history.
    // Distinct scheme (not a `:append` suffix) because `{cols}`
    // would swallow a trailing literal segment.
    r.add("parquet-append:{path:path}:by:{cols}", (df, kw) =>
      df.write.mode("append").partitionBy(kw("cols").split('+').toIndexedSeq: _*).parquet(kw("path")))
    r.add("parquet-append:{path:path}", (df, kw) =>
      df.write.mode("append").parquet(kw("path")))
    // exactly-once append: batch-keyed stage-then-move under
    // deterministic file names, so a foreachBatch replay (driver died
    // between this write and its trigger's ledger commit) REWRITES
    // the same files instead of duplicating rows — the audit-trail
    // write the ledger-guarded streams (ST24/ST25/ST26/ST27) pair
    // with their index appends. Plain parquet-append stays the
    // documented at-least-once route for dedup-on-read consumers.
    r.add("parquet-append-batch:{path:path}:id:{batch}", (df, kw) =>
      graft.operators.IndexLayout.stageMoveAppendFlat(
        df, kw("path"), kw("batch").toLong))
    r.add("csv:{path:path}", (df, kw) =>
      df.write.mode("overwrite").option("header", "true").csv(kw("path")))
    r.add("json:{path:path}", (df, kw) =>
      df.write.mode("overwrite").json(kw("path")))
    r.add("orc:{path:path}", (df, kw) =>
      df.write.mode("overwrite").orc(kw("path")))
    r.add("xml:{path:path}:row:{tag}", (df, kw) =>
      df.write.mode("overwrite")
        .option("rootTag", kw("tag") + "s").option("rowTag", kw("tag"))
        .format("xml").save(kw("path")))
    // MERGE-applying keyed upsert/delete (O45): applies a changelog
    // batch (q65/ST15 shape — key cols, version cols, tombstone flag)
    // to the versioned table at {path} with last-writer-wins + atomic
    // epoch flip. Cols split on '+'; the tombstone column is the ST15
    // convention `is_tombstone`.
    r.add("merge:{path:path}:key:{cols}:v:{vcols}", (df, kw) =>
      graft.operators.ShardLayout.applyChangelog(df.sparkSession, kw("path"), df,
        kw("cols").split('+').toIndexedSeq, kw("vcols").split('+').toIndexedSeq))
    r.add("noop:{name}", (df, _) => { df.count(); () })
    new RoutedSink(r)
  }
}
