package graft.core

import graft.SparkTestBase
import scala.collection.mutable.ArrayBuffer

/** CLI behavior mirroring /root/reference/interlinked/cli.py:
  * version / validate / deps / run (+ json config).
  */
class CliSpec extends SparkTestBase {

  private def cli(args: String*): Seq[String] = {
    val out = ArrayBuffer[String]()
    Cli.run(args.toArray, out += _)
    out.toSeq
  }

  test("version") {
    assert(cli("graft.GraftPipelines", "version") == Seq(Cli.version))
  }

  test("validate default workflow") {
    assert(cli("graft.GraftPipelines", "validate", "-n", "default") == Seq("ok"))
  }

  test("deps prints the dependency tree") {
    val out = cli("graft.GraftPipelines", "deps", "-n", "default")
    assert(out.exists(_.contains("spark")))
    assert(out.exists(_.trim == "table.{name}"))
    assert(out.exists(_.trim == "count.{name}"))
  }

  test("run a count target with -s prints the count") {
    // ensure the shared test session is the active one getOrCreate finds
    spark.sparkContext.setLogLevel("WARN")
    val out = cli("graft.GraftPipelines", "run", "-n", "default", "-s", "count.q09_distinct")
    assert(out.nonEmpty && out.last.forall(_.isDigit) && out.last.toLong > 0)
  }

  test("sql subcommand runs a query THROUGH a graft custom function (X4 last mile)") {
    // force the shared test session so getOrCreate joins it — the
    // explicit register() in the sql path must make cosine_sim
    // available even though the extensions config is ignored here
    spark.sparkContext.setLogLevel("WARN")
    val out = cli("graft.GraftPipelines", "sql", "-d", sfDir, "--limit", "3",
      "SELECT vec_id, cosine_sim(embedding, embedding) AS c FROM embeddings ORDER BY vec_id")
    assert(out.head == "vec_id\tc", out.mkString("|"))
    assert(out.length == 4, s"header + 3 rows expected, got ${out.length}")
    assert(out.tail.forall(l => math.abs(l.split("\t")(1).toDouble - 1.0) < 1e-9),
      out.mkString("|"))
  }

  test("sql subcommand reaches the NATIVE join tier via the asof_join TVF (X10)") {
    // round-9 gap: AsOfJoin/IntervalJoin were Scala-only — `Cli sql`
    // could not express them. The asof_join(...) table-valued
    // function closes it; row equality vs Joins.asofJoinNative pins
    // that the SQL surface runs the same operator, not a lookalike.
    import org.apache.spark.sql.functions._
    spark.sparkContext.setLogLevel("WARN")
    val ev = graft.tables.Tables.load(spark, sfDir, "events")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .createOrReplaceTempView("x10_purchases")
    ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
      .createOrReplaceTempView("x10_clicks")
    val out = cli("graft.GraftPipelines", "sql", "--limit", "1000000",
      "SELECT event_id, user_id, CAST(asof_ts AS STRING) AS m FROM " +
        "asof_join('x10_purchases', 'x10_clicks', 'user_id', 'ts', 'ts') " +
        "ORDER BY event_id")
    assert(out.head == "event_id\tuser_id\tm", out.take(2).mkString("|"))
    val viaScala = graft.operators.Joins.asofJoinNative(
        spark.table("x10_purchases"), spark.table("x10_clicks"),
        "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"), col("asof_ts").cast("string").as("m"))
      .orderBy(col("event_id"))
      .collect()
      .map(r => Seq(r.get(0), r.get(1), if (r.isNullAt(2)) "NULL" else r.getString(2))
        .mkString("\t"))
    assert(out.tail == viaScala.toSeq,
      s"sql TVF result differs from Joins.asofJoinNative " +
        s"(${out.tail.take(2)} vs ${viaScala.take(2).toSeq})")
    assert(out.tail.nonEmpty)
    // and the physical plan really is the custom exec
    val plan = spark.sql(
      "SELECT * FROM asof_join('x10_purchases', 'x10_clicks', 'user_id', 'ts', 'ts')")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"expected AsOfJoinExec in:\n$plan")
  }

  test("sql subcommand reaches the interval join via the interval_join TVF (X10)") {
    import org.apache.spark.sql.functions._
    spark.sparkContext.setLogLevel("WARN")
    val ev = graft.tables.Tables.load(spark, sfDir, "events")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        (col("ts") - expr("INTERVAL 2 DAYS")).as("lo"), col("ts").as("hi"))
      .createOrReplaceTempView("x10_windows")
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .createOrReplaceTempView("x10_cl")
    val out = cli("graft.GraftPipelines", "sql", "--limit", "1000000",
      "SELECT p_event, CAST(c_ts AS STRING) AS c FROM " +
        "interval_join('x10_windows', 'x10_cl', 'p_user', 'c_user', 'lo', 'hi', 'c_ts') " +
        "ORDER BY p_event, c")
    assert(out.head == "p_event\tc", out.take(2).mkString("|"))
    val viaScala = graft.operators.Joins.intervalJoinNative(
        spark.table("x10_windows"), spark.table("x10_cl"),
        "p_user", "c_user", "lo", "hi", "c_ts")
      .select(col("p_event"), col("c_ts").cast("string").as("c"))
      .orderBy(col("p_event"), col("c"))
      .collect()
      .map(r => s"${r.get(0)}\t${r.getString(1)}")
    assert(out.tail == viaScala.toSeq && out.tail.nonEmpty,
      s"sql TVF result differs from Joins.intervalJoinNative (n=${out.tail.size} vs ${viaScala.length})")
  }

  test("X10 TVF error surface: wrong arity, non-literal arg, missing table all fail loudly") {
    // The SQL surface is user-facing; the happy path alone leaves the
    // error contract unpinned. Each failure mode must carry the
    // argument-level message strArg/require raise, not a generic
    // resolution error.
    import org.apache.spark.sql.functions._
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    graft.tables.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts"))
      .createOrReplaceTempView("x10_neg_ev")

    def messageOf(sql: String): String = {
      val e = intercept[Throwable](spark.sql(sql).collect())
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    }

    // arity: too few args
    assert(messageOf("SELECT * FROM asof_join('x10_neg_ev', 'x10_neg_ev')")
      .contains("asof_join takes 5 to 7 arguments, got 2"))
    assert(messageOf(
      "SELECT * FROM interval_join('x10_neg_ev', 'x10_neg_ev', 'user_id')")
      .contains("interval_join takes 7 to 10 arguments, got 3"))
    // non-literal argument where a string literal is required
    assert(messageOf(
      "SELECT * FROM asof_join('x10_neg_ev', 'x10_neg_ev', upper('user_id'), 'ts', 'ts')")
      .contains("argument 3 (key column) must be a string literal"))
    // boolean-literal slot fed a string
    assert(messageOf(
      "SELECT * FROM interval_join('x10_neg_ev', 'x10_neg_ev', 'user_id', 'user_id', " +
        "'ts', 'ts', 'ts', 'inner', 'yes')")
      .contains("argument 9 (lower_inclusive) must be a boolean literal"))
    // missing table name
    val missing = messageOf(
      "SELECT * FROM asof_join('x10_no_such_table', 'x10_neg_ev', 'user_id', 'ts', 'ts')")
    assert(missing.contains("x10_no_such_table"),
      s"missing-table error must name the table, got: $missing")
  }

  test("sql subcommand prints NULL and array cells readably") {
    val out = cli("graft.GraftPipelines", "sql",
      "SELECT CAST(NULL AS INT) AS a, array(1, 2) AS b")
    assert(out == Seq("a\tb", "NULL\t[1,2]"), out.mkString("|"))
  }

  test("index admin: tombstone + compact + pin + versions drive a real band layout") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tempDir("graft-cli-idx").toString
    val docs = (0L until 40L).map(i =>
      (i, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.writeBandIndex(docs, "doc_id", "text", dir)

    // tombstone two docs from a shell, then compact — the probe must
    // no longer see them
    assert(cli("graft.GraftPipelines", "index", "tombstone",
      "-k", "band", "-p", dir, "--ids", "7, 11").last == "ok")
    assert(cli("graft.GraftPipelines", "index", "compact",
      "-k", "band", "-p", dir, "--keep", "2").last == "ok")
    val left = graft.operators.Dedup.readBandIndex(spark, dir)
      .select(col("doc_id")).distinct().as[Long].collect().toSet
    assert(!left.contains(7L) && !left.contains(11L) && left.contains(8L),
      s"tombstoned docs survived the CLI compact: $left")

    // versions: compact published v00002; pin records it
    val versions = cli("graft.GraftPipelines", "index", "versions", "-p", dir)
    assert(versions.exists(_.endsWith("CURRENT")), s"got $versions")
    val pinOut = cli("graft.GraftPipelines", "index", "pin", "-p", dir, "release-a")
    assert(pinOut.last.startsWith("pinned release-a = v"), s"got $pinOut")
    val pinned = graft.operators.IndexLayout.readMeta(spark, s"$dir/pins", "release-a")
    assert(pinned.isDefined && versions.exists(_.startsWith(pinned.get)),
      s"pin file wrong: $pinned vs $versions")

    // error surface: missing -p, unknown kind, gram tombstone guidance
    assert(intercept[GraftException](
      cli("graft.GraftPipelines", "index", "compact", "-k", "band")).getMessage
      .contains("missing -p"))
    assert(intercept[GraftException](
      cli("graft.GraftPipelines", "index", "compact", "-k", "nope", "-p", dir))
      .getMessage.contains("nope"))
    assert(intercept[GraftException](
      cli("graft.GraftPipelines", "index", "tombstone", "-k", "gram", "-p", dir,
        "--ids", "1")).getMessage.contains("takedown"))
  }

  test("index versions lists an ANN index's one epoch at its root") {
    val dir = tempDir("graft-cli-ann").toString
    graft.operators.VectorIndex.writeAnnIndex(graft.tables.Tables.load(spark, sfDir, "embeddings"),
      "vec_id", "embedding", dir)
    assert(cli("graft.GraftPipelines", "index", "versions", "-p", dir) == Seq("v00001  CURRENT"))
  }

  test("run with json config overrides route params") {
    val cfg = tempDir("graft-cfg").resolve("cfg.json")
    java.nio.file.Files.writeString(cfg,
      """{"query.{name}": {"dir": "/root/testdata/sf0.001"}}""")
    val out = cli("graft.GraftPipelines", "run", "-n", "default",
      "-c", cfg.toString, "-s", "count.q10_union")
    assert(out.nonEmpty && out.last.toLong > 0)
  }

  test("run with toml config (reference ml-flow-params shape)") {
    val cfg = tempDir("graft-cfg").resolve("cfg.toml")
    java.nio.file.Files.writeString(cfg,
      """# Override params for query route
        |[query.{name}]
        |dir = "/root/testdata/sf0.001"
        |""".stripMargin)
    val out = cli("graft.GraftPipelines", "run", "-n", "default",
      "-c", cfg.toString, "-s", "count.q09_distinct")
    assert(out.nonEmpty && out.last.toLong > 0)
  }

  test("toml parser handles scalars and comments") {
    val cfg = tempDir("graft-toml").resolve("cfg.toml")
    java.nio.file.Files.writeString(cfg,
      """[dataset-first]
        |n_features = 5  # comment
        |rate = 0.25
        |label = "spam"
        |flag = true
        |""".stripMargin)
    val m = Cli.loadConfig(cfg.toString)
    val sec = m("dataset-first").asInstanceOf[Map[String, Any]]
    assert(sec == Map("n_features" -> 5L, "rate" -> 0.25, "label" -> "spam", "flag" -> true))
  }

  test("unknown workflow reports error") {
    val out = cli("graft.GraftPipelines", "validate", "-n", "nope")
    assert(out.exists(_.startsWith("Error: workflow 'nope' not found")))
  }

  test("-v raises log level to INFO, -vv to DEBUG (cli.py:136-138)") {
    val logs = ArrayBuffer[String]()
    val (oldLevel, oldSink) = (Log.level, Log.sink)
    try {
      Log.sink = logs += _
      cli("graft.GraftPipelines", "version")
      assert(Log.level == 0 && logs.isEmpty)
      cli("graft.GraftPipelines", "version", "-v")
      assert(Log.level == 1 && logs.exists(_.startsWith("INFO cli:")))
      logs.clear()
      cli("graft.GraftPipelines", "version", "-vv")
      assert(Log.level == 2)
      cli("graft.GraftPipelines", "version", "-v", "--verbose")
      assert(Log.level == 2)
    } finally { Log.level = oldLevel; Log.sink = oldSink }
  }

  test("a run target equal to a flag value is not dropped") {
    // `run -n default default.echo` used to drop the target when its
    // string appeared as any flag's value; positional parsing keeps it
    Workflow.get("cli-echo").getOrElse {
      val w = new Workflow("cli-echo")
      w.provide("cli-echo") { _ => "it-ran" }
      w
    }
    val out = cli("graft.GraftPipelines", "run", "-n", "cli-echo", "-s", "cli-echo")
    assert(out.lastOption.contains("it-ran"))
  }
}
