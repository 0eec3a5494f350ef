package graft.core

import scala.jdk.CollectionConverters._

/** Command-line equivalent of the reference CLI
  * (/root/reference/interlinked/cli.py): run / validate / deps /
  * version against a registered workflow.
  *
  * Usage:
  *   Cli <loaderClass> version
  *   Cli <loaderClass> validate -n <workflow>
  *   Cli <loaderClass> deps -n <workflow>
  *   Cli <loaderClass> run -n <workflow> [-c config.json] [-s] target...
  *   Cli <loaderClass> sql [-d dataDir] [--limit N] query...
  *   Cli <loaderClass> index versions|pin|gc|compact|tombstone|takedown
  *       -p <path> [-k band|ann|lex|gram|perceptual|frame]
  *       [--ids 1,2,3] [--keep N] [--docs pq] [--takedown-id N]
  *
  * `sql` is the last mile of the X4 registration: it opens (or joins)
  * a Spark session with ALL graft custom expressions registered
  * (cosine_sim, poly_hash, word_shingles, minhash_hex, bpe_count,
  * nibble_histogram — graft.functions.GraftExtensions), registers
  * each parquet table under `dataDir` as a temp view, and prints each
  * query's result as TSV (header + at most N rows, default 20).
  *
  * `loaderClass` is a Scala object (e.g. `graft.GraftPipelines$`)
  * whose static init registers workflows — the analogue of the
  * reference's SourceFileLoader import side effects.
  */
object Cli {
  val version = "0.1.0"

  def main(args: Array[String]): Unit = run(args, println(_))

  def run(args: Array[String], out: String => Unit): Unit = {
    if (args.length < 2) {
      out("usage: Cli <loaderClass> <version|validate|deps|run|sql|index> " +
        "[-v|-vv] [-n wkf] [-c cfg.json] [-s] [-d dir] [-p path] [-k kind] targets...")
      return
    }
    val loader = args(0)
    val command = args(1)
    val rest = args.drop(2)

    // Force object initialization so its workflows register. A Scala
    // object's registration code lives in the '$' module class static
    // init — loading only the mirror class would not run it.
    val loaded = Seq(loader + "$", loader).exists { cn =>
      try { Class.forName(cn, true, getClass.getClassLoader); true }
      catch { case _: ClassNotFoundException => false }
    }
    if (!loaded) out(s"warning: loader class '$loader' not found")

    // Left-to-right parse consuming flag+value pairs — a positional
    // target that happens to EQUAL a flag's value (`run -n foo foo`)
    // stays a target (the old value-membership filter dropped it).
    var wkfName = "default"
    var cfgPath: Option[String] = None
    var dataDir: Option[String] = None
    var idxPath: Option[String] = None
    var idxKind: Option[String] = None
    var idsArg: Option[String] = None
    var docsArg: Option[String] = None
    var takedownId: Option[Long] = None
    var keep = 1
    var limit = 20
    var show = false
    var verbose = 0
    val targets = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < rest.length) {
      rest(i) match {
        case "-n" | "--name" if i + 1 < rest.length => wkfName = rest(i + 1); i += 2
        case "-c" | "--config" if i + 1 < rest.length => cfgPath = Some(rest(i + 1)); i += 2
        case "-d" | "--data" if i + 1 < rest.length => dataDir = Some(rest(i + 1)); i += 2
        case "-p" | "--path" if i + 1 < rest.length => idxPath = Some(rest(i + 1)); i += 2
        case "-k" | "--kind" if i + 1 < rest.length => idxKind = Some(rest(i + 1)); i += 2
        case "--ids" if i + 1 < rest.length => idsArg = Some(rest(i + 1)); i += 2
        case "--docs" if i + 1 < rest.length => docsArg = Some(rest(i + 1)); i += 2
        case "--takedown-id" if i + 1 < rest.length => takedownId = Some(rest(i + 1).toLong); i += 2
        case "--keep" if i + 1 < rest.length => keep = rest(i + 1).toInt; i += 2
        case "--limit" if i + 1 < rest.length => limit = rest(i + 1).toInt; i += 2
        case "-s" | "--show" => show = true; i += 1
        case "-v" | "--verbose" => verbose += 1; i += 1
        case "-vv" => verbose += 2; i += 1
        case t => targets += t; i += 1
      }
    }
    // -v => INFO, -vv => DEBUG (reference cli.py:108-110,136-138)
    Log.level = verbose
    Log.info(s"cli: loader=$loader command=$command workflow=$wkfName")

    def wkf: Workflow = Workflow.get(wkfName).getOrElse {
      out(s"Error: workflow '$wkfName' not found"); throw new RouteNotFound(wkfName)
    }

    command match {
      case "version" => out(version)

      case "validate" =>
        try { wkf.validate(); out("ok") }
        catch { case e: GraftException => out("Error: " + e.getMessage) }

      case "deps" =>
        val d = wkf.deps()
        val children = d.values.flatten.toSet
        val roots = d.keySet -- children
        def walk(node: String, indent: String): Unit = {
          out(indent + node)
          d.getOrElse(node, Seq.empty).sorted.foreach(walk(_, indent + "  "))
        }
        roots.toSeq.sorted.foreach(walk(_, ""))

      case "run" =>
        // anonymous (unregistered) clone: repeated CLI runs with -c
        // must not collide in the workflow registry
        val base = cfgPath.map(loadConfig)
          .fold(wkf)(cfg => wkf.cloneWorkflow(name = "", config = Some(cfg)))
        targets.foreach { t =>
          Log.debug(s"cli: running target '$t'")
          val res = base.run(t)
          if (show) out(String.valueOf(res))
        }

      case "sql" =>
        val spark = sparkSession()
        dataDir.foreach { dir =>
          graft.tables.Tables.names.foreach { t =>
            graft.tables.Tables.load(spark, dir, t).createOrReplaceTempView(t)
          }
        }
        targets.foreach { q =>
          Log.debug(s"cli: running sql '$q'")
          val df = spark.sql(q)
          out(df.columns.mkString("\t"))
          df.limit(limit).collect().foreach { r =>
            out(r.toSeq.map {
              case null => "NULL"
              case a: Array[_] => a.mkString("[", ",", "]")
              case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
              case v => String.valueOf(v)
            }.mkString("\t"))
          }
        }

      // index lifecycle administration (O30-managed layouts): what an
      // operator on call needs from a shell — until round 16 these
      // were Scala-API-only.
      //   index versions  -p PATH
      //   index pin       -p PATH [name]
      //   index gc        -p PATH [--keep N]       (one versioned root)
      //   index compact   -k KIND -p PATH [--keep N]
      //   index tombstone -k KIND -p PATH --ids 1,2,3
      //   index takedown  -p PATH --docs PARQUET --takedown-id N  (gram)
      // KIND ∈ band | ann | lex | gram | perceptual | frame
      case "index" =>
        import graft.operators.{Dedup, GramIndex, IndexLayout, LexIndex, Multimodal, VectorIndex}
        val sub = targets.headOption.getOrElse("")
        def p: String = idxPath.getOrElse {
          out("Error: index commands need -p <path>")
          throw new InvalidValue("index: missing -p")
        }
        def kind: String = idxKind.getOrElse {
          out("Error: this index command needs -k <band|ann|lex|gram|perceptual|frame>")
          throw new InvalidValue("index: missing -k")
        }
        val spark = sparkSession()
        def idsDf = {
          val ids = idsArg.getOrElse {
            out("Error: tombstone needs --ids id1,id2,...")
            throw new InvalidValue("index: missing --ids")
          }.split(",").map(_.trim.toLong).toSeq
          import spark.implicits._
          ids.toDF("id")
        }
        sub match {
          case "versions" =>
            val cur = IndexLayout.currentVersion(spark, p)
            IndexLayout.listVersions(spark, p).foreach { v =>
              out(if (cur.contains(v)) s"$v  CURRENT" else v)
            }
          case "pin" =>
            val name = targets.drop(1).headOption.getOrElse("pin")
            val v = IndexLayout.currentVersion(spark, p).getOrElse {
              out(s"Error: no published version under $p")
              throw new InvalidValue(s"index pin: $p has no _CURRENT")
            }
            IndexLayout.writeMeta(spark, s"$p/pins", name, v)
            out(s"pinned $name = $v")
          case "gc" =>
            IndexLayout.gcVersions(spark, p, keep)
            out("ok")
          case "compact" =>
            kind match {
              case "band" => Dedup.compactBandIndex(spark, p, keep)
              case "ann" => VectorIndex.compactAnnIndex(spark, p, keep)
              case "lex" => LexIndex.compactLexIndex(spark, p)
              case "gram" => GramIndex.compactGramIndex(spark, p)
              case "perceptual" => Multimodal.compactPerceptualIndex(spark, p, keep)
              case "frame" => Multimodal.compactFrameIndex(spark, p, keep)
              case k =>
                out(s"Error: unknown index kind '$k'")
                throw new InvalidValue(s"index compact: kind $k")
            }
            out("ok")
          case "tombstone" =>
            kind match {
              case "band" => Dedup.tombstoneBandIndex(idsDf, "id", p)
              case "ann" => VectorIndex.tombstoneAnnIndex(idsDf, "id", p)
              case "lex" => LexIndex.tombstoneLexIndex(idsDf, "id", p)
              case "perceptual" => Multimodal.tombstonePerceptualIndex(idsDf, "id", p)
              case "frame" => Multimodal.tombstoneFrameIndex(idsDf, "id", p)
              case "gram" =>
                out("Error: the gram index is count-based — use " +
                  "'index takedown -p PATH --docs <parquet> --takedown-id N' " +
                  "(deltas need the documents' text, not ids)")
                throw new InvalidValue("index tombstone: gram needs takedown")
              case k =>
                out(s"Error: unknown index kind '$k'")
                throw new InvalidValue(s"index tombstone: kind $k")
            }
            out("ok")
          case "takedown" =>
            val docs = docsArg.getOrElse {
              out("Error: takedown needs --docs <parquet of (doc_id, text)>")
              throw new InvalidValue("index takedown: missing --docs")
            }
            val tid = takedownId.getOrElse {
              out("Error: takedown needs --takedown-id N (the replay ledger key)")
              throw new InvalidValue("index takedown: missing --takedown-id")
            }
            GramIndex.takedownGramIndex(spark.read.parquet(docs), p, tid)
            out("ok")
          case other =>
            out(s"Unknown index subcommand '$other' " +
              "(versions|pin|gc|compact|tombstone|takedown)")
        }

      case other => out(s"Unknown command '$other'")
    }
  }

  /** One shared session for `sql` and `index`: getOrCreate — inside
    * an existing session (tests, notebooks) the extensions config is
    * ignored, so the function surface is ALSO registered explicitly
    * (register() is idempotent).
    */
  private def sparkSession(): org.apache.spark.sql.SparkSession = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .appName("graft-cli")
      .master(sys.props.getOrElse("spark.master", "local[*]"))
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.GraftExtensions.register(spark)
    spark
  }

  /** Config loader: .json via jackson (ships with Spark) or .toml via
    * a minimal parser covering the reference's config shape
    * (cli.py:34-45 supports both; reference example:
    * examples/ml-flow-params.toml — [route] tables of scalars).
    */
  private[core] def loadConfig(path: String): Map[String, Any] =
    if (path.endsWith(".toml")) loadToml(path) else loadJson(path)

  private def loadToml(path: String): Map[String, Any] = {
    val lines = java.nio.file.Files.readAllLines(new java.io.File(path).toPath)
    val result = scala.collection.mutable.LinkedHashMap[String, Map[String, Any]]()
    var section: Option[String] = None
    val sectionRe = "^\\[(.+)\\]$".r
    val kvRe = "^([A-Za-z0-9_.{}:-]+)\\s*=\\s*(.+)$".r
    def parseValue(raw: String): Any = {
      val v = raw.trim
      if (v.startsWith("\"") && v.endsWith("\"")) v.substring(1, v.length - 1)
      else if (v == "true" || v == "false") v.toBoolean
      else if (v.matches("[-+]?[0-9]+")) v.toLong
      else if (v.matches("[-+]?[0-9]*\\.[0-9]+")) v.toDouble
      else v
    }
    lines.forEach { rawLine =>
      val line = rawLine.takeWhile(_ != '#').trim
      line match {
        case "" =>
        case sectionRe(name) =>
          section = Some(name.trim)
          result.getOrElseUpdate(name.trim, Map.empty)
        case kvRe(k, v) =>
          val sec = section.getOrElse(
            throw new InvalidValue(s"TOML key '$k' outside a [section] in $path"))
          result(sec) = result(sec) + (k.trim -> parseValue(v))
        case other =>
          throw new InvalidValue(s"Unsupported TOML line in $path: '$other'")
      }
    }
    result.toMap
  }

  private def loadJson(path: String): Map[String, Any] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, Object]])
    def conv(v: Any): Any = v match {
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, vv) => String.valueOf(k) -> conv(vv) }.toMap
      case l: java.util.List[_] => l.asScala.map(conv).toSeq
      case other                => other
    }
    conv(node).asInstanceOf[Map[String, Any]]
  }
}
