package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's custom expressions as SQL
  * functions, so `spark.sql("SELECT cosine_sim(a, b) ...")` works:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineSim)
    ext.injectFunction(GraftExtensions.polyHash)
    ext.injectFunction(GraftExtensions.wordShinglesFn)
    ext.injectFunction(GraftExtensions.minhashHexFn)
    ext.injectFunction(GraftExtensions.bpeCountFn)
    ext.injectFunction(GraftExtensions.bpeEncodeFn)
    ext.injectFunction(GraftExtensions.bpeDecodeFn)
    ext.injectFunction(GraftExtensions.nibbleHistogramFn)
    ext.injectFunction(GraftExtensions.rasterBodyGramsFn)
    ext.injectFunction(GraftExtensions.avgHash60Fn)
    ext.injectFunction(GraftExtensions.signPack60Fn)
    ext.injectFunction(GraftExtensions.charsetDecodeFn)
    ext.injectFunction(GraftExtensions.charsetEncodeFn)
    ext.injectFunction(GraftExtensions.charsetKnownFn)
    ext.injectFunction(GraftExtensions.robotsRulesFn)
    ext.injectFunction(GraftExtensions.robotsAllowedFn)
    ext.injectFunction(GraftExtensions.canonicalUrlFn)
    ext.injectFunction(GraftExtensions.urlHostFn)
    ext.injectFunction(GraftExtensions.registrableDomainFn)
    ext.injectFunction(GraftExtensions.resolveUrlFn)
    ext.injectFunction(GraftExtensions.sniffMimeFn)
    // whole-operator path: plans graft.plans.AsOfJoin logical nodes
    // (Joins.asofJoinNative also self-registers per-session)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinLimitPushdown)
    // (Joins.intervalJoinNative also self-registers per-session)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
    // X10: SQL syntax for the native join tier — asof_join(...) /
    // interval_join(...) table-valued functions over named tables
    graft.plans.SqlJoinFunctions.all.foreach(ext.injectTableFunction)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  val cosineSim: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays"),
    (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))
  )

  val polyHash: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("poly_hash"),
    info("poly_hash", "poly_hash(str) - rolling polynomial hash (base 131, mod 1e9+7)"),
    (children: Seq[Expression]) => RollingPolyHash(children.head)
  )

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val wordShinglesFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_shingles"),
    info("word_shingles", "word_shingles(text, n) - distinct word n-grams in one codegen pass"),
    (children: Seq[Expression]) =>
      WordShingles(children.head, intLit(children(1), "n"), distinct = true)
  )

  val minhashHexFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_hex"),
    info("minhash_hex", "minhash_hex(shingles, perms) - all permutation minima in one traversal"),
    (children: Seq[Expression]) =>
      MinHashHex(children.head, intLit(children(1), "perms"))
  )

  val bpeCountFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bpe_count"),
    info("bpe_count", "bpe_count(text) - embedded merge-table BPE token count"),
    (children: Seq[Expression]) => BpeCount(children.head)
  )

  val bpeEncodeFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bpe_encode"),
    info("bpe_encode", "bpe_encode(text) - embedded merge-table BPE token-ID array (X15)"),
    (children: Seq[Expression]) => BpeEncode(children.head)
  )

  val bpeDecodeFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bpe_decode"),
    info("bpe_decode", "bpe_decode(ids) - text decoded from a BPE token-ID array (X16)"),
    (children: Seq[Expression]) => BpeDecode(children.head)
  )

  val nibbleHistogramFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nibble_histogram"),
    info("nibble_histogram", "nibble_histogram(bin) - 16-bin high-nibble histogram of a binary column"),
    (children: Seq[Expression]) => NibbleHistogram(children.head)
  )

  val rasterBodyGramsFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("raster_body_grams"),
    info("raster_body_grams",
      "raster_body_grams(bin, width) - struct(format, distinct body byte-gram hex strings) via the structural header walk"),
    (children: Seq[Expression]) =>
      RasterBodyGrams(children.head, intLit(children(1), "width"))
  )

  val avgHash60Fn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("avg_hash60"),
    info("avg_hash60",
      "avg_hash60(bin) - struct(format, 60-bit body average-hash) via the structural header walk"),
    (children: Seq[Expression]) => AvgHash60(children.head)
  )

  val signPack60Fn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("sign_pack60"),
    info("sign_pack60",
      "sign_pack60(embedding) - 60-bit sign sketch of a float array (binary quantization)"),
    (children: Seq[Expression]) => SignPack60(children.head)
  )

  val charsetDecodeFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("charset_decode"),
    info("charset_decode",
      "charset_decode(bin, label) - bytes decoded via a web charset label (unknown label falls back to UTF-8) (X18)"),
    (children: Seq[Expression]) => CharsetDecode(children(0), children(1))
  )

  val charsetEncodeFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("charset_encode"),
    info("charset_encode",
      "charset_encode(text, label) - text encoded into a labeled charset's bytes (X19)"),
    (children: Seq[Expression]) => CharsetEncode(children(0), children(1))
  )

  val charsetKnownFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("charset_known"),
    info("charset_known",
      "charset_known(label) - whether the charset label resolves to a JVM charset"),
    (children: Seq[Expression]) => CharsetKnown(children.head)
  )

  val robotsRulesFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("robots_rules"),
    info("robots_rules",
      "robots_rules(txt, agent) - RFC 9309 group for the agent as struct(allow, disallow) (X20)"),
    (children: Seq[Expression]) => RobotsRulesExpr(children(0), children(1))
  )

  val robotsAllowedFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("robots_allowed"),
    info("robots_allowed",
      "robots_allowed(path, allow, disallow) - RFC 9309 longest-match decision (X21)"),
    (children: Seq[Expression]) => RobotsAllowed(children(0), children(1), children(2))
  )

  val canonicalUrlFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("canonical_url"),
    info("canonical_url",
      "canonical_url(url) - one-pass crawl-dedup URL normalization (X22)"),
    (children: Seq[Expression]) => CanonicalUrl(children.head)
  )

  val urlHostFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("url_host"),
    info("url_host", "url_host(url) - lowercased, FQDN-dot-stripped URL host (X23)"),
    (children: Seq[Expression]) => UrlHost(children.head)
  )

  val registrableDomainFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("registrable_domain"),
    info("registrable_domain",
      "registrable_domain(host) - public-suffix-list eTLD+1 reduction (X24)"),
    (children: Seq[Expression]) => RegistrableDomain(children.head)
  )

  val resolveUrlFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("resolve_url"),
    info("resolve_url",
      "resolve_url(base, href) - href resolved against its page URL, RFC 3986 (X25)"),
    (children: Seq[Expression]) => ResolveUrl(children(0), children(1))
  )

  val sniffMimeFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("sniff_mime"),
    info("sniff_mime",
      "sniff_mime(payload) - magic-byte MIME detection over a binary payload (X26)"),
    (children: Seq[Expression]) => MimeSniff(children.head)
  )

  /** Register on an existing session (tests / REPL convenience) —
    * scalar functions AND the X10 table-valued join functions (a
    * getOrCreate that joined a pre-existing session never saw the
    * extensions config, so Cli `sql` calls this explicitly).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Seq(cosineSim, polyHash, wordShinglesFn, minhashHexFn, bpeCountFn,
      bpeEncodeFn, bpeDecodeFn,
      nibbleHistogramFn, rasterBodyGramsFn, avgHash60Fn, signPack60Fn,
      charsetDecodeFn, charsetEncodeFn, charsetKnownFn,
      robotsRulesFn, robotsAllowedFn,
      canonicalUrlFn, urlHostFn, registrableDomainFn,
      resolveUrlFn, sniffMimeFn).foreach { case (id, inf, builder) =>
      reg.registerFunction(id, inf, builder)
    }
    val treg = spark.sessionState.tableFunctionRegistry
    graft.plans.SqlJoinFunctions.all.foreach { case (id, inf, builder) =>
      treg.registerFunction(id, inf, builder)
    }
  }
}
