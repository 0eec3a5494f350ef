package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Round-15 behaviors: the m10 scale path (hash60 frame keys and the
  * frame document-frequency cap).
  */
class Round15Spec extends SparkTestBase {
  import spark.implicits._

  // -----------------------------------------------------------------
  // m10 scale path: hash60 frame keys + frame document-frequency cap
  // -----------------------------------------------------------------

  test("m10 capped/hash60 form == exact raw-hex form on the spec corpus") {
    val pay = Multimodal.videoPayloads(spark, sfDir)
    val frames = Multimodal.decodeFrames(pay).toDF()
    // the pre-round-15 exact form: raw 100-char hex frame keys, no cap
    val rawKeyed = frames.join(pay, Seq("doc_id"))
      .select($"doc_id", upper(expr(
        "substring(hex(payload), cast(f_offset * 2 + 1 as int), cast(f_size * 2 as int))"))
        .as("fk"))
      .distinct()
    val exact = rawKeyed.select($"doc_id".as("vid_a"), $"fk")
      .join(rawKeyed.select($"doc_id".as("vid_b"), $"fk"), Seq("fk"))
      .where($"vid_a" < $"vid_b")
      .groupBy($"vid_a", $"vid_b").agg(count(lit(1)).as("n_shared"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = Multimodal.frameDupPairs(Multimodal.frameKeys(pay))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped == exact && capped.nonEmpty,
      s"capped/hash60 form diverged from exact (${capped.size} vs ${exact.size})")
  }

  test("frameDupPairs: a boilerplate frame shared by k videos is excluded, pair work bounded") {
    // adversarial black frame: ONE key held by 100 videos (uncapped
    // cost: 4,950 pairs); videos 1 and 2 also share a real frame
    val hot = (1L to 100L).map(v => (v, 999L))
    val real = Seq((1L, 1L), (2L, 1L))
    val keyed = (hot ++ real).toDF("doc_id", "fk")
    val pairs = Multimodal.frameDupPairs(keyed, dfCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the recall contract: the (1,2) pair still surfaces via its
    // non-boilerplate frame, n_shared counts ONLY that frame; the
    // 4,949 boilerplate-only pairs are gone
    assert(pairs == Set((1L, 2L, 1L)), s"got $pairs")
  }

  test("frameDupPairs: a frame at exactly dfCap still pairs; dfCap+1 does not") {
    val at = (1L to 5L).map(v => (v, 10L))     // df = 5 == cap
    val over = (1L to 6L).map(v => (v, 20L))   // df = 6 > cap
    val keyed = (at ++ over).toDF("doc_id", "fk")
    val pairs = Multimodal.frameDupPairs(keyed, dfCap = 5)
      .agg(count(lit(1)), sum($"n_shared")).collect()(0)
    assert(pairs.getLong(0) == 10L && pairs.getLong(1) == 10L, // C(5,2) pairs, all n_shared=1
      s"got $pairs")
  }
}
