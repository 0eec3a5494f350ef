package graft.operators

import graft.SparkTestBase
import org.apache.spark.storage.StorageLevel

/** The trained-quantizer operators cache the quantized corpus for the
  * length of one call ([[Clustering.withQuantized]]) and release it on
  * every exit path — also when training raises. Each case raises after
  * the cache was taken and then checks that the quantized frame of its
  * input is no longer cached. The input is a local relation of this
  * spec only, so concurrently running suites cannot hold the entry.
  */
class QuantizerCacheSpec extends SparkTestBase {

  private lazy val vecs = {
    import spark.implicits._
    (1 to 16).map(i => (i.toLong, Array.tabulate(64)(j => ((i * 31 + j * 7) % 13).toFloat)))
      .toDF("qc_id", "qc_vec")
  }

  private def assertReleased(): Unit =
    assert(Clustering.quantizedVecs(vecs, "qc_id", "qc_vec").storageLevel == StorageLevel.NONE,
      "the quantized corpus is still cached after the call raised")

  test("kmeansAssign(iters = 0) raises and releases the quantized corpus") {
    intercept[IllegalArgumentException](
      Clustering.kmeansAssign(vecs, "qc_id", "qc_vec", k = 4, iters = 0))
    assertReleased()
  }

  test("pqCodebooks(m = 3) over 64 dims raises and releases the quantized corpus") {
    intercept[IllegalArgumentException](
      Clustering.pqCodebooks(vecs, "qc_id", "qc_vec", m = 3, k = 4))
    assertReleased()
  }

  test("writeAnnIndex(m = 3) raises and releases the quantized corpus") {
    val dir = tempDir("graft-quantizer-cache").toString
    intercept[IllegalArgumentException](
      VectorIndex.writeAnnIndex(vecs, "qc_id", "qc_vec", s"$dir/ann", k = 4, m = 3))
    assertReleased()
  }

  test("a successful kmeansAssign leaves nothing cached and a materialized result") {
    val out = Clustering.kmeansAssign(vecs, "qc_id", "qc_vec", k = 4, iters = 2)
    assertReleased()
    assert(out.count() == 16L)
  }
}
