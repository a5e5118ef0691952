package graft

import graft.ops.VectorIndex

/** The index decisions every IVF/PQ query shares, pinned on handmade
  * 2-dim vectors: tie-breaks of assignment, probe and L2 coding, and
  * the Lloyd update's empty-cell and rounding rules.
  */
class VectorIndexSpec extends SparkSpec {

  private def frame(rows: (Long, Array[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("assign: an exact cosine tie goes to the lower cid") {
    import spark.implicits._
    val cents: VectorIndex.Codebook = Array((2, Array(1f, 0f)), (7, Array(0f, 1f)))
    val got = frame((1L, Array(1f, 1f)), (2L, Array(0.5f, 2f)), (3L, Array(3f, 1f)))
      .select($"vec_id", VectorIndex.assign(cents))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 2, 2L -> 7, 3L -> 2))
  }

  test("probe: cells ordered by (cosine desc, cid asc), the first n taken") {
    val q = Array(1f, 0f)
    // the probe breaks ties by cid itself, whatever the codebook order
    val cents: VectorIndex.Codebook = Array(
      (3, Array(1f, 1f)), (0, Array(0f, 1f)), (2, Array(1f, 0f)),
      (1, Array(1f, 1f)), (4, Array(-1f, 0f)))
    assert(VectorIndex.probe(q, cents, 5) == Seq(2, 1, 3, 0, 4))
    assert(VectorIndex.probe(q, cents, 3) == Seq(2, 1, 3))
    assert(VectorIndex.probe(q, cents) == Seq(2, 1))
  }

  test("L2 code: a tie, also one made by 6-dp rounding, goes to the lower codeword") {
    import spark.implicits._
    val book: VectorIndex.Book = Array((4, Array(1.0, 0.0)), (9, Array(0.0, 1.0)))
    val got = Seq(
      (1L, Array(0.0, 0.0)),        // d² 1 vs 1
      (2L, Array(0.5, 0.5 + 1e-9)), // nearer 9 by 2e-9, equal at 6 dp
      (3L, Array(0.2, 0.9)))        // plainly nearer 9
      .toDF("id", "sub")
      .select($"id", VectorIndex.l2Code($"sub", book))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 4, 2L -> 4, 3L -> 9))
  }

  test("Lloyd step: a cell that attracts no member drops out") {
    val cents: VectorIndex.Codebook =
      Array((0, Array(1f, 0f)), (1, Array(0f, 1f)), (2, Array(-1f, 0f)))
    val trained = VectorIndex.lloydStep(
      frame((1L, Array(1f, 0.25f)), (2L, Array(0.25f, 1f)), (3L, Array(1f, 0.75f))),
      cents)
    assert(trained.map(_._1).toSeq == Seq(0, 1))
    assert(trained(0)._2.toSeq == Seq(1f, 0.5f))
    assert(trained(1)._2.toSeq == Seq(0.25f, 1f))
  }

  test("Lloyd step: a mean at an exact 6-dp half rounds HALF_UP") {
    // 1/128 = 0.0078125 exactly: HALF_UP gives 0.007813, HALF_EVEN 0.007812
    val cents: VectorIndex.Codebook = Array((0, Array(1f, 0f)), (1, Array(0f, 1f)))
    val trained = VectorIndex.lloydStep(
      frame((1L, Array(1f, 0.0078125f)), (2L, Array(0.0078125f, 1f))), cents)
    assert(trained(0)._2.toSeq == Seq(1f, 0.007813f))
    assert(trained(1)._2.toSeq == Seq(0.007813f, 1f))
  }
}
