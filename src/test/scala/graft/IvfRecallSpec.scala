package graft

import graft.queries.Registry

/** ANN accountability: the trained-IVF search must keep a measured
  * recall floor against the exact brute-force top-k. nprobe=2 of 8
  * cells bounds how much of the space the probe skips; if codebook
  * training or cell assignment regresses, recall is the first number
  * to move.
  */
class IvfRecallSpec extends SparkSpec {

  test("trained IVF recall@5 vs brute force stays above the floor") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val row = Registry.queries("ann_ivf_recall")(spark, s"/root/testdata/$sf")
        .collect().head
      val recall = row.getAs[Double]("recall_at_k")
      assert(recall >= 0.6, s"recall@5 = $recall at $sf — below the 0.6 floor")
    }
  }

  test("int8 quantized recall@10 vs float brute force stays above the floor") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val row = Registry.queries("ann_int8_recall")(spark, s"/root/testdata/$sf")
        .collect().head
      val recall = row.getAs[Double]("recall_at_k")
      assert(recall >= 0.5, s"recall@10 = $recall at $sf — below the 0.5 floor")
    }
  }
}
