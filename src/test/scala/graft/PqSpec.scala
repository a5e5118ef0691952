package graft

import graft.ops.VectorIndex
import graft.queries.Registry

/** Product-quantization accountability: the PQ+re-rank search keeps a
  * measured recall floor vs exact top-k, the trained codebooks have the
  * shape the ADC math assumes, and every vector encodes to valid codes.
  */
class PqSpec extends SparkSpec {

  test("PQ recall@10 vs brute force stays above the floor") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val row = Registry.queries("ann_pq_recall")(spark, s"/root/testdata/$sf")
        .collect().head
      val recall = row.getAs[Double]("recall_at_k")
      assert(recall >= 0.6, s"recall@10 = $recall at $sf — below the 0.6 floor")
    }
  }

  test("IVF-PQ recall@10 vs brute force stays above the floor") {
    // the composed index can only lose MORE than flat PQ (probe misses
    // stack on quantization error), so its floor is its own gate
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val row = Registry.queries("ann_ivfpq_recall")(spark, s"/root/testdata/$sf")
        .collect().head
      val recall = row.getAs[Double]("recall_at_k")
      assert(recall >= 0.5, s"IVF-PQ recall@10 = $recall at $sf — below 0.5")
    }
  }

  test("IVF-PQ top-k is a subset of flat-PQ's probe-free universe") {
    // composition only PRUNES: anything IVF-PQ returns must also rank
    // by the same exact cosine, and its ids must exclude the query
    val dir = "/root/testdata/sf0.001"
    val rows = Registry.queries("ann_ivfpq_topk")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.forall(_.getLong(0) != 0L))
    val cos = rows.map(_.getAs[Double]("cos")).toSeq
    assert(cos == cos.sortBy(-_), "top-k must be cosine-descending")
  }

  test("trained books: <=K codewords per subspace, SubDim dims each, cid-ascending") {
    val books = VectorIndex.pqIndex(spark, "/root/testdata/sf0.001").books
    assert(books.length == 4)
    books.foreach { book =>
      assert(book.nonEmpty && book.length <= 8)
      assert(book.map(_._1).toSeq == book.map(_._1).toSeq.sorted)
      book.foreach { case (cid, cw) =>
        assert(cid >= 0 && cid < 8)
        assert(cw.length == 16)
      }
    }
  }

  test("every vector encodes: M codes, each a cid of its subspace book") {
    val dir = "/root/testdata/sf0.001"
    val books = VectorIndex.pqIndex(spark, dir).books
    val valid = books.map(_.map(_._1).toSet)
    // dedup_pq_codes emits every vector: vec_id, then code_0..code_3
    val rows = Registry.queries("dedup_pq_codes")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.length == spark.read.parquet(s"$dir/embeddings.parquet").count())
    rows.foreach { r =>
      for (m <- 0 until 4) {
        val c = r.getInt(1 + m)
        assert(valid(m).contains(c), s"vec ${r.getLong(0)} subspace $m code $c")
      }
    }
  }

  test("dedup_pq_codes: exactly one keeper per code group, the min vec_id") {
    val rows = graft.queries.PqQueries.queries
      .find(_.name == "dedup_pq_codes").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val byGroup = rows.groupBy(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    byGroup.values.foreach { g =>
      assert(g.forall(_.getLong(5) == g.length), "group_n must equal group size")
      val keepers = g.filter(_.getBoolean(6))
      assert(keepers.length == 1)
      assert(keepers.head.getLong(0) == g.map(_.getLong(0)).min)
    }
  }

  test("index trains once per (session, dir)") {
    val dir = "/root/testdata/sf0.001"
    val a = VectorIndex.pqIndex(spark, dir)
    val b = VectorIndex.pqIndex(spark, dir)
    assert(a eq b, "trained index must be memoized per (session, dir)")
  }
}
