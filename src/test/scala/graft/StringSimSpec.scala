package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.plans.StringSimKernels

/** Jaro-Winkler kernel parity with the DuckDB oracle's
  * `jaro_winkler_similarity`. Every pinned value below was PROBED from
  * DuckDB (not derived from this implementation), so the kernel and the
  * oracle can only drift apart by failing this spec or the
  * `fuzzy_name_pairs` correctness gate.
  */
class StringSimSpec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    StringSimKernels.jaroWinkler(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("textbook vectors match DuckDB-probed values exactly") {
    // (a, b, duckdb jaro_winkler_similarity(a, b))
    val pinned = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111), // transposition pair
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("TRATE", "TRACE", 0.9066666666666667), // boost applied (jaro .867)
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("Customer#000000001", "Customer#00000OOO1", 0.9333333333333333),
      // ODD pairwise-mismatch count: transpositions floor to 1, not 1.5
      // (the case that separates the DuckDB/rapidfuzz convention from
      // the fractional-transposition variant)
      ("new widget", "old widget", 0.7523809523809524),
      // a char matched at EXACTLY window distance (window is inclusive)
      ("aqqqqq", "wwaqqq", 0.7777777777777777),
      // non-ASCII: DuckDB scores UTF-8 BYTES ('Müller' is 7 bytes), so
      // the kernel must too — a code-point comparison would give a
      // different window/length here
      ("Müller", "Muller", 0.8642857142857143),
      ("é", "e", 0.0))
    pinned.foreach { case (a, b, expect) =>
      assert(jw(a, b) == expect, s"jw($a, $b)")
      assert(jw(b, a) == expect, s"jw($b, $a) (symmetry)")
    }
  }

  test("prefix boost is gated at the 0.7 threshold like DuckDB's") {
    // both pairs share a prefix but sit below the boost threshold: the
    // probed values equal plain jaro (no boost), and must here too
    assert(jw("ABCDEFGH", "ABXYZQRSTUV") == 0.4772727272727273)
    assert(jw("aaaaaaaaaa", "aaaaabbbbbbbbbbbbbb") == 0.587719298245614)
  }

  test("degenerate inputs") {
    assert(jw("", "") == 1.0)
    assert(jw("a", "") == 0.0)
    assert(jw("a", "a") == 1.0)
    assert(jw("a", "b") == 0.0)
    assert(jw("ab", "ba") == 0.0) // window max(2,2)/2-1 = 0: no matches
  }

  test("jaro_winkler usable from plain SQL via GraftExtensions") {
    val r = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA') AS j").collect()(0)
    assert(r.getDouble(0) == 0.9611111111111111)
  }

  test("fuzzy_name_clusters: total over the domain, canonical forms closed") {
    val rows = graft.queries.Registry.queries("fuzzy_name_clusters")(
      spark, "/root/testdata/sf0.001").collect()
    val names = rows.map(_.getAs[String]("name")).toSet
    val canon = rows.map(_.getAs[String]("canonical_name")).toSet
    assert(rows.nonEmpty)
    assert(names.size == rows.length) // one row per distinct name
    assert(canon.subsetOf(names)) // representatives are real names
    // a canonical name maps to itself (idempotent canonicalization)
    val repOf = rows.map(r =>
      r.getAs[String]("name") -> r.getAs[String]("canonical_name")).toMap
    canon.foreach(c => assert(repOf(c) == c, s"canonical $c not a fixpoint"))
  }

  test("fuzzy_name_pairs: deterministic, blocked, and kernel-consistent") {
    val rows = graft.queries.Registry.queries("fuzzy_name_pairs")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[String]("name_a"); val b = r.getAs[String]("name_b")
      assert(a < b) // canonical pair orientation, no mirror duplicates
      // blocked on the last word
      assert(a.split(' ').last == b.split(' ').last)
      val expect = BigDecimal(jw(a, b)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("jw") - expect) < 1e-9)
      assert(r.getAs[Double]("jw") >= 0.75)
    }
  }
}
