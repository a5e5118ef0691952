package graft

import org.apache.spark.sql.functions._

import graft.plans.PostingExpressions

/** Pins the r20 map-side posting kernel: `term_counts(text)` must
  * reproduce EXACTLY the (doc_id, term, tf) set that
  * `explode(split(text, " ")) … groupBy(doc_id, term).count()`
  * produces — including Spark's keep-empty-token split semantics — and
  * the per-row dl (token count) must equal the old per-doc sum(tf).
  */
class PostingExpressionsSpec extends SparkSpec {

  test("term_counts matches explode+groupBy on edge-case texts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a c a b"),
      (2L, ""), // one empty token
      (3L, " leading and  double  spaces "), // empty tokens kept
      (4L, "solo"),
      (5L, "répé répé 中文 😀 中文"),
      (6L, "x " * 2000 + "y") // long doc, trailing token
    ).toDF("doc_id", "text")
    val old = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    val neu = docs
      .select($"doc_id",
        explode(PostingExpressions.termCounts($"text")).as("tc"))
      .select($"doc_id", $"tc.term", $"tc.tf")
      .as[(Long, String, Long)].collect().toSet
    assert(neu === old)
    // dl identity: token count == sum(tf)
    val dlOld = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      .as[(Long, Long)].collect().toSet
    val dlNew = docs
      .select($"doc_id", size(split($"text", " ")).cast("long").as("dl"))
      .as[(Long, Long)].collect().toSet
    assert(dlNew === dlOld)
  }

  test("null text yields null (row dropped by explode), like split") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, null)).toDF("doc_id", "text")
    val n = docs
      .select($"doc_id",
        explode(PostingExpressions.termCounts($"text")).as("tc"))
      .count()
    assert(n === 2L) // only doc 1's two terms
  }

  test("the SQL surface plans the same expression") {
    val r = spark.sql("SELECT term_counts('a b a') AS tc").collect().head
    val arr = r.getSeq[org.apache.spark.sql.Row](0)
    assert(arr.map(x => (x.getString(0), x.getLong(1))) ===
      Seq(("a", 2L), ("b", 1L)))
  }
}
