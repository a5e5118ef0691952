package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql("... vec_cosine(a, b)
  * ...")` plans the same codegen'd expression as the Column API — and
  * injects the engine's two optimizer extensions:
  *
  *  - [[GlobalRowNumberRule]] + [[GlobalSeqIdStrategy]]: a global
  *    `row_number() OVER (ORDER BY …)` plans as the distributed
  *    two-pass range-exchange instead of a single-task funnel;
  *  - [[SnapshotBloomJoinRule]]: `fact JOIN small-dim` over a
  *    bloom-carrying snapshot scan with a plan-time dim prunes the
  *    fact's file list to the bloom survivors;
  *  - [[SnapshotRelationRule]]: a `format("snapshot")` V2 relation
  *    expands into [[graft.ops.SnapshotTable.readAt]]'s own logical
  *    plan, making the DSv2 read plan byte-identical to the Scala-API
  *    read (without it the connector's V1 fallback still answers
  *    correctly).
  *
  * The rules rewrite only their exact safe shapes and leave every
  * other plan untouched (near-misses log), so injecting them
  * session-wide is free. This class is the only way they get into a
  * session: [[graft.Session]] installs it on every graft session, and
  * an outside session activates it with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  private def binary(name: String, make: (Expression, Expression) => Expression,
      usage: String): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage), { exprs =>
      require(exprs.length == 2, s"$name expects 2 arguments, got ${exprs.length}")
      make(exprs(0), exprs(1))
    })

  private def litInt(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => GlobalRowNumberRule)
    e.injectPlannerStrategy(_ => GlobalSeqIdStrategy)
    e.injectOptimizerRule(_ => SnapshotBloomJoinRule)
    e.injectOptimizerRule(_ => SnapshotRelationRule)
    e.injectFunction(binary("vec_dot", DotProduct.apply,
      "vec_dot(a, b) - dot product of two float vectors (double result)"))
    e.injectFunction(binary("vec_cosine", CosineSimilarity.apply,
      "vec_cosine(a, b) - cosine similarity of two float vectors"))
    e.injectFunction(binary("sorted_intersect_count", SortedIntersectCount.apply,
      "sorted_intersect_count(a, b) - |a ∩ b| of two sorted distinct bigint arrays"))
    e.injectFunction(binary("jaro_winkler", JaroWinkler.apply,
      "jaro_winkler(a, b) - Jaro-Winkler similarity (0..1, prefix boost above 0.7)"))
    e.injectFunction((FunctionIdentifier("simhash"),
      info("simhash", "simhash(text, bits, seed) - majority-bit fingerprint over seeded md5 token hashes"),
      { exprs =>
        require(exprs.length == 3, s"simhash expects 3 arguments, got ${exprs.length}")
        Simhash(exprs(0), litInt(exprs(1), "simhash"), litInt(exprs(2), "simhash"))
      }))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(text, k, n) - n-component MinHash signature of k-word shingles"),
      { exprs =>
        require(exprs.length == 3, s"minhash_sig expects 3 arguments, got ${exprs.length}")
        MinhashSig(exprs(0), litInt(exprs(1), "minhash_sig"), litInt(exprs(2), "minhash_sig"))
      }))
    e.injectFunction((FunctionIdentifier("shingle_hash_set"),
      info("shingle_hash_set", "shingle_hash_set(text, k) - sorted distinct k-word shingle hashes"),
      { exprs =>
        require(exprs.length == 2, s"shingle_hash_set expects 2 arguments, got ${exprs.length}")
        ShingleHashSet(exprs(0), litInt(exprs(1), "shingle_hash_set"), sorted = true)
      }))
    e.injectFunction((FunctionIdentifier("term_counts"),
      info("term_counts",
        "term_counts(text) - (term, tf) structs of a single-space-tokenized document"),
      { exprs =>
        require(exprs.length == 1, s"term_counts expects 1 argument, got ${exprs.length}")
        TermCounts(exprs(0))
      }))
    e.injectFunction((FunctionIdentifier("unicode_normalize"),
      info("unicode_normalize",
        "unicode_normalize(text[, form]) - Unicode normalization (NFC default; NFKC/NFD/NFKD)"),
      { exprs =>
        require(exprs.length == 1 || exprs.length == 2,
          s"unicode_normalize expects 1-2 arguments, got ${exprs.length}")
        val form = if (exprs.length == 1) "NFC" else exprs(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null =>
            s.toString
          case other => throw new IllegalArgumentException(
            s"unicode_normalize expects a literal form name, got $other")
        }
        UnicodeNormalize(exprs(0), form)
      }))
  }
}
