package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The vector-index layer under the ANN queries: codebook training,
  * assignment and probing for the IVF coarse quantizer (cosine k-means
  * over float32 centroids) and the product quantizer (squared-L2
  * codewords per subspace, Jégou/Douze/Schmid TPAMI 2011), plus the
  * per-(session, dir) memo of the trained indexes and the recall@k
  * accounting every approximate search reports.
  *
  * Engine-portability contract (shared with the DuckDB oracles):
  * assignment and probe ties break to the lowest cid, trained means
  * round HALF_UP to 6 decimals, L2 distances and ADC lookup entries
  * round HALF_UP to 6 decimals, and per-row sums fold left to right in
  * double — every comparison the two engines make is over bit-identical
  * doubles.
  */
object VectorIndex {

  /** A cosine codebook: (cid, float32 centroid), ascending cid. */
  type Codebook = Array[(Int, Array[Float])]

  /** One PQ subspace's codewords: (cid, SubDim doubles), ascending cid. */
  type Book = Array[(Int, Array[Double])]

  /** The query vector of every ANN gate. */
  val QueryVecId = 0

  /** Coarse quantizer: k-means cells and the cells a query probes. */
  val KmK = 8
  val NProbe = 2

  /** Product quantizer: M subspaces of SubDim dims, ≤K codewords each. */
  val PqDim = 64
  val PqM = 4
  val PqSubDim = PqDim / PqM
  val PqK = 8

  /** A trained PQ index: query subvectors + per-subspace codebooks. */
  final case class PqIndex(qSubs: Array[Array[Double]], books: Array[Book])

  // ------------------------------------------------------------ training

  /** Deterministic init: the `k` lowest vec_ids of `emb` (float32 as
    * stored), ascending. One collect of at most k rows.
    */
  def initCentroids(emb: DataFrame, k: Int): Codebook = {
    import emb.sparkSession.implicits._
    emb.filter($"vec_id" < k).orderBy($"vec_id")
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id.toInt, v) }
  }

  /** The Lloyd update: per-(key, dim) mean of `x` over `members`
    * (columns: the int `keys`, an int `dim`, a numeric `x`). Only
    * keys·dims rows cross the driver bridge, in one collect; each mean
    * rounds HALF_UP to 6 decimals (the oracles' `round(avg(..), 6)`).
    * Returns the means per key, keys ascending, dims ascending; a key
    * with no member has no row, so an empty cell drops out. Callers
    * quantize the exact 6-dp decimal themselves.
    */
  private def lloydMeans(members: DataFrame,
      keys: String*): Array[(Seq[Int], Array[BigDecimal])] = {
    import scala.math.Ordering.Implicits.seqOrdering
    val n = keys.length
    members.groupBy((keys :+ "dim").map(col): _*).agg(avg(col("x")))
      .collect()
      .map(r => ((0 until n).map(r.getInt), r.getInt(n),
        BigDecimal(r.getDouble(n + 1)).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (key, rows) => (key, rows.sortBy(_._2).map(_._3)) }
  }

  /** One cosine k-means step: assign every row of `emb` to its nearest
    * centroid, then average the members per (cell, dim). Means convert
    * from the 6-dp decimal straight to float32 (the oracles'
    * `CAST(round(avg(x), 6) AS FLOAT)`, see [[kmIterSql]]).
    */
  def lloydStep(emb: DataFrame, cents: Codebook): Codebook = {
    val members = emb.select(col("embedding"), assign(cents).as("cell"))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
    lloydMeans(members, "cell").map { case (key, ms) => (key.head, ms.map(_.toFloat)) }
  }

  /** One Lloyd iteration in DuckDB SQL: assign (argmax cosine, lowest
    * cid wins ties) then per-(cid, dim) mean, rounded and
    * float32-quantized exactly as [[lloydStep]]. Reads `e` and the
    * `prev` codebook CTE; defines `a<n>`, `m<n>` and `c<n>`.
    */
  def kmIterSql(prev: String, n: Int): String =
    s"""a$n AS (
       |  SELECT vec_id, embedding, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      list_cosine_similarity(embedding::DOUBLE[], c::DOUBLE[]) DESC, cid) AS rn
       |  FROM e CROSS JOIN $prev),
       |m$n AS (
       |  SELECT cid, pos, CAST(round(avg(x), 6) AS FLOAT) AS mx
       |  FROM (SELECT cid, unnest(embedding) AS x,
       |          unnest(generate_series(1, len(embedding))) AS pos
       |        FROM a$n WHERE rn = 1)
       |  GROUP BY cid, pos),
       |c$n AS (SELECT cid, list(mx ORDER BY pos) AS c FROM m$n GROUP BY cid)""".stripMargin

  /** The trained coarse codebook: first-[[KmK]] init + one Lloyd step.
    * Value: (query vector, centroids); the query vector is the stored
    * embedding of [[QueryVecId]], which the init holds by construction.
    */
  private def trainCoarse(s: SparkSession, dir: String): (Array[Float], Codebook) =
    // persisted only across the two training actions (init collect +
    // Lloyd-step collect); released even if the require throws
    Tables.withPersisted(
      Tables.fanOut(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("embedding"))) { emb =>
      val init = initCentroids(emb, KmK)
      require(init.nonEmpty && init.map(_._1).contains(QueryVecId),
        s"query vector vec_id=$QueryVecId must be among the init centroids")
      (init.find(_._1 == QueryVecId).get._2, lloydStep(emb, init))
    }

  /** The trained PQ index: init books from the subvectors of the first
    * [[PqK]] vectors, then one Lloyd step for ALL subspaces in one
    * aggregation — explode the dims, key each element by (subspace,
    * that subspace's code, dim within the subspace). Means convert
    * from the 6-dp decimal to double.
    */
  private def trainPq(s: SparkSession, dir: String): PqIndex = {
    import s.implicits._
    val first = initCentroids(Tables.embeddings(s, dir), PqK)
    require(first.map(_._1).toSeq == (0 until PqK).toSeq,
      s"PQ codebook needs vec_ids 0..${PqK - 1} present")
    require(first.forall(_._2.length == PqDim), s"PQ expects $PqDim-dim embeddings")
    val asDouble = first.map(_._2.map(_.toDouble))
    def subvec(v: Array[Double], m: Int) = v.slice(m * PqSubDim, (m + 1) * PqSubDim)
    val init = Array.tabulate(PqM)(m => Array.tabulate(PqK)(c => (c, subvec(asDouble(c), m))))
    val members = Tables.fanOut(Tables.embeddings(s, dir))
      .select(array(pqCodes(init): _*).as("codes"), posexplode(embD).as(Seq("pos", "x")))
      .select(
        ($"pos" / PqSubDim).cast("int").as("m"),
        element_at($"codes", ($"pos" / PqSubDim).cast("int") + 1).as("cid"),
        ($"pos" % PqSubDim).as("dim"),
        $"x")
    val means = lloydMeans(members, "m", "cid")
    val books = Array.tabulate(PqM)(m => means.collect {
      case (Seq(`m`, cid), ms) => (cid, ms.map(_.toDouble))
    })
    PqIndex(Array.tabulate(PqM)(m => subvec(asDouble(QueryVecId), m)), books)
  }

  /** One (session, dir)'s trained indexes, each built on first use — an
    * IVF query never pays for PQ training. The session is held weakly:
    * a strong reference from a memo value would pin its own weak key.
    */
  private final class Trained(session: java.lang.ref.WeakReference[SparkSession], dir: String) {
    lazy val coarse: (Array[Float], Codebook) = trainCoarse(session.get, dir)
    lazy val pq: PqIndex = trainPq(session.get, dir)
  }

  /** A real index trains once at build time: search, recall gate and
    * bench share one run per (session, dir). Weak session keys, so the
    * memo cannot outlive its session. Assumes the embeddings parquet
    * under a dir is immutable for the session's lifetime; rewriting it
    * mid-session serves a stale index until restart.
    */
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Trained]]())

  private def trained(s: SparkSession, dir: String): Trained =
    memo.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap[String, Trained])
      .computeIfAbsent(dir, d => new Trained(new java.lang.ref.WeakReference(s), d))

  /** The memoized trained coarse codebook: (query vector, centroids). */
  def coarseCodebook(s: SparkSession, dir: String): (Array[Float], Codebook) =
    trained(s, dir).coarse

  /** The memoized trained PQ index. */
  def pqIndex(s: SparkSession, dir: String): PqIndex = trained(s, dir).pq

  // ----------------------------------------------------------- assignment

  /** The cell of the `embedding` column: argmax cosine against the
    * centroid literals, the lowest cid winning ties (array_position
    * finds the FIRST maximum; the codebook is cid-ascending) — the
    * oracles' row_number ORDER BY score DESC, cid. One linear pass per
    * row.
    */
  def assign(cents: Codebook): Column = {
    val scores = cosines(cents)
    element_at(typedlit(cents.map(_._1)), array_position(scores, array_max(scores)).cast("int"))
  }

  /** The cosine of the `embedding` column to its assigned centroid. */
  def assignScore(cents: Codebook): Column = array_max(cosines(cents))

  private def cosines(cents: Codebook): Column =
    array(cents.map { case (_, c) => VectorOps.cosine(col("embedding"), typedlit(c)) }: _*)

  /** The embedding column exact-widened to array<double>, the domain
    * every PQ distance and score is computed in.
    */
  private def embD: Column = col("embedding").cast("array<double>")

  private def subCol(m: Int): Column = slice(embD, m * PqSubDim + 1, PqSubDim)

  /** Squared L2 between an array<double> column and a literal codeword:
    * sequential fold of (x-y)², codegen'd higher-order functions.
    */
  private def sqDist(sub: Column, cw: Array[Double]): Column =
    aggregate(
      zip_with(sub, typedlit(cw), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** 1-based POSITION into `book` of the codeword nearest `sub`: argmin
    * of the rounded squared L2, the first (lowest-cid) minimum on ties.
    */
  private def codePos(sub: Column, book: Book): Column = {
    val d2s = array(book.map { case (_, cw) => round(sqDist(sub, cw), 6) }: _*)
    array_position(d2s, array_min(d2s)).cast("int")
  }

  /** The cid of the codeword in `book` nearest `sub` (squared L2). */
  def l2Code(sub: Column, book: Book): Column =
    element_at(typedlit(book.map(_._1)), codePos(sub, book))

  /** The embedding's PQ code: one codeword cid per subspace. */
  def pqCodes(books: Array[Book]): Seq[Column] =
    books.indices.map(m => l2Code(subCol(m), books(m)))

  /** Asymmetric distance computation: the query's inner product with
    * every codeword is a driver-side lookup table (rounded HALF_UP 6),
    * and a row's approximate score is its M lookups summed left to
    * right — dot(q, v) ≈ Σ_m dot(q_m, codeword(v_m)).
    */
  def adcScore(idx: PqIndex): Column =
    idx.books.indices.map { m =>
      val lut = idx.books(m).map { case (_, cw) => round6(dotSeq(idx.qSubs(m), cw)) }
      element_at(typedlit(lut), codePos(subCol(m), idx.books(m)))
    }.reduceLeft(_ + _)

  /** Sequential left-to-right dot in double — the oracle's
    * `list_reduce` operation order.
    */
  private def dotSeq(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * y(i); i += 1 }
    s
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // -------------------------------------------------------------- probing

  /** The `n` cells nearest the query: cosine desc, cid asc on ties.
    * Scored driver-side with [[cosF32]], avoiding Spark jobs over a
    * codebook-sized problem.
    */
  def probe(qVec: Array[Float], cents: Codebook, n: Int = NProbe): Seq[Int] =
    cents.map { case (cid, c) => (cid, cosF32(qVec, c)) }
      .sortBy { case (cid, sc) => (-sc, cid) }
      .take(n).map(_._1).toSeq

  /** Same accumulation order as CosineSimilarity.nullSafeEval — the
    * driver-side probe stays bit-identical to executor-side scoring.
    */
  private def cosF32(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x(i).toDouble; val yv = y(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // --------------------------------------------------------------- recall

  /** recall@k of an approximate top-k (a `vec_id` frame) against the
    * exact brute-force top-k by cosine to `q` over the embeddings under
    * `dir`, query row excluded: both legs are TakeOrderedAndProject
    * plans, the overlap a k-row semi-join, the recall an exact ratio.
    * Output columns: `k`, then `extra`, then `recall_at_k`.
    */
  def recallAtK(s: SparkSession, dir: String, approx: DataFrame, q: Column, k: Int,
      extra: Column*): DataFrame = {
    val exact = Tables.fanOut(Tables.embeddings(s, dir))
      .filter(col("vec_id") =!= QueryVecId)
      .withColumn("cos_raw", VectorOps.cosine(col("embedding"), q))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"))
    approx.join(exact, Seq("vec_id"), "left_semi")
      .agg((count(lit(1)).cast("double") / k).as("recall_at_k"))
      .select((lit(k).as("k") +: extra) :+ col("recall_at_k"): _*)
  }
}
