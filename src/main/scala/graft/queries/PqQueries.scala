package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Tables, VectorIndex, VectorOps}
import graft.ops.VectorIndex.{KmK, NProbe, PqIndex, QueryVecId, kmIterSql,
  PqK => K, PqM => M, PqSubDim => SubDim}

/** Product-quantization ANN (Jégou/Douze/Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — the compression tier under
  * FAISS-style IVF-PQ): the 64-dim embedding splits into
  * [[VectorIndex.PqM]] subspaces of [[VectorIndex.PqSubDim]] dims; each
  * subvector is quantized to its nearest of ≤[[VectorIndex.PqK]]
  * codewords (squared-L2 — the PQ objective), so a vector stores as M
  * small codes instead of 64 floats — 64× compression at these
  * parameters, the difference between "embeddings fit on the cluster"
  * and "they don't" at 100 TB.
  *
  * The codebook is TRAINED ([[VectorIndex.pqIndex]]): deterministic
  * init (subvectors of the first K stored vectors) + one distributed
  * Lloyd step per subspace — all M subspaces train in ONE aggregation
  * job (explode by dimension, key by (subspace, assigned code, dim)),
  * and only M·K·SubDim mean rows cross the driver bridge through the
  * same Lloyd update as [[SimilarityQueries]]' k-means. Codewords that
  * attract no members drop out, as emptied k-means cells do.
  *
  * Search is asymmetric distance computation (ADC): the query's inner
  * product against every codeword is a driver-side M×K lookup table; a
  * row's approximate score is M table lookups + 3 adds — no per-row
  * vector arithmetic (dot(q, v) = Σ_m dot(q_m, v_m) ≈
  * Σ_m dot(q_m, codeword(v_m)), the exact inner-product decomposition
  * over orthogonal subspaces). The top-[[CandK]] by ADC score re-rank by
  * exact cosine — the standard PQ + re-ranking pipeline.
  *
  * Scale shape: encoding and ADC scoring are pure map-side expressions
  * against literal codewords (at scale: encode once at ingest, store
  * the M-byte codes, scan those instead of raw vectors); the only
  * ordered structure is TakeOrderedAndProject (bounded). No joins, no
  * shuffle on the corpus side; training shuffles once on the tiny
  * (m, code, dim) key space.
  *
  * Engine-portability contract (shared with the k-means oracles):
  * distances, LUT entries, and trained means round HALF_UP to 6
  * decimals on both engines, per-row sums are sequential left-to-right
  * in double, argmin ties break to the lowest codeword id, and the
  * candidate cut breaks ADC-score ties by vec_id — every comparison the
  * two engines make is over bit-identical doubles (round-6 absorbs the
  * group-avg accumulation-order difference, ~1e-15 vs the 5e-7
  * boundary).
  */
object PqQueries {

  private val CandK = 100
  private val PqTopK = 10

  /** Candidate vec_ids by ADC score: encode (M argmins over rounded
    * d²), score (M LUT lookups summed left-to-right), cut to CandK by
    * (score desc, vec_id).
    */
  private def adcCandidates(s: SparkSession, dir: String, idx: PqIndex): DataFrame = {
    import s.implicits._
    Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("approx", VectorIndex.adcScore(idx))
      .orderBy($"approx".desc, $"vec_id")
      .limit(CandK)
      .select($"vec_id")
  }

  /** ADC candidates re-ranked by exact cosine — the user-facing top-k.
    * The CandK-row candidate set broadcasts back onto the table for the
    * exact scores.
    */
  private def annPqAdcTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = VectorIndex.pqIndex(s, dir)
    val qVecF = idx.qSubs.flatten.map(_.toFloat)
    Tables.embeddings(s, dir)
      .join(broadcast(adcCandidates(s, dir, idx)), Seq("vec_id"))
      .withColumn("cos_raw", VectorOps.cosine($"embedding", typedlit(qVecF)))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(PqTopK)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
  }

  /** Shared oracle prelude — the full index build + search mirror:
    * init codebook (cb0) → assign (codes0) → per-(m, cid, dim) means
    * (cb1, the one Lloyd step) → re-assign (codes) → query LUT → ADC
    * scores → candidate cut. All per-row folds are sequential
    * list_reduce over the same widened doubles Spark folds; rounds
    * match HALF_UP 6; the M LUT terms sum in explicit m=0..3
    * left-to-right order (a bare SUM() would not pin the fp
    * accumulation order).
    */
  private val adcPrelude = {
    def d2(from: String, out: String) =
      s"""$out AS (
         |  SELECT v.vec_id, b.m, b.cid,
         |    round(list_reduce(
         |      [ (v.emb[b.m*$SubDim + i] - b.c[i]) * (v.emb[b.m*$SubDim + i] - b.c[i])
         |        for i in generate_series(1, $SubDim) ],
         |      (acc, x) -> acc + x), 6) AS d
         |  FROM e v, $from b)""".stripMargin
    def argmin(from: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT vec_id, m, cid,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn
         |    FROM $from) WHERE rn = 1)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS emb, label FROM embeddings),
       |ms AS (SELECT unnest(generate_series(0, ${M - 1})) AS m),
       |q AS (SELECT emb AS qv FROM e WHERE vec_id = $QueryVecId),
       |cb0 AS (
       |  SELECT ms.m, e.vec_id AS cid,
       |    e.emb[ms.m*$SubDim + 1 : ms.m*$SubDim + $SubDim] AS c
       |  FROM e, ms WHERE e.vec_id < $K),
       |${d2("cb0", "d2a")},
       |${argmin("d2a", "codes0")},
       |tr AS (
       |  SELECT c.m, c.cid, i.i, round(avg(v.emb[c.m*$SubDim + i.i]), 6) AS mx
       |  FROM codes0 c JOIN e v USING (vec_id),
       |    (SELECT unnest(generate_series(1, $SubDim)) AS i) i
       |  GROUP BY c.m, c.cid, i.i),
       |cb1 AS (SELECT m, cid, list(mx ORDER BY i) AS c FROM tr GROUP BY m, cid),
       |${d2("cb1", "d2b")},
       |${argmin("d2b", "codes")},
       |lut AS (
       |  SELECT b.m, b.cid,
       |    round(list_reduce(
       |      [ q.qv[b.m*$SubDim + i] * b.c[i] for i in generate_series(1, $SubDim) ],
       |      (acc, x) -> acc + x), 6) AS s
       |  FROM cb1 b, q),
       |adc AS (
       |  SELECT c.vec_id,
       |    max(CASE WHEN c.m = 0 THEN l.s END)
       |      + max(CASE WHEN c.m = 1 THEN l.s END)
       |      + max(CASE WHEN c.m = 2 THEN l.s END)
       |      + max(CASE WHEN c.m = 3 THEN l.s END) AS approx
       |  FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
       |  GROUP BY c.vec_id),
       |cand AS (
       |  SELECT vec_id FROM adc WHERE vec_id <> $QueryVecId
       |  ORDER BY approx DESC, vec_id LIMIT $CandK)""".stripMargin
  }

  private val annPqAdcOracle =
    s"""$adcPrelude
       |SELECT e.vec_id, e.label,
       |  round(list_cosine_similarity(e.emb, q.qv), 4) AS cos
       |FROM cand JOIN e USING (vec_id), q
       |ORDER BY list_cosine_similarity(e.emb, q.qv) DESC, e.vec_id
       |LIMIT $PqTopK""".stripMargin

  /** recall@k of the PQ+re-rank search against exact brute-force top-k
    * — the same accountability gate the IVF path carries
    * ([[SimilarityQueries]]' `annIvfRecall`): a codebook or ADC
    * regression surfaces as a correctness diff, not a silent quality
    * drop.
    */
  private def annPqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = VectorIndex.pqIndex(s, dir)
    val qVecF = idx.qSubs.flatten.map(_.toFloat)
    VectorIndex.recallAtK(s, dir, annPqAdcTopk(s, dir).select($"vec_id"),
      typedlit(qVecF), PqTopK)
  }

  private val annPqRecallOracle =
    s"""$adcPrelude,
       |pq AS (
       |  SELECT e.vec_id
       |  FROM cand JOIN e USING (vec_id), q
       |  ORDER BY list_cosine_similarity(e.emb, q.qv) DESC, e.vec_id
       |  LIMIT $PqTopK),
       |exact AS (
       |  SELECT e.vec_id FROM e, q
       |  WHERE e.vec_id <> $QueryVecId
       |  ORDER BY list_cosine_similarity(e.emb, q.qv) DESC, e.vec_id
       |  LIMIT $PqTopK)
       |SELECT $PqTopK AS k,
       |  CAST(count(*) AS DOUBLE) / $PqTopK AS recall_at_k
       |FROM pq JOIN exact USING (vec_id)""".stripMargin

  // ------------------------------------------------ IVF-PQ composition

  /** Candidates of the COMPOSED index — the FAISS IVF-PQ layout (Jégou
    * et al. §V: coarse quantizer + product quantizer), in its
    * no-residual variant (`by_residual=false` in FAISS terms) so both
    * engines' codebooks stay independently reproducible: rows are
    * binned by their nearest TRAINED coarse centroid (the
    * one-Lloyd-step [[VectorIndex.coarseCodebook]] the IVF queries
    * read, memoized per (session, dir) beside the PQ index but trained
    * apart from it), the query probes only its NProbe closest
    * cells, and ADC scores rank survivors INSIDE the probed cells.
    * Cell assignment and ADC score are both map-side expressions
    * against literal codebooks, so the whole candidate stage is ONE
    * scan → filter → TakeOrderedAndProject — at 100 TB the cell is a
    * partition key and the probe filter prunes partitions before the
    * scan even starts, while the M-byte codes stand in for raw vectors.
    */
  private def ivfpqCandidates(s: SparkSession, dir: String, idx: PqIndex): DataFrame = {
    import s.implicits._
    val (coarseQ, cents) = VectorIndex.coarseCodebook(s, dir)
    val probe = VectorIndex.probe(coarseQ, cents)
    Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("cell", VectorIndex.assign(cents))
      .filter($"cell".isin(probe: _*))
      .withColumn("approx", VectorIndex.adcScore(idx))
      .orderBy($"approx".desc, $"vec_id")
      .limit(CandK)
      .select($"vec_id")
  }

  /** IVF-PQ search: probe → ADC → exact re-rank (the user-facing
    * top-k, same re-rank contract as [[annPqAdcTopk]]).
    */
  private def annIvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = VectorIndex.pqIndex(s, dir)
    val qVecF = idx.qSubs.flatten.map(_.toFloat)
    Tables.embeddings(s, dir)
      .join(broadcast(ivfpqCandidates(s, dir, idx)), Seq("vec_id"))
      .withColumn("cos_raw", VectorOps.cosine($"embedding", typedlit(qVecF)))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(PqTopK)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
  }

  /** [[adcPrelude]] + the coarse-quantizer mirror: trained coarse cells
    * (same one-Lloyd-step SQL as the ann_ivf_trained oracle), per-row
    * cell assignment, query probe cut, and the composed candidate cut
    * (ADC score restricted to probed cells).
    */
  private val ivfpqPrelude =
    s"""$adcPrelude,
       |c0 AS (SELECT vec_id AS cid, embedding AS c FROM e
       |  WHERE vec_id < $KmK),
       |${kmIterSql("c0", 1)},
       |fin AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_cosine_similarity(e.embedding::DOUBLE[], c::DOUBLE[]) DESC, cid) AS rn
       |    FROM e CROSS JOIN c1) WHERE rn = 1),
       |qc AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (ORDER BY
       |      list_cosine_similarity(q.qv, c.c::DOUBLE[]) DESC, c.cid) AS rn
       |    FROM c1 c, q) WHERE rn <= $NProbe),
       |ivcand AS (
       |  SELECT a.vec_id FROM adc a
       |    JOIN fin f USING (vec_id)
       |    JOIN qc USING (cid)
       |  WHERE a.vec_id <> $QueryVecId
       |  ORDER BY a.approx DESC, a.vec_id LIMIT $CandK)""".stripMargin

  private val annIvfPqOracle =
    s"""$ivfpqPrelude
       |SELECT e.vec_id, e.label,
       |  round(list_cosine_similarity(e.emb, q.qv), 4) AS cos
       |FROM ivcand JOIN e USING (vec_id), q
       |ORDER BY list_cosine_similarity(e.emb, q.qv) DESC, e.vec_id
       |LIMIT $PqTopK""".stripMargin

  /** recall@k of the composed index against exact brute force — the
    * same accountability gate the flat-PQ and IVF paths carry; probe
    * misses now also cost recall, so a coarse-codebook regression
    * surfaces here even when ADC is healthy.
    */
  private def annIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = VectorIndex.pqIndex(s, dir)
    val qVecF = idx.qSubs.flatten.map(_.toFloat)
    VectorIndex.recallAtK(s, dir, annIvfPqTopk(s, dir).select($"vec_id"),
      typedlit(qVecF), PqTopK)
  }

  private val annIvfPqRecallOracle =
    s"""$ivfpqPrelude,
       |ivfpq AS (
       |  SELECT e.vec_id
       |  FROM ivcand JOIN e USING (vec_id), q
       |  ORDER BY list_cosine_similarity(e.emb, q.qv) DESC, e.vec_id
       |  LIMIT $PqTopK),
       |exact AS (
       |  SELECT e.vec_id FROM e, q
       |  WHERE e.vec_id <> $QueryVecId
       |  ORDER BY list_cosine_similarity(e.emb, q.qv) DESC, e.vec_id
       |  LIMIT $PqTopK)
       |SELECT $PqTopK AS k,
       |  CAST(count(*) AS DOUBLE) / $PqTopK AS recall_at_k
       |FROM ivfpq JOIN exact USING (vec_id)""".stripMargin

  /** Semantic near-dedup by PQ code: two vectors quantizing to the SAME
    * codeword in every subspace are near-neighbors by construction (they
    * share a cell of the product grid), so duplicate detection is an
    * exact groupBy on the M-byte code — the SemDeDup-shaped scale path
    * (cluster-id equality instead of pairwise distances): no pairwise
    * join, no candidate explosion, one shuffle on a tiny key. Emits
    * every vector with its code, group size, and keeper flag (min
    * vec_id in the group wins — the dedup-family convention).
    */
  private def dedupPqCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = VectorIndex.pqIndex(s, dir)
    val codes = VectorIndex.pqCodes(idx.books).zipWithIndex
      .map { case (c, m) => c.as(s"code_$m") }
    val codeCols = (0 until M).map(m => col(s"code_$m"))
    Tables.fanOut(Tables.embeddings(s, dir))
      .select($"vec_id" +: codes: _*)
      .withColumn("group_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(codeCols: _*)))
      .withColumn("keeper",
        min($"vec_id").over(org.apache.spark.sql.expressions.Window
          .partitionBy(codeCols: _*)))
      .select($"vec_id" +: codeCols :+
        $"group_n" :+ ($"vec_id" === $"keeper").as("is_keeper"): _*)
      .orderBy($"vec_id")
  }

  private val dedupPqCodesOracle = {
    val codeColsSql = (0 until M)
      .map(m => s"max(CASE WHEN m = $m THEN cid END) AS code_$m")
      .mkString(",\n    ")
    val partCols = (0 until M).map(m => s"code_$m").mkString(", ")
    s"""$adcPrelude,
       |wide AS (
       |  SELECT vec_id,
       |    $codeColsSql
       |  FROM codes GROUP BY vec_id)
       |SELECT vec_id, $partCols,
       |  count(*) OVER (PARTITION BY $partCols) AS group_n,
       |  vec_id = min(vec_id) OVER (PARTITION BY $partCols) AS is_keeper
       |FROM wide
       |ORDER BY vec_id""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("ann_pq_adc_topk", annPqAdcTopk, Some(annPqAdcOracle)),
    Q("ann_pq_recall", annPqRecall, Some(annPqRecallOracle)),
    Q("ann_ivfpq_topk", annIvfPqTopk, Some(annIvfPqOracle)),
    Q("ann_ivfpq_recall", annIvfPqRecall, Some(annIvfPqRecallOracle)),
    Q("dedup_pq_codes", dedupPqCodes, Some(dedupPqCodesOracle)))
}
