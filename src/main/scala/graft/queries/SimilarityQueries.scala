package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, Tables, VectorIndex, VectorOps}
import graft.ops.VectorIndex.{KmK, NProbe, QueryVecId, kmIterSql}

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two variants of top-k for one query vector (vec_id 0):
  *  - brute force: score all n vectors, TakeOrderedAndProject keeps k —
  *    the exact baseline, O(n) scan with a broadcast 1-row query side;
  *  - LSH-bucketed: restrict the scan to the query's sign-bucket —
  *    the scale path (scan shrinks ~2^bits ×, recall < 1 by design).
  */
object SimilarityQueries {

  private val TopK = 10
  private val LshBits = 8
  private val LshTopK = 5

  /** The query vector as a LITERAL column (1-row driver bridge, the A2
    * scalar pattern): a broadcast cross join of a 1-row frame plans as a
    * BroadcastNestedLoopJoin — harmless here but indistinguishable from
    * the genuinely dangerous BNLJ shapes, and strictly worse than no
    * join at all. As a literal, the query side constant-folds (the LSH
    * variant's query bucket becomes a compile-time constant).
    */
  private def queryVecLit(s: SparkSession, dir: String): org.apache.spark.sql.Column = {
    import s.implicits._
    val rows = Tables.embeddings(s, dir)
      .filter(col("vec_id") === QueryVecId)
      .select(col("embedding")).as[Array[Float]].head(1)
    require(rows.nonEmpty,
      s"ANN query vector vec_id=$QueryVecId not found in $dir/embeddings.parquet")
    typedlit(rows.head)
  }

  // ------------------------------------------- int8 scalar quantization

  /** Per-vector symmetric int8 quantization: q_i = floor(x_i · 127 /
    * max|x|) — the 4×-compression baseline every vector store ships
    * (below PQ's 64× but with no codebook to train or ship). Both
    * engines quantize with the same floor/IEEE-double formula, so the
    * int8 scores — and therefore the gate — are exact integers.
    */
  private def int8Quantized(emb: org.apache.spark.sql.Column) = {
    val ma = greatest(array_max(transform(emb, x => abs(x))), lit(1e-30f))
      .cast("double")
    transform(emb, x => floor(x * lit(127.0) / ma).cast("int"))
  }

  private def int8QueryLit(s: SparkSession, dir: String): org.apache.spark.sql.Column = {
    import s.implicits._
    val v = Tables.embeddings(s, dir)
      .filter(col("vec_id") === QueryVecId)
      .select(col("embedding")).as[Array[Float]].head(1)
    require(v.nonEmpty, s"query vector $QueryVecId missing")
    val ma = math.max(v.head.map(x => math.abs(x.toDouble)).max, 1e-30)
    typedlit(v.head.map(x => math.floor(x * 127.0 / ma).toInt))
  }

  /** Brute-force top-k over INT8 scores: the integer dot product ranks,
    * floats never leave storage. At 100 TB this is the memory-bandwidth
    * play — the scan reads a quarter of the bytes — and the score stays
    * an exact BIGINT, so ties and ordering are engine-portable by
    * construction (no float summation order anywhere).
    */
  private def annInt8Topk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = int8QueryLit(s, dir)
    Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("score_int8",
        aggregate(zip_with(int8Quantized($"embedding"), q, (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .orderBy($"score_int8".desc, $"vec_id")
      .limit(TopK)
      .select($"vec_id", $"label", $"score_int8")
  }

  private val int8QuantSql =
    "list_transform(%s, x -> CAST(floor(x * 127.0 / greatest(list_max(list_transform(%s, y -> abs(y))), 1e-30)) AS INT))"

  private val annInt8Oracle = {
    val vq = int8QuantSql.format("e.embedding::DOUBLE[]", "e.embedding::DOUBLE[]")
    val qq = int8QuantSql.format("q.qv::DOUBLE[]", "q.qv::DOUBLE[]")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId)
       |SELECT e.vec_id, e.label,
       |  CAST(list_dot_product($vq::DOUBLE[], $qq::DOUBLE[]) AS BIGINT) AS score_int8
       |FROM embeddings e, q
       |WHERE e.vec_id <> $QueryVecId
       |ORDER BY score_int8 DESC, e.vec_id
       |LIMIT $TopK""".stripMargin
  }

  /** Incremental MAINTENANCE of a top-k result as new vectors arrive —
    * the continuously-adaptive-search shape (and the ANN companion of
    * `lsh_index_refresh`): the previous top-k is a persisted k-row
    * artifact; a batch refresh scores ONLY the batch against the query
    * and re-ranks batch ∪ old-top-k, never rescanning the corpus. The
    * merge is lossless by the top-k monotonicity argument: any member
    * of the union's true top-k is either in the batch or was already
    * in the corpus top-k. Both states publish as atomic
    * [[graft.ops.SnapshotTable]] commits (probes against the old
    * snapshot stay consistent mid-refresh), and the gate is the
    * from-scratch invariant — the oracle recomputes the top-k over ALL
    * vectors, so a green run proves incremental-refresh ≡ full
    * recompute. At 100 TB the refresh costs O(batch + k); the corpus
    * pass happens once at v1, not per batch.
    */
  private def annTopkRefresh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = LakeOps.lakeBase(dir, "ann_topk")
    graft.ops.SnapshotTable.deleteTree(base)
    val qv = queryVecLit(s, dir)
    val emb = Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
    def scored(df: DataFrame): DataFrame = df
      .withColumn("cos_raw", VectorOps.cosine($"embedding", qv))
      .select($"vec_id", $"label", $"cos_raw")
    graft.ops.SnapshotTable.commit(
      scored(emb.filter(pmod($"vec_id", lit(20)) =!= 19))
        .orderBy($"cos_raw".desc, $"vec_id").limit(TopK), base)
    // read-modify-write as an optimistic transaction: re-rank against
    // whatever top-k version is current at commit time (a concurrent
    // refresher triggers a retry, never a lost batch)
    val v2 = graft.ops.SnapshotTable.transact(s, base) { cur =>
      cur.get
        .unionByName(scored(emb.filter(pmod($"vec_id", lit(20)) === 19)))
        .orderBy($"cos_raw".desc, $"vec_id").limit(TopK)
    }
    graft.ops.SnapshotTable.readAt(s, base, v2)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
  }

  private val annTopkRefreshOracle =
    // inner LIMIT selects by the RAW cosine (the same order the Spark
    // side's TakeOrdered uses); the outer ORDER BY pins presentation
    // on the rounded value, matching the returned frame exactly
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |topk AS (
       |  SELECT e.vec_id, e.label,
       |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cos_raw
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> $QueryVecId
       |  ORDER BY cos_raw DESC, e.vec_id
       |  LIMIT $TopK)
       |SELECT vec_id, label, round(cos_raw, 4) AS cos
       |FROM topk
       |ORDER BY cos DESC, vec_id""".stripMargin

  /** Deletion-aware top-k maintenance — the case that BREAKS
    * [[annTopkRefresh]]'s monotonicity argument: inserts can only
    * push scores INTO a top-k, so batch ∪ old-top-k is lossless, but a
    * DELETED member of the stored top-k opens a slot that only a
    * corpus vector outside both the batch and the old top-k can fill —
    * no incremental state can answer that. So the refresh branches:
    *  - '''fast path''' (tombstones ∩ stored top-k = ∅): deleting a
    *    vector that never ranked cannot change the answer — drop any
    *    tombstoned rows from the k stored (an O(k) anti-join) and
    *    republish. The corpus is NOT rescanned.
    *  - '''rescan fallback''' (a tombstone sits in the stored top-k):
    *    recompute over the live corpus (∖ all tombstones). This is the
    *    honest price of a ranked delete; real systems amortize it by
    *    batching tombstones, which is exactly what the branch enables —
    *    the k-row overlap probe that decides the branch is O(k), so a
    *    10 000-delete day costs one rescan, not 10 000.
    * Both states publish as conditional [[graft.ops.SnapshotTable]]
    * commits (a concurrent refresher fails loudly instead of silently
    * losing a delete — the lost-update case that matters for GDPR-style
    * erasure). The gate runs one fast-path round (tombstone = the
    * corpus argmin, provably unranked) then one fallback round
    * (tombstone = the stored top-1, provably ranked), and the oracle
    * recomputes the final top-k from scratch over the corpus minus both
    * tombstones — a green run proves the branch logic end to end.
    */
  private def annTopkDeleteRefresh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val base = LakeOps.lakeBase(dir, "ann_topk_del")
    SnapshotTable.deleteTree(base)
    val qv = queryVecLit(s, dir)
    val scoredAll = Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("cos_raw", VectorOps.cosine($"embedding", qv))
      .select($"vec_id", $"label", $"cos_raw")
    val v1 = SnapshotTable.commit(
      scoredAll.orderBy($"cos_raw".desc, $"vec_id").limit(TopK),
      base, expectedVersion = SnapshotTable.ExpectEmpty)
    // tombstone 1: the corpus ARGMIN — by construction outside the
    // stored top-k, so this delete must take the fast path
    val t1 = scoredAll.orderBy($"cos_raw".asc, $"vec_id").limit(1)
      .select($"vec_id")
    val v2 = refreshWithDeletes(s, base, v1, t1,
      live = scoredAll.join(t1, Seq("vec_id"), "left_anti"))
    // tombstone 2: the stored top-1 — inside the stored top-k, so this
    // delete must take the rescan fallback (the recomputed answer
    // admits the new k-th member, which no incremental state holds)
    val t2 = SnapshotTable.readAt(s, base, v2)
      .orderBy($"cos_raw".desc, $"vec_id").limit(1).select($"vec_id")
    val v3 = refreshWithDeletes(s, base, v2, t2,
      live = scoredAll.join(t1.unionByName(t2), Seq("vec_id"), "left_anti"))
    SnapshotTable.readAt(s, base, v3)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
  }

  /** One tombstone-aware refresh round over the snapshot table at
    * `prevV`: O(k) overlap probe decides fast-drop vs rescan of `live`
    * (the caller's already-tombstone-filtered corpus frame); the new
    * state publishes as a commit CONDITIONAL on `prevV`. The `live`
    * frame here is the flat corpus scan — correct and honestly priced;
    * when an IVF index snapshot exists, route the rescan through it
    * instead ([[annTopkDeleteIvf]]: probe NProbe cells of a
    * cell-partitioned index — the 100 TB fallback).
    */
  private[graft] def refreshWithDeletes(s: SparkSession, base: String, prevV: Long,
      tombstones: DataFrame, live: DataFrame, k: Int = TopK): Long = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val stored = SnapshotTable.readAt(s, base, prevV)
    val rankedDeleted =
      !stored.join(tombstones, Seq("vec_id"), "left_semi").isEmpty
    val next =
      if (rankedDeleted) live.orderBy($"cos_raw".desc, $"vec_id").limit(k)
      else stored.join(tombstones, Seq("vec_id"), "left_anti")
        .orderBy($"cos_raw".desc, $"vec_id").limit(k)
    SnapshotTable.commit(next, base, expectedVersion = Some(prevV))
  }

  private val annTopkDeleteOracle =
    // from-scratch truth: top-k over the corpus minus both tombstones
    // (the argmin delete is invisible to a CORRECT top-k — only the
    // ranked delete reshapes the answer by admitting a new k-th member)
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cos_raw
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> $QueryVecId),
       |t1 AS (SELECT vec_id FROM scored ORDER BY cos_raw ASC, vec_id LIMIT 1),
       |t2 AS (SELECT vec_id FROM scored ORDER BY cos_raw DESC, vec_id LIMIT 1),
       |final AS (
       |  SELECT * FROM scored
       |  WHERE vec_id NOT IN (SELECT vec_id FROM t1)
       |    AND vec_id NOT IN (SELECT vec_id FROM t2)
       |  ORDER BY cos_raw DESC, vec_id
       |  LIMIT $TopK)
       |SELECT vec_id, label, round(cos_raw, 4) AS cos
       |FROM final
       |ORDER BY cos DESC, vec_id""".stripMargin

  /** [[annTopkDeleteRefresh]]'s rescan fallback, ROUTED THROUGH AN IVF
    * INDEX — the 100 TB shape of a ranked delete: when a tombstone
    * lands inside the stored top-k, the flat-scan rescan (honest but
    * corpus-proportional) is replaced by a probe of the query's
    * `NProbe` nearest cells of a PERSISTED index snapshot. The index
    * commits once (cell-assigned corpus, hive-partitioned BY CELL
    * through the spine), so the rescan reads NProbe/NumCells of the
    * data by planning-time partition pruning — verified in-query by a
    * loud require that the probe opened strictly fewer files than the
    * index holds. Both the initial top-k and the post-delete state
    * publish as conditional snapshot commits; the gate forces the
    * ranked-delete branch (tombstone = the stored top-1), asserts the
    * IVF answer's recall against the exact flat rescan at the same 0.6
    * floor the trained-IVF gate carries, and the oracle recomputes the
    * IVF-routed semantics (cell assignment, probe, tombstone
    * exclusion) from scratch — the answer is pinned as index-routed,
    * not merely plausible.
    */
  private def annTopkDeleteIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val idxBase = LakeOps.lakeBase(dir, "ann_ivf_idx")
    val stateBase = LakeOps.lakeBase(dir, "ann_topk_ivfdel")
    SnapshotTable.deleteTree(idxBase)
    SnapshotTable.deleteTree(stateBase)
    val cents = untrainedCentroids(s, dir)
    require(QueryVecId < NumCells, "query vector must be among the centroids")
    val qVec = cents(QueryVecId)._2
    val probe = VectorIndex.probe(qVec, cents)
    // the INDEX: cell-assigned corpus, one hive partition per cell —
    // built once, reused by every probe/rescan until the next refresh
    val vIdx = SnapshotTable.commit(
      Tables.fanOut(Tables.embeddings(s, dir))
        .filter($"vec_id" =!= QueryVecId)
        .withColumn("cell", VectorIndex.assign(cents)),
      idxBase, expectedVersion = SnapshotTable.ExpectEmpty,
      partitionCols = Seq("cell"))
    // index-routed top-k: probe the NProbe nearest cells only
    def ivfTopk(tombstones: Option[DataFrame]): DataFrame = {
      val probed = SnapshotTable.readAt(s, idxBase, vIdx)
        .filter($"cell".isin(probe: _*))
      val live = tombstones.fold(probed)(t =>
        probed.join(t, Seq("vec_id"), "left_anti"))
      live
        .withColumn("cos_raw", VectorOps.cosine($"embedding", typedlit(qVec)))
        .select($"vec_id", $"label", $"cos_raw")
        .orderBy($"cos_raw".desc, $"vec_id")
        .limit(IvfTopK)
    }
    // partition pruning must BITE: the probe opens NProbe cells' files,
    // strictly fewer than the index directory holds
    val openedFiles = SnapshotTable.readAt(s, idxBase, vIdx)
      .filter($"cell".isin(probe: _*))
      .select(input_file_name().as("f")).distinct().count()
    val idxFiles = SnapshotTable.readAt(s, idxBase, vIdx)
      .select(input_file_name().as("f")).distinct().count()
    require(openedFiles > 0 && openedFiles < idxFiles,
      s"index probe must be partition-pruned: opened $openedFiles of " +
        s"$idxFiles files for cells ${probe.mkString(",")}")
    val v1 = SnapshotTable.commit(ivfTopk(None), stateBase,
      expectedVersion = SnapshotTable.ExpectEmpty)
    // tombstone = the stored top-1: provably ranked, so the O(k)
    // overlap probe MUST choose the rescan branch
    val t = SnapshotTable.readAt(s, stateBase, v1)
      .orderBy($"cos_raw".desc, $"vec_id").limit(1).select($"vec_id")
    val rankedDeleted = !SnapshotTable.readAt(s, stateBase, v1)
      .join(t, Seq("vec_id"), "left_semi").isEmpty
    require(rankedDeleted, "gate must exercise the ranked-delete rescan")
    val rescanned = ivfTopk(Some(t))
    val v2 = SnapshotTable.commit(rescanned, stateBase,
      expectedVersion = Some(v1))
    // accountability: the index-routed rescan's recall vs the exact
    // flat rescan (corpus minus tombstone) at the trained-IVF floor
    val exact = Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .join(t, Seq("vec_id"), "left_anti")
      .withColumn("cos_raw", VectorOps.cosine($"embedding", typedlit(qVec)))
      .orderBy($"cos_raw".desc, $"vec_id").limit(IvfTopK)
      .select($"vec_id")
    val hits = SnapshotTable.readAt(s, stateBase, v2)
      .join(exact, Seq("vec_id"), "left_semi").count()
    val recall = hits.toDouble / IvfTopK
    require(recall >= 0.6,
      f"IVF-routed rescan recall@$IvfTopK = $recall%.2f — below the 0.6 floor")
    SnapshotTable.readAt(s, stateBase, v2)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
  }

  // lazy: declared above the NumCells/NProbe/IvfTopK vals it
  // interpolates — eager init would capture their pre-init zeros
  private lazy val annTopkDeleteIvfOracle =
    // from-scratch recompute of the INDEX-ROUTED semantics: cell
    // assignment, the query's NProbe cells, tombstone = the IVF top-1,
    // then the IVF top-k over the probed cells minus the tombstone
    s"""WITH cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $NumCells),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |scored AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cid,
       |    list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (
       |  SELECT vec_id, label, embedding, cid FROM (
       |    SELECT vec_id, label, embedding, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM scored) WHERE rn = 1),
       |qcells AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (
       |      ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.cv::DOUBLE[]) DESC, c.cid) AS rn
       |    FROM cent c, q) WHERE rn <= $NProbe),
       |ivf AS (
       |  SELECT a.vec_id, a.label,
       |    list_cosine_similarity(a.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cos_raw
       |  FROM assigned a JOIN qcells p ON a.cid = p.cid, q
       |  WHERE a.vec_id <> $QueryVecId),
       |t AS (SELECT vec_id FROM ivf ORDER BY cos_raw DESC, vec_id LIMIT 1),
       |fin AS (
       |  SELECT vec_id, label, cos_raw FROM ivf
       |  WHERE vec_id NOT IN (SELECT vec_id FROM t)
       |  ORDER BY cos_raw DESC, vec_id
       |  LIMIT $IvfTopK)
       |SELECT vec_id, label, round(cos_raw, 4) AS cos
       |FROM fin
       |ORDER BY cos DESC, vec_id""".stripMargin

  /** Incremental IVF index MAINTENANCE under inserts — the write-path
    * complement of [[annTopkDeleteIvf]] (which probes a persisted index
    * built once per run): at 100 TB an ingest batch must APPEND its
    * cell-assigned vectors to the standing index — new files in the
    * existing cell partitions via one CAS-protected
    * [[graft.ops.SnapshotTable.commitAppend]] — never trigger a
    * rebuild. The gate commits the index over 90% of the corpus, lands
    * the held-out 10% as an append delta generation (same `cell`
    * partition spec), and proves, with loud in-query requires:
    * (a) the append wrote ONLY delta rows (the new version directory's
    * row count equals the batch's — a rebuild would carry the corpus)
    * in at most one file per touched cell; (b) a probe through the
    * two-generation chain is partition-pruned in BOTH generations
    * (each scan branch plans a cell partition filter, and the probe
    * opens strictly fewer files than the index holds); (c) the probe's
    * answer EQUALS a from-scratch rebuild's over the unioned corpus —
    * append-maintenance is invisible to queries. The oracle recomputes
    * the IVF-routed semantics over all vectors, so a green run pins
    * the whole maintenance story against an independent engine.
    */
  private def annIvfIndexAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val idxBase = LakeOps.lakeBase(dir, "ann_ivf_appendidx")
    SnapshotTable.deleteTree(idxBase)
    val cents = untrainedCentroids(s, dir)
    require(QueryVecId < NumCells, "query vector must be among the centroids")
    val qVec = cents(QueryVecId)._2
    val probe = VectorIndex.probe(qVec, cents)
    def assigned = Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("cell", VectorIndex.assign(cents))
    // the standing index: 90% of the corpus, one file per cell dir
    val v1 = SnapshotTable.commit(
      assigned.filter(pmod($"vec_id", lit(10)) =!= 9).repartition($"cell"),
      idxBase, expectedVersion = SnapshotTable.ExpectEmpty,
      partitionCols = Seq("cell"))
    // the ingest batch: cell-assigned, APPENDED under the same spec
    val delta = assigned.filter(pmod($"vec_id", lit(10)) === 9)
      .repartition($"cell")
    val v2 = SnapshotTable.commitAppend(delta, idxBase, expectedVersion = v1,
      partitionCols = Seq("cell"))
    // (a) delta-proportional write: only the batch's rows, ≤1 file/cell
    val deltaCount = delta.count()
    val v2dir = s"$idxBase/v$v2"
    val v2Rows = SnapshotTable.readParquet(s, v2dir).count()
    require(v2Rows == deltaCount,
      s"append must write ONLY the delta ($deltaCount rows); v$v2 holds " +
        s"$v2Rows — the commit rebuilt the index")
    def parquetFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val v2Files = parquetFiles(new java.io.File(v2dir))
    require(v2Files <= NumCells,
      s"append wrote $v2Files files for ≤$NumCells touched cells")
    // (b) the probe is partition-pruned in BOTH generations
    val probed = SnapshotTable.readAt(s, idxBase, v2)
      .filter($"cell".isin(probe: _*))
    val scans = probed.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    require(scans.size == 2 && scans.forall(_.partitionFilters.nonEmpty),
      s"both index generations must plan cell-partition pruning: " +
        s"${scans.map(_.partitionFilters.mkString("[", ",", "]")).mkString(" | ")}")
    val openedFiles = probed.select(input_file_name().as("f")).distinct().count()
    val idxFiles = SnapshotTable.readAt(s, idxBase, v2)
      .select(input_file_name().as("f")).distinct().count()
    require(openedFiles > 0 && openedFiles < idxFiles,
      s"index probe must be partition-pruned: opened $openedFiles of " +
        s"$idxFiles files for cells ${probe.mkString(",")}")
    def topk(df: DataFrame): DataFrame = df
      .withColumn("cos_raw", VectorOps.cosine($"embedding", typedlit(qVec)))
      .select($"vec_id", $"label", $"cos_raw")
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(IvfTopK)
    // (c) maintenance is invisible: chain probe ≡ from-scratch rebuild
    val viaIndex = topk(probed)
    val viaRebuild = topk(assigned.filter($"cell".isin(probe: _*)))
    val a = viaIndex.select($"vec_id").as[Long].collect().toSeq
    val b = viaRebuild.select($"vec_id").as[Long].collect().toSeq
    require(a == b,
      s"append-maintained probe answer ($a) must equal a from-scratch " +
        s"rebuild's ($b)")
    viaIndex
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
  }

  // lazy: interpolates NumCells/NProbe/IvfTopK declared below
  private lazy val annIvfIndexAppendOracle =
    // from-scratch recompute of the IVF-routed semantics over the FULL
    // corpus (gen1 ∪ delta): cell assignment, the query's NProbe cells,
    // top-k over the probed cells — maintenance must be invisible
    s"""WITH cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $NumCells),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |scored AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cid,
       |    list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (
       |  SELECT vec_id, label, embedding, cid FROM (
       |    SELECT vec_id, label, embedding, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM scored) WHERE rn = 1),
       |qcells AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (
       |      ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.cv::DOUBLE[]) DESC, c.cid) AS rn
       |    FROM cent c, q) WHERE rn <= $NProbe),
       |fin AS (
       |  SELECT a.vec_id, a.label,
       |    list_cosine_similarity(a.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cos_raw
       |  FROM assigned a JOIN qcells p ON a.cid = p.cid, q
       |  WHERE a.vec_id <> $QueryVecId
       |  ORDER BY cos_raw DESC, a.vec_id
       |  LIMIT $IvfTopK)
       |SELECT vec_id, label, round(cos_raw, 4) AS cos
       |FROM fin
       |ORDER BY cos DESC, vec_id""".stripMargin

  /** IVF cell REBALANCE — the maintenance op [[annIvfIndexAppend]]
    * (delta ingest) and [[annTopkDeleteIvf]] (tombstones) leave open:
    * ingest skews cell occupancy, and a hot cell makes every probe
    * that touches it pay that cell's full size, the quadratic creep
    * that eats an IVF index at 100 TB. The rebalance SPLITS the
    * hottest cell — sub-centroids = the cell's members nearest and
    * farthest from its centroid (deterministic, ties by vec_id),
    * members reassigned to the nearer sub-centroid — and lands as a
    * hot-cell-proportional chain through the spine: one
    * [[graft.ops.SnapshotTable.commitDeletes]] whose tombstone is a
    * single `cell` row (zero data files, loud require), then one
    * [[graft.ops.SnapshotTable.commitAppend]] carrying ONLY the
    * reassigned members (row-count require) into ≤2 cell partitions.
    * The cold cells' files are never rewritten. Loud requires pin the
    * occupancy story (one more cell; both split pieces non-empty and
    * strictly smaller than the hot cell was; the max share never
    * rises) and the read story (a probe through the
    * delete+append chain is partition-pruned, opening strictly fewer
    * files than the index holds; recall vs the exact flat top-k holds
    * the 0.6 floor). The oracle recomputes the full rebalanced
    * semantics — assignment, hot-cell argmax, sub-centroid selection,
    * reassignment, refined probe set, top-k — from scratch in DuckDB.
    */
  private def annIvfRebalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val idxBase = LakeOps.lakeBase(dir, "ann_ivf_rebal")
    SnapshotTable.deleteTree(idxBase)
    val cents = untrainedCentroids(s, dir)
    require(QueryVecId < NumCells, "query vector must be among the centroids")
    val qVec = cents(QueryVecId)._2
    val assigned = Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("cell", VectorIndex.assign(cents))
    val v1 = SnapshotTable.commit(assigned.repartition($"cell"),
      idxBase, expectedVersion = SnapshotTable.ExpectEmpty,
      partitionCols = Seq("cell"))
    // occupancy: a NumCells-row bounded bridge; hot = argmax, ties low
    val occ = SnapshotTable.readAt(s, idxBase, v1)
      .groupBy($"cell").count().as[(Int, Long)].collect().toMap
    val total = occ.values.sum
    val (hot, hotN) = occ.toSeq.sortBy { case (c, n) => (-n, c) }.head
    require(hotN >= 2, s"hot cell $hot must be splittable, has $hotN rows")
    val maxShareBefore = hotN.toDouble / total
    // sub-centroids from the hot cell's own members: nearest and
    // farthest from the old centroid (two 1-row bounded bridges)
    val hotCent = cents(hot)._2
    val hotMembers = SnapshotTable.readAt(s, idxBase, v1)
      .filter($"cell" === hot)
      .withColumn("s", VectorOps.cosine($"embedding", typedlit(hotCent)))
    val (nearId, sub1) = hotMembers.orderBy($"s".desc, $"vec_id")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].head()
    val (farId, sub2) = hotMembers.orderBy($"s".asc, $"vec_id")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].head()
    require(nearId != farId,
      s"hot cell $hot needs two distinct members to split")
    // the rebalance chain: a 1-row cell tombstone, then the reassigned
    // members as a delta generation — hot-cell-proportional, never a
    // rewrite of the cold cells
    val vDel = SnapshotTable.commitDeletes(Seq(hot).toDF("cell"), idxBase,
      expectedVersion = v1)
    val delTop = new java.io.File(s"$idxBase/v$vDel").listFiles()
      .map(_.getName).toSet
    require(delTop == Set("_base", "_deletes", "_names"),
      s"the cell tombstone must carry no data files; v$vDel has $delTop")
    val reassigned = hotMembers.drop("s").withColumn("cell",
      when(VectorOps.cosine($"embedding", typedlit(sub1)) >=
        VectorOps.cosine($"embedding", typedlit(sub2)), lit(hot))
        .otherwise(lit(NumCells)))
    val vApp = SnapshotTable.commitAppend(reassigned.repartition($"cell"),
      idxBase, expectedVersion = vDel, partitionCols = Seq("cell"))
    val vAppRows = SnapshotTable.readParquet(s, s"$idxBase/v$vApp").count()
    require(vAppRows == hotN,
      s"rebalance must append ONLY the hot cell's $hotN rows; v$vApp " +
        s"holds $vAppRows — the commit rewrote the index")
    // occupancy after: one more cell, both pieces non-empty and
    // strictly smaller, the max share never rises
    val occAfter = SnapshotTable.readAt(s, idxBase, vApp)
      .groupBy($"cell").count().as[(Int, Long)].collect().toMap
    require(occAfter.size == occ.size + 1 &&
      occAfter.getOrElse(hot, 0L) > 0 &&
      occAfter.getOrElse(NumCells, 0L) > 0 &&
      math.max(occAfter(hot), occAfter(NumCells)) < hotN,
      s"the split must strictly shrink the hot cell: before $hotN, " +
        s"after ${occAfter.get(hot)} + ${occAfter.get(NumCells)}")
    require(occAfter.values.max.toDouble / total <= maxShareBefore,
      "rebalance raised the max cell share")
    // the refined probe: sub1 inherits the hot id, sub2 takes NumCells
    val newCents = cents.map { case (cid, c) =>
      if (cid == hot) (cid, sub1) else (cid, c)
    } :+ (NumCells, sub2)
    val probe = VectorIndex.probe(qVec, newCents)
    val probed = SnapshotTable.readAt(s, idxBase, vApp)
      .filter($"cell".isin(probe: _*))
    // planning-time pruning evidence across the union of generations:
    // input_file_name() cannot span a multi-source plan, so count the
    // files each generation's scan PLANS (selectedPartitions reflects
    // partition pruning), skipping the tombstone sidecar's scan
    def plannedDataFiles(df: DataFrame): Long =
      df.queryExecution.sparkPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec
            if !sc.relation.location.rootPaths
              .exists(_.toString.contains("_deletes")) =>
          sc.selectedPartitions.totalNumberOfFiles
      }.sum
    val openedFiles = plannedDataFiles(probed)
    val idxFiles = plannedDataFiles(SnapshotTable.readAt(s, idxBase, vApp))
    require(openedFiles > 0 && openedFiles < idxFiles,
      s"rebalanced probe must be partition-pruned: opened $openedFiles " +
        s"of $idxFiles files for cells ${probe.mkString(",")}")
    val topk = probed
      .withColumn("cos_raw", VectorOps.cosine($"embedding", typedlit(qVec)))
      .select($"vec_id", $"label", $"cos_raw")
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(IvfTopK)
    // accountability: recall vs the exact flat top-k at the IVF floor
    val exact = assigned
      .withColumn("cos_raw", VectorOps.cosine($"embedding", typedlit(qVec)))
      .orderBy($"cos_raw".desc, $"vec_id").limit(IvfTopK)
      .select($"vec_id")
    val hits = topk.join(exact, Seq("vec_id"), "left_semi").count()
    val recall = hits.toDouble / IvfTopK
    require(recall >= 0.6,
      f"rebalanced IVF recall@$IvfTopK = $recall%.2f — below the 0.6 floor")
    topk
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
      .orderBy($"cos".desc, $"vec_id")
  }

  // lazy: interpolates NumCells/NProbe/IvfTopK declared below
  private lazy val annIvfRebalanceOracle =
    // from-scratch recompute of the REBALANCED semantics: assignment,
    // hot-cell argmax (ties low), sub-centroids = nearest/farthest
    // member (ties by vec_id), reassignment to the nearer sub (ties to
    // the inherited id), refined probe set, top-k over probed cells
    s"""WITH cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $NumCells),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |scored AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cid,
       |    list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) AS s
       |  FROM embeddings e CROSS JOIN cent c
       |  WHERE e.vec_id <> $QueryVecId),
       |assigned AS (
       |  SELECT vec_id, label, embedding, cid FROM (
       |    SELECT vec_id, label, embedding, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM scored) WHERE rn = 1),
       |hot AS (
       |  SELECT cid FROM (
       |    SELECT cid, count(*) AS n FROM assigned GROUP BY cid
       |    ORDER BY n DESC, cid LIMIT 1)),
       |members AS (
       |  SELECT a.vec_id, a.label, a.embedding,
       |    list_cosine_similarity(a.embedding::DOUBLE[], c.cv::DOUBLE[]) AS s
       |  FROM assigned a JOIN cent c ON c.cid = (SELECT cid FROM hot)
       |  WHERE a.cid = (SELECT cid FROM hot)),
       |sub1 AS (SELECT embedding FROM members ORDER BY s DESC, vec_id LIMIT 1),
       |sub2 AS (SELECT embedding FROM members ORDER BY s ASC, vec_id LIMIT 1),
       |reassigned AS (
       |  SELECT m.vec_id, m.label, m.embedding,
       |    CASE WHEN list_cosine_similarity(m.embedding::DOUBLE[], s1.embedding::DOUBLE[])
       |           >= list_cosine_similarity(m.embedding::DOUBLE[], s2.embedding::DOUBLE[])
       |         THEN (SELECT cid FROM hot) ELSE $NumCells END AS cid
       |  FROM members m, sub1 s1, sub2 s2),
       |newassigned AS (
       |  SELECT vec_id, label, embedding, cid FROM assigned
       |  WHERE cid <> (SELECT cid FROM hot)
       |  UNION ALL
       |  SELECT vec_id, label, embedding, cid FROM reassigned),
       |newcent AS (
       |  SELECT cid, cv FROM cent WHERE cid <> (SELECT cid FROM hot)
       |  UNION ALL
       |  SELECT (SELECT cid FROM hot) AS cid, embedding AS cv FROM sub1
       |  UNION ALL
       |  SELECT $NumCells AS cid, embedding AS cv FROM sub2),
       |qcells AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (
       |      ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.cv::DOUBLE[]) DESC, c.cid) AS rn
       |    FROM newcent c, q) WHERE rn <= $NProbe),
       |fin AS (
       |  SELECT a.vec_id, a.label,
       |    list_cosine_similarity(a.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cos_raw
       |  FROM newassigned a JOIN qcells p ON a.cid = p.cid, q
       |  ORDER BY cos_raw DESC, a.vec_id
       |  LIMIT $IvfTopK)
       |SELECT vec_id, label, round(cos_raw, 4) AS cos
       |FROM fin
       |ORDER BY cos DESC, vec_id""".stripMargin

  /** IVF centroid RETRAINING under drift — the maintenance op
    * [[annIvfIndexAppend]] (delta ingest) and [[annIvfRebalance]]
    * (hot-cell splits) both leave open: appends keep cell OCCUPANCY
    * bounded but never re-FIT the centroids, so after enough drifted
    * ingest the assignment no longer reflects the corpus and probe
    * quality decays even with balanced cells. The gate drives the
    * decay deliberately: the standing index (stale centroids = the
    * first-k untrained cells) takes an ingest batch of DRIFTED vectors
    * (every embedding reversed — an isometry, so the drifted region
    * has real internal structure the stale cells know nothing about)
    * as an append generation, and a drifted-region query's recall
    * against the exact top-k is measured through the stale index.
    * The RETRAIN then: (a) refreshes the codebook with one Lloyd step
    * over a BOUNDED SAMPLE of the chained index (vec_id mod 2 — the
    * training cost is sample-size, seeded by the first k vectors of
    * each region so the refreshed codebook covers the drifted mass);
    * (b) re-bins the index under the refreshed centroids and recommits
    * it as ONE new full generation at INDEX size — the corpus table is
    * never rescanned, and the full commit cuts the append chain.
    * Loud requires: the recommit is a chain-cutting single generation;
    * cell occupancy spreads into the refreshed cells; and recall
    * STRICTLY improves over the stale index. Recall is accounted over
    * DISTINCT embeddings with exact query-duplicates excluded, so the
    * number is scale-stable (the key-shifted soak corpus collapses to
    * the same distinct set instead of flooding top-k with copies).
    * The oracle recomputes drift, stale probe, sampled Lloyd step,
    * re-bin, refreshed probe, and both recalls from scratch in DuckDB.
    */
  private def annIvfRetrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val idxBase = LakeOps.lakeBase(dir, "ann_ivf_retrain")
    SnapshotTable.deleteTree(idxBase)
    val cents = untrainedCentroids(s, dir) // the STALE codebook
    require(QueryVecId < NumCells, "query vector must be among the centroids")
    // the drifted-region query: the reversed twin of centroid 0
    val qVec = cents(QueryVecId)._2.reverse
    val emb = Tables.fanOut(Tables.embeddings(s, dir))
      .select($"vec_id", $"label", $"embedding")
    val driftBase = emb.agg(max($"vec_id")).head.getLong(0) + 1L
    val drifted = emb
      .withColumn("vec_id", $"vec_id" + lit(driftBase))
      .withColumn("embedding", reverse($"embedding"))
    // self-match exclusion by VALUE: every key-shifted copy of the
    // query's source vector contributes an exact duplicate at soak
    // scale, and a recall flooded by self-copies measures nothing
    val search = emb.unionByName(drifted)
      .filter(not($"embedding" === typedlit(qVec)))
    // the standing index: stale assignment; the drifted mass arrives
    // as an ingest append (the ann_ivf_index_append story)
    val assignedStale = search
      .withColumn("cell", VectorIndex.assign(cents))
    val v1 = SnapshotTable.commit(
      assignedStale.filter($"vec_id" < driftBase).repartition($"cell"),
      idxBase, expectedVersion = SnapshotTable.ExpectEmpty,
      partitionCols = Seq("cell"))
    val v2 = SnapshotTable.commitAppend(
      assignedStale.filter($"vec_id" >= driftBase).repartition($"cell"),
      idxBase, expectedVersion = v1, partitionCols = Seq("cell"))
    // recall@k over DISTINCT embeddings: top-k of the probed cells vs
    // the exact top-k, both deduped by value (min vec_id breaks ties)
    def top5Distinct(df: DataFrame): DataFrame = df
      .groupBy($"embedding").agg(min($"vec_id").as("mid"))
      .withColumn("cos", VectorOps.cosine($"embedding", typedlit(qVec)))
      .orderBy($"cos".desc, $"mid")
      .limit(IvfTopK)
      .select($"embedding")
    val exactTop = top5Distinct(search)
    def recallOf(index: DataFrame,
        codebook: Array[(Int, Array[Float])]): Double = {
      val probe = VectorIndex.probe(qVec, codebook)
      val hits = top5Distinct(index.filter($"cell".isin(probe: _*)))
        .join(exactTop, Seq("embedding"), "left_semi").count()
      hits.toDouble / IvfTopK
    }
    val recallStale = recallOf(SnapshotTable.readAt(s, idxBase, v2), cents)
    // the RETRAIN: one Lloyd step over a bounded SAMPLE of the chained
    // index (train cost = sample size), seeded by the first k vectors
    // of each region so the refreshed codebook can cover the drift
    val seeds = cents ++ cents.map { case (cid, c) =>
      (cid + NumCells, c.reverse)
    }
    val sample = SnapshotTable.readAt(s, idxBase, v2)
      .filter(pmod($"vec_id", lit(2)) === 0)
      .select($"vec_id", $"embedding")
    val retrained = VectorIndex.lloydStep(sample, seeds)
    // recommit: re-bin the INDEX (never the corpus) under the
    // refreshed codebook as one full generation — chain cut, new
    // partition layout, index-size cost
    val rebinned = SnapshotTable.readAt(s, idxBase, v2)
      .drop("cell").withColumn("cell", VectorIndex.assign(retrained))
    val v3 = SnapshotTable.commit(rebinned.repartition($"cell"), idxBase,
      expectedVersion = Some(v2), partitionCols = Seq("cell"))
    require(SnapshotTable.chainOf(idxBase, v3) == Seq(v3),
      s"the retrain recommit must cut the chain to one generation: " +
        s"${SnapshotTable.chainOf(idxBase, v3)}")
    val cellsAfter = SnapshotTable.readAt(s, idxBase, v3)
      .select($"cell").distinct().count()
    require(cellsAfter > NumCells,
      s"the refreshed codebook must spread the index into the drifted " +
        s"region's cells: only $cellsAfter cells occupied")
    val recallNew = recallOf(SnapshotTable.readAt(s, idxBase, v3), retrained)
    require(recallNew > recallStale,
      f"retraining must strictly improve drifted-query recall: stale " +
        f"$recallStale%.2f vs retrained $recallNew%.2f")
    Seq((IvfTopK.toLong, recallStale, recallNew, true))
      .toDF("k", "recall_stale", "recall_retrained", "improved")
  }

  // lazy: interpolates NumCells/NProbe/IvfTopK declared below
  private lazy val annIvfRetrainOracle = {
    // one distinct-embedding top-k + recall per codebook, shared CTEs:
    // drift (reversed twins), self-duplicate exclusion, sampled Lloyd
    // step with the Spark side's 6-dp HALF_UP float quantization
    def recallCte(centsName: String, tag: String) =
      s"""probe_$tag AS (
         |  SELECT cid FROM (
         |    SELECT c.cid, row_number() OVER (ORDER BY
         |      list_cosine_similarity(q.qv::DOUBLE[], c.cv::DOUBLE[]) DESC, c.cid) AS rn
         |    FROM $centsName c, q) WHERE rn <= $NProbe),
         |probed_$tag AS (
         |  SELECT vec_id, embedding FROM (
         |    SELECT s.vec_id, s.embedding, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        list_cosine_similarity(s.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC, c.cid) AS rn
         |    FROM search s CROSS JOIN $centsName c) a
         |  WHERE rn = 1 AND cid IN (SELECT cid FROM probe_$tag)),
         |ivf_$tag AS (SELECT embedding FROM (
         |    SELECT s.embedding, min(s.vec_id) AS mid,
         |      list_cosine_similarity(any_value(s.embedding)::DOUBLE[], any_value(q.qv)::DOUBLE[]) AS cos
         |    FROM probed_$tag s, q GROUP BY s.embedding)
         |  ORDER BY cos DESC, mid LIMIT $IvfTopK),
         |recall_$tag AS (
         |  SELECT CAST(count(*) AS DOUBLE) / $IvfTopK AS r
         |  FROM ivf_$tag JOIN exact USING (embedding))""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |dd AS (SELECT max(vec_id)+1 AS d FROM e),
       |drift AS (SELECT vec_id + (SELECT d FROM dd) AS vec_id,
       |          list_reverse(embedding) AS embedding FROM e),
       |corpus AS (SELECT vec_id, embedding FROM e
       |           UNION ALL SELECT vec_id, embedding FROM drift),
       |q AS (SELECT list_reverse(embedding) AS qv FROM e
       |      WHERE vec_id = $QueryVecId),
       |search AS (SELECT c.* FROM corpus c, q WHERE c.embedding <> q.qv),
       |exact AS (SELECT embedding FROM (
       |    SELECT s.embedding, min(s.vec_id) AS mid,
       |      list_cosine_similarity(any_value(s.embedding)::DOUBLE[], any_value(q.qv)::DOUBLE[]) AS cos
       |    FROM search s, q GROUP BY s.embedding)
       |  ORDER BY cos DESC, mid LIMIT $IvfTopK),
       |stale AS (SELECT vec_id AS cid, embedding AS cv FROM e
       |          WHERE vec_id < $NumCells),
       |${recallCte("stale", "stale")},
       |seeds AS (
       |  SELECT CASE WHEN vec_id < $NumCells THEN vec_id
       |              ELSE $NumCells + (vec_id - (SELECT d FROM dd)) END AS cid,
       |         embedding AS cv
       |  FROM corpus
       |  WHERE vec_id < $NumCells
       |     OR (vec_id >= (SELECT d FROM dd)
       |         AND vec_id < (SELECT d FROM dd) + $NumCells)),
       |samp AS (SELECT * FROM search WHERE vec_id % 2 = 0),
       |a1 AS (
       |  SELECT s.vec_id, s.embedding, c.cid,
       |    row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |      list_cosine_similarity(s.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC, c.cid) AS rn
       |  FROM samp s CROSS JOIN seeds c),
       |m1 AS (
       |  SELECT cid, pos, CAST(round(avg(x), 6) AS FLOAT) AS mx
       |  FROM (SELECT cid, unnest(embedding) AS x,
       |          unnest(generate_series(1, len(embedding))) AS pos
       |        FROM a1 WHERE rn = 1)
       |  GROUP BY cid, pos),
       |retrained AS (SELECT cid, list(mx ORDER BY pos) AS cv FROM m1 GROUP BY cid),
       |${recallCte("retrained", "new")}
       |SELECT CAST($IvfTopK AS BIGINT) AS k,
       |  (SELECT r FROM recall_stale) AS recall_stale,
       |  (SELECT r FROM recall_new) AS recall_retrained,
       |  true AS improved""".stripMargin
  }

  /** Recall@k of the int8 ranking against the exact float top-k — the
    * same accountability gate the IVF/PQ paths carry: a quantization
    * regression surfaces as a correctness diff, not a silent quality
    * drop.
    */
  private def annInt8Recall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    VectorIndex.recallAtK(s, dir, annInt8Topk(s, dir).select($"vec_id"),
      queryVecLit(s, dir), TopK)
  }

  private val annInt8RecallOracle = {
    val vq = int8QuantSql.format("e.embedding::DOUBLE[]", "e.embedding::DOUBLE[]")
    val qq = int8QuantSql.format("q.qv::DOUBLE[]", "q.qv::DOUBLE[]")
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |approx AS (
       |  SELECT e.vec_id,
       |    CAST(list_dot_product($vq::DOUBLE[], $qq::DOUBLE[]) AS BIGINT) AS s
       |  FROM embeddings e, q WHERE e.vec_id <> $QueryVecId
       |  ORDER BY s DESC, e.vec_id LIMIT $TopK),
       |exact AS (
       |  SELECT e.vec_id FROM embeddings e, q
       |  WHERE e.vec_id <> $QueryVecId
       |  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e.vec_id
       |  LIMIT $TopK)
       |SELECT $TopK AS k,
       |  CAST(count(*) AS DOUBLE) / $TopK AS recall_at_k
       |FROM approx JOIN exact USING (vec_id)""".stripMargin
  }

  private def annTopkCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qv = queryVecLit(s, dir)
    Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("cos_raw", VectorOps.cosine($"embedding", qv))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(TopK)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
  }

  private val annTopkOracle =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId)
       |SELECT e.vec_id, e.label,
       |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 4) AS cos
       |FROM embeddings e, q
       |WHERE e.vec_id <> $QueryVecId
       |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e.vec_id
       |LIMIT $TopK""".stripMargin

  private def annLshTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qv = queryVecLit(s, dir)
    Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .filter(VectorOps.signBucket($"embedding", LshBits)
        === VectorOps.signBucket(qv, LshBits))
      .withColumn("cos_raw", VectorOps.cosine($"embedding", qv))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(LshTopK)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
  }

  private val annLshOracle = {
    val eb = VectorOps.signBucketSql("e.embedding", LshBits)
    val qb = VectorOps.signBucketSql("q.qv", LshBits)
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId)
       |SELECT e.vec_id, e.label,
       |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]), 4) AS cos
       |FROM embeddings e, q
       |WHERE e.vec_id <> $QueryVecId AND $eb = $qb
       |ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e.vec_id
       |LIMIT $LshTopK""".stripMargin
  }

  private val NumCells = 8
  private val IvfTopK = 5

  /** IVF (inverted-file) ANN: vectors are assigned to the cell of their
    * nearest centroid; a query probes only its `NProbe` closest cells.
    * Cell assignment is pure map-side work against broadcast centroid
    * literals; at scale the assignment is computed once at ingest and the
    * probe filter prunes partitions (partition-by-cell layout).
    *
    * Centroid "training" is stood in by taking the first `NumCells`
    * vectors as centroids (deterministic; a real deployment trains
    * k-means offline — the IVF *structure* is what's exercised here),
    * centroid ids 0..NumCells-1 in order.
    */
  private def untrainedCentroids(s: SparkSession, dir: String): VectorIndex.Codebook = {
    val cents = VectorIndex.initCentroids(Tables.embeddings(s, dir), NumCells)
    require(cents.map(_._1).toSeq == cents.indices.toSeq,
      "centroid ids must be 0..n-1")
    cents
  }

  private def annIvfTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = untrainedCentroids(s, dir)
    // the query vector IS centroid QueryVecId (< NumCells), so one
    // collect serves both
    require(QueryVecId < NumCells, "query vector must be among the centroids")
    val qVec = cents(QueryVecId)._2
    val probe = VectorIndex.probe(qVec, cents)
    Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("cell", VectorIndex.assign(cents))
      .filter($"cell".isin(probe: _*))
      .withColumn("cos_raw", VectorOps.cosine($"embedding", typedlit(qVec)))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(IvfTopK)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
  }

  private val annIvfOracle =
    s"""WITH cent AS (
       |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $NumCells),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |scored AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.cid,
       |    list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |assigned AS (
       |  SELECT vec_id, label, embedding, cid FROM (
       |    SELECT vec_id, label, embedding, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
       |    FROM scored) WHERE rn = 1),
       |qcells AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (
       |      ORDER BY list_cosine_similarity(q.qv::DOUBLE[], c.cv::DOUBLE[]) DESC, c.cid) AS rn
       |    FROM cent c, q) WHERE rn <= $NProbe)
       |SELECT a.vec_id, a.label,
       |  round(list_cosine_similarity(a.embedding::DOUBLE[], q.qv::DOUBLE[]), 4) AS cos
       |FROM assigned a JOIN qcells p ON a.cid = p.cid, q
       |WHERE a.vec_id <> $QueryVecId
       |ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, a.vec_id
       |LIMIT $IvfTopK""".stripMargin

  // ------------------------------------------- k-means codebook training

  private val KmIters = 2

  /** Distributed Lloyd's k-means over the embedding column — the codebook
    * trainer that upgrades IVF from "first-k vectors as cells" to trained
    * cells. Per iteration ([[VectorIndex.lloydStep]]): (1) assignment is
    * map-side argmax of cosine against k BROADCAST centroid literals;
    * (2) the update is a (cell, dim)-keyed exact aggregation — k·dim rows
    * collected to the driver, the legitimate A2-bridge size (k·dim ≪
    * corpus, the same boundary every distributed k-means implementation
    * uses).
    *
    * Engine-portability: new centroids are rounded HALF_UP to 6 decimals
    * and float32-quantized each iteration on BOTH engines, absorbing the
    * double-accumulation-order difference between Spark's partial aggs
    * and DuckDB's sequential avg, so assignments never diverge. A cluster
    * that empties drops out on both sides (means are computed from
    * members only). Output: per-cell population and mean member cosine
    * after a final assignment under the trained codebook.
    */
  private def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // cached: each Lloyd step is an ACTION (the k·dim mean collect), so
    // the scan would otherwise re-run per iteration + once for the
    // returned plan. No eager unpersist (it would unmark before the
    // caller's action); LRU owns it. At 100 TB the honest alternative
    // is re-scanning parquet per iteration — swap persist() for nothing
    // and the code is unchanged.
    val emb = Tables.fanOut(Tables.embeddings(s, dir))
      .select($"vec_id", $"embedding").persist()
    var cents = VectorIndex.initCentroids(emb, KmK)
    for (_ <- 1 to KmIters) cents = VectorIndex.lloydStep(emb, cents)
    emb.select(VectorIndex.assign(cents).as("cell"),
        VectorIndex.assignScore(cents).as("score"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"), round(avg($"score"), 4).as("avg_cos"))
      .orderBy($"cell")
  }

  /** IVF search over the TRAINED codebook — [[kmeansTrain]] (one Lloyd
    * iteration) composed with the [[annIvfTopk]] probe: vectors are
    * binned by trained centroid, the query probes its NProbe closest
    * trained cells, exact cosine ranks the survivors. Same plan shape as
    * the untrained IVF (map-side assignment, no joins on the corpus
    * side); the training cost is paid once per (session, dir) via
    * [[VectorIndex.coarseCodebook]]. The memoized codebook's query
    * vector IS the stored embedding of QueryVecId, so no second scan
    * re-reads it.
    */
  private def annIvfTrainedTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (qVec, cents) = VectorIndex.coarseCodebook(s, dir)
    val probe = VectorIndex.probe(qVec, cents)
    Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("cell", VectorIndex.assign(cents))
      .filter($"cell".isin(probe: _*))
      .withColumn("cos_raw", VectorOps.cosine($"embedding", typedlit(qVec)))
      .orderBy($"cos_raw".desc, $"vec_id")
      .limit(IvfTopK)
      .select($"vec_id", $"label", round($"cos_raw", 4).as("cos"))
  }

  private val annIvfTrainedOracle =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, embedding AS c FROM e WHERE vec_id < $KmK),
       |${kmIterSql("c0", 1)},
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |fin AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      list_cosine_similarity(embedding::DOUBLE[], c::DOUBLE[]) DESC, cid) AS rn
       |  FROM e CROSS JOIN c1),
       |qc AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (ORDER BY
       |      list_cosine_similarity(q.qv::DOUBLE[], c.c::DOUBLE[]) DESC, c.cid) AS rn
       |    FROM c1 c, q) WHERE rn <= $NProbe)
       |SELECT f.vec_id, emb.label,
       |  round(list_cosine_similarity(emb.embedding::DOUBLE[], q.qv::DOUBLE[]), 4) AS cos
       |FROM fin f JOIN qc USING (cid)
       |  JOIN embeddings emb ON emb.vec_id = f.vec_id, q
       |WHERE f.rn = 1 AND f.vec_id <> $QueryVecId
       |ORDER BY list_cosine_similarity(emb.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, f.vec_id
       |LIMIT $IvfTopK""".stripMargin

  private val kmeansOracle =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, embedding AS c FROM e WHERE vec_id < $KmK),
       |${kmIterSql("c0", 1)},
       |${kmIterSql("c1", 2)},
       |fin AS (
       |  SELECT vec_id, cid,
       |    list_cosine_similarity(embedding::DOUBLE[], c::DOUBLE[]) AS score,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      list_cosine_similarity(embedding::DOUBLE[], c::DOUBLE[]) DESC, cid) AS rn
       |  FROM e CROSS JOIN c2)
       |SELECT CAST(cid AS INTEGER) AS cell, count(*) AS n,
       |  round(avg(score), 4) AS avg_cos
       |FROM fin WHERE rn = 1
       |GROUP BY cid
       |ORDER BY cell""".stripMargin

  // ------------------------------------------------------ IVF recall gate

  /** recall@k of the trained-IVF search against the exact brute-force
    * top-k — the accountability number every ANN index owes its users.
    * Both top-k sets are TakeOrderedAndProject plans (bounded by
    * construction); the overlap is a k-row semi-join and the recall an
    * exact integer ratio, so the score is engine-portable with no
    * float tolerance. IvfRecallSpec asserts the floor; this query makes
    * the number part of the oracle-gated surface so a regression in the
    * codebook or probe logic shows up as a correctness diff, not a
    * silent quality drop.
    */
  private def annIvfRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (qVec, _) = VectorIndex.coarseCodebook(s, dir)
    VectorIndex.recallAtK(s, dir, annIvfTrainedTopk(s, dir).select($"vec_id"),
      typedlit(qVec), IvfTopK)
  }

  private val annIvfRecallOracle =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, embedding AS c FROM e WHERE vec_id < $KmK),
       |${kmIterSql("c0", 1)},
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |fin AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      list_cosine_similarity(embedding::DOUBLE[], c::DOUBLE[]) DESC, cid) AS rn
       |  FROM e CROSS JOIN c1),
       |qc AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (ORDER BY
       |      list_cosine_similarity(q.qv::DOUBLE[], c.c::DOUBLE[]) DESC, c.cid) AS rn
       |    FROM c1 c, q) WHERE rn <= $NProbe),
       |ivf AS (
       |  SELECT f.vec_id
       |  FROM fin f JOIN qc USING (cid)
       |    JOIN embeddings emb ON emb.vec_id = f.vec_id, q
       |  WHERE f.rn = 1 AND f.vec_id <> $QueryVecId
       |  ORDER BY list_cosine_similarity(emb.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, f.vec_id
       |  LIMIT $IvfTopK),
       |exact AS (
       |  SELECT e2.vec_id FROM embeddings e2, q
       |  WHERE e2.vec_id <> $QueryVecId
       |  ORDER BY list_cosine_similarity(e2.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e2.vec_id
       |  LIMIT $IvfTopK)
       |SELECT $IvfTopK AS k,
       |  CAST(count(*) AS DOUBLE) / $IvfTopK AS recall_at_k
       |FROM ivf JOIN exact USING (vec_id)""".stripMargin

  // ------------------------------------------------- SemDeDup proper

  private val SemCosMin = 0.35
  private val SemBucketBits = 6

  /** SemDeDup (semantic dedup; Abbas et al. 2023, arXiv:2303.09540):
    * embeddings are clustered with the TRAINED k-means codebook (the
    * same one-Lloyd-step [[VectorIndex.coarseCodebook]] the IVF queries
    * share),
    * then near-duplicates are removed by cosine threshold WITHIN each
    * cluster — the paper's algorithm: clustering bounds the pairwise
    * comparison to cluster-local work, and the lowest vec_id of each
    * ε-ball survives (greedy keep-first, deterministic).
    *
    * Scale shape: cluster assignment is map-side argmax against k
    * broadcast centroid literals; the candidate join is blocked on
    * (cell, sign-LSH bucket) so the within-cluster quadratic is
    * sub-bucketed exactly like [[DedupQueries]]'s embedding near-dup —
    * at 100 TB you additionally grow k with the corpus (SemDeDup used
    * k ≈ n/10⁴) so cells stay bounded; k is pinned small here only so
    * the DuckDB oracle can re-derive the same codebook. Output is the
    * per-cluster keep/remove accounting, which pins assignment,
    * thresholding, and the keep-first rule in one gate.
    */
  private def dedupSemanticKmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, cents) = VectorIndex.coarseCodebook(s, dir)
    val e = Tables.fanOut(Tables.embeddings(s, dir))
      .select($"vec_id", $"embedding", VectorIndex.assign(cents).as("cell"),
        VectorOps.signBucket($"embedding", SemBucketBits).as("bucket"),
        VectorOps.norm($"embedding").as("nrm"))
    // cos ≥ t  ⟺  dot ≥ t·|a|·|b| — dot evaluated once per candidate
    // pair inside the join condition (same trick as dedup_embedding_lsh)
    val removed = e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id")
          && VectorOps.dot(col("a.embedding"), col("b.embedding"))
            >= lit(SemCosMin) * col("a.nrm") * col("b.nrm"))
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("removed", lit(1L))
    e.select($"vec_id", $"cell")
      .join(removed, Seq("vec_id"), "left")
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"),
        coalesce(sum($"removed"), lit(0L)).as("n_removed"))
      .select($"cell", $"n", $"n_removed",
        ($"n" - $"n_removed").as("n_kept"))
      .orderBy($"cell")
  }

  private val dedupSemanticOracle = {
    val bucket = VectorOps.signBucketSql("emb.embedding", SemBucketBits)
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, embedding AS c FROM e WHERE vec_id < $KmK),
       |${kmIterSql("c0", 1)},
       |fin AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY
       |      list_cosine_similarity(embedding::DOUBLE[], c::DOUBLE[]) DESC, cid) AS rn
       |  FROM e CROSS JOIN c1),
       |asg AS (
       |  SELECT f.vec_id, f.cid, emb.embedding, $bucket AS bucket
       |  FROM fin f JOIN embeddings emb ON emb.vec_id = f.vec_id
       |  WHERE f.rn = 1),
       |rem AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b
       |    ON a.cid = b.cid AND a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
       |    >= $SemCosMin)
       |SELECT CAST(a.cid AS INTEGER) AS cell, count(*) AS n,
       |  CAST(count(r.vec_id) AS BIGINT) AS n_removed,
       |  CAST(count(*) - count(r.vec_id) AS BIGINT) AS n_kept
       |FROM asg a LEFT JOIN rem r ON a.vec_id = r.vec_id
       |GROUP BY a.cid
       |ORDER BY cell""".stripMargin
  }

  // ----------------------- contrastive training-pair mining

  private val CpBits = 6       // 64 sign-LSH buckets = the candidate pool
  private val CpAnchorMod = 97L // ~1% of vectors become anchors
  private val CpNegK = 3

  /** Mines (anchor, positive, hard-negative) training pairs for
    * embedding-model finetuning — the data-prep step contrastive
    * training (SimCSE/DPR-style) runs over a corpus: for each sampled
    * anchor, the positive is its most-similar SAME-label vector and the
    * hard negatives are the [[CpNegK]] most-similar DIFFERENT-label
    * vectors. "Hard" is the point: random negatives are trivial for the
    * model; the informative ones are the lookalikes that cross the
    * label boundary.
    *
    * Scale shape — approximate mining, the way production systems do
    * it: candidates come from the anchor's sign-LSH bucket
    * (equi-join on the [[CpBits]]-bit key, the dedup_embedding_lsh
    * machinery), NOT from an all-pairs scan, so the join carries
    * O(anchors × bucket-occupancy) rows and the anchor FRACTION (a
    * deterministic hash gate, no broadcast, no collect) controls total
    * cost. Per-anchor top-k is one window on (anchor, role) — a keyed
    * shuffle whose width is the anchor count. Ranking uses the
    * 4dp-rounded cosine with a vec_id tiebreak so both engines rank
    * identically even at float ulp boundaries.
    */
  private def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.fanOut(Tables.embeddings(s, dir))
      .select($"vec_id", $"embedding", $"label",
        VectorOps.signBucket($"embedding", CpBits).as("bkt"))
    val anchors = emb.filter(pmod($"vec_id", lit(CpAnchorMod)) === 0)
      .select($"vec_id".as("anchor_id"), $"embedding".as("a_emb"),
        $"label".as("a_label"), $"bkt")
    val cands = anchors.join(emb, Seq("bkt"))
      .filter($"vec_id" =!= $"anchor_id")
      .select($"anchor_id", $"vec_id",
        when($"label" === $"a_label", lit("pos")).otherwise(lit("neg"))
          .as("role"),
        round(VectorOps.cosine($"a_emb", $"embedding"), 4).as("cos"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"anchor_id", $"role").orderBy($"cos".desc, $"vec_id")
    cands.withColumn("rnk", row_number().over(win).cast("long"))
      .filter(($"role" === "pos" && $"rnk" === 1L)
        || ($"role" === "neg" && $"rnk" <= CpNegK))
      .select($"anchor_id", $"role", $"rnk", $"vec_id", $"cos")
      .orderBy($"anchor_id", $"role", $"rnk")
  }

  private val contrastivePairsOracle = {
    val bucket = VectorOps.signBucketSql("embedding", CpBits)
    s"""WITH e AS (
       |  SELECT vec_id, embedding, label, $bucket AS bkt FROM embeddings),
       |a AS (
       |  SELECT vec_id AS anchor_id, embedding AS a_emb, label AS a_label, bkt
       |  FROM e WHERE vec_id % $CpAnchorMod = 0),
       |cand AS (
       |  SELECT a.anchor_id,
       |    e.vec_id,
       |    CASE WHEN e.label = a.a_label THEN 'pos' ELSE 'neg' END AS role,
       |    round(list_cosine_similarity(e.embedding::DOUBLE[], a.a_emb::DOUBLE[]), 4) AS cos
       |  FROM a JOIN e USING (bkt)
       |  WHERE e.vec_id <> a.anchor_id),
       |ranked AS (
       |  SELECT anchor_id, role, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY anchor_id, role
       |      ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
       |  FROM cand)
       |SELECT anchor_id, role, rnk, vec_id, cos
       |FROM ranked
       |WHERE (role = 'pos' AND rnk = 1) OR (role = 'neg' AND rnk <= $CpNegK)
       |ORDER BY anchor_id, role, rnk""".stripMargin
  }

  // --------------------------- embedding-space outlier detection

  private val OutlierTopK = 5

  /** Per-label embedding OUTLIERS — the curation pass that surfaces
    * mislabeled or off-distribution vectors before they poison a
    * class centroid, a SemDeDup cluster, or a training mix: for each
    * label, the [[OutlierTopK]] vectors farthest (squared L2) from
    * their own label's centroid.
    *
    * Determinism contract (the kmeans lesson, taken further): float
    * centroids need cross-row float sums, whose order neither engine
    * pins. Components are quantized to integer micro-units FIRST
    * (round(x·1e6) — exact in double for |x| < 2^33), so the centroid
    * numerators are INTEGER sums (order-free), the centroid is the
    * integer-division mean in micro-units, and each vector's distance
    * is an exact integer in micro² — the ranking both engines produce
    * is bit-identical with no rounding boundary anywhere.
    *
    * Scale shape: vectors explode to (label, pos, value) once; the
    * centroid is one combinable (label, pos) aggregate (|labels|·dim
    * rows — index-sized, broadcastable at any corpus size, carried
    * here as a second keyed join on (label, pos) to keep the plan
    * hint-free); distances re-reduce per doc; top-k per label is a
    * window over label-partitioned, index-sized rows.
    */
  private def embeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val comp = Tables.fanOut(Tables.embeddings(s, dir))
      .select($"vec_id", $"label",
        posexplode(transform($"embedding",
          x => round(x.cast("double") * 1e6).cast("long"))))
      .toDF("vec_id", "label", "pos", "v")
    val cent = comp.groupBy($"label", $"pos")
      .agg(sum($"v").as("sv"), count(lit(1)).as("n"))
      .select($"label", $"pos", expr("sv div n").as("c"))
    val dist = comp.join(cent, Seq("label", "pos"))
      .groupBy($"vec_id", $"label")
      .agg(sum(($"v" - $"c") * ($"v" - $"c")).as("dist2"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy($"label").orderBy($"dist2".desc, $"vec_id")
    dist.withColumn("rnk", row_number().over(win).cast("long"))
      .filter($"rnk" <= OutlierTopK)
      .select($"label", $"rnk", $"vec_id", $"dist2")
      .orderBy($"label", $"rnk")
  }

  private val embeddingOutliersOracle =
    s"""WITH comp AS (
       |  SELECT vec_id, label, pos - 1 AS pos,
       |    CAST(round(v * 1e6) AS BIGINT) AS v
       |  FROM (SELECT vec_id, label,
       |          unnest(embedding) AS v,
       |          generate_subscripts(embedding, 1) AS pos
       |        FROM embeddings)),
       |cent AS (
       |  SELECT label, pos, CAST(sum(v) // count(*) AS BIGINT) AS c
       |  FROM comp GROUP BY label, pos),
       |dist AS (
       |  SELECT vec_id, comp.label,
       |    CAST(sum((v - c) * (v - c)) AS BIGINT) AS dist2
       |  FROM comp JOIN cent ON comp.label = cent.label AND comp.pos = cent.pos
       |  GROUP BY vec_id, comp.label),
       |ranked AS (
       |  SELECT label, vec_id, dist2,
       |    CAST(row_number() OVER (PARTITION BY label
       |      ORDER BY dist2 DESC, vec_id) AS BIGINT) AS rnk
       |  FROM dist)
       |SELECT label, rnk, vec_id, dist2
       |FROM ranked WHERE rnk <= $OutlierTopK
       |ORDER BY label, rnk""".stripMargin

  // ------------------------- PCA: top principal component, exact

  private val PcaDim = 64
  private val PcaIters = 15

  /** Floor division with MATHEMATICAL floor (q > 0, any-sign p):
    * BigInt `/` truncates toward zero and `%` follows the dividend, so
    * the remainder is re-canonicalized first. Mirrors the identical
    * `(p - ((p % q) + q) % q) // q` the DuckDB oracle runs on HUGEINT.
    */
  private def fdiv(p: BigInt, q: BigInt): BigInt = (p - ((p % q) + q) % q) / q

  /** Round-half-up (half toward +∞) division, exact for negatives. */
  private def rdivB(x: BigInt, y: BigInt): BigInt = fdiv(2 * x + y, 2 * y)

  /** Top principal component of the embedding corpus, exact and
    * engine-portable end to end — the whitening/decorrelation front
    * half every embedding-quality pipeline needs at scale:
    *
    *  1. ONE distributed pass ([[Aggregators.VecMoments]]): n, Σx, and
    *     the Gram matrix in integer micro-units — map-side combined,
    *     one 2145-long buffer per partition, NO per-row pair explode
    *     (a posexplode self-join would blow the corpus up 4096×; the
    *     aggregate ships 17 KB regardless of row count).
    *  2. A bounded driver bridge (the kmeans_train pattern): the scaled
    *     covariance A = n·G − s·sᵀ (integer, PSD) runs [[PcaIters]]
    *     power-iteration steps in BigInt — matvec, then renormalize to
    *     |v|∞ = 1e6 by round-half-up division. Every operation is
    *     integer, so Spark and DuckDB (same unrolled iteration as
    *     chained CTEs on HUGEINT) agree bit-for-bit; there is no
    *     float eigensolver to make "almost equal".
    *  3. Sign-canonicalized (leading max-|component| positive) with the
    *     eigenvalue reported as explained-variance ∈ milli-units:
    *     round(1000 · vᵀAv / (vᵀv · tr A)).
    *
    * The result is DEFINED as 15 half-up-normalized power steps from
    * v₀ = 1e6·𝟙 — a deterministic spec, not a convergence promise. On
    * a corpus with a dominant direction the iterate settles in a
    * handful of steps; the synthetic test embeddings are deliberately
    * near-isotropic (top PC explains ~2-3% of variance), so there the
    * DIRECTION keeps micro-wandering inside the flat top eigenspace
    * while the reported explained-variance ratio is already stable
    * (PcaSpec pins evr(15) within ±3 milli of evr(30), and the
    * constructed single-axis corpus recovers its axis exactly).
    */
  private def embeddingPcaPower(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vm = udaf(new graft.ops.Aggregators.VecMoments(PcaDim))
    val m: Seq[Long] = Tables.embeddings(s, dir)
      .filter($"embedding".isNotNull)
      .agg(vm($"embedding"))
      .as[Seq[Long]].head()
    pcaFromMoments(s, m)
  }

  /** Driver half of [[embeddingPcaPower]], split out so the spec can
    * feed constructed moments and assert stationarity.
    */
  private[graft] def pcaFromMoments(s: SparkSession, m: Seq[Long],
      iters: Int = PcaIters): DataFrame = {
    import s.implicits._
    val (v, n, evr) = pcaSolve(m, iters)
    (0 until PcaDim)
      .map(i => (i, v(i), n, evr))
      .toDF("dim_idx", "eigvec_micro", "n_vecs", "evr_milli")
      .orderBy($"dim_idx")
  }

  /** The pure driver math of [[embeddingPcaPower]]: moments → 15-step
    * power iterate (sign-canonicalized, |v|∞ = 1e6 micro-units), corpus
    * count, and explained-variance milli — shared by the eigenvector
    * report and the corpus projection pass.
    */
  private[graft] def pcaSolve(m: Seq[Long],
      iters: Int = PcaIters): (Array[Long], Long, Long) = {
    val n = BigInt(m(0))
    require(n > 0, "embedding_pca_power: empty corpus")
    val sv = Array.tabulate(PcaDim)(j => BigInt(m(1 + j)))
    val g = Array.ofDim[BigInt](PcaDim, PcaDim)
    var t = 1 + PcaDim
    for (i <- 0 until PcaDim; j <- i until PcaDim) {
      g(i)(j) = BigInt(m(t)); g(j)(i) = g(i)(j); t += 1
    }
    // n·G is 1e6-scaled (one quantization per PRODUCT) while s·sᵀ is
    // (1e6)² — rescale G so both terms live at 1e12 before subtracting
    val a = Array.tabulate(PcaDim, PcaDim)((i, j) =>
      n * g(i)(j) * 1000000 - sv(i) * sv(j))
    var v = Array.fill(PcaDim)(BigInt(1000000))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(PcaDim)(i =>
        (0 until PcaDim).map(j => a(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max
      require(mx > 0, "embedding_pca_power: zero covariance matrix")
      v = w.map(wi => rdivB(wi * 1000000, mx))
    }
    val mAbs = v.map(_.abs).max
    val sgn = if (v(v.indexWhere(_.abs == mAbs)) < 0) BigInt(-1) else BigInt(1)
    val ray = (for (i <- 0 until PcaDim; j <- 0 until PcaDim)
      yield a(i)(j) * v(i) * v(j)).sum
    val vtv = v.map(x => x * x).sum
    val tr = (0 until PcaDim).map(i => a(i)(i)).sum
    require(vtv > 0 && tr > 0, "embedding_pca_power: degenerate trace")
    // two-step rounding (λ = vᵀAv/vᵀv, then λ/tr in milli) keeps the
    // oracle's HUGEINT intermediates bounded; the definition is the
    // two-step form in BOTH engines
    val evr = rdivB(rdivB(ray, vtv) * 1000, tr)
    (v.map(x => (sgn * x).toLong), n.toLong, evr.toLong)
  }

  private def fdSql(p: String, q: String): String =
    s"(($p) - ((($p) % ($q) + ($q)) % ($q))) // ($q)"

  /** Shared oracle CTE prefix: moments → unrolled power iteration →
    * `fin` (the 15-step iterate) and `sg` (the canonical sign), on
    * HUGEINT throughout. Used by both the eigenvector report and the
    * projection pass, so the two oracles cannot drift.
    */
  private val pcaOracleCtes: String = {
    // HUGEINT bounds at the biggest tested scale (100×, n = 5e5):
    // |a| ≤ n²·1e12·E[x²] ≈ 4e21, |w| ≤ 64·|a|·1e6 ≈ 2.6e29,
    // 2·w·1e6 ≈ 5e35, λ·1000 ≤ 64·|a|·1e3 ≈ 2.6e26 — all inside
    // HUGEINT's 1.7e38 (ray itself ≈ 1.6e37 — that is why evr divides
    // by vᵀv BEFORE scaling by 1000)
    val steps = (1 to PcaIters).map { k =>
      val mk = s"(SELECT m FROM m$k)"
      s"""w$k AS MATERIALIZED (
         |  SELECT am.i AS i, sum(am.a * v.v) AS w
         |  FROM am JOIN v${k - 1} v ON v.i = am.j GROUP BY am.i),
         |m$k AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS MATERIALIZED (
         |  SELECT i, ${fdSql(s"2 * w * 1000000 + $mk", s"2 * $mk")} AS v
         |  FROM w$k)""".stripMargin
    }.mkString(",\n")
    s"""xr AS MATERIALIZED (
       |  SELECT vec_id,
       |    unnest(list_transform(generate_series(1, len(embedding)),
       |      j -> {'i': j - 1, 'x': CAST(embedding[j] AS DOUBLE)})) AS u
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |xe AS MATERIALIZED (SELECT vec_id, u.i AS i, u.x AS x FROM xr),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n
       |       FROM embeddings WHERE embedding IS NOT NULL),
       |s AS MATERIALIZED (
       |  SELECT i, sum(CAST(floor(x * 1000000 + 0.5) AS HUGEINT)) AS s
       |  FROM xe GROUP BY i),
       |g AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j,
       |    sum(CAST(floor(a.x * b.x * 1000000 + 0.5) AS HUGEINT)) AS g
       |  FROM xe a JOIN xe b USING (vec_id) GROUP BY a.i, b.i),
       |am AS MATERIALIZED (
       |  SELECT g.i, g.j,
       |    (SELECT n FROM nn) * g.g * 1000000 - sa.s * sb.s AS a
       |  FROM g JOIN s sa ON sa.i = g.i JOIN s sb ON sb.i = g.j),
       |v0 AS MATERIALIZED (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM s),
       |$steps,
       |fin AS MATERIALIZED (SELECT i, v FROM v$PcaIters),
       |sg AS (
       |  SELECT CASE WHEN (SELECT v FROM fin
       |                    WHERE abs(v) = (SELECT max(abs(v)) FROM fin)
       |                    ORDER BY i LIMIT 1) < 0
       |         THEN -1 ELSE 1 END AS s)""".stripMargin
  }

  private val pcaOracle: String =
    s"""WITH $pcaOracleCtes,
       |ray AS (
       |  SELECT sum(am.a * va.v * vb.v) AS r
       |  FROM am JOIN fin va ON va.i = am.i JOIN fin vb ON vb.i = am.j),
       |vtv AS (SELECT sum(v * v) AS q FROM fin),
       |trc AS (SELECT sum(a) AS t FROM am WHERE i = j),
       |lam AS (
       |  SELECT ${fdSql("2 * (SELECT r FROM ray) + (SELECT q FROM vtv)",
      "2 * (SELECT q FROM vtv)")} AS l),
       |evr AS (
       |  SELECT ${fdSql("2 * (SELECT l FROM lam) * 1000 + (SELECT t FROM trc)",
      "2 * (SELECT t FROM trc)")} AS e)
       |SELECT CAST(i AS INTEGER) AS dim_idx,
       |  CAST((SELECT s FROM sg) * v AS BIGINT) AS eigvec_micro,
       |  CAST((SELECT n FROM nn) AS BIGINT) AS n_vecs,
       |  CAST((SELECT e FROM evr) AS BIGINT) AS evr_milli
       |FROM fin ORDER BY i""".stripMargin

  /** Project every embedding onto the solved top principal component —
    * the corpus-sized SECOND pass that makes the PCA actionable
    * (outlier cuts, curriculum ordering, decorrelation audits key off
    * this scalar). The eigenvector rides along as a 64-element literal
    * (the kmeans broadcast-codebook pattern): the projection is a
    * zip_with/aggregate over exact integers — p = Σ round(x_i·1e6)·v_i,
    * reported half-up at micro scale — so the corpus pass is pure
    * map-side expression work, no join, no shuffle except the
    * presentation sort.
    */
  private def embeddingPcaProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vm = udaf(new graft.ops.Aggregators.VecMoments(PcaDim))
    val m: Seq[Long] = Tables.embeddings(s, dir)
      .filter($"embedding".isNotNull)
      .agg(vm($"embedding")).as[Seq[Long]].head()
    val (v, _, _) = pcaSolve(m)
    val vLit = typedlit(v)
    // p ≤ 64·1e6·1e6 = 6.4e13 — Long-safe; rdiv(p, 1e6) half-up via the
    // same pmod-floor identity the BigInt/HUGEINT sides use
    val p = aggregate(
      zip_with($"embedding", vLit,
        (x, vi) => floor(x.cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long") * vi),
      lit(0L), (acc, t) => acc + t)
    val num = p * 2 + lit(1000000L)
    val proj = (num - pmod(num, lit(2000000L))) / lit(2000000L)
    Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"embedding".isNotNull)
      .select($"vec_id", $"label",
        proj.cast("long").as("proj_micro"))
      .orderBy($"vec_id")
  }

  private val pcaProjectOracle: String =
    s"""WITH $pcaOracleCtes,
       |p AS (
       |  SELECT xe.vec_id,
       |    sum(CAST(floor(xe.x * 1000000 + 0.5) AS HUGEINT)
       |      * (SELECT s FROM sg) * fin.v) AS p
       |  FROM xe JOIN fin ON fin.i = xe.i GROUP BY xe.vec_id)
       |SELECT e.vec_id, e.label,
       |  CAST(${fdSql("2 * p.p + 1000000", "2000000")} AS BIGINT) AS proj_micro
       |FROM p JOIN embeddings e USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin

  // ------------------- truncated-dimension (matryoshka) recall audit

  private val TruncDims = 16

  /** Recall@k of cosine top-k computed on only the FIRST [[TruncDims]]
    * of 64 dimensions vs the full-dimension baseline — the audit run
    * before adopting matryoshka-style dimension truncation (Kusupati
    * et al. 2022): shipping 4× fewer floats per vector quarters scan
    * bytes and ANN index size IF leading-dim recall holds. Same shape
    * as the int8/IVF recall gates: two TakeOrderedAndProject legs
    * (each an O(n) scan with a literal query side, no shuffle beyond
    * top-k) and a semi-join on the k survivors.
    */
  private def annTruncatedRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qv = queryVecLit(s, dir)
    val approx = Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"vec_id" =!= QueryVecId)
      .withColumn("cos_t", VectorOps.cosine(
        slice($"embedding", 1, TruncDims), slice(qv, 1, TruncDims)))
      .orderBy($"cos_t".desc, $"vec_id")
      .limit(TopK)
      .select($"vec_id")
    VectorIndex.recallAtK(s, dir, approx, qv, TopK,
      lit(TruncDims).as("trunc_dims"))
  }

  private val annTruncatedOracle =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = $QueryVecId),
       |approx AS (
       |  SELECT e.vec_id FROM embeddings e, q
       |  WHERE e.vec_id <> $QueryVecId
       |  ORDER BY list_cosine_similarity(
       |    (e.embedding[1:$TruncDims])::DOUBLE[],
       |    (q.qv[1:$TruncDims])::DOUBLE[]) DESC, e.vec_id
       |  LIMIT $TopK),
       |exact AS (
       |  SELECT e.vec_id FROM embeddings e, q
       |  WHERE e.vec_id <> $QueryVecId
       |  ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) DESC, e.vec_id
       |  LIMIT $TopK)
       |SELECT $TopK AS k, $TruncDims AS trunc_dims,
       |  CAST(count(*) AS DOUBLE) / $TopK AS recall_at_k
       |FROM approx JOIN exact USING (vec_id)""".stripMargin

  // ---------------------- mutual-kNN graph construction (LSH-blocked)

  private val KnnBits = 6
  private val KnnK = 3

  /** Corpus-level mutual-kNN graph over the embedding column — the
    * structure SemDeDup-style clustering, label propagation, and
    * manifold methods all start from. Candidates come from TWO
    * independent sign-LSH tables (disjoint dimension slices, see
    * [[VectorOps.signBucketAt]]): per table, each node keeps its
    * [[KnnK]] best same-bucket neighbors via the BOUNDED
    * [[graft.ops.Aggregators.TopKByScore]] aggregator (map-side
    * combine; memory O(k·nodes), never a full candidate sort — a
    * window over raw same-bucket pairs would shuffle O(Σ bucket²)
    * rows, exactly what detonates at 100×). The per-table winners
    * (≤ 2k per node) merge, dedup, re-score, and a cheap window takes
    * the final top-k; an edge survives only if BOTH endpoints keep it
    * (the mutual-kNN symmetrization that prunes hub nodes).
    *
    * Approximation is the standard multi-index ANN contract — a true
    * neighbor outside both tables' buckets is missed — and the oracle
    * mirrors the same two tables, so the gate is exact.
    *
    * Dedup-before-graph: exact-duplicate VECTORS collapse to their
    * min-vec_id representative before any bucketing (one value-keyed
    * groupBy — the order real pipelines run anyway), so in-bucket pair
    * work tracks DISTINCT vectors, not raw rows. Without it the 100×
    * soak — which clones every embedding value verbatim — put a
    * 100-way exact-dup clique in every bucket and the query paid a
    * 44× ratio; with it the clique is one node. On all-distinct data
    * (the sf0.01 gate) the collapse is the identity.
    *
    * Density lever beyond that: in-bucket work is Σ bucket², so
    * [[KnnBits]] must track distinct-vector count (2^bits ∝ n /
    * target occupancy — 16-bit tables at lake scale, 6-bit here so
    * the sf0.01 gate has real bucket structure).
    */
  private def knnGraphMutual(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    knnMutualEdges(s, dir)
      .select($"vec_a", $"vec_b", round($"cos", 4).as("cos"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Raw mutual edge list (vec_a < vec_b, unrounded cos) — shared by
    * the edge-list gate and the cluster composition.
    */
  private def knnMutualEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val top = udaf(new graft.ops.Aggregators.TopKByScore(KnnK))
    val e = Tables.fanOut(Tables.embeddings(s, dir))
      .filter($"embedding".isNotNull)
      // exact-dup collapse (see scaladoc): one shuffle keyed by the
      // embedding VALUE; Spark groups array<float> natively, and the
      // oracle mirrors with GROUP BY the list column
      .groupBy($"embedding").agg(min($"vec_id").as("vec_id"))
      .select($"vec_id", $"embedding",
        VectorOps.signBucketAt($"embedding", KnnBits, 0).as("b1"),
        VectorOps.signBucketAt($"embedding", KnnBits, KnnBits).as("b2"),
        VectorOps.norm($"embedding").as("nrm"))
    def tableTopk(bucket: String): DataFrame =
      e.as("a").join(e.as("b"),
          col(s"a.$bucket") === col(s"b.$bucket")
            && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"),
          (VectorOps.dot(col("a.embedding"), col("b.embedding"))
            / (col("a.nrm") * col("b.nrm"))).as("cos"),
          col("b.vec_id").as("dst"))
        .groupBy($"src").agg(top($"cos", $"dst").as("nn"))
        .select($"src", explode($"nn").as("dst"))
    val merged = tableTopk("b1").unionByName(tableTopk("b2")).distinct()
    // re-score the ≤ 2k survivors per node (the recompute-for-survivors
    // pattern) and take the final top-k — group size is ≤ 2k here, so
    // the window is cheap at any corpus size
    val withCos = merged
      .join(e.select($"vec_id".as("src"), $"embedding".as("ea"), $"nrm".as("na")),
        Seq("src"))
      .join(e.select($"vec_id".as("dst"), $"embedding".as("eb"), $"nrm".as("nb")),
        Seq("dst"))
      .select($"src", $"dst",
        (VectorOps.dot($"ea", $"eb") / ($"na" * $"nb")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"src").orderBy($"cos".desc, $"dst".asc)
    val topk = withCos.withColumn("rn", row_number().over(w))
      .filter($"rn" <= KnnK).select($"src", $"dst", $"cos")
    topk.as("x").join(topk.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src")
          && col("x.src") < col("x.dst"))
      .select(col("x.src").as("vec_a"), col("x.dst").as("vec_b"),
        col("x.cos").as("cos"))
  }

  /** Shared CTE chain ending in `mut` (mutual edges, unrounded cos) —
    * no leading WITH; the clusters oracle prepends WITH RECURSIVE.
    */
  private val knnMutualCtes = {
    val b1 = VectorOps.signBucketAtSql("embedding", KnnBits, 0)
    val b2 = VectorOps.signBucketAtSql("embedding", KnnBits, KnnBits)
    def leg(b: String) =
      s"""SELECT src, dst FROM (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
         |        b.embedding::DOUBLE[]) DESC, b.vec_id) AS rn
         |  FROM e a JOIN e b ON a.$b = b.$b AND a.vec_id <> b.vec_id)
         |WHERE rn <= $KnnK""".stripMargin
    s"""e AS (
       |  SELECT min(vec_id) AS vec_id, embedding, $b1 AS b1, $b2 AS b2
       |  FROM embeddings WHERE embedding IS NOT NULL
       |  GROUP BY embedding),
       |m AS (SELECT DISTINCT src, dst FROM (${leg("b1")} UNION ALL ${leg("b2")})),
       |sc AS (
       |  SELECT m.src, m.dst,
       |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
       |  FROM m JOIN e a ON a.vec_id = m.src JOIN e b ON b.vec_id = m.dst),
       |t AS (
       |  SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos,
       |      row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |    FROM sc)
       |  WHERE rn <= $KnnK),
       |mut AS (
       |  SELECT x.src AS vec_a, x.dst AS vec_b, x.cos AS cos
       |  FROM t x JOIN t y ON x.src = y.dst AND x.dst = y.src
       |  WHERE x.src < x.dst)""".stripMargin
  }

  private val knnGraphOracle =
    s"""WITH $knnMutualCtes
       |SELECT vec_a, vec_b, round(cos, 4) AS cos
       |FROM mut
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Semantic clusters: connected components over the mutual-kNN graph
    * — SemDeDup's grouping step run on graph structure instead of
    * trained centroids ([[dedupSemanticKmeans]] is the centroid form).
    * Composes [[knnMutualEdges]] with the size-gated
    * [[graft.ops.DedupOps.connectedComponents]] (driver union-find
    * under 1M edges, distributed min-label propagation above); the
    * oracle recomputes the transitive closure as a recursive CTE —
    * same convention as dedup_clusters: only vertices with at least
    * one mutual edge appear.
    */
  private def knnGraphClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = knnMutualEdges(s, dir).select($"vec_a", $"vec_b")
    DedupOps.connectedComponents(
      DedupOps.symmetrize(edges.select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"))))
      .select($"id".as("vec_id"), $"label".as("cluster"))
      .withColumn("is_rep", $"vec_id" === $"cluster")
      .orderBy($"vec_id")
  }

  private val knnClustersOracle =
    s"""WITH RECURSIVE $knnMutualCtes,
       |edges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM mut
       |  UNION
       |  SELECT vec_b, vec_a FROM mut),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)
       |SELECT id AS vec_id, min(r) AS cluster, id = min(r) AS is_rep
       |FROM reach
       |GROUP BY id
       |ORDER BY vec_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("knn_graph_mutual", knnGraphMutual, Some(knnGraphOracle)),
    Q("knn_graph_clusters", knnGraphClusters, Some(knnClustersOracle)),
    Q("ann_truncated_recall", annTruncatedRecall, Some(annTruncatedOracle)),
    Q("embedding_pca_power", embeddingPcaPower, Some(pcaOracle)),
    Q("embedding_pca_project", embeddingPcaProject, Some(pcaProjectOracle)),
    Q("contrastive_pairs", contrastivePairs, Some(contrastivePairsOracle)),
    Q("embedding_outliers", embeddingOutliers, Some(embeddingOutliersOracle)),
    Q("ann_topk_cosine", annTopkCosine, Some(annTopkOracle)),
    Q("ann_topk_refresh", annTopkRefresh, Some(annTopkRefreshOracle)),
    Q("ann_topk_delete_refresh", annTopkDeleteRefresh, Some(annTopkDeleteOracle)),
    Q("ann_topk_delete_ivf", annTopkDeleteIvf, Some(annTopkDeleteIvfOracle)),
    Q("ann_ivf_index_append", annIvfIndexAppend, Some(annIvfIndexAppendOracle)),
    Q("ann_ivf_rebalance", annIvfRebalance, Some(annIvfRebalanceOracle)),
    Q("ann_ivf_retrain", annIvfRetrain, Some(annIvfRetrainOracle)),
    Q("dedup_semantic_kmeans", dedupSemanticKmeans, Some(dedupSemanticOracle)),
    Q("ann_int8_topk", annInt8Topk, Some(annInt8Oracle)),
    Q("ann_int8_recall", annInt8Recall, Some(annInt8RecallOracle)),
    Q("ann_lsh_topk", annLshTopk, Some(annLshOracle)),
    Q("ann_ivf_topk", annIvfTopk, Some(annIvfOracle)),
    Q("kmeans_train", kmeansTrain, Some(kmeansOracle)),
    Q("ann_ivf_trained_topk", annIvfTrainedTopk, Some(annIvfTrainedOracle)),
    Q("ann_ivf_recall", annIvfRecall, Some(annIvfRecallOracle)))
}
