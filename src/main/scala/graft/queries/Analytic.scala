package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Analytic breadth the warehouse's report layer needs beyond plain
  * aggregation: time-RANGE rolling windows, the full rank-function
  * family, graph triangle counting, BM25 document ranking, batch
  * MERGE/upsert semantics, pivot↔unpivot reshaping, and exact
  * median/mode aggregates.
  *
  * Scale design notes:
  *  - The rolling window runs over the CALENDAR axis after a daily
  *    pre-aggregation — the windowed frame is bounded by days-in-range
  *    (≈2.5k rows here, ~37k for a century) regardless of data volume,
  *    so the single-task sort can never blow up. The expensive part
  *    (the daily groupBy) shuffles on the date key with map-side
  *    partial aggregation.
  *  - Rank functions shuffle once on the partition key; all four
  *    functions share one WindowExec over the same (partition, order).
  *  - Triangle counting uses the compact-forward orientation: every
  *    edge points from its lower-(degree, id) endpoint to the higher,
  *    so wedge generation is bounded by sum-of-C(out-degree,2) with
  *    out-degrees O(sqrt(edges)) — the classic bound that keeps the
  *    two self-joins from going quadratic on skewed (celebrity)
  *    vertices. All joins are equi-joins on vertex ids.
  *  - BM25 follows the CorpusPrep two-phase term-count discipline:
  *    per-(doc, term) counts first, vocabulary-sized df frame
  *    broadcast, corpus scalars via single-row aggregate bridges.
  *  - MERGE is a single full-outer shuffle join on the key — the
  *    standard distributed upsert (no driver loop, no per-row RPC).
  *  - Median/mode are exact but shuffle only group-sized partitions
  *    (partition key = the groupBy key); the median avoids a global
  *    sort by ranking within each group.
  *
  * Portability discipline (see Q.scala): money in integer cents,
  * dates as integer epoch-days, doubles rounded on both sides, every
  * output totally ordered.
  */
object Analytic {

  private def centsCol = graft.ops.Exact.cents("o_totalprice")

  // -------------------------------------------------- rolling 7d revenue

  /** Trailing-7-day revenue: daily pre-aggregation, then a RANGE frame
    * over integer epoch-days ([-6, 0] relative to the current day), so
    * silent days correctly shrink the trailing sum — a ROWS frame would
    * silently span gaps. The un-partitioned window is over the bounded
    * calendar axis (see scale notes above).
    */
  private def rolling7dRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // o_orderdate is TIMESTAMP_NTZ — epoch-days via datediff (unix_micros
    // rejects NTZ), matching DuckDB's DATE subtraction
    val daily = Tables.orders(s, dir)
      .select(datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("bigint").as("day_no"),
        centsCol.as("cents"))
      .groupBy($"day_no")
      .agg(sum($"cents").as("cents"))
    val trailing = Window.orderBy($"day_no").rangeBetween(-6, 0)
    daily
      .withColumn("rolling_cents", sum($"cents").over(trailing))
      .select($"day_no",
        ($"cents".cast("double") / 100).as("revenue"),
        ($"rolling_cents".cast("double") / 100).as("rolling_7d"))
      .orderBy($"day_no")
  }

  private val rollingOracle =
    """WITH daily AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_no,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1)
      |SELECT day_no,
      |  CAST(cents AS DOUBLE) / 100 AS revenue,
      |  CAST(CAST(sum(cents) OVER (ORDER BY day_no
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE) / 100
      |    AS rolling_7d
      |FROM daily
      |ORDER BY day_no""".stripMargin

  // -------------------------------------------------- rank-function suite

  /** The full rank family over order price within priority: rank /
    * dense_rank / percent_rank / cume_dist share one tie-respecting
    * window (they depend only on the ORDER BY key, so ties are
    * engine-stable); ntile needs a total order, so it gets its own
    * window with the unique o_orderkey tie-break. percent_rank and
    * cume_dist are exact rational doubles — IEEE division is
    * deterministic, rounding is belt-and-braces.
    */
  private def windowRankSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ties = Window.partitionBy($"o_orderpriority").orderBy($"cents".desc)
    val total = Window.partitionBy($"o_orderpriority")
      .orderBy($"cents".desc, $"o_orderkey")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority", centsCol.as("cents"))
      .withColumn("rnk", rank().over(ties).cast("bigint"))
      .withColumn("drnk", dense_rank().over(ties).cast("bigint"))
      .withColumn("pct_rank", round(percent_rank().over(ties), 9))
      .withColumn("cume", round(cume_dist().over(ties), 9))
      .withColumn("quartile", ntile(4).over(total).cast("bigint"))
      .select($"o_orderkey", $"o_orderpriority",
        ($"cents".cast("double") / 100).as("price"),
        $"rnk", $"drnk", $"pct_rank", $"cume", $"quartile")
      .orderBy($"o_orderkey")
  }

  private val rankSuiteOracle =
    """SELECT o_orderkey, o_orderpriority,
      |  CAST(cents AS DOUBLE) / 100 AS price,
      |  CAST(rank() OVER ties AS BIGINT) AS rnk,
      |  CAST(dense_rank() OVER ties AS BIGINT) AS drnk,
      |  round(percent_rank() OVER ties, 9) AS pct_rank,
      |  round(cume_dist() OVER ties, 9) AS cume,
      |  CAST(ntile(4) OVER total AS BIGINT) AS quartile
      |FROM (SELECT o_orderkey, o_orderpriority,
      |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |      FROM orders)
      |WINDOW ties AS (PARTITION BY o_orderpriority ORDER BY cents DESC),
      |       total AS (PARTITION BY o_orderpriority ORDER BY cents DESC, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------ triangle count

  /** Triangle count over a deterministic synthetic customer graph
    * (edge per order: o_custkey — 1 + (o_orderkey·31 mod |customer|),
    * canonicalized, self-loops dropped). Spark side counts via
    * compact-forward: orient edges by (degree, id), generate wedges
    * from co-oriented edge pairs, close each wedge against the
    * oriented edge set. Every triangle is counted exactly once
    * (its unique lowest-(degree,id) vertex generates the wedge). The
    * oracle counts the same triangles the textbook way — a triple
    * self-join on canonical x<y<z edges — which is fine at oracle
    * scale and spectacularly not fine at 100 TB; the orientation trick
    * IS the operator under test.
    */
  private def triangleCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // |customer| via single-row scalar bridge (A2 pattern)
    val nCust = Tables.customer(s, dir).count()
    val raw = Tables.orders(s, dir)
      .select($"o_custkey".as("u"),
        (lit(1L) + ($"o_orderkey" * 31) % nCust).as("v"))
    val edges = raw
      .select(least($"u", $"v").as("a"), greatest($"u", $"v").as("b"))
      .filter($"a" =!= $"b")
      .distinct()
      .persist()
    // ord = degree · 2^32 + id: one sortable long encoding the
    // (degree, id) total order used for orientation
    val deg = edges.select($"a".as("x")).unionAll(edges.select($"b".as("x")))
      .groupBy($"x").agg(count(lit(1)).as("d"))
      .select($"x", ($"d" * 4294967296L + $"x").as("ord"))
    val withOrd = edges
      .join(deg.withColumnRenamed("x", "a").withColumnRenamed("ord", "ord_a"), "a")
      .join(deg.withColumnRenamed("x", "b").withColumnRenamed("ord", "ord_b"), "b")
    val oriented = withOrd.select(
      when($"ord_a" < $"ord_b", $"a").otherwise($"b").as("src"),
      when($"ord_a" < $"ord_b", $"b").otherwise($"a").as("dst"),
      greatest($"ord_a", $"ord_b").as("ord_dst"))
      .persist()
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.src") === col("e2.src")
        && col("e1.ord_dst") < col("e2.ord_dst"))
      .select(col("e1.dst").as("w1"), col("e2.dst").as("w2"))
    val closing = oriented.select($"src".as("w1"), $"dst".as("w2"))
    // no eager unpersist: the returned plan still references both caches
    // (see CorpusPrep.unigramQuality) — LRU owns the small frames
    wedges.join(closing, Seq("w1", "w2"))
      .agg(count(lit(1)).as("triangles"))
  }

  private val triangleOracle =
    """WITH n AS (SELECT count(*) AS c FROM customer),
      |e AS (
      |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      |  FROM (SELECT o_custkey AS u, 1 + (o_orderkey * 31) % (SELECT c FROM n) AS v
      |        FROM orders)
      |  WHERE u <> v)
      |SELECT CAST(count(*) AS BIGINT) AS triangles
      |FROM e e1
      |JOIN e e2 ON e2.a = e1.b
      |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin

  // ------------------------------------------------------------ BM25 rank

  /** Okapi BM25 (k1 = 1.2, b = 0.75) ranking of documents for the query
    * {join, vector, slow}: per-term scores summed over matching terms.
    * idf uses the +1 form (always positive). Term counts reuse the
    * CorpusPrep two-phase shape; the corpus scalars (N, avgdl) are
    * single-row bridges. df rides a window over partitionBy(term) on the
    * query-filtered frame — its input is already pruned to the query's
    * terms, so the shuffle is tiny, and no fact-derived aggregate is
    * broadcast (PlanAuditSpec gates that shape). Top-20 via TakeOrdered
    * on the rounded score with doc_id tie-break.
    */
  /** (doc_id, micro, terms_hit) BM25 scores in exact integer
    * micro-units, unlimited — shared by [[bm25Rank]] and the hybrid
    * RRF retrieval ([[HybridRetrieval]]).
    */
  private[queries] def bm25MicroScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = Seq("join", "vector", "slow")
    val dt = Tables.fanOut(Tables.documents(s, dir))
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
      .persist()
    // no eager unpersist for dt/dl: the RETURNED plan still references
    // both caches (dt filtered to the query terms, dl joined back), so
    // unpersisting here would recompute the corpus scan at action time
    // and defeat the single-scan shape. Growth is bounded: plan-level
    // dedup in the CacheManager keys both entries on the same logical
    // plan per (dir), so bench/soak loops reuse rather than accumulate,
    // and LRU owns eviction (the CorpusPrep.unigramQuality convention).
    val dl = dt.groupBy($"doc_id").agg(sum($"tf").as("dl")).persist()
    // corpus scalars: N docs, average document length (one-row bridges).
    // N comes from the persisted per-doc frame, NOT a second scan of the
    // documents table — at 100 TB that second scan is a full wasted read
    // for one scalar (every doc yields >=1 token, so the counts agree).
    val nDocs = dl.count()
    val avgdl = dl.agg(sum($"dl")).first().getLong(0).toDouble / nDocs
    // per-term contribution quantized to integer micro-units BEFORE the
    // sum: a double fold over floats is addition-order-dependent (Spark's
    // partial aggregation vs the oracle's scan order), a BIGINT sum is
    // exact and order-free
    dt.filter($"term".isin(terms: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
      .join(dl, "doc_id")
      .withColumn("idf",
        log((lit(nDocs.toDouble) - $"df" + 0.5) / ($"df" + 0.5) + 1))
      .withColumn("tfn", ($"tf" * 2.2) /
        ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / avgdl)))
      .withColumn("micro",
        round($"idf" * $"tfn" * 1000000, 0).cast("bigint"))
      .groupBy($"doc_id")
      .agg(sum($"micro").as("micro"), count(lit(1)).as("terms_hit"))
  }

  private def bm25Rank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25MicroScores(s, dir)
      .select($"doc_id", ($"micro".cast("double") / 1000000).as("bm25"),
        $"terms_hit")
      .orderBy($"bm25".desc, $"doc_id")
      .limit(20)
  }

  /** BM25 integer-micro contribution CTEs (`dt`/`dl`/`n`/`avg_dl`/
    * `dfreq`/`contrib`) — THE oracle mirror of [[bm25MicroScores]],
    * shared with [[HybridRetrieval]] so a formula tweak cannot make the
    * two queries' gates disagree about the same scores.
    */
  private[queries] val bm25Ctes =
    """dt AS (
      |  SELECT doc_id, term, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, sum(tf) AS dl FROM dt GROUP BY doc_id),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM dl),
      |avg_dl AS (SELECT CAST(sum(dl) AS DOUBLE) / (SELECT n FROM n) AS avgdl FROM dl),
      |dfreq AS (SELECT term, count(*) AS df FROM dt
      |          WHERE term IN ('join', 'vector', 'slow') GROUP BY term),
      |contrib AS (
      |  SELECT doc_id,
      |    CAST(round(ln(((SELECT n FROM n) - df + 0.5) / (df + 0.5) + 1)
      |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM avg_dl)))
      |      * 1000000, 0) AS BIGINT) AS micro
      |  FROM dt
      |  JOIN dfreq USING (term)
      |  JOIN dl USING (doc_id))""".stripMargin

  private val bm25Oracle =
    s"""WITH $bm25Ctes
      |SELECT doc_id,
      |  CAST(sum(micro) AS DOUBLE) / 1000000 AS bm25,
      |  CAST(count(*) AS BIGINT) AS terms_hit
      |FROM contrib
      |GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id
      |LIMIT 20""".stripMargin

  /** INDEX-BACKED lexical retrieval — the scale path [[bm25Rank]]'s
    * corpus scan cannot be: at 100 TB a keyword query must read
    * posting shards, not re-tokenize the corpus. The INDEX BUILD (one
    * corpus scan, paid once) commits the inverted index as a snapshot
    * table: postings `(term, doc_id, tf, dl)` (doclen denormalized —
    * the standard posting payload), range-clustered on `term` with a
    * per-file term BLOOM, and the corpus scalars (N, Σdl) ride the
    * commit's metadata so query time needs no corpus access at all.
    * The QUERY answers BM25 top-k entirely from the index:
    * [[SnapshotTable.readWhereIn]] opens only the posting files whose
    * bloom admits a query term (df/tf/dl come exactly from those rows
    * — a bloom keeps every file holding a query term, so df is exact),
    * and the scalars come from the commit metadata. Loud requires pin
    * the scale story: strict file pruning, the scan reading EXACTLY
    * the bloom survivor list, and the final plan touching ONLY index
    * files (zero document reads at query time). The oracle recomputes
    * BM25 from the raw documents with the shared [[bm25Ctes]] — the
    * index path must be score-identical to the scan path.
    */
  /** One index-build pass over a document frame: tokenize, reduce to
    * postings `(term, doc_id, tf, dl)`, hand the caller the frame plus
    * the corpus scalars and posting count (for metadata and bloom
    * sizing) inside a scoped persist — shared by [[textIndexTopk]] and
    * [[textIndexAppend]] so the build and the ingest batch tokenize
    * IDENTICALLY (tf and dl are per-document facts, which is what
    * makes the append batch-proportional: the standing index is never
    * re-read to index new documents).
    */
  private def buildPostings[A](s: SparkSession, docs: DataFrame)(
      commit: (DataFrame, Long, Long, Long) => A): A = {
    import s.implicits._
    // map-side posting construction (r20): tf is a per-document fact,
    // so the (term, tf) pairs come from the codegen'd term_counts
    // kernel INSIDE the row and dl is the row's own token count — the
    // previous explode + groupBy(doc_id, term) + dl-join shuffled every
    // token occurrence of the corpus (plus a second exchange for dl) to
    // compute numbers each document already knows. Zero exchanges now;
    // at index-build scale the token shuffle was the wall. The corpus
    // scalars fold in the same pass: per-posting dl/doc_id aggregate to
    // n docs (tf=dl on the first posting of a doc ⇒ count once via
    // sum(tf)=Σdl identity is NOT used — see agg below), and nPostings
    // is the frame's count.
    Tables.withPersisted(docs
        .select($"doc_id", size(split($"text", " ")).cast("long").as("dl"),
          explode(graft.plans.PostingExpressions.termCounts($"text")).as("tc"))
        .select($"tc.term".as("term"), $"doc_id", $"tc.tf".as("tf"),
          $"dl")) { posts =>
      // one row per document: its dl rides every posting, so summing
      // tf (= dl's composition) per doc is unnecessary — count docs
      // and sum dl over the distinct-doc frame derived map-side from
      // the FIRST posting of each doc (tf of the first token run is
      // not usable; instead aggregate over the source docs frame:
      // count(text) matches the old "docs with >= 1 posting" exactly,
      // since split() of any non-null text yields >= 1 token)
      val totals = docs.agg(count($"text").as("n"),
        sum(size(split($"text", " ")).cast("long")).as("s")).head()
      commit(posts, totals.getLong(0), totals.getLong(1), posts.count())
    }
  }

  private def textIndexTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val idxBase = LakeOps.lakeBase(dir, "textindex")
    SnapshotTable.deleteTree(idxBase)
    val terms = Seq("join", "vector", "slow")
    // ---- index build: one tokenize pass, committed through the spine
    val v1 = buildPostings(s, Tables.fanOut(Tables.documents(s, dir))) {
      (postings, nDocs, sumDl, nPostings) =>
        SnapshotTable.commit(
          postings.repartitionByRange(16, $"term"),
          idxBase, expectedVersion = SnapshotTable.ExpectEmpty,
          statsCols = Seq("term"), bloomCols = Seq("term"),
          // sized to the write: a bloom sized far under the per-file
          // posting count saturates and silently stops pruning at soak
          // scale (the snapshot_join_prune sizing discipline)
          bloomExpectedItems = math.max(
            SnapshotTable.DefaultBloomExpectedItems, nPostings / 8),
          meta = Map("n_docs" -> nDocs.toString,
            "sum_dl" -> sumDl.toString))
    }
    // ---- query: scalars from commit metadata, postings from the
    // bloom-pruned shards — the corpus is never touched again
    val meta = SnapshotTable.readMeta(idxBase, v1)
    val nDocs = meta("n_docs").toLong
    val avgdl = meta("sum_dl").toDouble / nDocs
    val (kept, total) =
      SnapshotTable.pruneFilesBloom(idxBase, v1, "term", terms)
    require(kept.nonEmpty && kept.size < total,
      s"the term bloom must prune strictly (kept ${kept.size} of $total " +
        "posting files) — the index layout regressed")
    val hits = SnapshotTable.readWhereIn(s, idxBase, v1, "term", terms)
    require(hits.inputFiles.length == kept.size,
      s"the posting scan must read EXACTLY the bloom survivor list: " +
        s"${hits.inputFiles.length} opened vs ${kept.size}")
    // identical scoring algebra to bm25Rank (integer micro-units, same
    // idf/tf normalization) — the index path must be score-identical
    val answer = hits
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
      .withColumn("idf",
        log((lit(nDocs.toDouble) - $"df" + 0.5) / ($"df" + 0.5) + 1))
      .withColumn("tfn", ($"tf" * 2.2) /
        ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / avgdl)))
      .withColumn("micro",
        round($"idf" * $"tfn" * 1000000, 0).cast("bigint"))
      .groupBy($"doc_id")
      .agg(sum($"micro").as("micro"), count(lit(1)).as("terms_hit"))
      .select($"doc_id", ($"micro".cast("double") / 1000000).as("bm25"),
        $"terms_hit", lit(true).as("answered_from_index"))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(20)
    require(answer.inputFiles.nonEmpty &&
      answer.inputFiles.forall(_.contains("/textindex/")),
      s"query time must read ONLY the index: " +
        s"${answer.inputFiles.mkString(", ")}")
    answer
  }

  private val textIndexOracle =
    s"""WITH $bm25Ctes
      |SELECT doc_id,
      |  CAST(sum(micro) AS DOUBLE) / 1000000 AS bm25,
      |  CAST(count(*) AS BIGINT) AS terms_hit,
      |  true AS answered_from_index
      |FROM contrib
      |GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Inverted-index APPEND maintenance — the write path
    * [[textIndexTopk]]'s one-shot build leaves open, and the lexical
    * twin of `ann_ivf_index_append`: an ingest batch of new documents
    * must land in the standing index at BATCH cost (tf and doclen are
    * per-document facts, so the batch tokenizes alone and appends as
    * one delta generation via [[SnapshotTable.commitAppend]]; the
    * standing postings are never re-read, let alone rewritten), and a
    * query through the two-generation chain must stay a needle read
    * in BOTH generations. The corpus scalars fold ADDITIVELY across
    * the chain's commit metadata (N and Σdl are sums, which is exactly
    * why they ride per-generation metadata instead of a global file
    * that appends would have to rewrite). Loud requires: the append
    * wrote ONLY the batch's postings; BOTH generations prune strictly
    * under the query's term blooms
    * ([[SnapshotTable.pruneFilesBloomOwn]] per generation); the chain
    * read ([[SnapshotTable.readWhereInChain]]) opens EXACTLY the two
    * survivor lists; and the final plan touches only index files. The
    * oracle recomputes BM25 over the FULL corpus from the raw
    * documents — maintenance must be invisible to scores.
    */
  private def textIndexAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val idxBase = LakeOps.lakeBase(dir, "textindexappend")
    SnapshotTable.deleteTree(idxBase)
    val terms = Seq("join", "vector", "slow")
    val docs = Tables.fanOut(Tables.documents(s, dir))
    // the standing index: 90% of the corpus
    val v1 = buildPostings(s, docs.filter(pmod($"doc_id", lit(10)) =!= 9)) {
      (postings, nDocs, sumDl, nPostings) =>
        SnapshotTable.commit(postings.repartitionByRange(16, $"term"),
          idxBase, expectedVersion = SnapshotTable.ExpectEmpty,
          statsCols = Seq("term"), bloomCols = Seq("term"),
          bloomExpectedItems = math.max(
            SnapshotTable.DefaultBloomExpectedItems, nPostings / 8),
          meta = Map("n_docs" -> nDocs.toString, "sum_dl" -> sumDl.toString))
    }
    // the ingest batch: tokenized ALONE, appended as one delta
    // generation with its own sidecars and its own partial scalars
    val (v2, nBatchPostings) =
      buildPostings(s, docs.filter(pmod($"doc_id", lit(10)) === 9)) {
        (postings, nDocs, sumDl, nPostings) =>
          (SnapshotTable.commitAppend(postings.repartitionByRange(8, $"term"),
            idxBase, expectedVersion = v1,
            statsCols = Seq("term"), bloomCols = Seq("term"),
            bloomExpectedItems = math.max(
              SnapshotTable.DefaultBloomExpectedItems, nPostings / 4),
            meta = Map("n_docs" -> nDocs.toString,
              "sum_dl" -> sumDl.toString)), nPostings)
      }
    // (a) batch-proportional write: only the batch's postings
    val v2Rows = SnapshotTable.readParquet(s, s"$idxBase/v$v2").count()
    require(v2Rows == nBatchPostings,
      s"the append must write ONLY the batch's $nBatchPostings postings; " +
        s"v$v2 holds $v2Rows — the index was rebuilt")
    require(SnapshotTable.chainOf(idxBase, v2) == Seq(v2, v1),
      s"expected a two-generation index chain: " +
        s"${SnapshotTable.chainOf(idxBase, v2)}")
    // (b) corpus scalars fold additively across the chain's metadata
    val metas = SnapshotTable.chainOf(idxBase, v2)
      .map(g => SnapshotTable.readMeta(idxBase, g))
    val nDocs = metas.map(_("n_docs").toLong).sum
    val avgdl = metas.map(_("sum_dl").toLong).sum.toDouble / nDocs
    // (c) the query prunes strictly in BOTH generations
    val keptPerGen = SnapshotTable.chainOf(idxBase, v2).map { g =>
      val (kept, total) =
        SnapshotTable.pruneFilesBloomOwn(idxBase, g, "term", terms)
      require(kept.nonEmpty && kept.size < total,
        s"generation v$g must prune strictly for the query terms " +
          s"(kept ${kept.size} of $total posting files)")
      kept.size
    }
    val hits = SnapshotTable.readWhereInChain(s, idxBase, v2, "term", terms)
    require(hits.inputFiles.length == keptPerGen.sum,
      s"the chain read must open EXACTLY the per-generation survivor " +
        s"lists: ${hits.inputFiles.length} vs ${keptPerGen.sum}")
    val answer = hits
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
      .withColumn("idf",
        log((lit(nDocs.toDouble) - $"df" + 0.5) / ($"df" + 0.5) + 1))
      .withColumn("tfn", ($"tf" * 2.2) /
        ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / avgdl)))
      .withColumn("micro",
        round($"idf" * $"tfn" * 1000000, 0).cast("bigint"))
      .groupBy($"doc_id")
      .agg(sum($"micro").as("micro"), count(lit(1)).as("terms_hit"))
      .select($"doc_id", ($"micro".cast("double") / 1000000).as("bm25"),
        $"terms_hit", lit(2L).as("n_index_generations"))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(20)
    require(answer.inputFiles.nonEmpty &&
      answer.inputFiles.forall(_.contains("/textindexappend/")),
      s"query time must read ONLY the index: " +
        s"${answer.inputFiles.mkString(", ")}")
    answer
  }

  private val textIndexAppendOracle =
    s"""WITH $bm25Ctes
      |SELECT doc_id,
      |  CAST(sum(micro) AS DOUBLE) / 1000000 AS bm25,
      |  CAST(count(*) AS BIGINT) AS terms_hit,
      |  CAST(2 AS BIGINT) AS n_index_generations
      |FROM contrib
      |GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id
      |LIMIT 20""".stripMargin

  /** Posting-index COMPACTION — closes the loop [[textIndexAppend]]
    * opens: ingest appends leave a growing delta chain (each with its
    * own small posting files and blooms), and the fold must retire it
    * WITHOUT touching the standing base or changing a single score.
    * [[SnapshotTable.optimizeDeltas]] re-reads ONLY the two delta
    * generations, re-clusters them by term, re-mints term blooms and
    * stats, and re-mints the corpus scalars ADDITIVELY via `metaExtra`
    * (the fold's newest-wins metadata default would drop batch A's
    * n_docs/Σdl — the additive override is exactly what an index's
    * scalars need). Loud requires: the fold wrote exactly the deltas'
    * postings and never re-read the base (base file list unchanged);
    * the chain is back to two generations; the folded chain's scalars
    * equal the FULL corpus totals; both generations still prune
    * strictly under the query's term blooms with the chain read
    * opening exactly the survivor lists; and the per-document BM25
    * micro-scores are IDENTICAL pre- vs post-fold. The oracle
    * recomputes BM25 over the raw documents — compaction must be
    * invisible to scores.
    */
  private def textIndexOptimize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val idxBase = LakeOps.lakeBase(dir, "textindexopt")
    SnapshotTable.deleteTree(idxBase)
    val terms = Seq("join", "vector", "slow")
    val docs = Tables.fanOut(Tables.documents(s, dir))
    // standing index: 80% of the corpus; two ingest batches on top
    val v1 = buildPostings(s, docs.filter(pmod($"doc_id", lit(10)) <= 7)) {
      (postings, nDocs, sumDl, nPostings) =>
        SnapshotTable.commit(postings.repartitionByRange(16, $"term"),
          idxBase, expectedVersion = SnapshotTable.ExpectEmpty,
          statsCols = Seq("term"), bloomCols = Seq("term"),
          bloomExpectedItems = math.max(
            SnapshotTable.DefaultBloomExpectedItems, nPostings / 8),
          meta = Map("n_docs" -> nDocs.toString, "sum_dl" -> sumDl.toString))
    }
    def appendBatch(mod: Int, tip: Long): (Long, Long) =
      buildPostings(s, docs.filter(pmod($"doc_id", lit(10)) === mod)) {
        (postings, nDocs, sumDl, nPostings) =>
          (SnapshotTable.commitAppend(postings.repartitionByRange(4, $"term"),
            idxBase, expectedVersion = tip,
            statsCols = Seq("term"), bloomCols = Seq("term"),
            bloomExpectedItems = math.max(
              SnapshotTable.DefaultBloomExpectedItems, nPostings / 4),
            meta = Map("n_docs" -> nDocs.toString,
              "sum_dl" -> sumDl.toString)), nPostings)
      }
    val (v2, nPostA) = appendBatch(8, v1)
    val (v3, nPostB) = appendBatch(9, v2)
    // scores through the 3-generation chain, BEFORE the fold
    def chainScores(tip: Long): Map[Long, (Long, Long)] = {
      val metas = SnapshotTable.chainOf(idxBase, tip)
        .map(g => SnapshotTable.readMeta(idxBase, g))
      val nDocs = metas.map(_("n_docs").toLong).sum
      val avgdl = metas.map(_("sum_dl").toLong).sum.toDouble / nDocs
      SnapshotTable.readWhereInChain(s, idxBase, tip, "term", terms)
        .withColumn("df", count(lit(1)).over(Window.partitionBy($"term")))
        .withColumn("idf",
          log((lit(nDocs.toDouble) - $"df" + 0.5) / ($"df" + 0.5) + 1))
        .withColumn("tfn", ($"tf" * 2.2) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / avgdl)))
        .withColumn("micro",
          round($"idf" * $"tfn" * 1000000, 0).cast("bigint"))
        .groupBy($"doc_id")
        .agg(sum($"micro").as("micro"), count(lit(1)).as("terms_hit"))
        .as[(Long, Long, Long)].collect()
        .map { case (d, m, th) => d -> (m, th) }.toMap
    }
    val before = chainScores(v3)
    // additive scalar fold for the generations being retired (v2+v3)
    val deltaMetas = Seq(v2, v3).map(g => SnapshotTable.readMeta(idxBase, g))
    def genFiles(v: Long): Set[String] = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(idxBase, s"v$v"))
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally st.close()
    }
    val baseFiles = genFiles(v1)
    val vOpt = SnapshotTable.optimizeDeltas(s, idxBase, baseVersion = v1,
      statsCols = Seq("term"), bloomCols = Seq("term"),
      metaExtra = Map(
        "n_docs" -> deltaMetas.map(_("n_docs").toLong).sum.toString,
        "sum_dl" -> deltaMetas.map(_("sum_dl").toLong).sum.toString))(
      _.repartitionByRange(4, $"term"))
    require(SnapshotTable.chainOf(idxBase, vOpt) == Seq(vOpt, v1),
      s"the fold must leave a two-generation chain: " +
        s"${SnapshotTable.chainOf(idxBase, vOpt)}")
    require(genFiles(v1) == baseFiles,
      "the fold must never rewrite the standing base generation")
    val foldedRows = SnapshotTable.readParquet(s, s"$idxBase/v$vOpt").count()
    require(foldedRows == nPostA + nPostB,
      s"the fold must hold exactly the deltas' ${nPostA + nPostB} " +
        s"postings, got $foldedRows — the base leaked into the fold")
    // post-fold: scalars re-fold to the FULL corpus, pruning stays
    // strict in both generations, the chain read stays a needle read
    val metasAfter = SnapshotTable.chainOf(idxBase, vOpt)
      .map(g => SnapshotTable.readMeta(idxBase, g))
    val metaBefore = SnapshotTable.chainOf(idxBase, v3)
      .map(g => SnapshotTable.readMeta(idxBase, g))
    require(metasAfter.map(_("n_docs").toLong).sum ==
      metaBefore.map(_("n_docs").toLong).sum &&
      metasAfter.map(_("sum_dl").toLong).sum ==
        metaBefore.map(_("sum_dl").toLong).sum,
      "the folded chain's corpus scalars must equal the pre-fold totals")
    val keptPerGen = SnapshotTable.chainOf(idxBase, vOpt).map { g =>
      val (kept, total) =
        SnapshotTable.pruneFilesBloomOwn(idxBase, g, "term", terms)
      require(kept.nonEmpty && kept.size < total,
        s"post-fold generation v$g must prune strictly " +
          s"(kept ${kept.size} of $total posting files)")
      kept.size
    }
    val hits = SnapshotTable.readWhereInChain(s, idxBase, vOpt, "term", terms)
    require(hits.inputFiles.length == keptPerGen.sum,
      s"the post-fold chain read must open EXACTLY the survivor lists: " +
        s"${hits.inputFiles.length} vs ${keptPerGen.sum}")
    val after = chainScores(vOpt)
    require(after == before,
      s"compaction changed scores: ${(after.toSet -- before.toSet).take(3)}" +
        s" vs ${(before.toSet -- after.toSet).take(3)}")
    val answer = after.toSeq.map { case (d, (m, th)) => (d, m, th) }
      .toDF("doc_id", "micro", "terms_hit")
      .select($"doc_id", ($"micro".cast("double") / 1000000).as("bm25"),
        $"terms_hit", lit(true).as("scores_identical_post_fold"))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(20)
    answer
  }

  private val textIndexOptimizeOracle =
    s"""WITH $bm25Ctes
      |SELECT doc_id,
      |  CAST(sum(micro) AS DOUBLE) / 1000000 AS bm25,
      |  CAST(count(*) AS BIGINT) AS terms_hit,
      |  true AS scores_identical_post_fold
      |FROM contrib
      |GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id
      |LIMIT 20""".stripMargin

  // -------------------------------------------------------- MERGE/upsert

  /** Batch MERGE INTO orders: a deterministic change batch (every 10th
    * key gets a $5.00 price bump; keys ≡ 3 mod 7 come back shifted past
    * max(o_orderkey) as fresh inserts). WHEN MATCHED THEN UPDATE / WHEN
    * NOT MATCHED THEN INSERT, realized as ONE full-outer equi-join on
    * the key — the scalable upsert shape (contrast: per-row driver
    * RPCs). Output is the merged table plus an `op` audit column.
    */
  private def mergeUpsertOrders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val target = Tables.orders(s, dir)
      .select($"o_orderkey".as("t_key"), $"o_orderstatus".as("t_status"),
        centsCol.as("t_cents"))
    // max key via single-row scalar bridge — insert keys land above it
    val maxKey = Tables.orders(s, dir).agg(max($"o_orderkey")).first().getLong(0)
    val updates = target.filter($"t_key" % 10 === 0)
      .select($"t_key".as("s_key"), ($"t_cents" + 500L).as("s_cents"),
        lit("update").as("s_op"))
    val inserts = target.filter($"t_key" % 7 === 3)
      .select(($"t_key" + maxKey + 1L).as("s_key"), $"t_cents".as("s_cents"),
        lit("insert").as("s_op"))
    val source = updates.unionAll(inserts)
    target.join(source, $"t_key" === $"s_key", "full_outer")
      .select(
        coalesce($"t_key", $"s_key").as("o_orderkey"),
        coalesce($"t_status", lit("N")).as("status"),
        (coalesce($"s_cents", $"t_cents").cast("double") / 100).as("price"),
        coalesce($"s_op", lit("keep")).as("op"))
      .orderBy($"o_orderkey")
  }

  private val mergeOracle =
    """WITH t AS (
      |  SELECT o_orderkey AS t_key, o_orderstatus AS t_status,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS t_cents
      |  FROM orders),
      |mk AS (SELECT max(t_key) AS mk FROM t),
      |src AS (
      |  SELECT t_key AS s_key, t_cents + 500 AS s_cents, 'update' AS s_op
      |  FROM t WHERE t_key % 10 = 0
      |  UNION ALL
      |  SELECT t_key + (SELECT mk FROM mk) + 1, t_cents, 'insert'
      |  FROM t WHERE t_key % 7 = 3)
      |SELECT coalesce(t_key, s_key) AS o_orderkey,
      |  coalesce(t_status, 'N') AS status,
      |  CAST(coalesce(s_cents, t_cents) AS DOUBLE) / 100 AS price,
      |  coalesce(s_op, 'keep') AS op
      |FROM t FULL OUTER JOIN src ON t_key = s_key
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------- pivot → unpivot melt

  /** Round-trip reshape: revenue pivoted WIDE (one column per order
    * priority) by month, then melted back LONG with Dataset.unpivot —
    * absent (month, priority) cells surface as explicit zero rows, the
    * contract a downstream dense-matrix consumer needs. The pivot's
    * column set is the fixed 5-value priority domain (never
    * data-inferred — a data-driven pivot would need an extra pass and
    * could explode on dirty data).
    */
  private def unpivotRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val wide = Tables.orders(s, dir)
      .select((datediff(to_date($"o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("bigint") / lit(30L)).cast("bigint").as("month_no"),
        $"o_orderpriority", centsCol.as("cents"))
      .groupBy($"month_no")
      .pivot("o_orderpriority", prios)
      .agg(sum($"cents"))
    wide.unpivot(Array($"month_no"), prios.map(col).toArray, "priority", "cents")
      .select($"month_no", $"priority",
        (coalesce($"cents", lit(0L)).cast("double") / 100).as("revenue"))
      .orderBy($"month_no", $"priority")
  }

  private val unpivotOracle =
    """WITH base AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) // 30 AS month_no,
      |    o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |agg AS (SELECT month_no, o_orderpriority, CAST(sum(cents) AS BIGINT) AS cents
      |        FROM base GROUP BY 1, 2),
      |months AS (SELECT DISTINCT month_no FROM base),
      |prios AS (SELECT unnest(['1-URGENT', '2-HIGH', '3-MEDIUM',
      |                         '4-NOT SPECIFIED', '5-LOW']) AS priority)
      |SELECT m.month_no, p.priority,
      |  CAST(coalesce(a.cents, 0) AS DOUBLE) / 100 AS revenue
      |FROM months m CROSS JOIN prios p
      |LEFT JOIN agg a ON a.month_no = m.month_no AND a.o_orderpriority = p.priority
      |ORDER BY m.month_no, p.priority""".stripMargin

  // --------------------------------------------------- exact median/mode

  /** Exact median and mode of order price per priority, formulated so
    * both engines compute identical integers: median = mean of the
    * middle one-or-two cents values (rank-picked within each group —
    * no global sort), mode = most frequent cents value with
    * smallest-value tie-break. The /2.0 and /100 divisions are exact
    * in double (cents ≪ 2^52).
    */
  private def medianModeByPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .select($"o_orderpriority".as("prio"), centsCol.as("cents"))
    val byVal = Window.partitionBy($"prio").orderBy($"cents")
    val med = o
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"prio")))
      // `div`, not `/`: Column./ is double division in Spark, and the
      // rank comparison must stay integral ((n+1)/2 = 2.5 matches nothing)
      .filter($"rn" === expr("(n + 1) div 2") || $"rn" === expr("(n + 2) div 2"))
      .groupBy($"prio")
      .agg((sum($"cents").cast("double") /
        count(lit(1)) / 100).as("median_price"))
    val byFreq = Window.partitionBy($"prio")
      .orderBy($"cnt".desc, $"cents")
    val mode = o.groupBy($"prio", $"cents").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(byFreq))
      .filter($"rn" === 1)
      .select($"prio", ($"cents".cast("double") / 100).as("mode_price"),
        $"cnt".as("mode_count"))
    med.join(mode, "prio")
      .select($"prio", $"median_price", $"mode_price", $"mode_count")
      .orderBy($"prio")
  }

  private val medianModeOracle =
    """WITH o AS (
      |  SELECT o_orderpriority AS prio,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |ranked AS (
      |  SELECT prio, cents,
      |    row_number() OVER (PARTITION BY prio ORDER BY cents) AS rn,
      |    count(*) OVER (PARTITION BY prio) AS n
      |  FROM o),
      |med AS (
      |  SELECT prio,
      |    CAST(sum(cents) AS DOUBLE) / count(*) / 100 AS median_price
      |  FROM ranked
      |  WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
      |  GROUP BY prio),
      |freq AS (
      |  SELECT prio, cents, count(*) AS cnt,
      |    row_number() OVER (PARTITION BY prio
      |      ORDER BY count(*) DESC, cents) AS rn
      |  FROM o GROUP BY prio, cents)
      |SELECT med.prio, median_price,
      |  CAST(freq.cents AS DOUBLE) / 100 AS mode_price,
      |  CAST(cnt AS BIGINT) AS mode_count
      |FROM med JOIN freq ON med.prio = freq.prio AND freq.rn = 1
      |ORDER BY med.prio""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("rolling_7d_revenue", rolling7dRevenue, Some(rollingOracle)),
    Q("window_rank_suite", windowRankSuite, Some(rankSuiteOracle)),
    Q("triangle_count", triangleCount, Some(triangleOracle)),
    Q("bm25_rank", bm25Rank, Some(bm25Oracle)),
    Q("text_index_topk", textIndexTopk, Some(textIndexOracle)),
    Q("text_index_append", textIndexAppend, Some(textIndexAppendOracle)),
    Q("text_index_optimize", textIndexOptimize, Some(textIndexOptimizeOracle)),
    Q("merge_upsert_orders", mergeUpsertOrders, Some(mergeOracle)),
    Q("unpivot_revenue", unpivotRevenue, Some(unpivotOracle)),
    Q("median_mode_by_priority", medianModeByPriority, Some(medianModeOracle)))
}
