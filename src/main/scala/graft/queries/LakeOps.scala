package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Exact, ObjectStoreSnapshotFileIO, SimulatedStoreCrash}
import graft.ops.{SnapshotFileIO, SnapshotTable, Tables}

/** Lake-maintenance operators: the operational half of running a
  * 100 TB corpus — schemas drift across ingestion generations, and
  * streaming/incremental writers leave small-file debris that must be
  * compacted without changing a byte of content. The gates write real
  * files (under [[graft.ops.SnapshotTable.lakeRoot]], keyed by the sf
  * dir) and re-read them, so the write path is inside the oracle gate,
  * not just the read path — and every table here publishes through
  * [[graft.ops.SnapshotTable]] commits: one convention, atomic
  * pointer-flip publishes, version-pinned reads.
  */
object LakeOps {

  private[queries] def tag(dir: String) = dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Table path for a lake-op query: one convention for every
    * on-disk table this engine writes — under
    * [[graft.ops.SnapshotTable.lakeRoot]] (env-overridable via
    * `SPARK_GRAFT_LAKE_DIR`), keyed by the sf dir so different scales
    * never collide. Single process per root (the queries
    * deleteTree-then-recreate their tables); concurrent runs isolate
    * by setting distinct roots.
    */
  private[graft] def lakeBase(dir: String, sub: String): String =
    s"${SnapshotTable.lakeRoot}/${tag(dir)}/$sub"

  /** Schema EVOLUTION through the snapshot spine: commit v1 with the
    * OLD layout (no `o_orderpriority`), then a WIDENED v2 that adds
    * the column — immutable versions, so v1 stays narrow on disk
    * forever — and answer from [[SnapshotTable.readAtConformed]]
    * reads of BOTH versions unioned by name. Old-generation rows
    * surface the missing column as NULL (conformance is by NAME and
    * type, never a positional mis-bind); the aggregate pins row
    * counts, null accounting, and the exact money total across both
    * generations against DuckDB reading the original table. This is
    * the one table-format behavior the spine's other gates don't
    * exercise: a reader that presents every retained version under
    * the live schema, exactly what a multi-generation 100 TB table
    * needs (the ad-hoc alternative — a mergeSchema read over raw
    * generation dirs — has no atomic publish and no version pinning).
    */
  private def schemaDriftUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "drift")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderpriority",
        Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(2)) === 0)
        .drop("o_orderpriority").withColumn("gen", lit("old")),
      base, expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(2)) === 1)
        .withColumn("gen", lit("new")),
      base, expectedVersion = Some(v1))
    SnapshotTable.readAtConformed(s, base, v1)
      .unionByName(SnapshotTable.readAtConformed(s, base, v2))
      .groupBy($"gen")
      .agg(
        count(lit(1)).as("n"),
        sum($"o_orderpriority".isNull.cast("long")).as("n_null_priority"),
        sum($"price_micro").as("s_micro"))
      .select($"gen", $"n", $"n_null_priority",
        Exact.microSumTo4dp("s_micro").as("sum_price"))
      .orderBy($"gen")
  }

  private val schemaDriftOracle =
    s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'old' ELSE 'new' END AS gen,
       |  count(*) AS n,
       |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_null_priority,
       |  ${Exact.microSumTo4dpSql(
          s"CAST(sum(${Exact.microSql("o_totalprice")}) AS BIGINT)",
          Exact.DuckDiv)} AS sum_price
       |FROM orders
       |GROUP BY gen
       |ORDER BY gen""".stripMargin

  /** Small-file compaction: the documents table scattered into 16-way
    * small-file debris (the streaming-writer shape), then compacted to
    * a single file. The gate proves compaction is CONTENT-PRESERVING
    * with an order-independent fingerprint (sum of a bounded per-row
    * hash — commutative, so file order and row order inside files are
    * free to change) plus exact file-count accounting from the
    * filesystem, and that the compacted layout carries the same row
    * count. At real scale the same op runs per partition directory
    * with a target file size instead of coalesce(1).
    */
  private def compactSmallFiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "compact")
    SnapshotTable.deleteTree(base)
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    // Both states publish through the spine: v1 = the small-file
    // debris, v2 = the compacted rewrite — and v2's commit is
    // CONDITIONAL on v1, because compaction is the canonical
    // read-modify-write: it rewrites exactly what it read, so an
    // interleaved ingest commit must fail the compactor (which then
    // re-reads and re-compacts) rather than be silently thrown away.
    val v1 = SnapshotTable.commit(docs.repartition(16), base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val countFiles = (p: String) =>
      new java.io.File(p).listFiles().count(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val nSmall = countFiles(s"$base/v$v1")
    val v2 = SnapshotTable.commit(
      SnapshotTable.readAt(s, base, v1).coalesce(1), base,
      expectedVersion = Some(v1))
    val nCompacted = countFiles(s"$base/v$v2")
    SnapshotTable.readAt(s, base, v2)
      .agg(
        count(lit(1)).as("n_rows"),
        // RAW md5, not TextOps.fingerprint64 (which normalizes
        // whitespace): compaction must preserve bytes, so the
        // fingerprint must see bytes
        sum(pmod(graft.ops.TextOps.rawFingerprint64($"text"),
          lit(1000000007L))).as("content_fp"))
      // The small side is gated as a capped FLAG, not the exact 16:
      // round-robin repartition(16) yields one file per NON-EMPTY
      // partition, and whether Spark writes files for empty partitions
      // is writer-version trivia — at a tiny/filtered dir an exact-16
      // assert would fail spuriously without any real compaction
      // defect. flag 2 = "scattered into multiple files" (any rowcount
      // ≥ 2 guarantees ≥ 2 round-robin partitions are non-empty);
      // n_files_compacted stays EXACT — a compaction that leaves >1
      // file must fail the gate.
      .select(lit(math.min(nSmall, 2)).as("n_files_small_flag"),
        lit(nCompacted).as("n_files_compacted"),
        $"n_rows", $"content_fp")
  }

  private val compactOracle =
    """SELECT CASE WHEN count(*) > 1 THEN 2
      |            WHEN count(*) = 1 THEN 1 ELSE 0 END AS n_files_small_flag,
      |  CASE WHEN count(*) >= 1 THEN 1 ELSE 0 END AS n_files_compacted,
      |  count(*) AS n_rows,
      |  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
      |    AS BIGINT) AS content_fp
      |FROM documents""".stripMargin

  /** File-level provenance: every row tagged with its source file via
    * `input_file_name()`, rolled up to per-bucket row counts, key
    * ranges, and distinct-file counts — the audit a lake runs after
    * every backfill ("which file contributed what").
    *
    * The layout is written `partitionBy(bkt)` where
    * `bkt = o_custkey % 8` — a partition function DuckDB can
    * RE-DERIVE FROM THE SOURCE TABLE, which is what makes this gate
    * valid at EVERY sf dir (the previous form hardcoded one /tmp glob
    * into the static oracle, so it only meant anything at exactly
    * sf0.01). The query side still proves real file-path provenance:
    * bucket AND per-bucket file count come out of
    * `input_file_name()`, not the catalog's partition column, and the
    * hash-shuffle before the write pins exactly one file per bucket —
    * a broken writer that splits or misroutes rows breaks `n_files`
    * or the key ranges.
    */
  private def fileProvenance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "prov")
    SnapshotTable.deleteTree(base)
    // published through the spine (atomic pointer flip, so a
    // provenance audit never sees a half-written backfill) with a
    // hive partition layout INSIDE the version directory
    val v1 = SnapshotTable.commit(
      Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
        .withColumn("bkt", pmod($"o_custkey", lit(8)).cast("int"))
        .repartition($"bkt"), // all rows of a bucket in ONE task → 1 file/dir
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      partitionCols = Seq("bkt"))
    SnapshotTable.readAt(s, base, v1)
      .withColumn("fpath", input_file_name())
      .withColumn("file_bkt",
        regexp_extract($"fpath", "bkt=(\\d+)", 1).cast("int"))
      .groupBy($"file_bkt")
      .agg(count(lit(1)).as("n"),
        min($"o_orderkey").as("min_key"),
        max($"o_orderkey").as("max_key"),
        countDistinct($"fpath").as("n_files"))
      .orderBy($"file_bkt")
  }

  private val fileProvenanceOracle =
    """SELECT CAST(o_custkey % 8 AS INT) AS file_bkt,
      |  count(*) AS n,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  CAST(1 AS BIGINT) AS n_files
      |FROM orders
      |GROUP BY file_bkt
      |ORDER BY file_bkt""".stripMargin

  // ------------------------------------ content integrity digests

  /** Order-independent content digests per source + a corpus ROOT row
    * (ROLLUP) — the attestation a 100 TB lake runs after every
    * migration, compaction, or engine swap: if the digests match, the
    * rows survived bit-for-bit, regardless of file layout, row order,
    * or partitioning. Each row canonicalizes to one 60-bit portable
    * hash (so the digest is engine-reproducible), and the per-group
    * digests are COMMUTATIVE folds — xor and a modular sum — so any
    * merge tree over any partitioning yields the identical value;
    * that is what lets digests computed by a 1000-executor job be
    * compared against digests computed file-by-file by an auditor.
    * The xor digest alone cannot see a row REPLACED by a second copy
    * of an existing row (pairs cancel); the modular sum and count
    * close that hole, which is why all three ship together.
    */
  private def lakeIntegrityHash(s: SparkSession, dir: String): DataFrame =
    integrityDigests(Tables.fanOut(Tables.documents(s, dir)))

  /** Digest core over any documents-shaped frame — public so the spec
    * can prove partitioning-invariance and tamper sensitivity on
    * constructed frames.
    */
  def integrityDigests(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val rowHash = graft.ops.TextOps.portableHash64(
      concat_ws("|", $"doc_id", $"lang", $"source", $"n_chars", $"text"),
      seed = 5)
    docs
      .select($"source", rowHash.as("h"))
      .rollup($"source")
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_digest"),
        // exact big-int sum (decimal 38 holds ~1e12 rows of 60-bit
        // hashes), reduced mod 2^61-1 for a portable BIGINT digest
        pmod(sum($"h".cast("decimal(38,0)")),
          lit(2305843009213693951L).cast("decimal(38,0)"))
          .cast("long").as("sum_digest"))
      .withColumn("source", coalesce($"source", lit("__ROOT__")))
      .orderBy($"source")
  }

  private val lakeIntegrityOracle =
    """SELECT coalesce(source, '__ROOT__') AS source,
      |  count(*) AS n_rows,
      |  bit_xor(h) AS xor_digest,
      |  CAST(sum(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT)
      |    AS sum_digest
      |FROM (
      |  SELECT source,
      |    ('0x' || substr(md5('5|' ||
      |      concat_ws('|', doc_id, lang, source, n_chars, text)), 1, 15))::BIGINT
      |      AS h
      |  FROM documents)
      |GROUP BY ROLLUP (source)
      |ORDER BY coalesce(source, '__ROOT__')""".stripMargin

  // -------------------- snapshot commit protocol (time travel)

  /** End-to-end gate for [[graft.ops.SnapshotTable]] — the atomic
    * overwrite/snapshot-read/time-travel layout that connects the lake
    * ops into a table story. The query runs a two-commit lifecycle on
    * a REAL on-disk table, then answers entirely from time-travel
    * reads, so the oracle (recomputing both version states straight
    * from `orders`) gates the whole protocol: v1 must still read its
    * ORIGINAL contents after v2's commit (snapshot isolation), and v2
    * must be exactly upsert(v1, delta).
    *
    * Lifecycle: commit v1 = orders with key%3 < 2; delta = key%3 ≥ 1
    * at doubled price; v2 = delta ∪ (v1 ∖ delta-keys) — the merge
    * reads v1 back THROUGH the snapshot layer, and the upsert itself
    * is one anti-join + union (the merge_upsert_orders algebra: state
    * touched once, O(|table|+|delta|)).
    */
  private def snapshotTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.SnapshotTable
    val base = lakeBase(dir, "snap")
    // fresh table per run (deleteTree fails loudly on a survivor — a
    // half-deleted table would silently shift version numbers)
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey",
        Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(3)) < 2), base)
    val delta = orders.filter(pmod($"o_orderkey", lit(3)) >= 1)
      .withColumn("price_micro", $"price_micro" * 2)
    val merged = SnapshotTable.read(s, base)
      .join(delta.select($"o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(delta)
    val v2 = SnapshotTable.commit(merged, base)
    require(v1 == 1 && v2 == 2,
      s"snapshot_time_travel expected a fresh table, got v$v1/v$v2")
    Seq(v1, v2).map { v =>
      SnapshotTable.readAt(s, base, v)
        .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
        .select(lit(v).as("version"), $"n_rows",
          Exact.microSumTo4dp("s_micro").as("sum_price"))
    }.reduce(_ unionByName _).orderBy($"version")
  }

  private val snapshotOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH v1 AS (
       |  SELECT count(*) AS n_rows,
       |    CAST(sum($p) AS BIGINT) AS s
       |  FROM orders WHERE o_orderkey % 3 < 2),
       |v2 AS (
       |  SELECT count(*) AS n_rows,
       |    CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN $p ELSE 2 * $p END)
       |      AS BIGINT) AS s
       |  FROM orders)
       |SELECT CAST(1 AS BIGINT) AS version, n_rows,
       |  ${Exact.microSumTo4dpSql("s", Exact.DuckDiv)} AS sum_price FROM v1
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS version, n_rows,
       |  ${Exact.microSumTo4dpSql("s", Exact.DuckDiv)} AS sum_price FROM v2
       |ORDER BY version""".stripMargin
  }

  /** Retention (VACUUM) gate for [[SnapshotTable.expire]] — the
    * lifecycle every real table format runs daily: four commits, then
    * `expire(keepLast = 2)` drops the two oldest snapshot directories
    * from DISK (verified by a loud in-query require on the surviving
    * version list — a half-applied retention would silently shift
    * later version numbering), while the kept versions remain exactly
    * readable. The answer is computed from time-travel reads of the
    * SURVIVORS, so the oracle — recomputing both retained states
    * straight from `orders` — gates that retention deleted the right
    * directories and nothing it kept lost a byte. `n_expired` rides
    * along from expire's return value.
    */
  private def snapshotRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "retain")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    var expected = SnapshotTable.ExpectEmpty.get
    for (i <- 1 to 4) {
      expected = SnapshotTable.commit(
        orders.filter(pmod($"o_orderkey", lit(4)) < i), base,
        expectedVersion = Some(expected))
    }
    val expired = SnapshotTable.expire(base, keepLast = 2)
    require(expired == Seq(1L, 2L) && SnapshotTable.versions(base) == Seq(3L, 4L),
      s"retention must drop exactly v1,v2 and keep v3,v4 — " +
        s"expired $expired, kept ${SnapshotTable.versions(base)}")
    Seq(3L, 4L).map { v =>
      SnapshotTable.readAt(s, base, v)
        .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
        .select(lit(v).as("version"), $"n_rows",
          Exact.microSumTo4dp("s_micro").as("sum_price"),
          lit(expired.size.toLong).as("n_expired"))
    }.reduce(_ unionByName _).orderBy($"version")
  }

  private val snapshotRetentionOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH st AS (
       |  SELECT v, count(*) AS n_rows,
       |    CAST(sum($p) AS BIGINT) AS s
       |  FROM orders, (SELECT unnest([3, 4]) AS v)
       |  WHERE o_orderkey % 4 < v
       |  GROUP BY v)
       |SELECT CAST(v AS BIGINT) AS version, n_rows,
       |  ${Exact.microSumTo4dpSql("s", Exact.DuckDiv)} AS sum_price,
       |  CAST(2 AS BIGINT) AS n_expired
       |FROM st
       |ORDER BY version""".stripMargin
  }

  /** Change-data capture BETWEEN retained versions — the table_changes
    * / CDF read every downstream incremental consumer wants: given two
    * immutable snapshots, emit what changed (insert / update / delete)
    * without any writer-side change tracking. Computed as one
    * full-outer key join of the two time-travel reads — a single
    * keyed shuffle; at cluster scale both sides hash-partition on the
    * key and co-locate, and the unchanged majority is dropped
    * map-side-after-join, so the output is change-proportional, which
    * is the entire point of CDC at 100 TB (consumers re-read deltas,
    * not tables). Lifecycle: v1 = keys ≡ 0,1 (mod 3); v2 = keys ≡ 1,2
    * with the ≡1 prices doubled — so ≡0 is a delete, ≡2 an insert,
    * ≡1 an update, and the unchanged case is proven absent by the
    * oracle, which recomputes the per-type row counts and exact money
    * deltas straight from `orders`.
    */
  private def snapshotChangelog(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "cdc")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(3)) < 2), base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(3)) > 0)
        .withColumn("price_micro",
          when(pmod($"o_orderkey", lit(3)) === 1, $"price_micro" * 2)
            .otherwise($"price_micro")), base,
      expectedVersion = Some(v1))
    val old = SnapshotTable.readAt(s, base, v1)
      .select($"o_orderkey", $"price_micro".as("p_old"))
    val neu = SnapshotTable.readAt(s, base, v2)
      .select($"o_orderkey", $"price_micro".as("p_new"))
    old.join(neu, Seq("o_orderkey"), "full_outer")
      .withColumn("change",
        when($"p_new".isNull, lit("delete"))
          .when($"p_old".isNull, lit("insert"))
          .when($"p_old" =!= $"p_new", lit("update")))
      .filter($"change".isNotNull)
      .groupBy($"change")
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce($"p_new", $"p_old")).as("s_micro"))
      .select($"change", $"n_rows",
        Exact.microSumTo4dp("s_micro").as("sum_price"))
      .orderBy($"change")
  }

  private val snapshotChangelogOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH ch AS (
       |  SELECT CASE o_orderkey % 3
       |           WHEN 0 THEN 'delete' WHEN 1 THEN 'update'
       |           ELSE 'insert' END AS change,
       |    CASE o_orderkey % 3 WHEN 1 THEN 2 * $p ELSE $p END AS pm
       |  FROM orders)
       |SELECT change, count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql("CAST(sum(pm) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price
       |FROM ch
       |GROUP BY change
       |ORDER BY change""".stripMargin
  }

  /** Partition PRUNING through the snapshot spine — the read-side
    * payoff of [[SnapshotTable.commit]]'s `partitionCols`: a
    * predicate on the partition column must be answered by LISTING
    * (planning-time directory pruning), not by scanning — at 100 TB a
    * one-bucket query reads one bucket's files, full stop. The gate
    * pins the observable consequences: `n_files` comes out of
    * `input_file_name()` and must be exactly 1 (one hash-clustered
    * file per bucket directory, so a scan that touched other buckets
    * would raise it), and the per-bucket row count and exact money
    * total match DuckDB recomputing the bucket from the source table.
    * The planning-time evidence lives in PLANS.md: this query's scan
    * carries a non-empty `PartitionFilters: [(bkt = 3)]`.
    */
  private def snapshotPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "prune")
    SnapshotTable.deleteTree(base)
    val v1 = SnapshotTable.commit(
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey",
          Exact.micro("o_totalprice").as("price_micro"))
        .withColumn("bkt", pmod($"o_custkey", lit(8)).cast("int"))
        .repartition($"bkt"), // one task per bucket → one file per dir
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      partitionCols = Seq("bkt"))
    SnapshotTable.readAt(s, base, v1)
      .filter($"bkt" === 3)
      .withColumn("fpath", input_file_name())
      .agg(count(lit(1)).as("n_rows"),
        sum($"price_micro").as("s_micro"),
        countDistinct($"fpath").as("n_files"))
      .select(lit(3).as("bkt"), $"n_rows",
        Exact.microSumTo4dp("s_micro").as("sum_price"), $"n_files")
  }

  private val snapshotPartitionPruneOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT 3 AS bkt, count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  CAST(1 AS BIGINT) AS n_files
       |FROM orders
       |WHERE o_custkey % 8 = 3""".stripMargin
  }

  /** File-level STATS skipping through the snapshot spine — the
    * generalization of [[snapshotPartitionPrune]] from partition
    * granularity to FILE granularity, and the biggest single scan win
    * an UNPARTITIONED predicate read gets at 100 TB (Delta file stats /
    * Iceberg manifest metrics): the commit writes a per-file
    * min/max/nullCount sidecar for `o_orderkey`, the data is
    * range-clustered on that key (sort-on-write — the layout that
    * makes min/max bite), and [[SnapshotTable.readWhere]] prunes files
    * whose [min,max] cannot admit the predicate BEFORE the scan. The
    * gate is three-layered: (a) a loud in-query require that strictly
    * fewer files survive pruning than the version contains AND that
    * the scan's actual input-file list equals the pruned list — a
    * regression to a full scan fails the query, not a doc line;
    * (b) the row count and exact money total over the pruned read
    * match DuckDB recomputing the same predicate over the whole
    * table — file skipping is pure I/O savings, never an answer
    * change; (c) PlanAuditSpec re-asserts the file-count inequality
    * independently. The predicate bound (max key ÷ 8) is derived by a
    * 1-row scalar aggregate on both sides, so the gate is
    * scale-portable.
    */
  private def snapshotStatsPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "statsprune")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(
      orders.repartitionByRange(8, $"o_orderkey"),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("o_orderkey"))
    // the probe bound: first ~octile of the keyspace — a 1-row scalar
    // (bounded driver bridge), recomputed identically by the oracle
    val hi = orders.agg(max($"o_orderkey")).head.getLong(0) / 8
    val (kept, total) = SnapshotTable.pruneFiles(base, v1, "o_orderkey", 1L, hi)
    require(kept.nonEmpty && kept.size < total,
      s"stats skipping must prune strictly (kept ${kept.size} of $total " +
        s"files for o_orderkey <= $hi) — min/max sidecar regressed")
    val pruned = SnapshotTable.readWhere(s, base, v1, "o_orderkey", 1L, hi)
    require(pruned.inputFiles.length == kept.size,
      s"the scan must read EXACTLY the pruned file list: " +
        s"${pruned.inputFiles.length} opened vs ${kept.size} pruned-to")
    pruned
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows",
        Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("pruned_strictly"))
  }

  private val snapshotStatsPruneOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS pruned_strictly
       |FROM orders
       |WHERE o_orderkey BETWEEN 1
       |  AND (SELECT max(o_orderkey) ${Exact.DuckDiv} 8 FROM orders)""".stripMargin
  }

  /** METADATA-ONLY answering through the snapshot spine — the manifest
    * surfaced to SQL (Iceberg's `table.files`, Delta's log stats):
    * count(*), per-column min/max, and null counts fold over
    * [[SnapshotTable.manifest]] — since r18 a parquet TABLE committed
    * inside the version directory (`_manifest/`), so the metadata tree
    * is itself a distributed scan: a 10⁵-file version's stats roll up
    * as a DataFrame aggregation, not a driver readAllLines loop (the
    * `_stats.tsv` stays as the compatibility sidecar). ZERO data files
    * open, which the gate proves with a loud require that every file
    * in the result plan's input list lives under `_manifest/`. This is
    * the 100 TB dashboard trick every real table format ships: a row
    * count or a freshness min/max answers in milliseconds from the
    * log, not in a 15-minute scan. The oracle recomputes the same
    * aggregates by actually scanning `orders` in DuckDB, pinning
    * manifest-derived ≡ data-derived, money included (micro-exact
    * min/max re-rendered to 4dp on both sides).
    */
  private def snapshotManifestStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "manifest")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(
      orders.repartition(8, pmod($"o_orderkey", lit(8))),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("o_orderkey", "price_micro"))
    val m = SnapshotTable.manifest(s, base, v1)
    val answer = m.agg(
        sum(when($"column" === "o_orderkey", $"row_count")).as("n_rows"),
        min(when($"column" === "o_orderkey", $"min_num")).cast("long").as("min_key"),
        max(when($"column" === "o_orderkey", $"max_num")).cast("long").as("max_key"),
        sum(when($"column" === "o_orderkey", $"null_count")).as("null_keys"),
        min(when($"column" === "price_micro", $"min_num")).cast("long").as("pmin"),
        max(when($"column" === "price_micro", $"max_num")).cast("long").as("pmax"))
      .select($"n_rows", $"min_key", $"max_key", $"null_keys",
        Exact.microSumTo4dp("pmin").as("min_price"),
        Exact.microSumTo4dp("pmax").as("max_price"))
    require(answer.inputFiles.nonEmpty &&
      answer.inputFiles.forall(_.contains("/_manifest/")),
      s"metadata-only answering must read the manifest TABLE and not one " +
        s"data file; the plan reads ${answer.inputFiles.mkString(", ")}")
    answer
  }

  private val snapshotManifestStatsOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       |  count(*) - count(o_orderkey) AS null_keys,
       |  ${Exact.microSumTo4dpSql(s"min($p)", Exact.DuckDiv)} AS min_price,
       |  ${Exact.microSumTo4dpSql(s"max($p)", Exact.DuckDiv)} AS max_price
       |FROM orders""".stripMargin
  }

  /** OPTIMIZE through the snapshot spine — the maintenance op (Delta
    * OPTIMIZE ZORDER, Iceberg rewrite_data_files with a sort order)
    * that turns an ingest-ordered table into a skip-friendly one: v1
    * commits orders in ARRIVAL order (hash-scattered by customer, the
    * shape a streaming ingest leaves behind) with a stats sidecar; the
    * gate PROVES that layout defeats range skipping (pruneFiles over a
    * key octile keeps every file — loud require). v2 is one
    * CAS-protected [[SnapshotTable.transact]] whose mutate is identity
    * but whose layout is `repartitionByRange` + fresh `statsCols`: a
    * rewrite, priced honestly as one, after which the SAME predicate
    * read opens strictly fewer files than v2 holds. The answer columns
    * are read through the optimized [[SnapshotTable.readWhere]] and
    * must match DuckDB computing the predicate over the whole table —
    * clustering is pure I/O layout, never an answer change — and the
    * before/after file counts ride in the output row so the oracle
    * also pins "before kept ALL files" structurally. At 100 TB this is
    * the nightly job that keeps needle queries from paying full-scan
    * prices forever after a streaming week.
    */
  private def snapshotOptimizeCluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "optimize")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", Exact.micro("o_totalprice").as("price_micro"))
    // v1: arrival-order ingest — customer-hash files, orderkey scattered
    val v1 = SnapshotTable.commit(
      orders.repartition(8, pmod($"o_custkey", lit(8))),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("o_orderkey"))
    val hi = orders.agg(max($"o_orderkey")).head().getLong(0) / 8
    val (keptBefore, totalBefore) =
      SnapshotTable.pruneFiles(base, v1, "o_orderkey", 1L, hi)
    require(keptBefore.size == totalBefore,
      s"the ingest layout must defeat range skipping (kept " +
        s"${keptBefore.size} of $totalBefore) — fixture layout drifted")
    // v2: OPTIMIZE — identity data, clustered layout, fresh stats
    val v2 = SnapshotTable.transact(s, base, statsCols = Seq("o_orderkey"))(
      cur => cur.get.repartitionByRange(8, $"o_orderkey"))
    val (keptAfter, totalAfter) =
      SnapshotTable.pruneFiles(base, v2, "o_orderkey", 1L, hi)
    require(keptAfter.size < totalAfter,
      s"OPTIMIZE must make range skipping strict (kept ${keptAfter.size} " +
        s"of $totalAfter) — clustering or the fresh sidecar regressed")
    val pruned = SnapshotTable.readWhere(s, base, v2, "o_orderkey", 1L, hi)
    require(pruned.inputFiles.length == keptAfter.size,
      s"the optimized scan must read EXACTLY the pruned list: " +
        s"${pruned.inputFiles.length} vs ${keptAfter.size}")
    pruned
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(keptBefore.size == totalBefore).as("before_kept_all"),
        lit(true).as("after_pruned_strictly"))
  }

  private val snapshotOptimizeClusterOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS before_kept_all,
       |  true AS after_pruned_strictly
       |FROM orders
       |WHERE o_orderkey BETWEEN 1
       |  AND (SELECT max(o_orderkey) ${Exact.DuckDiv} 8 FROM orders)""".stripMargin
  }

  /** BLOOM file skipping through the snapshot spine — the point-lookup
    * complement to [[snapshotStatsPrune]]: min/max stats only bite when
    * the data is clustered on the predicate column; here the commit is
    * deliberately clustered on a DIFFERENT key (files hash-bucketed by
    * customer), so every file's o_orderkey [min,max] spans essentially
    * the whole keyspace and range skipping keeps everything — which the
    * gate PROVES with an in-query require (`pruneFiles` over the probe
    * keys' span must keep all files). The per-file bloom sidecar
    * ([[SnapshotTable.commit]] `bloomCols`) then answers "definitely
    * not in this file" per key, and [[SnapshotTable.readWhereIn]] opens
    * only the admitting files — the Iceberg/Parquet bloom story: a
    * needle-in-100 TB lookup on an unclustered key costs ~the files
    * holding the needles, not a full scan. Three-layered like the stats
    * gate: (a) loud requires that bloom pruning is strict while range
    * pruning is proven powerless, and that the scan's input-file list
    * equals the bloom-pruned list; (b) the looked-up rows' count and
    * exact money total match DuckDB running the same IN-subquery over
    * the whole table (no false negatives, fp rows removed by the
    * row-level filter); (c) PlanAuditSpec re-asserts the file-count
    * inequality. The probe keys are the extreme orderkeys of two
    * residue classes — four keys spanning the keyspace, derived by
    * bounded scalar aggregates both engines compute identically.
    */
  private def snapshotBloomPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "bloomprune")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", Exact.micro("o_totalprice").as("price_micro"))
    // size the sidecar to the write, like Parquet's bloom_filter_
    // expected_ndv: a filter sized far below rows-per-file saturates
    // at soak scale and (correctly but uselessly) stops pruning
    val nOrders = orders.count()
    val v1 = SnapshotTable.commit(
      orders.repartition(8, pmod($"o_custkey", lit(8))),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("o_orderkey"), bloomCols = Seq("o_orderkey"),
      bloomExpectedItems =
        math.max(SnapshotTable.DefaultBloomExpectedItems, nOrders / 4))
    // probe keys: min/max orderkey of residues 3 and 7 (mod 100) — a
    // 1-row scalar per side (bounded driver bridge), spanning the
    // keyspace so the range-skip powerlessness witness below is fair
    val ext = orders.filter(pmod($"o_orderkey", lit(100)).isin(3, 7))
      .agg(min($"o_orderkey"), max($"o_orderkey"),
        min(when(pmod($"o_orderkey", lit(100)) === 7, $"o_orderkey")),
        max(when(pmod($"o_orderkey", lit(100)) === 3, $"o_orderkey"))).head
    val keys = (0 to 3).map(ext.getLong).distinct.sorted
    val (bloomKept, total) = SnapshotTable.pruneFilesBloom(base, v1, "o_orderkey", keys)
    require(bloomKept.size < total,
      s"bloom skipping must prune strictly (kept ${bloomKept.size} of $total " +
        s"files for ${keys.size} point keys) — bloom sidecar regressed")
    // the contrast witness: the same lookup as a RANGE over the keys'
    // span keeps every file, because the layout scatters the key
    val (statsKept, statsTotal) =
      SnapshotTable.pruneFiles(base, v1, "o_orderkey", keys.min, keys.max)
    require(statsKept.size == statsTotal,
      s"the powerlessness witness broke: range pruning kept ${statsKept.size} " +
        s"of $statsTotal files — the layout is no longer key-scattered")
    val looked = SnapshotTable.readWhereIn(s, base, v1, "o_orderkey", keys)
    require(looked.inputFiles.length == bloomKept.size,
      s"the scan must read EXACTLY the bloom-pruned file list: " +
        s"${looked.inputFiles.length} opened vs ${bloomKept.size} pruned-to")
    looked
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(keys.size).cast("long").as("n_keys"),
        lit(true).as("bloom_pruned_strictly"))
  }

  private val snapshotBloomPruneOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH keys AS (
       |  SELECT DISTINCT k FROM (
       |    SELECT min(o_orderkey) AS k FROM orders WHERE o_orderkey % 100 IN (3, 7)
       |    UNION ALL
       |    SELECT max(o_orderkey) FROM orders WHERE o_orderkey % 100 IN (3, 7)
       |    UNION ALL
       |    SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 100 = 7
       |    UNION ALL
       |    SELECT max(o_orderkey) FROM orders WHERE o_orderkey % 100 = 3))
       |SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  (SELECT count(*) FROM keys) AS n_keys,
       |  true AS bloom_pruned_strictly
       |FROM orders
       |WHERE o_orderkey IN (SELECT k FROM keys)""".stripMargin
  }

  /** Merge-on-read DELETE through the snapshot spine — the GDPR-erasure
    * story at table granularity (the ANN layer's
    * `ann_topk_delete_refresh` solved it one level up): v1 commits the
    * base data; v2 is [[SnapshotTable.commitDeletes]] — a tombstone
    * sidecar PLUS a base pointer, no data rewrite, verified by a loud
    * in-query require that the v2 directory holds zero data files (a
    * 100 TB erasure must cost a kilobyte, not a table rewrite); v3 is
    * compaction (an identity [[SnapshotTable.transact]]) that
    * materializes the tombstones away and cuts the chain. The answer
    * reads all three versions back through the tombstone-aware
    * [[SnapshotTable.readAt]]: v1 proves time travel BELOW a delete is
    * untouched, v2 proves the merge-on-read path, v3 proves
    * compaction changed nothing — and the oracle recomputes every row
    * straight from `orders`, so a green run pins read ≡ base ∖
    * tombstones end to end.
    */
  private def snapshotMorDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "mor")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(orders, base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commitDeletes(
      orders.filter(pmod($"o_orderkey", lit(5)) === 0).select($"o_orderkey"),
      base, expectedVersion = v1)
    val v2Top = new java.io.File(s"$base/v$v2").listFiles().map(_.getName).toSet
    require(v2Top == Set("_base", "_deletes", "_names"),
      s"merge-on-read delete must not rewrite data; v$v2 contains $v2Top")
    val v3 = SnapshotTable.transact(s, base)(cur => cur.get) // compaction
    require(SnapshotTable.baseOf(base, v3).isEmpty &&
      new java.io.File(s"$base/v$v3").listFiles()
        .exists(_.getName.endsWith(".parquet")),
      s"compaction must materialize tombstones into a full rewrite at v$v3")
    Seq(v1, v2, v3).map { v =>
      SnapshotTable.readAt(s, base, v)
        .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
        .select(lit(v).as("version"), $"n_rows",
          Exact.microSumTo4dp("s_micro").as("sum_price"))
    }.reduce(_ unionByName _).orderBy($"version")
  }

  private val snapshotMorDeleteOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH full_t AS (
       |  SELECT count(*) AS n_rows, CAST(sum($p) AS BIGINT) AS s
       |  FROM orders),
       |kept AS (
       |  SELECT count(*) AS n_rows, CAST(sum($p) AS BIGINT) AS s
       |  FROM orders WHERE o_orderkey % 5 <> 0)
       |SELECT CAST(1 AS BIGINT) AS version, n_rows,
       |  ${Exact.microSumTo4dpSql("s", Exact.DuckDiv)} AS sum_price FROM full_t
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS version, n_rows,
       |  ${Exact.microSumTo4dpSql("s", Exact.DuckDiv)} AS sum_price FROM kept
       |UNION ALL
       |SELECT CAST(3 AS BIGINT) AS version, n_rows,
       |  ${Exact.microSumTo4dpSql("s", Exact.DuckDiv)} AS sum_price FROM kept
       |ORDER BY version""".stripMargin
  }

  /** Conjunctive multi-column file skipping — real predicates are ANDs,
    * and a single-column prune leaves the other terms' skipping power
    * on the table. The layout is 2-D clustered (range-partitioned by
    * customer parity first, order key second), so each term kills a
    * different dimension: the key-range term keeps ~one okey stripe
    * per parity half, the parity IN term (decided by the per-file
    * bloom) keeps one half — and their INTERSECTION
    * ([[SnapshotTable.pruneFilesMulti]], range terms decided as a
    * DataFrame filter over the committed `_manifest` table) keeps
    * strictly fewer files than the BEST single term alone, which the
    * gate requires loudly. On a 100 TB table this is the difference
    * between reading a stripe and reading a cell. The answer columns
    * come through [[SnapshotTable.readWhereMulti]] (row filters for
    * every term still apply) and must match DuckDB computing the
    * compound WHERE over the whole table — skipping is pure I/O,
    * never an answer change — and the scan's input-file list must
    * equal the conjunction's survivor list exactly.
    */
  private def snapshotMultiPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import SnapshotTable.{InPredicate, RangePredicate}
    val base = lakeBase(dir, "multiprune")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"),
        pmod($"o_custkey", lit(2)).as("par"))
    val v1 = SnapshotTable.commit(
      orders.repartitionByRange(16, $"par", $"o_orderkey"),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("o_orderkey", "par"), bloomCols = Seq("par"))
    // probe bound: first ~octile of the keyspace — a 1-row scalar
    // (bounded driver bridge), recomputed identically by the oracle
    val hi = orders.agg(max($"o_orderkey")).head.getLong(0) / 8
    val rangeTerm = RangePredicate("o_orderkey", 1L, hi)
    val inTerm = InPredicate("par", Seq(1L))
    val (rangeKept, total) =
      SnapshotTable.pruneFilesMulti(s, base, v1, Seq(rangeTerm))
    val (inKept, _) = SnapshotTable.pruneFilesMulti(s, base, v1, Seq(inTerm))
    val (conjKept, _) =
      SnapshotTable.pruneFilesMulti(s, base, v1, Seq(rangeTerm, inTerm))
    require(conjKept.nonEmpty && conjKept.size < rangeKept.size &&
      conjKept.size < inKept.size,
      s"the conjunction must out-prune its best single term: conj " +
        s"${conjKept.size}, range ${rangeKept.size}, in ${inKept.size} " +
        s"of $total files — a term's sidecar regressed")
    val pruned = SnapshotTable.readWhereMulti(s, base, v1, Seq(rangeTerm, inTerm))
    require(pruned.inputFiles.length == conjKept.size,
      s"the scan must read EXACTLY the conjunction's survivor list: " +
        s"${pruned.inputFiles.length} opened vs ${conjKept.size} pruned-to")
    pruned
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("conj_pruned_strictly"))
  }

  private val snapshotMultiPruneOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS conj_pruned_strictly
       |FROM orders
       |WHERE o_orderkey BETWEEN 1
       |  AND (SELECT max(o_orderkey) ${Exact.DuckDiv} 8 FROM orders)
       |  AND o_custkey % 2 = 1""".stripMargin
  }

  /** Partition-spec EVOLUTION across generations — the Iceberg
    * spec-evolution story, which schema evolution
    * ([[schemaDriftUnion]]) does not cover: LAYOUT evolves. Gen1
    * commits half the table hive-partitioned by customer bucket; gen2
    * arrives as a [[SnapshotTable.commitAppend]] delta partitioned by
    * order priority — old data keeps its old directories forever (no
    * rewrite), and a cross-generation read must prune EACH generation
    * by ITS OWN layout. The gate filters the chain read on both
    * partition keys at once and inspects the plan's two scan branches:
    * each must carry a partition filter on its own key and plan
    * exactly one partition directory (loud requires — a regression to
    * scanning a generation's other buckets fails the query). The
    * unioned answer matches DuckDB computing the compound predicate
    * over the whole table. At 100 TB this is what lets a table change
    * its partitioning strategy mid-life without rewriting history.
    */
  private def snapshotPartitionEvolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "specevolve")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority",
        Exact.micro("o_totalprice").as("price_micro"),
        pmod($"o_custkey", lit(4)).cast("int").as("c_bkt"))
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(2)) === 0).repartition($"c_bkt"),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      partitionCols = Seq("c_bkt"))
    val v2 = SnapshotTable.commitAppend(
      orders.filter(pmod($"o_orderkey", lit(2)) === 1)
        .repartition($"o_orderpriority"),
      base, expectedVersion = v1, partitionCols = Seq("o_orderpriority"))
    // the probed priority: a 1-row scalar both engines derive identically
    val prio = orders.agg(min($"o_orderpriority")).head.getString(0)
    val chain = SnapshotTable.readAt(s, base, v2)
      .filter($"c_bkt" === 1 && $"o_orderpriority" === prio)
    val scans = chain.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    require(scans.size == 2,
      s"expected one scan branch per generation, got ${scans.size}")
    def scanOf(v: Long) = scans.find(
      _.relation.location.rootPaths.exists(_.toString.endsWith(s"/v$v")))
      .getOrElse(throw new IllegalStateException(s"no scan branch for v$v"))
    val g1 = scanOf(v1)
    val g2 = scanOf(v2)
    require(g1.partitionFilters.exists(_.toString.contains("c_bkt")) &&
      g1.selectedPartitions.partitionCount == 1,
      s"gen1 must prune by ITS layout (c_bkt): planned " +
        s"${g1.selectedPartitions.partitionCount} of 4 dirs, " +
        s"filters ${g1.partitionFilters}")
    require(g2.partitionFilters.exists(_.toString.contains("o_orderpriority")) &&
      g2.selectedPartitions.partitionCount == 1,
      s"gen2 must prune by ITS layout (o_orderpriority): planned " +
        s"${g2.selectedPartitions.partitionCount} dirs, " +
        s"filters ${g2.partitionFilters}")
    chain
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("gen1_pruned_own_layout"),
        lit(true).as("gen2_pruned_own_layout"))
  }

  private val snapshotPartitionEvolveOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS gen1_pruned_own_layout,
       |  true AS gen2_pruned_own_layout
       |FROM orders
       |WHERE o_custkey % 4 = 1
       |  AND o_orderpriority = (SELECT min(o_orderpriority) FROM orders)""".stripMargin
  }

  /** Bloom skipping THROUGH a merge-on-read delete — the composition
    * [[snapshotBloomPrune]] (skipping on a data version) and
    * [[snapshotMorDelete]] (tombstones without rewrite) leave
    * unexercised together: a point lookup on a MOR version must prune
    * on the underlying DATA version's sidecar (a bloom cannot forget a
    * key — the tombstoned key only costs a false-positive file open)
    * while the `_deletes` anti-join guarantees the erased key can
    * NEVER resurrect through the skipping path. The gate tombstones
    * one of the probed keys, then requires (a) bloom pruning stayed
    * strict, (b) the lookup's data-file list equals the bloom-pruned
    * list exactly, and (c) zero rows for the tombstoned key survive —
    * the GDPR property at the I/O layer: erasure costs a kilobyte AND
    * the fast path cannot leak the erased row. The oracle recomputes
    * the surviving lookup straight from `orders`.
    */
  private def snapshotMorPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "morprune")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey",
        Exact.micro("o_totalprice").as("price_micro"))
    val nOrders = orders.count()
    val v1 = SnapshotTable.commit(
      orders.repartition(8, pmod($"o_custkey", lit(8))),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      bloomCols = Seq("o_orderkey"),
      bloomExpectedItems =
        math.max(SnapshotTable.DefaultBloomExpectedItems, nOrders / 4))
    // probe keys: extremes of two residue classes (the
    // snapshot_bloom_prune derivation); tombstone = the smallest
    val ext = orders.filter(pmod($"o_orderkey", lit(100)).isin(3, 7))
      .agg(min($"o_orderkey"), max($"o_orderkey"),
        min(when(pmod($"o_orderkey", lit(100)) === 7, $"o_orderkey")),
        max(when(pmod($"o_orderkey", lit(100)) === 3, $"o_orderkey"))).head
    val keys = (0 to 3).map(ext.getLong).distinct.sorted
    val tomb = keys.min
    val v2 = SnapshotTable.commitDeletes(Seq(tomb).toDF("o_orderkey"), base,
      expectedVersion = v1)
    val (bloomKept, total) =
      SnapshotTable.pruneFilesBloom(base, v1, "o_orderkey", keys)
    require(bloomKept.nonEmpty && bloomKept.size < total,
      s"bloom skipping must stay strict under the chain (kept " +
        s"${bloomKept.size} of $total files) — sidecar regressed")
    val looked = SnapshotTable.readWhereIn(s, base, v2, "o_orderkey", keys)
    val dataFiles = looked.inputFiles.filter(_.contains(s"/v$v1/"))
    require(dataFiles.length == bloomKept.size,
      s"the MOR lookup must read EXACTLY the bloom-pruned data files: " +
        s"${dataFiles.length} opened vs ${bloomKept.size} pruned-to")
    require(looked.filter($"o_orderkey" === tomb).count() == 0,
      s"tombstoned key $tomb resurfaced through the skipping path")
    looked
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(keys.size).cast("long").as("n_keys"),
        lit(0L).as("n_tombstoned_rows"))
  }

  private val snapshotMorPruneOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH keys AS (
       |  SELECT DISTINCT k FROM (
       |    SELECT min(o_orderkey) AS k FROM orders WHERE o_orderkey % 100 IN (3, 7)
       |    UNION ALL
       |    SELECT max(o_orderkey) FROM orders WHERE o_orderkey % 100 IN (3, 7)
       |    UNION ALL
       |    SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 100 = 7
       |    UNION ALL
       |    SELECT max(o_orderkey) FROM orders WHERE o_orderkey % 100 = 3))
       |SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  (SELECT count(*) FROM keys) AS n_keys,
       |  CAST(0 AS BIGINT) AS n_tombstoned_rows
       |FROM orders
       |WHERE o_orderkey IN (SELECT k FROM keys)
       |  AND o_orderkey <> (SELECT min(k) FROM keys)""".stripMargin
  }

  /** WRITE-AUDIT-PUBLISH through the snapshot spine — the Iceberg
    * branch-refs / Delta-WAP pattern that keeps unaudited data out of
    * production: a correction job commits its candidate to a BRANCH
    * ([[SnapshotTable.commitToBranch]] — a full first-class version,
    * but only the `ref.audit` pointer flips), the audit runs against
    * the branch while MAIN readers still see the old version (loud
    * requires: main pointer unchanged, main read byte-equal to v1's
    * aggregates), and only then does [[SnapshotTable.publishBranch]]
    * fast-forward main — METADATA-ONLY, one pointer flip, not a byte
    * of data moved, which the gate proves by requiring the version
    * list unchanged across the publish. A second candidate whose audit
    * FAILS (it dropped rows) is dropped with its branch and never
    * touches main. The answer reads main after the publish and must
    * match DuckDB recomputing the correction from the source table —
    * the full WAP lifecycle pinned end to end.
    */
  private def snapshotWapPublish(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "wap")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority",
        Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(orders, base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val nBase = SnapshotTable.readAt(s, base, v1).count()
    // the correction candidate: top-priority prices doubled (the
    // probed priority is a 1-row scalar both engines derive)
    val prio = orders.agg(min($"o_orderpriority")).head.getString(0)
    val candidate = orders.withColumn("price_micro",
      when($"o_orderpriority" === prio, $"price_micro" * 2)
        .otherwise($"price_micro"))
    val v2 = SnapshotTable.commitToBranch(candidate, base, "audit",
      expectedBranchVersion = SnapshotTable.ExpectEmpty)
    // isolation: the branch commit moved NOTHING main readers see
    require(SnapshotTable.currentVersion(base).contains(v1) &&
      SnapshotTable.branchVersion(base, "audit").contains(v2),
      s"branch commit must not touch main: main at " +
        s"${SnapshotTable.currentVersion(base)}, audit at " +
        s"${SnapshotTable.branchVersion(base, "audit")}")
    require(SnapshotTable.read(s, base).count() == nBase,
      "main readers saw the unpublished candidate")
    // the audit, against the BRANCH: row-count preserved, no nulls
    val audited = SnapshotTable.readAt(s, base, v2)
    require(audited.count() == nBase &&
      audited.filter($"price_micro".isNull).isEmpty,
      "audit failed: the candidate lost rows or nulled prices")
    // a FAILED audit: a candidate that drops rows never reaches main
    val vBad = SnapshotTable.commitToBranch(
      candidate.filter(pmod($"o_orderkey", lit(2)) === 0), base, "bad",
      expectedBranchVersion = SnapshotTable.ExpectEmpty)
    val badOk = SnapshotTable.readAt(s, base, vBad).count() == nBase
    require(!badOk, "the bad candidate was supposed to fail its audit")
    SnapshotTable.dropBranch(base, "bad")
    require(SnapshotTable.currentVersion(base).contains(v1),
      "the failed candidate leaked to main")
    // publish: metadata-only fast-forward, CAS'd on the audited main
    val before = SnapshotTable.versions(base)
    val pub = SnapshotTable.publishBranch(base, "audit",
      expectedVersion = Some(v1))
    require(pub == v2 && SnapshotTable.currentVersion(base).contains(v2),
      s"publish must fast-forward main to the audited v$v2, got v$pub")
    require(SnapshotTable.versions(base) == before,
      "publish must be metadata-only: the version list changed")
    SnapshotTable.read(s, base)
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("audited_before_publish"),
        lit(true).as("publish_metadata_only"))
  }

  private val snapshotWapPublishOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(
          s"CAST(sum(CASE WHEN o_orderpriority = " +
            s"(SELECT min(o_orderpriority) FROM orders) THEN 2 * $p " +
            s"ELSE $p END) AS BIGINT)", Exact.DuckDiv)} AS sum_price,
       |  true AS audited_before_publish,
       |  true AS publish_metadata_only
       |FROM orders""".stripMargin
  }

  /** DYNAMIC file pruning for a star-schema semi-join — Spark's
    * dynamic partition pruning / Delta's dynamic file pruning at the
    * MANIFEST level: the fact side (lineitem, range-clustered on the
    * join key with a per-file bloom sidecar) is pruned by the DIM
    * side's runtime key set ([[SnapshotTable.readWhereInFrom]] — one
    * customer's order keys, collected exactly like DPP's dim-side
    * broadcast, loudly bounded), so the needle join opens ~the files
    * holding that customer's lines instead of scanning the table. The
    * gate requires strict pruning, requires the scan's input-file list
    * to equal the bloom survivor list, and matches the answer against
    * DuckDB running the same IN-subquery — at 100 TB this is the
    * difference between a point query and a table scan on every
    * "this entity's rows" lookup.
    */
  private def snapshotJoinPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "joinprune")
    SnapshotTable.deleteTree(base)
    val lines = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity",
        Exact.micro("l_extendedprice").as("price_micro"))
    val nLines = lines.count()
    // the fact: range-clustered on the join key, bloom-sidecar'd and
    // sized to the write (a saturated filter stops pruning at soak)
    val v1 = SnapshotTable.commit(
      lines.repartitionByRange(16, $"l_orderkey"),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      bloomCols = Seq("l_orderkey"),
      bloomExpectedItems =
        math.max(SnapshotTable.DefaultBloomExpectedItems, nLines / 8))
    // the dim side: one customer's orders (the needle entity — min
    // custkey, a 1-row scalar both engines derive identically)
    val cust = Tables.orders(s, dir).agg(min($"o_custkey")).head.getLong(0)
    val dimKeys = Tables.orders(s, dir)
      .filter($"o_custkey" === cust).select($"o_orderkey")
    val keys = dimKeys.distinct().collect().map(_.getLong(0)).toSeq
    val (kept, total) =
      SnapshotTable.pruneFilesBloom(base, v1, "l_orderkey", keys)
    require(kept.nonEmpty && kept.size < total,
      s"dim-driven skipping must prune strictly (kept ${kept.size} of " +
        s"$total files for ${keys.size} order keys) — sidecar regressed")
    val fact = SnapshotTable.readWhereInFrom(s, base, v1, "l_orderkey", dimKeys)
    require(fact.inputFiles.length == kept.size,
      s"the fact scan must read EXACTLY the bloom survivor list: " +
        s"${fact.inputFiles.length} opened vs ${kept.size} pruned-to")
    fact
      .agg(count(lit(1)).as("n_lines"),
        round(sum($"l_quantity"), 2).as("sum_qty"),
        sum($"price_micro").as("s_micro"))
      .select($"n_lines", $"sum_qty",
        Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("dim_pruned_strictly"))
  }

  private val snapshotJoinPruneOracle = {
    val p = Exact.microSql("l_extendedprice")
    s"""SELECT count(*) AS n_lines,
       |  round(sum(l_quantity), 2) AS sum_qty,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS dim_pruned_strictly
       |FROM lineitem
       |WHERE l_orderkey IN (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_custkey = (SELECT min(o_custkey) FROM orders))""".stripMargin
  }

  /** Dim-driven file pruning WITHOUT the API opt-in — the
    * [[snapshotJoinPrune]] semantics delivered by the PLANNER:
    * [[graft.plans.SnapshotBloomJoinRule]], a Catalyst rule every graft
    * session carries through GraftExtensions (the
    * [[graft.plans.GlobalSeqId]] precedent), recognizes the plain
    * `fact.join(dim, key)` shape over a bloom-carrying snapshot scan
    * with a plan-time-known dim and swaps the fact relation's file
    * index for the bloom survivor list — no readWhereInFrom call
    * anywhere in the query. The gate writes the same clustered,
    * bloom-sidecar'd lineitem fixture, joins it against one customer's
    * order keys with NOTHING but join syntax, and requires loudly that
    * the planned scan reads EXACTLY the survivor list (the dim is a
    * LocalRelation, so every planned input file is the fact's) and
    * that the rule counted a rewrite — a session without the
    * extensions fails loudly. Same IN-subquery oracle as the
    * explicit-API gate — the rewrite must be invisible to the answer.
    */
  private def snapshotJoinPruneRule(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "joinprunerule")
    SnapshotTable.deleteTree(base)
    val lines = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity",
        Exact.micro("l_extendedprice").as("price_micro"))
    val nLines = lines.count()
    val v1 = SnapshotTable.commit(
      lines.repartitionByRange(16, $"l_orderkey"),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      bloomCols = Seq("l_orderkey"),
      bloomExpectedItems =
        math.max(SnapshotTable.DefaultBloomExpectedItems, nLines / 8))
    val cust = Tables.orders(s, dir).agg(min($"o_custkey")).head.getLong(0)
    val keys = Tables.orders(s, dir)
      .filter($"o_custkey" === cust).select($"o_orderkey")
      .distinct().as[Long].collect().toSeq.sorted
    // the dim as a plan-time LocalRelation — what makes the prune a
    // PLANNING decision instead of readWhereInFrom's runtime collect
    val dim = keys.toDF("l_orderkey")
    val before = graft.plans.SnapshotJoinPrune.rewrites
    // the whole point: PLAIN join syntax, no pruning API in sight
    val fact = SnapshotTable.readAt(s, base, v1)
    val joined = fact.join(dim, Seq("l_orderkey"), "left_semi")
    val (kept, total) =
      SnapshotTable.pruneFilesBloom(base, v1, "l_orderkey", keys)
    require(kept.nonEmpty && kept.size < total,
      s"the fixture must prune strictly (kept ${kept.size} of $total)")
    val planned = joined.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.relation.location.inputFiles.length
    }.sum
    require(planned == kept.size,
      s"the plain join must PLAN exactly the bloom survivor list: " +
        s"$planned files planned vs ${kept.size} survivors")
    require(graft.plans.SnapshotJoinPrune.rewrites > before,
      "the planner rule never fired — the scan was not rewritten")
    joined
      .agg(count(lit(1)).as("n_lines"),
        round(sum($"l_quantity"), 2).as("sum_qty"),
        sum($"price_micro").as("s_micro"))
      .select($"n_lines", $"sum_qty",
        Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("rule_pruned"))
  }

  private val snapshotJoinPruneRuleOracle = {
    val p = Exact.microSql("l_extendedprice")
    s"""SELECT count(*) AS n_lines,
       |  round(sum(l_quantity), 2) AS sum_qty,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS rule_pruned
       |FROM lineitem
       |WHERE l_orderkey IN (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_custkey = (SELECT min(o_custkey) FROM orders))""".stripMargin
  }

  /** Orphan-version GARBAGE COLLECTION — the reclamation story
    * [[snapshotRetention]] (count-based history expiry) does not
    * cover: a dropped write-audit-publish branch leaves its candidate
    * versions on disk as full-size debris, and at 100 TB a format
    * that never reclaims failed candidates leaks the table's own
    * volume. [[SnapshotTable.gcOrphans]] removes versions that no
    * still-existing ref ever published and nothing live reads through
    * a `_base`/`_append` chain (provenance = the table's append-only
    * `publishes.log`, written under the commit lock), with an age
    * guard so an in-flight writer between claim and flip is never
    * swept. The gate builds real debris (an audited-and-dropped
    * branch candidate), requires GC removes exactly it — not main's
    * history, not a live branch's head, not a FRESH debris version
    * under the default age guard — and matches the surviving table
    * against DuckDB.
    */
  private def snapshotOrphanGc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "orphangc")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(orders, base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    // a LIVE branch candidate (must survive GC: its ref exists)
    val vWip = SnapshotTable.commitToBranch(
      orders.filter(pmod($"o_orderkey", lit(3)) === 0), base, "wip",
      expectedBranchVersion = SnapshotTable.ExpectEmpty)
    // the debris: a candidate whose audit failed and whose branch was
    // dropped — published once, but to a ref that no longer exists
    val vDead = SnapshotTable.commitToBranch(
      orders.filter(pmod($"o_orderkey", lit(2)) === 0), base, "dead",
      expectedBranchVersion = SnapshotTable.ExpectEmpty)
    SnapshotTable.dropBranch(base, "dead")
    // the age guard: under the default 24h threshold this fresh
    // debris is NOT reclaimable (an in-flight writer's claim looks
    // identical) — GC must remove nothing
    require(SnapshotTable.gcOrphans(base).isEmpty,
      "the age guard failed: a fresh debris version was swept")
    // past the guard (olderThanMs = -1): exactly the dead candidate
    // goes; main's history and the live branch head stay
    val removed = SnapshotTable.gcOrphans(base, olderThanMs = -1L)
    require(removed == Seq(vDead),
      s"GC must remove exactly the dropped branch's v$vDead, got $removed")
    require(SnapshotTable.versions(base) == Seq(v1, vWip),
      s"GC must keep main's v$v1 and live-branch v$vWip: " +
        s"${SnapshotTable.versions(base)}")
    require(SnapshotTable.branchVersion(base, "wip").contains(vWip),
      "the live branch lost its head")
    SnapshotTable.read(s, base)
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(1L).as("n_reclaimed"),
        lit(true).as("live_refs_survived"))
  }

  private val snapshotOrphanGcOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  CAST(1 AS BIGINT) AS n_reclaimed,
       |  true AS live_refs_survived
       |FROM orders""".stripMargin
  }

  /** Cross-generation METADATA-ONLY answering at LONG-CHAIN depth —
    * what [[snapshotManifestStats]] proves for one generation,
    * [[SnapshotTable.manifestChain]] extends to an append chain, and
    * the `_manifest_chain/` FOLD keeps O(1) however deep the chain
    * grows: each append commits a one-file snapshot of its ancestors'
    * manifests (the Iceberg manifest-list / Delta checkpoint move), so
    * a pruning decision over a table built from 10³ streaming commits
    * is TWO parquet reads — the tip's fold plus the tip's own manifest
    * — not one recursive read per generation. The gate drives a
    * 33-generation ingest chain and requires, loudly: the chain answer
    * plans EXACTLY two scans, every input file lives under the TIP's
    * version directory (the recursive walk would read all 33), only
    * `_manifest`/`_manifest_chain` tables are touched (zero data
    * files), and all 33 generations contribute rows. The oracle
    * recomputes the aggregates by scanning the source table in DuckDB
    * — manifest-derived ≡ data-derived across the whole chain.
    */
  private def snapshotChainManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "chainmanifest")
    SnapshotTable.deleteTree(base)
    val Gens = 33
    // a 10% key slice split one-residue-per-generation (gen r holds
    // keys ≡ 10r mod 330): the gate stresses chain DEPTH, not volume —
    // and the source is persisted across the 33 delta scans
    val (v1, tip) = Tables.withPersisted(Tables.orders(s, dir)
        .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
        .filter(pmod($"o_orderkey", lit(10)) === 0)) { orders =>
      // tiny per-commit frames: the session's 32-wide shuffle is pure
      // task overhead on them (same reasoning as the streaming gates'
      // withStreamShuffle)
      val key = "spark.sql.shuffle.partitions"
      val old = s.conf.get(key)
      s.conf.set(key, "4")
      try {
        var tip = SnapshotTable.commit(
          orders.filter(pmod($"o_orderkey", lit(330)) === 0).coalesce(1),
          base, expectedVersion = SnapshotTable.ExpectEmpty,
          statsCols = Seq("o_orderkey", "price_micro"))
        val v1 = tip
        (1 until Gens).foreach { r =>
          tip = SnapshotTable.commitAppend(
            orders.filter(pmod($"o_orderkey", lit(330)) === r * 10).coalesce(1),
            base, expectedVersion = tip,
            statsCols = Seq("o_orderkey", "price_micro"))
        }
        (v1, tip)
      } finally s.conf.set(key, old)
    }
    val m = SnapshotTable.manifestChain(s, base, tip)
    val answer = m.agg(
        sum(when($"column" === "o_orderkey", $"row_count")).as("n_rows"),
        min(when($"column" === "o_orderkey", $"min_num")).cast("long").as("min_key"),
        max(when($"column" === "o_orderkey", $"max_num")).cast("long").as("max_key"),
        countDistinct($"generation").as("n_generations"),
        min(when($"column" === "price_micro", $"min_num")).cast("long").as("pmin"),
        max(when($"column" === "price_micro", $"max_num")).cast("long").as("pmax"))
      .select($"n_rows", $"min_key", $"max_key", $"n_generations",
        Exact.microSumTo4dp("pmin").as("min_price"),
        Exact.microSumTo4dp("pmax").as("max_price"))
    val scans = answer.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    require(scans.size == 2,
      s"a $Gens-generation chain answer must plan exactly TWO manifest " +
        s"scans (tip fold + tip own), got ${scans.size} — the fold " +
        "regressed to the recursive walk")
    require(answer.inputFiles.nonEmpty &&
      answer.inputFiles.forall(_.contains(s"/v$tip/")),
      s"every manifest read must come from the tip's own directory " +
        s"(v$tip); the plan reads ${answer.inputFiles.mkString(", ")}")
    require(answer.inputFiles.forall(f =>
      f.contains("/_manifest/") || f.contains("/_manifest_chain/")),
      s"cross-generation metadata answering must read only manifest " +
        s"tables; the plan reads ${answer.inputFiles.mkString(", ")}")
    // the fold must not have dropped or invented a generation
    val gens = m.select($"generation").distinct().as[Long].collect().sorted
    require(gens.length == Gens && gens.head == v1 && gens.last == tip,
      s"expected all $Gens generations in the folded manifest, got " +
        s"${gens.length} (${gens.take(5).mkString(",")}…)")
    answer
  }

  private val snapshotChainManifestOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       |  CAST(33 AS BIGINT) AS n_generations,
       |  ${Exact.microSumTo4dpSql(s"min($p)", Exact.DuckDiv)} AS min_price,
       |  ${Exact.microSumTo4dpSql(s"max($p)", Exact.DuckDiv)} AS max_price
       |FROM orders
       |WHERE o_orderkey % 10 = 0""".stripMargin
  }

  /** Time travel BY TIMESTAMP — Delta's `TIMESTAMP AS OF`, answered
    * from the publish log ([[SnapshotTable.versionAsOf]]): "the table
    * as the pipeline saw it at instant T" without bookkeeping version
    * numbers, the reproducibility contract a training-data build needs
    * when all it recorded was its start time. The gate commits two
    * generations with a strictly-later publish timestamp (ms-boundary
    * spin), reads BOTH sides of the boundary through
    * [[SnapshotTable.readAsOf]], and requires the resolved versions
    * loudly; the answer carries both reads' aggregates and must match
    * DuckDB recomputing each generation's content from the source
    * table. Branch publishes never gate main's as-of (pinned in
    * SnapshotTableSpec).
    */
  private def snapshotAsofRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "asof")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(2)) === 0), base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    // ms-resolution boundary: v2's publish must be strictly later
    val t1 = SnapshotTable.publishEvents(base).last._3
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    val v2 = SnapshotTable.commit(orders, base, expectedVersion = Some(v1))
    val t2 = SnapshotTable.publishEvents(base)
      .filter(e => e._1 == v2 && e._2 == "current").head._3
    require(SnapshotTable.versionAsOf(base, t2 - 1) == v1 &&
      SnapshotTable.versionAsOf(base, t2) == v2,
      "as-of must resolve v1 strictly before v2's publish and v2 at it")
    Seq(("before_v2", t2 - 1), ("at_v2", t2)).map { case (tag, ts) =>
      SnapshotTable.readAsOf(s, base, ts)
        .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
        .select(lit(tag).as("epoch"), $"n_rows",
          Exact.microSumTo4dp("s_micro").as("sum_price"))
    }.reduce(_ unionByName _).orderBy($"epoch")
  }

  private val snapshotAsofReadOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT 'at_v2' AS epoch, count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price
       |FROM orders
       |UNION ALL
       |SELECT 'before_v2' AS epoch, count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price
       |FROM orders WHERE o_orderkey % 2 = 0
       |ORDER BY epoch""".stripMargin
  }

  /** BRANCH-level time travel + the audit trail AS A TABLE — the two
    * provenance reads the separate branch/WAP/as-of gates never
    * compose: "what was the WAP candidate when the Tuesday audit ran"
    * ([[SnapshotTable.branchVersionAsOf]] resolves a BRANCH ref's
    * history from the same publish log main's as-of uses) and "query
    * the lake's own publish history like any other table"
    * ([[SnapshotTable.publishesTable]] reads `publishes.log`
    * distributed, FAILFAST — the manifest-as-table treatment applied
    * to the transaction log itself). The gate publishes two candidate
    * generations to a branch across a strict ms boundary, requires
    * both sides of the boundary resolve loudly, requires main's as-of
    * is UNAFFECTED by branch publishes (the isolation half), and
    * derives the per-ref publish counts in the answer from the audit
    * TABLE — so the oracle match pins branch history, main isolation,
    * and the log's table surface in one gate.
    */
  private def snapshotBranchAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "branchasof")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(orders, base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    // candidate 1: evens only; candidate 2: the full corrected table
    val b1 = SnapshotTable.commitToBranch(
      orders.filter(pmod($"o_orderkey", lit(2)) === 0)
        .withColumn("price_micro", $"price_micro" * 2),
      base, "audit", expectedBranchVersion = SnapshotTable.ExpectEmpty)
    val t1 = SnapshotTable.publishEvents(base)
      .filter(e => e._1 == b1 && e._2 == "audit").head._3
    while (System.currentTimeMillis() <= t1) Thread.sleep(1)
    val b2 = SnapshotTable.commitToBranch(
      orders.withColumn("price_micro",
        when(pmod($"o_orderkey", lit(2)) === 0, $"price_micro" * 2)
          .otherwise($"price_micro")),
      base, "audit", expectedBranchVersion = Some(b1))
    val t2 = SnapshotTable.publishEvents(base)
      .filter(e => e._1 == b2 && e._2 == "audit").head._3
    require(SnapshotTable.branchVersionAsOf(base, "audit", t2 - 1) == b1 &&
      SnapshotTable.branchVersionAsOf(base, "audit", t2) == b2,
      "branch as-of must resolve b1 strictly before b2's publish and b2 at it")
    // isolation: main's as-of never resolves a branch publish
    require(SnapshotTable.versionAsOf(base, t2) == v1,
      s"main as-of leaked a branch publish: resolved " +
        s"v${SnapshotTable.versionAsOf(base, t2)}, main is at v$v1")
    // the audit trail as a TABLE: per-ref publish counts, derived with
    // a plain DataFrame query over the log — these feed the ANSWER, so
    // the oracle match pins the table surface too
    val audit = SnapshotTable.publishesTable(s, base)
      .filter($"ref" =!= SnapshotTable.LogCreatedRef)
      .groupBy($"ref").agg(count(lit(1)).as("n_publishes"))
      .as[(String, Long)].collect().toMap
    require(audit == Map("current" -> 1L, "audit" -> 2L),
      s"the publish log table must show 1 main + 2 branch publishes: $audit")
    Seq(("before_b2", t2 - 1), ("at_b2", t2)).map { case (tag, ts) =>
      SnapshotTable.readBranchAsOf(s, base, "audit", ts)
        .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
        .select(lit(tag).as("epoch"), $"n_rows",
          Exact.microSumTo4dp("s_micro").as("sum_price"),
          lit(audit("audit")).as("n_branch_publishes"),
          lit(audit("current")).as("n_main_publishes"))
    }.reduce(_ unionByName _).orderBy($"epoch")
  }

  private val snapshotBranchAsofOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT 'at_b2' AS epoch, count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(
          s"CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 2 * $p ELSE $p END) " +
            "AS BIGINT)", Exact.DuckDiv)} AS sum_price,
       |  CAST(2 AS BIGINT) AS n_branch_publishes,
       |  CAST(1 AS BIGINT) AS n_main_publishes
       |FROM orders
       |UNION ALL
       |SELECT 'before_b2' AS epoch, count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(
          s"CAST(sum(2 * $p) AS BIGINT)", Exact.DuckDiv)} AS sum_price,
       |  CAST(2 AS BIGINT) AS n_branch_publishes,
       |  CAST(1 AS BIGINT) AS n_main_publishes
       |FROM orders WHERE o_orderkey % 2 = 0
       |ORDER BY epoch""".stripMargin
  }

  /** Incremental OPTIMIZE — the maintenance op between
    * [[snapshotOptimizeCluster]] (full rewrite) and doing nothing: a
    * week of streaming appends leaves small unclustered delta
    * generations whose min/max stats are skip-useless, but a FULL
    * rewrite re-pays the 100 TB base to fix kilobytes of debris.
    * [[SnapshotTable.optimizeDeltas]] folds ONLY the deltas: it reads
    * the delta generations' own files (never the base), re-clusters
    * them, and publishes one [[SnapshotTable.commitRebase]] whose
    * `_append` pointer rebases onto the ORIGINAL base — so the chain
    * shrinks to base + one clustered generation at delta cost. The
    * gate proves, loudly: (a) before — every delta generation defeats
    * range skipping (its per-generation manifest keeps all its files
    * for the probe octile); (b) after — the folded generation prunes
    * strictly, the chain plans exactly two scans, and the optimize
    * version holds ONLY the delta rows (the base was not rewritten);
    * (c) the answer over the optimized chain matches DuckDB computing
    * the predicate over the whole table.
    */
  private def snapshotIncrementalOptimize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "incropt")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    // the base generation: clustered, skip-friendly, never re-touched
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(2)) === 0)
        .repartitionByRange(8, $"o_orderkey"),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("o_orderkey"))
    // three streaming-shaped appends: small, unclustered (2 hash files
    // each — every file spans the keyspace, so skipping is powerless)
    var tip = v1
    val deltaGens = Seq(1, 3, 5).map { r =>
      tip = SnapshotTable.commitAppend(
        orders.filter(pmod($"o_orderkey", lit(6)) === r).repartition(2),
        base, expectedVersion = tip, statsCols = Seq("o_orderkey"))
      tip
    }
    val hi = orders.agg(max($"o_orderkey")).head.getLong(0) / 8
    // one pass over the chain manifest decides every generation's
    // octile survivors (a generations-count-bounded collect)
    def octileSurvivors(atTip: Long): Map[Long, (Long, Long)] =
      SnapshotTable.manifestChain(s, base, atTip)
        .filter($"column" === "o_orderkey")
        .groupBy($"generation")
        .agg(
          sum(($"min_num" <= hi && $"max_num" >= 1).cast("long")).as("kept"),
          count(lit(1)).as("total"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .toMap
    val pre = octileSurvivors(tip)
    deltaGens.foreach { gen =>
      val (kept, total) = pre(gen)
      require(total >= 2 && kept == total,
        s"delta generation v$gen was supposed to defeat range skipping " +
          s"(kept $kept of $total) — the debris fixture drifted")
    }
    val nDelta = orders.filter(pmod($"o_orderkey", lit(2)) === 1).count()
    // the incremental OPTIMIZE: fold ONLY the deltas onto v1
    val vOpt = SnapshotTable.optimizeDeltas(s, base, baseVersion = v1,
      statsCols = Seq("o_orderkey"))(_.repartitionByRange(4, $"o_orderkey"))
    require(SnapshotTable.appendBaseOf(base, vOpt).contains(v1),
      s"optimize must rebase onto the original base v$v1")
    val vOptRows = s.read.parquet(s"$base/v$vOpt").count()
    require(vOptRows == nDelta,
      s"optimize must rewrite ONLY the $nDelta delta rows; v$vOpt holds " +
        s"$vOptRows — the base was rewritten")
    val (keptOpt, totalOpt) = octileSurvivors(vOpt)(vOpt)
    require(totalOpt >= 2 && keptOpt < totalOpt,
      s"the folded generation must prune strictly (kept $keptOpt of " +
        s"$totalOpt files) — clustering or the fresh sidecar regressed")
    val answerRead = SnapshotTable.readAt(s, base, vOpt)
      .filter($"o_orderkey".between(1L, hi))
    val scans = answerRead.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    require(scans.size == 2,
      s"the optimized chain must plan exactly two generation scans, " +
        s"got ${scans.size}")
    answerRead
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("deltas_were_unskippable"),
        lit(true).as("folded_gen_prunes"),
        lit(2L).as("n_scans_after"))
  }

  private val snapshotIncrementalOptimizeOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS deltas_were_unskippable,
       |  true AS folded_gen_prunes,
       |  CAST(2 AS BIGINT) AS n_scans_after
       |FROM orders
       |WHERE o_orderkey BETWEEN 1
       |  AND (SELECT max(o_orderkey) ${Exact.DuckDiv} 8 FROM orders)""".stripMargin
  }

  /** OPTIMIZE vs APPEND contention — the race
    * [[snapshotIncrementalOptimize]] leaves unexercised: a streaming
    * ingest keeps appending while the nightly optimize folds, and the
    * fold's rebase CAS-es on the tip it READ, so a racing append must
    * fail the optimize loudly — never be silently folded away from a
    * stale read (lost append) and never lost to the rebase's rewrite.
    * The gate drives the interleave deterministically through
    * [[SnapshotTable.optimizeDeltas]]'s `raceWindow` hook (the same
    * injected-interleave technique as the two-writer commit spec): an
    * append lands AFTER the fold read its generations and BEFORE the
    * rebase commits. Loud requires pin: (a) the optimize CAS-fails
    * with ConcurrentModificationException; (b) the racer's rows
    * survive, readable at the new tip; (c) the standard retry (re-read,
    * re-fold — the loser's conflict loop) converges: the chain shrinks
    * to base + ONE folded generation that now contains the racer's
    * delta too, at delta cost (the base generation is never rewritten).
    * The final table matches DuckDB over the full source — no loss, no
    * double-count, under write-write contention.
    */
  private def snapshotOptimizeContention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "optcontention")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(2)) === 0)
        .repartitionByRange(4, $"o_orderkey"),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("o_orderkey"))
    var tip = v1
    Seq(1, 3).foreach { r =>
      tip = SnapshotTable.commitAppend(
        orders.filter(pmod($"o_orderkey", lit(6)) === r).repartition(2),
        base, expectedVersion = tip, statsCols = Seq("o_orderkey"))
    }
    val racerDelta = orders.filter(pmod($"o_orderkey", lit(6)) === 5)
      .repartition(2)
    val nRacer = racerDelta.count()
    // the deterministic interleave: the append lands inside the
    // optimize's read-fold-commit window
    var raced = false
    val conflicted =
      try {
        SnapshotTable.optimizeDeltas(s, base, baseVersion = v1,
          statsCols = Seq("o_orderkey"),
          raceWindow = () => {
            val racedTip = SnapshotTable.currentVersion(base).get
            SnapshotTable.commitAppend(racerDelta, base,
              expectedVersion = racedTip, statsCols = Seq("o_orderkey"))
            raced = true
          })(_.repartitionByRange(4, $"o_orderkey"))
        false
      } catch { case _: java.util.ConcurrentModificationException => true }
    require(raced && conflicted,
      "the optimize must CAS-fail when an append lands in its window " +
        s"(raced=$raced, conflicted=$conflicted)")
    // (b) the racer's append SURVIVED the failed optimize
    val afterRace = SnapshotTable.read(s, base)
    require(afterRace.filter(pmod($"o_orderkey", lit(6)) === 5).count() == nRacer,
      "the racing append's rows were lost to the failed optimize")
    // (c) the loser's standard retry folds everything — including the
    // racer's delta — onto the untouched base
    val vOpt = SnapshotTable.optimizeDeltas(s, base, baseVersion = v1,
      statsCols = Seq("o_orderkey"))(_.repartitionByRange(4, $"o_orderkey"))
    require(SnapshotTable.chainOf(base, vOpt) == Seq(vOpt, v1),
      s"the retry must shrink the chain to base + one folded " +
        s"generation: ${SnapshotTable.chainOf(base, vOpt)}")
    val nDeltas = orders.filter(pmod($"o_orderkey", lit(2)) === 1).count()
    val vOptRows = s.read.parquet(s"$base/v$vOpt").count()
    require(vOptRows == nDeltas,
      s"the retry must fold ONLY the $nDeltas delta rows (racer " +
        s"included); v$vOpt holds $vOptRows — the base was rewritten")
    SnapshotTable.read(s, base)
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("racer_survived"),
        lit(true).as("retry_converged"))
  }

  private val snapshotOptimizeContentionOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS racer_survived,
       |  true AS retry_converged
       |FROM orders""".stripMargin
  }

  /** Schema evolution MID-CHAIN — the ingest reality
    * [[schemaDriftUnion]] (which conforms retained FULL versions to
    * the live schema) does not cover: the feed grows a column halfway
    * through an append chain, and rewriting the base generation to
    * add it would defeat the whole point of appends. With
    * `allowSchemaEvolution = true`, [[SnapshotTable.commitAppend]]
    * admits the widened delta (accidental drift stays a loud
    * commit-time error by default — pinned in SnapshotTableSpec), and
    * the chain read resolves by NAME: old generations' rows surface
    * the new column as NULL. The gate then folds the evolved chain
    * with [[SnapshotTable.optimizeDeltas]] (same flag) and requires
    * the fold changed nothing — evolution and maintenance compose.
    * Aggregates pin row counts, null accounting for the late column,
    * and the exact money total per generation against DuckDB.
    */
  private def snapshotAppendEvolve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "appendevolve")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderpriority",
        Exact.micro("o_totalprice").as("price_micro"))
    // gen1: the feed before it grew o_orderpriority
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(2)) === 0)
        .drop("o_orderpriority").withColumn("gen", lit("old")),
      base, expectedVersion = SnapshotTable.ExpectEmpty)
    // gen2: the widened feed, appended WITHOUT rewriting gen1
    val v2 = SnapshotTable.commitAppend(
      orders.filter(pmod($"o_orderkey", lit(2)) === 1)
        .withColumn("gen", lit("new")),
      base, expectedVersion = v1, allowSchemaEvolution = true)
    def genAgg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"gen")
      .agg(count(lit(1)).as("n"),
        sum($"o_orderpriority".isNull.cast("long")).as("n_null_priority"),
        sum($"price_micro").as("s_micro"))
    val viaChain = genAgg(SnapshotTable.readAt(s, base, v2)).collect().toSet
    // maintenance composes with evolution: the fold changes nothing
    val vOpt = SnapshotTable.optimizeDeltas(s, base, baseVersion = v1,
      allowSchemaEvolution = true)(_.coalesce(1))
    val viaFolded = genAgg(SnapshotTable.read(s, base)).collect().toSet
    require(viaChain == viaFolded,
      s"optimizing an evolved chain changed its content: $viaChain vs " +
        s"$viaFolded")
    require(SnapshotTable.chainOf(base, vOpt) == Seq(vOpt, v1),
      "the fold must rebase onto the pre-evolution base")
    genAgg(SnapshotTable.read(s, base))
      .select($"gen", $"n", $"n_null_priority",
        Exact.microSumTo4dp("s_micro").as("sum_price"))
      .orderBy($"gen")
  }

  private val snapshotAppendEvolveOracle =
    s"""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'old' ELSE 'new' END AS gen,
       |  count(*) AS n,
       |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_null_priority,
       |  ${Exact.microSumTo4dpSql(
          s"CAST(sum(${Exact.microSql("o_totalprice")}) AS BIGINT)",
          Exact.DuckDiv)} AS sum_price
       |FROM orders
       |GROUP BY gen
       |ORDER BY gen""".stripMargin

  /** MERGE INTO with merge-on-read semantics — the missing write op
    * between [[snapshotMorDelete]] (erase) and the append chain
    * (insert): an upsert batch lands as ONE ATOMIC
    * [[SnapshotTable.commitUpsert]] — tombstones for the matched keys
    * AND the batch's rows in a single staged version, one claim-rename,
    * one pointer flip — so a MERGE against a 100 TB table writes
    * batch-proportional bytes where the copy-on-write join shape
    * (`merge_upsert_orders`) would rewrite the table, and no crash
    * point can ever publish the deletes without their replacements
    * (the window [[snapshotMorUpsertAtomic]] exercises directly). The
    * chain read resolves base ∖ matched ∪ batch; the gate requires the
    * delta-cost evidence loudly (tombstone sidecar present, data rows
    * = batch rows, TWO-link chain — one commit, not two, is the whole
    * point, no duplicate keys after the merge) and the merged
    * aggregates match DuckDB recomputing the same update/insert batch
    * from the source table.
    */
  private def snapshotMorUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "morupsert")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(orders, base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val maxKey = orders.agg(max($"o_orderkey")).head.getLong(0)
    // the upsert batch: every 10th key gets a $5 bump (update); keys
    // ≡ 3 mod 7 come back shifted past max(key) as fresh inserts
    val updates = orders.filter(pmod($"o_orderkey", lit(10)) === 0)
      .withColumn("price_micro", $"price_micro" + 5000000L)
    val inserts = orders.filter(pmod($"o_orderkey", lit(7)) === 3)
      .withColumn("o_orderkey", $"o_orderkey" + lit(maxKey + 1L))
    val batch = updates.unionByName(inserts)
    val nBatch = batch.count()
    // the MOR MERGE: ONE commit lands tombstones + batch together
    val v2 = SnapshotTable.commitUpsert(batch, Seq("o_orderkey"), base,
      expectedVersion = v1)
    val v2Top = new java.io.File(s"$base/v$v2").listFiles().map(_.getName).toSet
    require(v2Top.contains("_deletes") && v2Top.contains("_append"),
      s"the merge version must carry tombstones AND the chain marker " +
        s"in one commit; v$v2 has $v2Top")
    val v2Rows = s.read.parquet(s"$base/v$v2").count()
    require(v2Rows == nBatch,
      s"the merge must write ONLY the batch's $nBatch rows; v$v2 holds " +
        s"$v2Rows — it rewrote the table")
    require(SnapshotTable.chainOf(base, v2) == Seq(v2, v1),
      s"the atomic merge is ONE commit — expected a two-link chain, " +
        s"got ${SnapshotTable.chainOf(base, v2)}")
    val merged = SnapshotTable.readAt(s, base, v2)
    val dupKeys = merged.groupBy($"o_orderkey").count()
      .filter($"count" > 1).count()
    require(dupKeys == 0,
      s"the merge left $dupKeys duplicated keys — tombstones missed rows")
    merged
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"),
        sum(($"o_orderkey" > maxKey).cast("long")).as("n_inserted"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        $"n_inserted", lit(true).as("delta_proportional"))
  }

  private val snapshotMorUpsertOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH t AS (SELECT o_orderkey AS k, $p AS pm FROM orders),
       |merged AS (
       |  SELECT k, pm FROM t WHERE k % 10 <> 0
       |  UNION ALL
       |  SELECT k, pm + 5000000 FROM t WHERE k % 10 = 0
       |  UNION ALL
       |  SELECT k + (SELECT max(k) FROM t) + 1, pm FROM t WHERE k % 7 = 3)
       |SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql("CAST(sum(pm) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  CAST((SELECT count(*) FROM t WHERE k % 7 = 3) AS BIGINT)
       |    AS n_inserted,
       |  true AS delta_proportional
       |FROM merged""".stripMargin
  }

  /** The ATOMICITY of the merge-on-read upsert, exercised by
    * deterministic fault injection — the crash window that made the
    * legacy two-commit merge (tombstones in one publish, batch in the
    * next) reader-visibly LOSSY: dying between the two published a
    * table with the matched keys erased and their replacements absent.
    * [[SnapshotTable.commitUpsert]] closes the window by construction
    * (one staged directory, one claim-rename, one flip), and this gate
    * proves it: a crash injected with everything staged but nothing
    * published (`crashBeforePublish` — the exact point between the old
    * steps) leaves the pointer, the version list, and the read all at
    * the PRE-merge state, with only `.staged-*` debris behind; the
    * retried upsert then publishes the post-merge state; and EVERY
    * published version is checked to be one of the two — each
    * tombstoned key is present at every version (original row before,
    * replacement after), so the deletes-applied/batch-missing
    * intermediate is proven unrepresentable, not just unobserved. The
    * final aggregates match DuckDB recomputing the merge.
    */
  private def snapshotMorUpsertAtomic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "morupsertatomic")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val nOrders = orders.count()
    val v1 = SnapshotTable.commit(orders, base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val maxKey = orders.agg(max($"o_orderkey")).head.getLong(0)
    val updates = orders.filter(pmod($"o_orderkey", lit(10)) === 0)
      .withColumn("price_micro", $"price_micro" + 5000000L)
    val nMatched = updates.count()
    val inserts = orders.filter(pmod($"o_orderkey", lit(7)) === 3)
      .withColumn("o_orderkey", $"o_orderkey" + lit(maxKey + 1L))
    val batch = updates.unionByName(inserts)
    // the CRASH: everything staged (tombstones + batch data + chain
    // marker), nothing published — the point that used to fall between
    // commitDeletes and commitAppend
    val crashed =
      try {
        SnapshotTable.commitUpsert(batch, Seq("o_orderkey"), base,
          expectedVersion = v1, crashBeforePublish = true)
        false
      } catch { case _: SnapshotTable.InjectedCrash => true }
    require(crashed, "the injected crash did not fire")
    // the reader's world is untouched: pointer at v1, no new version,
    // the full pre-merge row set — only writer-private staging debris
    require(SnapshotTable.currentVersion(base).contains(v1) &&
      SnapshotTable.versions(base) == Seq(v1),
      s"the crash published state: pointer " +
        s"${SnapshotTable.currentVersion(base)}, versions " +
        s"${SnapshotTable.versions(base)}")
    require(SnapshotTable.read(s, base).count() == nOrders,
      "a reader after the crash must see the intact pre-merge table")
    val debris = new java.io.File(base).listFiles()
      .count(_.getName.startsWith(".staged-"))
    require(debris == 1,
      s"the crash must leave exactly its staged directory, found $debris")
    // the RETRY (the caller's standard conflict/crash loop) publishes
    // the post-merge state atomically
    val v2 = SnapshotTable.commitUpsert(batch, Seq("o_orderkey"), base,
      expectedVersion = v1)
    // EVERY published version is pre-merge or post-merge: the matched
    // keys are present at each (originals before, replacements after)
    // — the intermediate state would have them ABSENT
    val matchedKeys = updates.select($"o_orderkey")
    Seq(v1 -> 0L, v2 -> nMatched).foreach { case (v, bumped) =>
      val at = SnapshotTable.readAt(s, base, v)
        .join(matchedKeys, Seq("o_orderkey"), "left_semi")
      require(at.count() == nMatched,
        s"v$v lost matched keys — the deletes-applied/batch-missing " +
          "state leaked")
      val nBumped = at.join(
        orders.withColumnRenamed("price_micro", "orig_micro"),
        Seq("o_orderkey")).filter($"price_micro" === $"orig_micro" + 5000000L)
        .count()
      require(nBumped == bumped,
        s"v$v shows $nBumped bumped rows, expected $bumped — a torn " +
          "merge state leaked")
    }
    SnapshotTable.readAt(s, base, v2)
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(2L).as("n_published_versions"),
        lit(true).as("crash_left_pre_merge_state"))
  }

  private val snapshotMorUpsertAtomicOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH t AS (SELECT o_orderkey AS k, $p AS pm FROM orders),
       |merged AS (
       |  SELECT k, pm FROM t WHERE k % 10 <> 0
       |  UNION ALL
       |  SELECT k, pm + 5000000 FROM t WHERE k % 10 = 0
       |  UNION ALL
       |  SELECT k + (SELECT max(k) FROM t) + 1, pm FROM t WHERE k % 7 = 3)
       |SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql("CAST(sum(pm) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  CAST(2 AS BIGINT) AS n_published_versions,
       |  true AS crash_left_pre_merge_state
       |FROM merged""".stripMargin
  }

  /** NULL-aware file skipping — the null-count side of the stats
    * record, which range and bloom terms cannot use (neither sidecar
    * sees nulls): `IS NULL` prunes files with zero nulls, `IS NOT
    * NULL` prunes all-null files. On an LLM corpus this is the
    * "rows still missing an annotation" sweep — nulls concentrate in
    * the unprocessed stripe, and the scan should open only it. The
    * layout clusters by null-ness (range-partitioned on the indicator
    * first), so both polarities prune strictly, which the gate
    * requires loudly along with the scan-file-list equality; a
    * CONJUNCTION (IS NULL ∧ key range) must out-prune the null term
    * alone, proving the null term composes with the range term in
    * [[SnapshotTable.pruneFilesMulti]]. Answer matched by DuckDB on
    * the compound WHERE.
    */
  private def snapshotNullPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import SnapshotTable.{NullPredicate, RangePredicate}
    val base = lakeBase(dir, "nullprune")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"),
        when(pmod($"o_orderkey", lit(3)) =!= 0, concat(lit("note-"),
          $"o_orderkey".cast("string"))).as("note"))
    val v1 = SnapshotTable.commit(
      orders.repartitionByRange(8, $"note".isNull, $"o_orderkey"),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      statsCols = Seq("o_orderkey", "note"))
    val isNull = NullPredicate("note", isNull = true)
    val notNull = NullPredicate("note", isNull = false)
    val (nullKept, total) =
      SnapshotTable.pruneFilesMulti(s, base, v1, Seq(isNull))
    val (notNullKept, _) =
      SnapshotTable.pruneFilesMulti(s, base, v1, Seq(notNull))
    require(nullKept.nonEmpty && nullKept.size < total &&
      notNullKept.nonEmpty && notNullKept.size < total,
      s"both polarities must prune strictly: IS NULL kept " +
        s"${nullKept.size}, IS NOT NULL kept ${notNullKept.size} of $total")
    // the conjunction composes: IS NULL ∧ first key octile
    val hi = orders.agg(max($"o_orderkey")).head.getLong(0) / 8
    val conj = Seq(isNull, RangePredicate("o_orderkey", 1L, hi))
    val (conjKept, _) = SnapshotTable.pruneFilesMulti(s, base, v1, conj)
    require(conjKept.nonEmpty && conjKept.size < nullKept.size,
      s"the conjunction must out-prune IS NULL alone: ${conjKept.size} " +
        s"vs ${nullKept.size}")
    val pruned = SnapshotTable.readWhereMulti(s, base, v1, conj)
    require(pruned.inputFiles.length == conjKept.size,
      s"the scan must read EXACTLY the survivor list: " +
        s"${pruned.inputFiles.length} vs ${conjKept.size}")
    pruned
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("null_pruned_strictly"))
  }

  private val snapshotNullPruneOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS null_pruned_strictly
       |FROM orders
       |WHERE o_orderkey % 3 = 0
       |  AND o_orderkey BETWEEN 1
       |    AND (SELECT max(o_orderkey) ${Exact.DuckDiv} 8 FROM orders)""".stripMargin
  }

  /** The full table LIFECYCLE: ingest appends → incremental OPTIMIZE →
    * VACUUM — what [[snapshotIncrementalOptimize]] leaves open is that
    * the folded delta generations are still on disk afterwards, and at
    * 100 TB a week of pre-fold debris is real money. After the fold,
    * [[SnapshotTable.expire]] retires them (the rebased chain reaches
    * only base + folded generation, so retention proves the fold's
    * reachability story), and [[SnapshotTable.gcOrphans]] finds
    * nothing (every version was published — vacuum ≠ orphan GC). Loud
    * requires pin exactly which versions die and that the survivors
    * still answer the full-table aggregate DuckDB recomputes.
    */
  private def snapshotOptimizeVacuum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "optvacuum")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val v1 = SnapshotTable.commit(
      orders.filter(pmod($"o_orderkey", lit(2)) === 0), base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    var tip = v1
    for (r <- Seq(1, 3, 5))
      tip = SnapshotTable.commitAppend(
        orders.filter(pmod($"o_orderkey", lit(6)) === r), base,
        expectedVersion = tip)
    val vOpt = SnapshotTable.optimizeDeltas(s, base, baseVersion = v1)(
      _.repartitionByRange(4, $"o_orderkey"))
    // vacuum: the folded deltas retire; the rebased chain keeps v1
    val dropped = SnapshotTable.expire(base, keepLast = 1)
    require(dropped == Seq(2L, 3L, 4L),
      s"vacuum must retire exactly the folded deltas, got $dropped")
    require(SnapshotTable.versions(base) == Seq(v1, vOpt),
      s"the rebased chain must survive: ${SnapshotTable.versions(base)}")
    require(SnapshotTable.gcOrphans(base, olderThanMs = -1L).isEmpty,
      "vacuum is not orphan GC: every published version must be kept")
    SnapshotTable.read(s, base)
      .agg(count(lit(1)).as("n_rows"), sum($"price_micro").as("s_micro"))
      .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(3L).as("n_vacuumed"))
  }

  private val snapshotOptimizeVacuumOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  CAST(3 AS BIGINT) AS n_vacuumed
       |FROM orders""".stripMargin
  }

  /** Metadata answering THROUGH a merge —
    * [[SnapshotTable.manifestChain]] loudly forfeits the moment an
    * upsert enters the chain (tombstones invalidate exact per-file
    * stats); [[SnapshotTable.chainStats]] is the disclosed-bounds
    * answer: the upsert records its tombstone-side stats at commit
    * (distinct keys, per-key min/max, and the EXACT matched base-row
    * count — one bounded semi-join, an explicit per-commit policy via
    * `recordChainStats`), the records ride the chain fold, and the
    * reader answers count(*) EXACTLY (Σ file rows − Σ matched) and
    * min/max as CONSERVATIVE bounds with `bounds_exact = false`
    * disclosed. The gate builds commit → append → recorded upsert
    * (replace + insert) → append, answers from chainStats, and
    * requires loudly: the exact count matches a full data read; every
    * bound contains the true value; manifestChain still refuses the
    * chain (the exactness contract did not silently widen); and an
    * UNRECORDED merge makes chainStats fail loudly rather than guess.
    * The oracle recomputes the count and the bound algebra from the
    * raw table.
    */
  private def snapshotManifestUpsertStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "manifestupsert")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val k = $"o_orderkey"
    val stats = Seq("o_orderkey", "price_micro")
    val v1 = SnapshotTable.commit(
      orders.filter(pmod(k, lit(2)) === 0).repartition(4), base,
      expectedVersion = SnapshotTable.ExpectEmpty, statsCols = stats)
    val v2 = SnapshotTable.commitAppend(
      orders.filter(pmod(k, lit(4)) === 1).repartition(2), base,
      expectedVersion = v1, statsCols = stats)
    val v3 = SnapshotTable.commitUpsert(
      orders.filter(pmod(k, lit(8)) === 2)
        .withColumn("price_micro", $"price_micro" * 3)
        .unionByName(orders.filter(pmod(k, lit(8)) === 3)),
      Seq("o_orderkey"), base, expectedVersion = v2, statsCols = stats,
      recordChainStats = true)
    val v4 = SnapshotTable.commitAppend(
      orders.filter(pmod(k, lit(8)) === 7).repartition(2), base,
      expectedVersion = v3, statsCols = stats)
    // the exactness contract did not silently widen: per-file chain
    // stats still refuse the merged chain
    val refused =
      try { SnapshotTable.manifestChain(s, base, v4); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("chainStats") }
    require(refused,
      "manifestChain must still refuse a chain containing an upsert")
    val cs = SnapshotTable.chainStats(s, base, v4, stats)
      .orderBy($"column").collect()
    require(cs.length == 2 && cs.forall(!_.getBoolean(6)),
      "chainStats must disclose bounds_exact = false past a merge")
    val csKey = cs(0)
    val csPrice = cs(1)
    val nMeta = csKey.getLong(1)
    // self-check the metadata answer against the resolved data read
    val actual = SnapshotTable.read(s, base)
      .agg(count(lit(1)), min($"o_orderkey"), max($"o_orderkey"),
        min($"price_micro"), max($"price_micro")).head
    require(nMeta == actual.getLong(0),
      s"chainStats count must be EXACT: $nMeta vs ${actual.getLong(0)}")
    require(csKey.getDouble(2) <= actual.getLong(1) &&
      csKey.getDouble(3) >= actual.getLong(2),
      "key bounds must contain the true key range")
    require(csPrice.getDouble(2) <= actual.getLong(3) &&
      csPrice.getDouble(3) >= actual.getLong(4),
      "price bounds must contain the true price range")
    // an UNRECORDED merge fails loudly, never guesses
    val base2 = lakeBase(dir, "manifestupsertplain")
    SnapshotTable.deleteTree(base2)
    val w1 = SnapshotTable.commit(
      orders.filter(pmod(k, lit(2)) === 0), base2,
      expectedVersion = SnapshotTable.ExpectEmpty, statsCols = stats)
    SnapshotTable.commitUpsert(
      orders.filter(pmod(k, lit(8)) === 2), Seq("o_orderkey"), base2,
      expectedVersion = w1, statsCols = stats)
    val loud =
      try { SnapshotTable.chainStats(s, base2, 2L, stats); false }
      catch { case e: IllegalStateException =>
        e.getMessage.contains("recordChainStats") }
    require(loud, "chainStats must refuse an unrecorded merge loudly")
    Seq((nMeta, csKey.getDouble(2).toLong, csKey.getDouble(3).toLong,
      csPrice.getDouble(2).toLong, csPrice.getDouble(3).toLong,
      false, true))
      .toDF("n_rows", "key_min", "key_max", "price_min_micro",
        "price_max_micro", "bounds_exact", "bounds_hold")
  }

  private val snapshotManifestUpsertStatsOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  min(o_orderkey) AS key_min, max(o_orderkey) AS key_max,
       |  CAST(min($p) AS BIGINT) AS price_min_micro,
       |  CAST(greatest(max($p),
       |    (SELECT max(3 * $p) FROM orders WHERE o_orderkey % 8 = 2))
       |    AS BIGINT) AS price_max_micro,
       |  false AS bounds_exact, true AS bounds_hold
       |FROM orders""".stripMargin
  }

  /** The DPP-style half of the planner prune —
    * [[snapshotJoinPruneRule]] proves the rewrite for a plan-time
    * LocalRelation dim; this gate proves it for the shape real star
    * queries actually write: `fact JOIN (dim_table WHERE pred)`, where
    * the dim is a FILTERED PARQUET SCAN whose keys exist only at
    * runtime. The rule materializes the bounded distinct key set at
    * planning (one driver-side executeTake, memoized on the
    * canonicalized dim subplan — the dynamic-partition-pruning
    * dim-side collect) and swaps the fact's file index for the bloom
    * survivor list; no pruning API anywhere in the query. Loud
    * requires: the plain join PLANS exactly the survivor list; the
    * rule counted a rewrite. Same IN-subquery oracle — the rewrite
    * must be invisible to the answer.
    */
  private def snapshotJoinPruneDimScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "joinprunedimscan")
    SnapshotTable.deleteTree(base)
    val lines = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity",
        Exact.micro("l_extendedprice").as("price_micro"))
    val nLines = lines.count()
    val v1 = SnapshotTable.commit(
      lines.repartitionByRange(16, $"l_orderkey"),
      base, expectedVersion = SnapshotTable.ExpectEmpty,
      bloomCols = Seq("l_orderkey"),
      bloomExpectedItems =
        math.max(SnapshotTable.DefaultBloomExpectedItems, nLines / 8))
    val cust = Tables.orders(s, dir).agg(min($"o_custkey")).head.getLong(0)
    // the dim as a FILTERED SCAN — keys unknown until the scan runs,
    // which is exactly what the DPP-style path exists for
    val dim = Tables.orders(s, dir)
      .filter($"o_custkey" === cust)
      .select($"o_orderkey".as("l_orderkey"))
    val keys = dim.distinct().as[Long].collect().toSeq.sorted
    val (kept, total) =
      SnapshotTable.pruneFilesBloom(base, v1, "l_orderkey", keys)
    require(kept.nonEmpty && kept.size < total,
      s"the fixture must prune strictly (kept ${kept.size} of $total)")
    val before = graft.plans.SnapshotJoinPrune.rewrites
    // the whole point: PLAIN join syntax against a dim SCAN
    val joined = SnapshotTable.readAt(s, base, v1)
      .join(dim, Seq("l_orderkey"), "left_semi")
    val planned = joined.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.relation.location.inputFiles
            .exists(_.contains("/joinprunedimscan/")) =>
        sc.relation.location.inputFiles.length
    }.sum
    require(planned == kept.size,
      s"the plain join over a dim scan must PLAN exactly the bloom " +
        s"survivor list: $planned fact files planned vs ${kept.size}")
    require(graft.plans.SnapshotJoinPrune.rewrites > before,
      "the planner rule never fired on the dim-scan join")
    joined
      .agg(count(lit(1)).as("n_lines"),
        round(sum($"l_quantity"), 2).as("sum_qty"),
        sum($"price_micro").as("s_micro"))
      .select($"n_lines", $"sum_qty",
        Exact.microSumTo4dp("s_micro").as("sum_price"),
        lit(true).as("dim_scan_pruned"))
  }

  private val snapshotJoinPruneDimScanOracle = {
    val p = Exact.microSql("l_extendedprice")
    s"""SELECT count(*) AS n_lines,
       |  round(sum(l_quantity), 2) AS sum_qty,
       |  ${Exact.microSumTo4dpSql(s"CAST(sum($p) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  true AS dim_scan_pruned
       |FROM lineitem
       |WHERE l_orderkey IN (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_custkey = (SELECT min(o_custkey) FROM orders))""".stripMargin
  }

  /** The commit protocol on a RENAME-LESS store
    * ([[graft.ops.ObjectStoreSnapshotFileIO]]): the same
    * delete+append+upsert chain every spine gate exercises, committed
    * through the object-store profile — version claims arbitrated by
    * conditional-PUT marker files, data moved by an openly non-atomic
    * per-file copy, visibility granted only by the seal marker,
    * pointer flips as append-only generation objects — with a crash
    * injected MID-COPY between two commits. The gate requires the
    * protocol's facts loudly: the torn directory is ON the store but
    * in no reader's world (versions list, pointer, and reads all
    * unchanged), the burned claim number is skipped (never reused
    * under a possibly-live writer), and every published version
    * carries its claim AND seal markers. The final chain read's
    * aggregates match DuckDB recomputing delete+append+upsert from the
    * source table — the engine's atomicity story made portable to
    * stores where POSIX rename does not exist (S3-class semantics:
    * conditional PUT, GET, LIST, DELETE), which is what "runs at
    * 100 TB" actually requires of a table format.
    */
  private def snapshotStoreProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "storeprofile")
    SnapshotTable.deleteTree(base)
    val shim = new ObjectStoreSnapshotFileIO
    SnapshotFileIO.register(base, shim)
    try {
      val orders = Tables.orders(s, dir)
        .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
      val k = $"o_orderkey"
      val maxKey = orders.agg(max(k)).head.getLong(0)
      // chain: full base -> MOR delete (0 mod 5) -> [CRASH mid-copy]
      // -> append (1 mod 3, key-shifted) -> atomic upsert (0 mod 7 at
      // +3 bump) — all through the rename-less protocol
      val v1 = SnapshotTable.commit(orders, base,
        expectedVersion = SnapshotTable.ExpectEmpty)
      val v2 = SnapshotTable.commitDeletes(
        orders.filter(pmod(k, lit(5)) === 0).select(k), base,
        expectedVersion = v1)
      val appendDf = orders.filter(pmod(k, lit(3)) === 1)
        .withColumn("o_orderkey", k + lit(maxKey + 1L))
      // a writer dies halfway through its data copy: claim marker
      // down, data torn, seal never written
      shim.crashAt = Some("mid-copy")
      val crashed =
        try {
          SnapshotTable.commitAppend(appendDf, base, expectedVersion = v2)
          false
        } catch { case _: SimulatedStoreCrash => true }
      require(crashed, "the injected mid-copy crash did not fire")
      // the torn directory is ON the store and in NO reader's world
      require(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(base, s"v${v2 + 1}")),
        "the torn claim left no directory — the crash window is not real")
      require(SnapshotTable.versions(base) == Seq(v1, v2) &&
        SnapshotTable.currentVersion(base).contains(v2),
        s"the torn claim leaked into the readable world: versions " +
          s"${SnapshotTable.versions(base)}")
      // the retry: the burned number is SKIPPED (its claimant could
      // still be a live writer mid-copy), never silently reused
      val v4 = SnapshotTable.commitAppend(appendDf, base,
        expectedVersion = v2)
      require(v4 == v2 + 2,
        s"burned claim v${v2 + 1} must be skipped; retry claimed v$v4")
      val chainNow = SnapshotTable.readAt(s, base, v4)
      val batch = chainNow.filter(pmod(k, lit(7)) === 0)
        .withColumn("price_micro", $"price_micro" + 3000000L)
      val v5 = SnapshotTable.commitUpsert(batch, Seq("o_orderkey"), base,
        expectedVersion = v4)
      // protocol evidence on every PUBLISHED version: claim + seal
      // markers present — no rename ever stood in for either
      Seq(v1, v2, v4, v5).foreach { v =>
        require(java.nio.file.Files.exists(
            java.nio.file.Paths.get(base, s"v$v._claim")) &&
          java.nio.file.Files.exists(
            java.nio.file.Paths.get(base, s"v$v._sealed")),
          s"v$v lacks its claim/seal markers — the commit bypassed " +
            "the rename-less protocol")
      }
      SnapshotTable.readAt(s, base, v5)
        .agg(count(lit(1)).as("n_rows"),
          sum($"price_micro").as("s_micro"),
          sum((k > maxKey).cast("long")).as("n_appended"))
        .select($"n_rows", Exact.microSumTo4dp("s_micro").as("sum_price"),
          $"n_appended", lit(true).as("rename_free"))
    } finally SnapshotFileIO.unregister(base)
  }

  private val snapshotStoreProfileOracle = {
    val p = Exact.microSql("o_totalprice")
    s"""WITH t AS (SELECT o_orderkey AS k, $p AS pm FROM orders),
       |mx AS (SELECT max(k) AS m FROM t),
       |chain AS (
       |  SELECT k, pm FROM t WHERE k % 5 <> 0
       |  UNION ALL
       |  SELECT k + (SELECT m FROM mx) + 1 AS k, pm FROM t
       |  WHERE k % 3 = 1),
       |merged AS (
       |  SELECT k, pm FROM chain WHERE k % 7 <> 0
       |  UNION ALL
       |  SELECT k, pm + 3000000 FROM chain WHERE k % 7 = 0)
       |SELECT count(*) AS n_rows,
       |  ${Exact.microSumTo4dpSql("CAST(sum(pm) AS BIGINT)", Exact.DuckDiv)}
       |    AS sum_price,
       |  CAST(sum(CASE WHEN k > (SELECT m FROM mx) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_appended,
       |  true AS rename_free
       |FROM merged""".stripMargin
  }

  /** The lake's DataSource V2 read surface
    * ([[graft.sources.SnapshotDataSource]]): `spark.read
    * .format("snapshot").load(dir)` — with `versionAsOf` /
    * `timestampAsOf` / `branch` time travel — must resolve a
    * delete+append+upsert MOR chain IDENTICALLY to the Scala-API
    * [[SnapshotTable.readAt]], through the
    * [[graft.plans.SnapshotRelationRule]] substitution every graft
    * session carries (requires pin that the substitution fired and the
    * physical plan IS native parquet FileScans, i.e. byte-identical
    * shape to the API read; SnapshotDsv2Spec covers the V1 fallback of
    * a session without the extensions). Mutually-exclusive time-travel
    * options must fail loudly. The answer rows are derived from the
    * DSv2 reads themselves, so the DuckDB oracle gates the connector's
    * chain resolution at every pinned epoch.
    */
  private def snapshotDsv2Read(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = lakeBase(dir, "dsv2read")
    SnapshotTable.deleteTree(base)
    val orders = Tables.orders(s, dir)
      .select($"o_orderkey", Exact.micro("o_totalprice").as("price_micro"))
    val k = $"o_orderkey"
    // chain: base (evens) -> append (1 mod 4) -> MOR delete (0 mod 8)
    // -> atomic upsert (replace 2 mod 8 at triple price, insert 3 mod 8)
    val v1 = SnapshotTable.commit(orders.filter(pmod(k, lit(2)) === 0), base,
      expectedVersion = SnapshotTable.ExpectEmpty)
    val v2 = SnapshotTable.commitAppend(orders.filter(pmod(k, lit(4)) === 1),
      base, expectedVersion = v1)
    val v3 = SnapshotTable.commitDeletes(
      orders.filter(pmod(k, lit(8)) === 0).select($"o_orderkey"), base,
      expectedVersion = v2)
    // strict ms separation so t(v4)-1 resolves v3 (as-of is publish-keyed)
    val t3 = SnapshotTable.publishEvents(base)
      .filter(e => e._1 == v3 && e._2 == "current").head._3
    while (System.currentTimeMillis() <= t3) Thread.sleep(1)
    val v4 = SnapshotTable.commitUpsert(
      orders.filter(pmod(k, lit(8)) === 2)
        .withColumn("price_micro", $"price_micro" * 3)
        .unionByName(orders.filter(pmod(k, lit(8)) === 3)),
      Seq("o_orderkey"), base, expectedVersion = v3)
    val t4 = SnapshotTable.publishEvents(base)
      .filter(e => e._1 == v4 && e._2 == "current").head._3
    val bSide = SnapshotTable.commitToBranch(
      orders.filter(pmod(k, lit(2)) === 0)
        .withColumn("price_micro", $"price_micro" * 2),
      base, "side", expectedBranchVersion = SnapshotTable.ExpectEmpty)
    def stat(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"), sum(col("price_micro")).as("sm"))
        .head
      (r.getLong(0), r.getLong(1))
    }
    val apiTip = stat(SnapshotTable.readAt(s, base, v4))
    // 1) substitution rule: plan-identical to the API read
    val subst0 = graft.plans.SnapshotRelationRule.substitutions
    val fast = s.read.format("snapshot").load(base)
    val fastStat = stat(fast)
    val fastPlan = fast.queryExecution.executedPlan.toString
    require(fastPlan.contains("FileScan") &&
      !fastPlan.contains("snapshot-v1-fallback"),
      "the substituted DSv2 read must plan native parquet FileScans")
    require(graft.plans.SnapshotRelationRule.substitutions > subst0,
      "the substitution rule must fire — the session lacks GraftExtensions")
    require(fastStat == apiTip,
      s"substituted read diverged from readAt: $fastStat vs $apiTip")
    // 2) time travel options resolve like the Scala API
    val dv2 = s.read.format("snapshot")
      .option("versionAsOf", v2.toString).load(base)
    require(stat(dv2) == stat(SnapshotTable.readAt(s, base, v2)),
      "versionAsOf must read the pinned version exactly")
    val dAsof = s.read.format("snapshot")
      .option("timestampAsOf", (t4 - 1).toString).load(base)
    require(stat(dAsof) == stat(SnapshotTable.readAt(s, base, v3)),
      "timestampAsOf strictly before v4's publish must resolve v3")
    val dBranch = s.read.format("snapshot")
      .option("branch", "side").load(base)
    require(stat(dBranch) == stat(SnapshotTable.readAt(s, base, bSide)),
      "branch option must read the branch head")
    val clash =
      try {
        s.read.format("snapshot").option("versionAsOf", "1")
          .option("timestampAsOf", "1").load(base)
        false
      } catch {
        case e: Throwable =>
          Option(e.getMessage).exists(_.contains("mutually exclusive"))
      }
    require(clash, "versionAsOf+timestampAsOf must be rejected loudly")
    Seq(("asof_v3", stat(dAsof)), ("branch", stat(dBranch)),
      ("final", fastStat), ("v2", stat(dv2)))
      .map { case (tag, (n, sm)) => (tag, n, sm) }
      .toDF("epoch", "n_rows", "s_micro")
      .select($"epoch", $"n_rows",
        Exact.microSumTo4dp("s_micro").as("sum_price"))
      .orderBy($"epoch")
  }

  private val snapshotDsv2ReadOracle = {
    val p = Exact.microSql("o_totalprice")
    def sum4(e: String) =
      Exact.microSumTo4dpSql(s"CAST(sum($e) AS BIGINT)", Exact.DuckDiv)
    s"""SELECT 'asof_v3' AS epoch, count(*) AS n_rows, ${sum4(p)} AS sum_price
       |FROM orders
       |WHERE (o_orderkey % 2 = 0 OR o_orderkey % 4 = 1) AND o_orderkey % 8 <> 0
       |UNION ALL
       |SELECT 'branch', count(*), ${sum4(s"2 * $p")}
       |FROM orders WHERE o_orderkey % 2 = 0
       |UNION ALL
       |SELECT 'final', count(*),
       |  ${sum4(s"CASE WHEN o_orderkey % 8 = 2 THEN 3 * $p ELSE $p END")}
       |FROM orders
       |WHERE (o_orderkey % 2 = 0 OR o_orderkey % 4 = 1 OR o_orderkey % 8 = 3)
       |  AND o_orderkey % 8 <> 0
       |UNION ALL
       |SELECT 'v2', count(*), ${sum4(p)}
       |FROM orders WHERE o_orderkey % 2 = 0 OR o_orderkey % 4 = 1
       |ORDER BY epoch""".stripMargin
  }

  def queries: Seq[Q] = Seq(
    Q("schema_drift_union", schemaDriftUnion, Some(schemaDriftOracle)),
    Q("compact_small_files", compactSmallFiles, Some(compactOracle)),
    Q("lake_integrity_hash", lakeIntegrityHash, Some(lakeIntegrityOracle)),
    Q("file_provenance", fileProvenance, Some(fileProvenanceOracle)),
    Q("snapshot_time_travel", snapshotTimeTravel, Some(snapshotOracle)),
    Q("snapshot_retention", snapshotRetention, Some(snapshotRetentionOracle)),
    Q("snapshot_changelog", snapshotChangelog, Some(snapshotChangelogOracle)),
    Q("snapshot_partition_prune", snapshotPartitionPrune,
      Some(snapshotPartitionPruneOracle)),
    Q("snapshot_stats_prune", snapshotStatsPrune, Some(snapshotStatsPruneOracle)),
    Q("snapshot_bloom_prune", snapshotBloomPrune, Some(snapshotBloomPruneOracle)),
    Q("snapshot_optimize_cluster", snapshotOptimizeCluster,
      Some(snapshotOptimizeClusterOracle)),
    Q("snapshot_manifest_stats", snapshotManifestStats,
      Some(snapshotManifestStatsOracle)),
    Q("snapshot_mor_delete", snapshotMorDelete, Some(snapshotMorDeleteOracle)),
    Q("snapshot_multi_prune", snapshotMultiPrune, Some(snapshotMultiPruneOracle)),
    Q("snapshot_partition_evolve", snapshotPartitionEvolve,
      Some(snapshotPartitionEvolveOracle)),
    Q("snapshot_mor_prune", snapshotMorPrune, Some(snapshotMorPruneOracle)),
    Q("snapshot_wap_publish", snapshotWapPublish, Some(snapshotWapPublishOracle)),
    Q("snapshot_join_prune", snapshotJoinPrune, Some(snapshotJoinPruneOracle)),
    Q("snapshot_join_prune_rule", snapshotJoinPruneRule,
      Some(snapshotJoinPruneRuleOracle)),
    Q("snapshot_orphan_gc", snapshotOrphanGc, Some(snapshotOrphanGcOracle)),
    Q("snapshot_chain_manifest", snapshotChainManifest,
      Some(snapshotChainManifestOracle)),
    Q("snapshot_asof_read", snapshotAsofRead, Some(snapshotAsofReadOracle)),
    Q("snapshot_branch_asof", snapshotBranchAsof, Some(snapshotBranchAsofOracle)),
    Q("snapshot_mor_upsert_atomic", snapshotMorUpsertAtomic,
      Some(snapshotMorUpsertAtomicOracle)),
    Q("snapshot_optimize_contention", snapshotOptimizeContention,
      Some(snapshotOptimizeContentionOracle)),
    Q("snapshot_incremental_optimize", snapshotIncrementalOptimize,
      Some(snapshotIncrementalOptimizeOracle)),
    Q("snapshot_append_evolve", snapshotAppendEvolve,
      Some(snapshotAppendEvolveOracle)),
    Q("snapshot_mor_upsert", snapshotMorUpsert, Some(snapshotMorUpsertOracle)),
    Q("snapshot_null_prune", snapshotNullPrune, Some(snapshotNullPruneOracle)),
    Q("snapshot_optimize_vacuum", snapshotOptimizeVacuum,
      Some(snapshotOptimizeVacuumOracle)),
    Q("snapshot_dsv2_read", snapshotDsv2Read, Some(snapshotDsv2ReadOracle)),
    Q("snapshot_join_prune_dim_scan", snapshotJoinPruneDimScan,
      Some(snapshotJoinPruneDimScanOracle)),
    Q("snapshot_manifest_upsert_stats", snapshotManifestUpsertStats,
      Some(snapshotManifestUpsertStatsOracle)),
    Q("snapshot_store_profile", snapshotStoreProfile,
      Some(snapshotStoreProfileOracle)))
}
