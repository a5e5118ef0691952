package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Canon, Clean, Compose, Ids, Sectionize, Tables}

/** Reference-parity pipelines (SURVEY.md §3, §7.2-7.3) over the harness
  * star schema: the pipeline-B union shape, the F-layer scalar suite, the
  * G2 sectionizer, and the pipeline-C two-branch diamond with cross-source
  * scalar propagation. Excel-sheet sources are stood in by filtered slices
  * of the `part` table; PDF line streams by the `documents` table — the
  * operator semantics (what the reference computes) are identical.
  */
object Financial {

  private val bulanNames = Array(
    "Januari", "Februari", "Maret", "April", "Mei", "Juni", "Juli",
    "Agustus", "September", "Oktober", "November", "Desember")

  private val bulanSqlList =
    bulanNames.map(m => s"'$m'").mkString("[", ", ", "]")

  /** Pipeline B end-to-end (dask-with-dataframe.py:21-90): three sources →
    * canonical rename → clean_text (F1) → numeric coercion (F3) → literal
    * group label (O1) + emitent stamp → union-all with source rank (U1) →
    * global 1-based ID ordered by (src_rank, line order) (O4) → canonical
    * projection (P3). Filters push into the parquet scan; the only shuffle
    * is the global row_number's range exchange (GraftExtensions plans it
    * as the distributed GlobalSeqId; Ids.withScalableGlobalIdManaged is
    * the Long-id variant past 2^31 rows).
    */
  private def bFinancialUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val part = Tables.part(s, dir)
    def slice(pred: org.apache.spark.sql.Column, grup: String) = part
      .filter(pred)
      .select(
        $"p_partkey".as("line_no"),
        lit(grup).as("grup_lk"),
        Clean.cleanTextV1($"p_name").as("item"),
        Clean.coerceNumeric($"p_retailprice").as("value"))
    val unioned = Compose.unionWithRank(Seq(
      slice($"p_size" <= 10, "Neraca"),
      slice($"p_size" >= 11 && $"p_size" <= 25, "Laba Rugi"),
      slice($"p_size" > 25, "Arus Kas")))
    Ids.withGlobalId(unioned, "id", Seq($"src_rank", $"line_no"))
      .withColumn("emitent", lit("ACES"))
      .select($"id", $"emitent", $"grup_lk", $"item", $"value")
      .orderBy($"id")
  }

  private val bFinancialOracle =
    """WITH src AS (
      |  SELECT 1 AS src_rank, p_partkey AS line_no, 'Neraca' AS grup_lk, p_name, p_retailprice
      |  FROM part WHERE p_size <= 10
      |  UNION ALL
      |  SELECT 2, p_partkey, 'Laba Rugi', p_name, p_retailprice
      |  FROM part WHERE p_size BETWEEN 11 AND 25
      |  UNION ALL
      |  SELECT 3, p_partkey, 'Arus Kas', p_name, p_retailprice
      |  FROM part WHERE p_size > 25)
      |SELECT CAST(row_number() OVER (ORDER BY src_rank, line_no) AS INTEGER) AS id,
      |  'ACES' AS emitent, grup_lk,
      |  substr(regexp_replace(p_name, '[^\w\s]', '', 'g'), 1, 255) AS item,
      |  coalesce(try_cast(p_retailprice AS DOUBLE), 0.0) AS value
      |FROM src
      |ORDER BY id""".stripMargin

  /** >64-char identifier — exercises the P7 truncation on the real op
    * path (the reference truncates for MySQL's 64-char identifier cap,
    * project-dask.py:31-38).
    */
  private val LongItemName =
    "LaporanDetailDenganNamaIdentifierPanjangSekaliYangMelebihiBatasEnamPuluhEmpatKarakterMySQL"
  private val TruncItemName = LongItemName.take(64)

  /** Pipeline A end-to-end (project-dask.py:23-88): three sources →
    * truncate-64 identifiers (P7) → strict column drop (P2) → per-table
    * sequential IDs minted BEFORE the union (O3 — contrast pipeline B's
    * post-union global ID: here IDs restart at 1 within each statement,
    * the reference's per-frame `range(1, len+1)`) → literal
    * emitent/group stamps (O1) → canonical projection (P3) → union-all
    * (U1). Per-sheet ID windows order by the slice's own line_no; the
    * final ORDER BY is oracle determinism only.
    */
  private def aFinancialUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val part = Tables.part(s, dir)
    def sheet(pred: org.apache.spark.sql.Column, grup: String) = {
      val raw = part.filter(pred)
        .select(
          $"p_partkey".as("line_no"),
          Clean.cleanTextV1($"p_name").as(LongItemName),
          Clean.coerceNumeric($"p_retailprice").as("CurrentYearInstant"),
          $"p_type".as("Unnamed: 3"))
      val canon = Canon.dropStrict(Canon.truncateNames(raw, 64), Seq("Unnamed: 3"))
      Ids.withGlobalId(canon, "ID", Seq($"line_no"))
        .withColumn("emitent", lit("ACES"))
        .withColumn("LaporanKeuangan", lit(grup))
        .select($"ID", $"emitent", $"LaporanKeuangan",
          col(TruncItemName), $"CurrentYearInstant")
    }
    sheet($"p_size" >= 11 && $"p_size" <= 25, "Laba Rugi")
      .unionAll(sheet($"p_size" > 25, "Arus Kas"))
      .unionAll(sheet($"p_size" <= 10, "Posisi Keuangan"))
      .orderBy($"LaporanKeuangan", $"ID")
  }

  private val aFinancialOracle =
    raw"""WITH sheet AS (
       |  SELECT p_partkey AS line_no, p_name, p_retailprice,
       |    CASE WHEN p_size BETWEEN 11 AND 25 THEN 'Laba Rugi'
       |         WHEN p_size > 25 THEN 'Arus Kas'
       |         ELSE 'Posisi Keuangan' END AS LaporanKeuangan
       |  FROM part)
       |SELECT CAST(row_number() OVER (
       |    PARTITION BY LaporanKeuangan ORDER BY line_no) AS INTEGER) AS ID,
       |  'ACES' AS emitent, LaporanKeuangan,
       |  substr(regexp_replace(p_name, '[^\w\s]', '', 'g'), 1, 255) AS "$TruncItemName",
       |  coalesce(try_cast(p_retailprice AS DOUBLE), 0.0) AS CurrentYearInstant
       |FROM sheet
       |ORDER BY LaporanKeuangan, ID""".stripMargin

  /** F-layer scalar suite (SURVEY.md §2.4) exercised end-to-end in one
    * projection: clean_text v1/v2 (F1/F2), thousands-strip (F4), numeric
    * coercion (F3), Indonesian month map (F5), quarter label (F6), null
    * guard stringify (F12), date-pattern extraction (F7) over synthesized
    * `Pada Tanggal d month yyyy` strings (every 7th row deliberately has
    * no date → empty extraction, the reference's `re.search` → None path),
    * and substring-between-markers (F8) across an embedded newline (the
    * `(?s)` span). Pure expression pipeline — single scan, no shuffle,
    * whole-stage codegen throughout.
    */
  private def fnScalarSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val monthArr = typedlit(bulanNames)
    val mname = element_at(monthArr, month($"o_orderdate"))
    val mnum = Clean.monthNumber(mname)
    val tanggal = when($"o_orderkey" % 7 === 0, lit("tanpa tanggal"))
      .otherwise(concat(
        lit("Pada Tanggal "), dayofmonth($"o_orderdate").cast("string"),
        lit(" "), mname, lit(" "), year($"o_orderdate").cast("string")))
    val marked = concat(
      lit("hdr\nMulai "), $"o_orderstatus", lit(" no "),
      $"o_orderpriority", lit("\nbody Selesai tail"))
    Tables.fanOut(Tables.orders(s, dir))
      .select(
        $"o_orderkey",
        Clean.cleanTextV1($"o_orderpriority").as("prio_clean"),
        Clean.cleanTextV2($"o_orderstatus", 255).as("status_clean"),
        mname.as("month_name"),
        mnum.as("month_num"),
        Clean.quarterLabel(mnum, year($"o_orderdate")).as("quarter_label"),
        Clean.stripThousands(
          concat($"o_custkey".cast("string"), lit(","), lit("250"))).as("thousands"),
        Clean.coerceNumeric($"o_orderstatus").as("coerced_zero"),
        Clean.stringify($"o_custkey").as("custkey_str"),
        Clean.extractDay(tanggal).as("tgl_day"),
        Clean.extractMonth(tanggal).as("tgl_month"),
        Clean.extractYear(tanggal).as("tgl_year"),
        Clean.extractBetween(marked, "Mulai ", " Selesai").as("between_txt"))
      .orderBy($"o_orderkey")
  }

  private val fnScalarOracle =
    s"""WITH o AS (
       |  SELECT *,
       |    CASE WHEN o_orderkey % 7 = 0 THEN 'tanpa tanggal'
       |      ELSE 'Pada Tanggal ' || CAST(day(o_orderdate) AS VARCHAR)
       |        || ' ' || list_extract($bulanSqlList, month(o_orderdate))
       |        || ' ' || CAST(year(o_orderdate) AS VARCHAR) END AS tanggal,
       |    'hdr' || chr(10) || 'Mulai ' || o_orderstatus || ' no '
       |      || o_orderpriority || chr(10) || 'body Selesai tail' AS marked
       |  FROM orders)
       |SELECT o_orderkey,
       |  substr(regexp_replace(o_orderpriority, '[^\\w\\s]', '', 'g'), 1, 255) AS prio_clean,
       |  regexp_replace(substr(regexp_replace(coalesce(CAST(o_orderstatus AS VARCHAR), ''), '[^\\x00-\\x7F]+', '', 'g'), 1, 255), '^\\s+|\\s+$$', '', 'g') AS status_clean,
       |  list_extract($bulanSqlList, month(o_orderdate)) AS month_name,
       |  CAST(month(o_orderdate) AS INTEGER) AS month_num,
       |  'Q' || CAST(((month(o_orderdate) - 1) // 3) + 1 AS VARCHAR) || ' ' || CAST(year(o_orderdate) AS VARCHAR) AS quarter_label,
       |  try_cast(replace(CAST(o_custkey AS VARCHAR) || ',' || '250', ',', '') AS DOUBLE) AS thousands,
       |  coalesce(try_cast(o_orderstatus AS DOUBLE), 0.0) AS coerced_zero,
       |  coalesce(CAST(o_custkey AS VARCHAR), '') AS custkey_str,
       |  regexp_extract(tanggal, 'Pada Tanggal (\\d{1,2}) (\\w+) (\\d{4})', 1) AS tgl_day,
       |  regexp_extract(tanggal, 'Pada Tanggal (\\d{1,2}) (\\w+) (\\d{4})', 2) AS tgl_month,
       |  regexp_extract(tanggal, 'Pada Tanggal (\\d{1,2}) (\\w+) (\\d{4})', 3) AS tgl_year,
       |  regexp_extract(marked, '(?s)Mulai (.*?) Selesai', 1) AS between_txt
       |FROM o
       |ORDER BY o_orderkey""".stripMargin

  /** G2 sectionizer (detail_notes.py:23-79) over the documents table:
    * docs ordered by doc_id form the "line stream"; a line starting with
    * the token `key` is a heading (stand-in for the CALK numbered-heading
    * regex F10); everything before the first heading is dropped (F11
    * marker gate); each section aggregates its body lines in order.
    */
  private def calkSectionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sectionize.sectionize(
        Tables.documents(s, dir),
        orderCol = $"doc_id",
        isHead = $"text".startsWith("key "),
        lineCol = $"text")
      .select($"section_no", $"heading", $"n_lines", $"body")
      .orderBy($"section_no")
  }

  private val calkOracle =
    """WITH g AS (
      |  SELECT doc_id, text, (text LIKE 'key %') AS is_head,
      |    sum(CASE WHEN text LIKE 'key %' THEN 1 ELSE 0 END)
      |      OVER (ORDER BY doc_id) AS section_no
      |  FROM documents)
      |SELECT CAST(section_no AS BIGINT) AS section_no,
      |  max(CASE WHEN is_head THEN text END) AS heading,
      |  count(CASE WHEN NOT is_head THEN 1 END) AS n_lines,
      |  coalesce(string_agg(CASE WHEN NOT is_head THEN text END, ' ' ORDER BY doc_id), '') AS body
      |FROM g
      |WHERE section_no >= 1
      |GROUP BY section_no
      |ORDER BY section_no""".stripMargin

  /** Pipeline C diamond (dask-with-dataframe-[2].py:183-205): one branch
    * derives a scalar quarter label from the newest event timestamp
    * (F5+F6+F7 intent — the reference's broken date-regex path, SURVEY.md
    * §2.14); the other branch unions two canonicalized sources; the scalar
    * is stamped across every row (O2), then a global ID is minted (O4).
    * The scalar branch materializes as one tiny driver-side job
    * (Compose.propagateScalar) and constant-folds into the main plan —
    * no extra join at any scale.
    */
  private def cFinancialDiamond(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val latest = Tables.events(s, dir).agg(max($"ts").as("ts"))
      .select(
        Clean.quarterLabel(
          Clean.monthNumber(element_at(typedlit(bulanNames), month($"ts"))),
          year($"ts")).as("quarter"))
    val part = Tables.part(s, dir)
    def slice(pred: org.apache.spark.sql.Column, grup: String) = part
      .filter(pred)
      .select(
        $"p_partkey".as("line_no"),
        lit(grup).as("grup_lk"),
        Clean.cleanTextV2($"p_type", 255).as("item"),
        Clean.coerceNumeric($"p_retailprice").as("value"))
    val unioned = Compose.unionWithRank(Seq(
      slice($"p_size" % 2 === 0, "Laporan Posisi Keuangan"),
      slice($"p_size" % 2 =!= 0, "Laporan Laba Rugi")))
    val stamped = Compose.propagateScalar(unioned, latest, "quarter", "Unknown")
    Ids.withGlobalId(stamped, "id", Seq($"src_rank", $"line_no"))
      .select($"id", $"grup_lk", $"item", $"value", $"quarter")
      .orderBy($"id")
  }

  private val cFinancialOracle =
    """WITH q AS (
      |  SELECT 'Q' || CAST(((month(max(ts)) - 1) // 3) + 1 AS VARCHAR)
      |    || ' ' || CAST(year(max(ts)) AS VARCHAR) AS quarter
      |  FROM events),
      |src AS (
      |  SELECT 1 AS src_rank, p_partkey AS line_no,
      |    'Laporan Posisi Keuangan' AS grup_lk, p_type, p_retailprice
      |  FROM part WHERE p_size % 2 = 0
      |  UNION ALL
      |  SELECT 2, p_partkey, 'Laporan Laba Rugi', p_type, p_retailprice
      |  FROM part WHERE p_size % 2 <> 0)
      |SELECT CAST(row_number() OVER (ORDER BY src_rank, line_no) AS INTEGER) AS id,
      |  grup_lk,
      |  regexp_replace(substr(regexp_replace(coalesce(CAST(p_type AS VARCHAR), ''), '[^\x00-\x7F]+', '', 'g'), 1, 255), '^\s+|\s+$', '', 'g') AS item,
      |  coalesce(try_cast(p_retailprice AS DOUBLE), 0.0) AS value,
      |  (SELECT quarter FROM q) AS quarter
      |FROM src
      |ORDER BY id""".stripMargin

  /** G1 — text blob → typed rows (dask-with-dataframe-[2].py:80-97):
    * build one multi-line blob per brand (the stand-in for a PDF section
    * text), explode it back into lines, regex-parse each into
    * (item, value, rest) (F9), drop non-matching lines, coerce the value
    * (F4). The explode is a codegen'd Generator — no UDTF.
    * Line order inside the blob is irrelevant by construction: the output
    * is the multiset of parsed lines.
    */
  private def g1TextToRows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val line = concat_ws(" ",
      Clean.cleanTextV1($"p_name"), $"p_retailprice".cast("string"), $"p_type")
    val blobs = Tables.part(s, dir)
      .select($"p_brand", line.as("line"))
      .groupBy($"p_brand")
      .agg(concat_ws("\n", collect_list($"line")).as("blob"))
    blobs
      .select($"p_brand", explode(split($"blob", "\n")).as("line"))
      .filter(Clean.lineMatches($"line"))
      .select(
        $"p_brand",
        Clean.lineItem($"line").as("item"),
        Clean.stripThousands(Clean.lineValue($"line")).as("value"),
        Clean.lineRest($"line").as("rest"))
      .orderBy($"p_brand", $"item", $"value", $"rest")
  }

  private val g1Oracle =
    """WITH blobs AS (
      |  SELECT p_brand,
      |    string_agg(substr(regexp_replace(p_name, '[^\w\s]', '', 'g'), 1, 255)
      |      || ' ' || CAST(p_retailprice AS VARCHAR) || ' ' || p_type,
      |      chr(10)) AS blob
      |  FROM part GROUP BY p_brand),
      |lines AS (
      |  SELECT p_brand, unnest(string_split(blob, chr(10))) AS line FROM blobs)
      |SELECT p_brand,
      |  regexp_extract(line, '^(.+?)\s+([\d,.]+)\s*(.*)$', 1) AS item,
      |  try_cast(replace(regexp_extract(line, '^(.+?)\s+([\d,.]+)\s*(.*)$', 2), ',', '') AS DOUBLE) AS value,
      |  regexp_extract(line, '^(.+?)\s+([\d,.]+)\s*(.*)$', 3) AS rest
      |FROM lines
      |WHERE regexp_matches(line, '^(.+?)\s+([\d,.]+)\s*(.*)$')
      |ORDER BY p_brand, item, value, rest""".stripMargin

  /** The reference's true S3/S4 edge exercised end-to-end: PDF bytes →
    * PdfTextSource line stream → marker gate → stateful sectionizer.
    * The input is the checked-in fixture PDF (FlateDecode + raw streams,
    * tools/make_pdf_fixture.py); the oracle states the expected sections
    * as literals — hand-derivable from the fixture's definition, so the
    * whole decode→sectionize path is pinned, not self-referential.
    */
  private def pdfCalkSectionizer(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.DetailNotes.extractCalkPdf(
      s, "/root/repo/fixtures/bin/calk_notes.pdf")

  /** The SAME sectionizer pipeline as pdf_calk_sectionizer, but scanned
    * through the graft-pdf DataSource V2 connector instead of the
    * driver-side LocalTableScan — one row per text line from an
    * executor-side parse, global order reconstructed arithmetically
    * from (page_no, line_no) without a window. Gated on the identical
    * hand-derived oracle: the V2 read path must be indistinguishable
    * from the reference extraction.
    */
  private def pdfDsv2Sectionizer(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val lines = s.read.format("graft-pdf")
      .load("/root/repo/fixtures/bin/calk_notes.pdf")
      // pages are far shorter than 1M lines, so this composite is a
      // strictly monotone global order — no single-partition window
      .select((col("page_no") * 1000000L + col("line_no")).as("line_no"),
        col("line"))
    graft.pipelines.DetailNotes.extractCalkLines(s, lines)
  }

  private val pdfCalkOracle =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), '1.', '1. Umum',
      |   'Entitas didirikan di Jakarta pada tahun 1995. Kantor pusat beralamat di Jalan Sudirman.'),
      |  (CAST(2 AS BIGINT), '2.', '2. Ikhtisar Kebijakan Akuntansi',
      |   'Dasar penyusunan laporan keuangan adalah biaya historis.'),
      |  (CAST(3 AS BIGINT), '2.a.', '2.a. Pernyataan Kepatuhan',
      |   'Laporan keuangan disusun sesuai SAK.'),
      |  (CAST(4 AS BIGINT), '3.', '3. Kas dan Setara Kas',
      |   'Saldo kas (lihat catatan 5) adalah 1.234.')
      |) AS t(id, Nomor, calk, deskripsi)
      |ORDER BY id""".stripMargin

  /** The MODERN-PDF edge of S3/S4 through the correctness gate: xref
    * STREAM + object streams + subsetted Type0/CID font — the layout of
    * the reference's actual input (an audited 2023 report,
    * dask-with-dataframe-[2].py:102-104), where show strings are glyph
    * indices and text exists only through the embedded /ToUnicode CMap.
    * Input is the checked-in fixture (tools/make_pdf_cid_fixture.py,
    * deliberately non-identity glyph mapping so a raw-bytes reader
    * yields garbage); the oracle states the expected sections as
    * literals, hand-derivable from the fixture's definition.
    */
  private def pdfCidSectionizer(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.DetailNotes.extractCalkPdf(
      s, "/root/repo/fixtures/bin/calk_notes_cid.pdf")

  private val pdfCidOracle =
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), '1.', '1. Umum',
      |   'Entitas didirikan tahun 2001 dengan fon CID subset.'),
      |  (CAST(2 AS BIGINT), '2.', '2. Ikhtisar Kebijakan',
      |   'Laporan disusun sesuai SAK.'),
      |  (CAST(3 AS BIGINT), '2.a.', '2.a. Instrumen Keuangan',
      |   'Nilai wajar diukur per 31 Desember 2023.'),
      |  (CAST(4 AS BIGINT), '3.', '3. Kas',
      |   'Saldo akhir 9.876.')
      |) AS t(id, Nomor, calk, deskripsi)
      |ORDER BY id""".stripMargin

  /** Both real-world hard parts in ONE document through the gate:
    * MODERN layout (xref stream + object streams + subsetted CID font)
    * AND AESV2 encryption — the object stream, the /ToUnicode CMap, and
    * both content streams are all AES-128 ciphertext under per-object
    * keys, while the xref stream and the strings inside the object
    * stream stay plaintext per spec. The expected sections equal the
    * unencrypted CID fixture's (same oracle), so the
    * decrypt→ObjStm→CMap→content chain is pinned end to end.
    * Fixture: tools/make_pdf_enc_modern_fixture.py.
    */
  private def pdfCidEncryptedSectionizer(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.DetailNotes.extractCalkPdf(
      s, "/root/repo/fixtures/bin/calk_notes_cid_aesv2.pdf")

  /** The ENCRYPTED-PDF edge of S3/S4 through the correctness gate: the
    * same CALK content as pdf_calk_sectionizer, encrypted three ways
    * with the standard security handler and an empty user password —
    * RC4-128 (V2/R3), AES-128 (V4/AESV2), AES-256 (V5/R6 hardened hash)
    * — the "no password yet encrypted" shape most published financial
    * reports use ([[graft.sources.PdfCrypt]]). Fixtures come from an
    * INDEPENDENT Python encryptor (tools/make_pdf_encrypted_fixtures
    * .py); the oracle states the expected sections as literals, so
    * decrypt→decode→sectionize is pinned per scheme, not
    * self-referential.
    */
  private def pdfEncryptedSectionizer(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    Seq("rc4", "aesv2", "aesv3")
      .map { scheme =>
        graft.pipelines.DetailNotes.extractCalkPdf(
            s, s"/root/repo/fixtures/bin/calk_notes_$scheme.pdf")
          .withColumn("scheme", lit(scheme))
      }
      .reduce(_.union(_))
      .orderBy("scheme", "id")
  }

  private val pdfEncryptedOracle =
    """WITH sections(id, Nomor, calk, deskripsi) AS (VALUES
      |  (CAST(1 AS BIGINT), '1.', '1. Umum',
      |   'Entitas didirikan di Jakarta pada tahun 1995. Kantor pusat beralamat di Jalan Sudirman.'),
      |  (CAST(2 AS BIGINT), '2.', '2. Ikhtisar Kebijakan Akuntansi',
      |   'Dasar penyusunan laporan keuangan adalah biaya historis.'),
      |  (CAST(3 AS BIGINT), '2.a.', '2.a. Pernyataan Kepatuhan',
      |   'Laporan keuangan disusun sesuai SAK.'),
      |  (CAST(4 AS BIGINT), '3.', '3. Kas dan Setara Kas',
      |   'Saldo kas (lihat catatan 5) adalah 1.234.'))
      |SELECT id, Nomor, calk, deskripsi, scheme
      |FROM sections, (VALUES ('rc4'), ('aesv2'), ('aesv3')) AS s(scheme)
      |ORDER BY scheme, id""".stripMargin

  /** The POSITIONED-text surface end-to-end, fully pinned: fixture PDF →
    * [[graft.sources.PdfTextSource.toRunsDataFrame]] (Td/TD/Tm/T-star/TL
    * text-matrix tracking) → [[graft.ops.PdfTable.rows]] geometry
    * clustering → one output row per CELL of the reconstructed grid.
    * The fixture (tools/make_pdf_table_fixture.py) writes one page with
    * absolute Tm cells (one row x-shuffled, one baseline-jittered) and
    * one with relative Td/TL/quote cells; the oracle states every cell
    * as a literal, hand-derived from the fixture's operator streams —
    * so positioning, x-sort, y-banding, and row ordering are all pinned
    * against an independent derivation.
    */
  private def pdfTableCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val runs = graft.sources.PdfTextSource.toRunsDataFrame(
      s, "/root/repo/fixtures/bin/annual_table.pdf")
    graft.ops.PdfTable.rows(runs)
      .select($"page_no", $"row_no", posexplode($"cells").as(Seq("cell_no", "cell")))
      .select($"page_no", $"row_no", $"cell_no".cast("long").as("cell_no"), $"cell")
      .orderBy($"page_no", $"row_no", $"cell_no")
  }

  private val pdfTableCellsOracle =
    """SELECT CAST(page_no AS BIGINT) AS page_no,
      |  CAST(row_no AS BIGINT) AS row_no,
      |  CAST(cell_no AS BIGINT) AS cell_no, cell
      |FROM (VALUES
      |  (0, 0, 0, 'PT Contoh Sejahtera Tbk'),
      |  (0, 1, 0, 'Laporan Posisi Keuangan'),
      |  (0, 2, 0, 'Keterangan'), (0, 2, 1, '2024'), (0, 2, 2, '2023'),
      |  (0, 3, 0, 'Kas dan setara kas'), (0, 3, 1, '1.234'), (0, 3, 2, '987'),
      |  (0, 4, 0, 'Piutang usaha'), (0, 4, 1, '5.678'), (0, 4, 2, '4.321'),
      |  (0, 5, 0, 'Persediaan'), (0, 5, 1, '2.468'), (0, 5, 2, '2.400'),
      |  (1, 0, 0, 'Laporan Laba Rugi'),
      |  (1, 1, 0, 'Keterangan'), (1, 1, 1, '2024'), (1, 1, 2, '2023'),
      |  (1, 2, 0, 'Pendapatan'), (1, 2, 1, '9.000'), (1, 2, 2, '8.500'),
      |  (1, 3, 0, 'Beban pokok'), (1, 3, 1, '3.000'), (1, 3, 2, '2.800'),
      |  (1, 4, 0, 'Laba kotor'), (1, 4, 1, '6.000'), (1, 4, 2, '5.700'),
      |  (1, 5, 0, 'Catatan:'),
      |  (1, 6, 0, 'Angka dalam jutaan rupiah')
      |) AS t(page_no, row_no, cell_no, cell)
      |ORDER BY page_no, row_no, cell_no""".stripMargin

  /** The layout-aware financial-table pipeline the reference's regex
    * line-parse cannot express (dask-with-dataframe-[2].py:86-97 splits
    * flat lines): geometry-recovered 3-column grid rows, header dropped
    * per page, Indonesian thousands-dot values coerced to DOUBLE (F4
    * applied to cells instead of line fragments).
    */
  private def pdfTableExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val runs = graft.sources.PdfTextSource.toRunsDataFrame(
      s, "/root/repo/fixtures/bin/annual_table.pdf")
    graft.ops.PdfTable.financialRows(runs)
      .orderBy($"page_no", $"item")
  }

  private val pdfTableExtractOracle =
    """SELECT CAST(page_no AS BIGINT) AS page_no, item,
      |  CAST(curr AS DOUBLE) AS curr, CAST(prior AS DOUBLE) AS prior
      |FROM (VALUES
      |  (0, 'Kas dan setara kas', 1234, 987),
      |  (0, 'Piutang usaha', 5678, 4321),
      |  (0, 'Persediaan', 2468, 2400),
      |  (1, 'Pendapatan', 9000, 8500),
      |  (1, 'Beban pokok', 3000, 2800),
      |  (1, 'Laba kotor', 6000, 5700)
      |) AS t(page_no, item, curr, prior)
      |ORDER BY page_no, item""".stripMargin

  /** The DISTRIBUTED positioned-run path through the gate: binaryFile
    * scan → executor-side [[graft.sources.PdfTextSource.readManyRuns]]
    * parse → [[graft.ops.PdfTable.financialRows]] keyed by src_file —
    * the many-documents shape (one report per task) rather than the
    * driver-side single-document bridge. Same fixture and literals as
    * pdf_table_extract, plus the filename key the distributed path
    * must thread through every grouping.
    */
  private def pdfTableMany(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val runs = graft.sources.PdfTextSource.readManyRuns(
      s, "/root/repo/fixtures/bin/annual_table.pd[f]")
    graft.ops.PdfTable.financialRows(runs, extraKeys = Seq("src_file"))
      .select(
        regexp_extract($"src_file", "[^/]+$", 0).as("fname"),
        $"page_no", $"item", $"curr", $"prior")
      .orderBy($"fname", $"page_no", $"item")
  }

  private val pdfTableManyOracle =
    """SELECT 'annual_table.pdf' AS fname,
      |  CAST(page_no AS BIGINT) AS page_no, item,
      |  CAST(curr AS DOUBLE) AS curr, CAST(prior AS DOUBLE) AS prior
      |FROM (VALUES
      |  (0, 'Kas dan setara kas', 1234, 987),
      |  (0, 'Piutang usaha', 5678, 4321),
      |  (0, 'Persediaan', 2468, 2400),
      |  (1, 'Pendapatan', 9000, 8500),
      |  (1, 'Beban pokok', 3000, 2800),
      |  (1, 'Laba kotor', 6000, 5700)
      |) AS t(page_no, item, curr, prior)
      |ORDER BY fname, page_no, item""".stripMargin

  /** S2 oracle-gated through the REAL workbook: the headerless
    * general-information sheet read by XlsxSource, projected to the
    * key-value pairs the reference's P1 lookups consume
    * (dask-with-dataframe.py:64-68). The oracle states the expected
    * pairs as literals — hand-verifiable against the workbook — so the
    * zip+StAX decode path itself sits behind the correctness gate, not
    * only behind unit tests.
    */
  private def xlsxInfoLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // repo-local copy of the reference workbook (fixtures/xlsx/) so the
    // gate holds on hosts without the reference checkout; env override
    // points back at an external tree when one exists
    graft.ops.Ingest.excelRaw(
        s, sys.env.getOrElse("SPARK_GRAFT_REF_XLSX",
          "/root/repo/fixtures/xlsx/FinancialStatement-2024-I-ACES.xlsx"),
        "1000000")
      .filter($"_c0".isin("Kode entitas", "Nama entitas", "Sektor"))
      .select($"_c0".as("key"), $"_c1".as("value"))
      .orderBy($"key")
  }

  /** The SAME S2 lookup through the graft-xlsx DataSource V2 table:
    * executor-side parse, column pruning into the scan (only _c0/_c1
    * materialize), gated on the identical hand-verifiable oracle — the
    * V2 read path must be indistinguishable from the driver-side scan.
    */
  private def xlsxDsv2InfoLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("graft-xlsx")
      .option("sheet", "1000000")
      .load(sys.env.getOrElse("SPARK_GRAFT_REF_XLSX",
        "/root/repo/fixtures/xlsx/FinancialStatement-2024-I-ACES.xlsx"))
      .filter($"_c0".isin("Kode entitas", "Nama entitas", "Sektor"))
      .select($"_c0".as("key"), $"_c1".as("value"))
      .orderBy($"key")
  }

  private val xlsxInfoOracle =
    """SELECT * FROM (VALUES
      |  ('Kode entitas', 'ACES'),
      |  ('Nama entitas', 'Ace Hardware Indonesia Tbk'),
      |  ('Sektor', 'E. Consumer Cyclicals')
      |) AS t(key, value)
      |ORDER BY key""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("a_financial_union", aFinancialUnion, Some(aFinancialOracle)),
    Q("pdf_calk_sectionizer", pdfCalkSectionizer, Some(pdfCalkOracle)),
    Q("pdf_cid_sectionizer", pdfCidSectionizer, Some(pdfCidOracle)),
    Q("pdf_encrypted_sectionizer", pdfEncryptedSectionizer, Some(pdfEncryptedOracle)),
    Q("pdf_cid_encrypted_sectionizer", pdfCidEncryptedSectionizer, Some(pdfCidOracle)),
    Q("pdf_table_cells", pdfTableCells, Some(pdfTableCellsOracle)),
    Q("pdf_table_extract", pdfTableExtract, Some(pdfTableExtractOracle)),
    Q("pdf_table_many", pdfTableMany, Some(pdfTableManyOracle)),
    Q("pdf_dsv2_sectionizer", pdfDsv2Sectionizer, Some(pdfCalkOracle)),
    Q("xlsx_info_lookup", xlsxInfoLookup, Some(xlsxInfoOracle)),
    Q("xlsx_dsv2_info_lookup", xlsxDsv2InfoLookup, Some(xlsxInfoOracle)),
    Q("b_financial_union", bFinancialUnion, Some(bFinancialOracle)),
    Q("fn_scalar_suite", fnScalarSuite, Some(fnScalarOracle)),
    Q("calk_sectionizer", calkSectionize, Some(calkOracle)),
    Q("c_financial_diamond", cFinancialDiamond, Some(cFinancialOracle)),
    Q("g1_text_to_rows", g1TextToRows, Some(g1Oracle)))
}
