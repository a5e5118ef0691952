package graft

/** Benchmark main. Prints ONE JSON line with per-query best times.
  *
  * The harness host is a shared VM with multi-minute CPU-steal bursts
  * (observed 10-30× inflation; round-2's committed artifact was 9× off
  * on queries whose code had not changed). Plain best-of-2 is not
  * burst-proof: both passes of a query run back-to-back and can land
  * inside one burst. So the bench is adaptive:
  *
  *  1. two passes per query (back-to-back, as before);
  *  2. any query whose best time exceeds 3× its checked-in watermark
  *     (BENCH_WATERMARKS.json = clean-host minima from the previous
  *     round) is re-run in later sweeps — time-diversified, so a burst
  *     that poisoned sweep 1 has usually passed;
  *  3. up to 3 retry sweeps; queries still above threshold are reported
  *     in "suspect" so a reader knows those numbers are host noise, not
  *     engine cost.
  *
  * Artifact strategy (round-4 lesson): the driver captures only the LAST
  * ~2000 chars of stdout, so the round-3 JSON line — bloated by a
  * per-pass map — was truncated into unparseability. Now stdout gets ONE
  * COMPACT line (2-decimal seconds, no pass detail) printed last, and
  * the full artifact (per-pass times, failure counts, suspect flags)
  * goes to BENCH_FULL.json in the repo, committed every round.
  */
object Bench {

  /** Parse the watermark file without a JSON lib (none on the main
    * classpath) — the format is repo-controlled. Rows are nested since
    * r17 ({"name": {"floor": sec, "host": factor}}) so each floor can
    * carry the host factor it was minted under; the flat legacy form
    * ({"name": sec}) still parses so ad-hoc dev files keep working.
    * MIXED files merge BOTH forms (nested winning a name collision) —
    * the previous nested-wins-all short-circuit silently dropped every
    * flat row of a partially-migrated dev file, leaving those queries
    * floorless with no error. Flat rows are extracted after excising
    * the nested row objects, so a nested row's inner "floor"/"host"
    * fields can never masquerade as query names.
    */
  def loadWatermarks(path: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath))
      val nested = "\"([^\"]+)\"\\s*:\\s*\\{[^}]*?\"floor\"\\s*:\\s*([0-9.eE+-]+)".r
        .findAllMatchIn(text)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .toMap
      // drop the one-level-deep row objects — only brace blocks in VALUE
      // position (after a colon), so the outer object's own braces
      // survive; what remains at top level are the flat-form rows
      val topLevel = text.replaceAll(":\\s*\\{[^{}]*\\}", ": null")
      val flat = "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r
        .findAllMatchIn(topLevel)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .toMap
      flat ++ nested
    }
  }

  /** The canonical host-speed probe (r16 verdict: floors minted during
    * a host-elevation window got an elevated watermark with nothing
    * recording it). Every bench run measures this query FIRST — always
    * against the fixed sf0.1 probe dir, never the (possibly soak-scale)
    * bench dir — and reports best-probe / committed-probe-floor as
    * `host_factor`. merge_new_soak.py stamps that factor onto every
    * floor it mints, and WatermarkProvenanceSpec flags any floor minted
    * above the disclosed threshold. q01_pricing_summary is the probe:
    * a codegen'd scan+aggregate over lineitem — CPU- and scan-bound,
    * no randomness, in the registry since round 1 with a stable floor.
    */
  val ProbeQuery = "q01_pricing_summary"

  /** The single stdout artifact line. The driver keeps only the LAST
    * ~2000 chars of stdout and appends its own runner footer (~75 chars)
    * inside that window, so this line must stay far below that cap no
    * matter how many queries register: it carries total/failed/suspect
    * plus only the SLOWEST queries under a fixed character budget; the
    * complete per-query map lives in BENCH_FULL.json. BenchSpec pins the
    * length invariant.
    */
  def compactLine(results: Seq[(String, Double)], failed: Seq[String],
      suspect: Seq[String], sfDir: String, hostFactor: Double = 0.0): String = {
    // the headline total is over SUCCEEDED queries only: a failed
    // query's fallback number is its crash duration, and a fast crash
    // would otherwise read as a round-over-round speedup
    val failedSet = failed.toSet
    val total = results.collect { case (k, v) if !failedSet(k) => v }.sum
    val slowestBudget = 600 // chars for the partial "queries" map
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var open = true
    // entries arrive sorted descending; STOP at the first that doesn't
    // fit — skipping it but keeping later (faster) ones would misstate
    // which queries are the slowest
    results.sortBy(-_._2).foreach { case (k, v) =>
      val ent = String.format(java.util.Locale.ROOT, "%s:%.2f",
        Json.str(k), Double.box(v))
      if (open && used + ent.length + 1 <= slowestBudget) {
        kept += ent; used += ent.length + 1
      } else open = false
    }
    val qs = kept.mkString("{", ",", "}")
    val totalStr = String.format(java.util.Locale.ROOT, "%.2f", Double.box(total))
    // failed/suspect are CAPPED name lists (counts carried alongside):
    // a mass failure must not blow the driver's ~2000-char capture
    // host = probe-measured host factor (0 = probe floor unknown):
    // lets the round artifact disclose whether its numbers were taken
    // on an elevated host without cross-referencing BENCH_FULL
    val hostStr = String.format(java.util.Locale.ROOT, "%.2f", Double.box(hostFactor))
    s"""{"metric":"total","value":$totalStr,"unit":"sec","n_queries":${results.size},""" +
      s""""queries_slowest":$qs,"n_failed":${failed.size},""" +
      s""""failed":${Json.cappedStrArr(failed)},"n_suspect":${suspect.size},""" +
      s""""suspect":${Json.cappedStrArr(suspect)},"host":$hostStr,""" +
      s""""full":"BENCH_FULL.json","sf":${Json.str(sfDir)}}"""
  }

  def main(args: Array[String]): Unit = {
    // --list: print every registry query name (for tools/soak_sweep.py's
    // fork-per-query driver) and exit — no Spark session needed
    if (args.sameElements(Array("--list"))) {
      SparkEntry.queries.keys.toVector.sorted.foreach(println)
      return
    }
    // f"" interpolators delegate to String.format with the DEFAULT
    // locale — a decimal-comma locale would emit invalid JSON
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.envCpus
    val wmPath = sys.env.getOrElse("SPARK_GRAFT_WATERMARKS", "/root/repo/BENCH_WATERMARKS.json")
    val watermarks = loadWatermarks(wmPath)
    if (watermarks.isEmpty)
      System.err.println(s"[bench] WARNING: no watermarks at $wmPath — " +
        "adaptive noise retry is INERT; commit clean-host minima there")
    val spark = Session.build(cpus)

    // ---- host-speed probe (see ProbeQuery scaladoc) ----------------
    // Runs FIRST, always against the fixed sf0.1 probe dir — during a
    // soak run SPARK_GRAFT_SF_DIR points at a 10x/100x corpus, and the
    // probe must measure the HOST, not the data scale. Two cold passes
    // (cache cleared between), min — the same protocol floors are
    // minted under, so factor 1.0 means "this host runs the probe at
    // its committed clean floor". 0.0 = unknown (no committed probe
    // floor to compare against).
    val probeDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_DIR", "/root/testdata/sf0.1")
    // soak runs point SPARK_GRAFT_WATERMARKS at a missing file so the
    // sf0.1-floor suspect logic stays inert at 10x/100x — the probe
    // floor falls back to the committed repo file so host provenance
    // still gets measured on those runs. The fallback resolves against
    // the working directory (tools/run.sh and sbt both run from the
    // repo root), not a hardcoded checkout path.
    val repoWatermarks =
      new java.io.File(sys.props.getOrElse("user.dir", "."),
        "BENCH_WATERMARKS.json").getPath
    val probeFloor = watermarks.get(ProbeQuery)
      .orElse(loadWatermarks(repoWatermarks).get(ProbeQuery))
    val hostFactor: Double = probeFloor match {
      case Some(floor) if floor > 0 && new java.io.File(probeDir).isDirectory =>
        val fn = SparkEntry.queries(ProbeQuery)
        // 5 passes, first two DISCARDED: the probe runs at JVM start,
        // and the committed floor is a min across runs that were
        // mostly warm-JVM — passes 1-2 pay Janino/JIT warmup the
        // floor never contains (measured on this box: pass 1 ~2-4x,
        // pass 2 ~1.1-1.3x of the plateau), so keeping them would
        // make a clean host read as elevated
        val raw = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, probeDir).queryExecution.toRdd.count(); true }
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] probe FAILED: $e"); false }
          try spark.catalog.clearCache()
          catch { case scala.util.control.NonFatal(_) => () }
          if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN
        }
        val times = raw.drop(2).filterNot(_.isNaN)
        if (times.isEmpty) 0.0
        else {
          val f = times.min / floor
          System.err.println(f"[bench] host probe: $ProbeQuery best ${times.min}%.3fs vs floor $floor%.3fs -> host_factor ${f}%.2f" +
            f" (passes: ${raw.map(t => f"$t%.2f").mkString(", ")})" +
            (if (f > 1.25) "  (ELEVATED — floors minted from this run need a host_note)" else ""))
          math.rint(f * 1000) / 1000
        }
      case _ =>
        System.err.println(s"[bench] WARNING: no committed floor for probe '$ProbeQuery' " +
          s"or no probe dir at $probeDir — host_factor unknown (0.0)")
        0.0
    }

    // per query: (seconds, succeeded) per attempt — failed attempts'
    // durations never enter the reported min (a fast crash is not a time)
    val passes = scala.collection.mutable.LinkedHashMap.empty[String, Vector[(Double, Boolean)]]

    def onePass(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        // NonFatal only: an OutOfMemoryError or similar VM corruption
        // must abort the run visibly, not be logged as a per-query
        // failure while every later timing runs in a broken JVM
        //
        // toRdd.count(), NOT Dataset.count(): wrapping the query in a
        // count() aggregate lets Catalyst prune every column the count
        // doesn't need — for transform-shaped queries (c4_span_scrub,
        // pii_redact, the tokenizers) that deletes the expensive output
        // expressions AND eliminates whole joins (observed: the span
        // scrub's rebuild join + string agg optimized away entirely,
        // benching a bare scan). toRdd executes the query's OWN
        // physical plan — every output column materializes, the
        // presentation sort included — so the watermark prices what
        // Verify actually writes. The count is a row count over
        // InternalRows, no driver collect.
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      passes(name) = passes.getOrElse(name, Vector.empty) :+ (sec, ok)
      // the NonFatal filter above can't see an OOM thrown on a Spark
      // internal thread (task-result-getter): it kills the context, and
      // the main loop then "times" every remaining query as a fast
      // failure against a stopped SparkContext (observed: one heap OOM
      // → 149 bogus FAILED lines). A dead context means NOTHING further
      // can be measured — abort the whole run instead.
      if (spark.sparkContext.isStopped)
        throw new IllegalStateException(
          s"[bench] SparkContext died during '$name' (likely an executor" +
            "-thread OOM) — aborting: later timings would be meaningless")
      // cold-honest watermarks (r13 lesson: a query that persists an
      // intermediate survives into its OWN next pass via CacheManager
      // plan-dedup, and min-of-passes then records a cache hit as the
      // query's cost). Clearing between passes — outside the timed
      // region — makes every committed minimum a from-scratch number.
      // No cross-query cache reuse is intended anywhere in the registry.
      try spark.catalog.clearCache()
      catch { case scala.util.control.NonFatal(_) => () }
    }

    def okTimes(name: String): Vector[Double] =
      passes(name).collect { case (s, true) => s }
    def failCount(name: String): Int = passes(name).count(!_._2)
    // a query "failed" iff it never succeeded
    def isFailed(name: String): Boolean = okTimes(name).isEmpty
    // reported time: min over SUCCESSFUL passes; if none, min over all
    // (flagged failed, so the number is understood as attempt duration)
    def bestTime(name: String): Double = {
      val ok = okTimes(name)
      if (ok.nonEmpty) ok.min else passes(name).map(_._1).min
    }

    // a query is suspect when its best successful pass is >2× the
    // clean-host watermark plus a jitter floor. 2×, not 3×: a 2.9×
    // CPU-steal pass used to commit silently, which is how seven
    // floor-exceeders landed in r14 — at 2× such a run is retried in a
    // later sweep and, if still hot, flagged "suspect" so the artifact
    // reader knows. The jitter floor is TIERED (r15 lesson:
    // ann_ivf_topk drifted 1.61× under the flat +0.5 s floor without
    // tripping anything): +0.25 s for sub-half-second watermarks —
    // still above scheduler jitter, but a sub-second query can no
    // longer double indefinitely unflagged — and +0.5 s above.
    def suspect(name: String): Boolean = watermarks.get(name) match {
      case Some(w) =>
        val jitter = if (w < 0.5) 0.25 else 0.5
        bestTime(name) > math.max(2.0 * w, w + jitter)
      case None => false
    }

    // optional positional args restrict the run to named queries (dev
    // loop); an unknown name is an ERROR — a typo silently matching
    // nothing would overwrite BENCH_FULL.json with an empty run
    val names0 = SparkEntry.queries.keys.toVector
    val unknown = args.filterNot(names0.toSet)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.length == 1) "y" else "ies"}: ${unknown.mkString(", ")}")
    val names = if (args.nonEmpty) names0.filter(args.toSet) else names0
    names.foreach { n => onePass(n); onePass(n) }
    var sweep = 0
    while (sweep < 3 && names.exists(suspect)) {
      val redo = names.filter(suspect)
      System.err.println(s"[bench] retry sweep ${sweep + 1}: ${redo.mkString(", ")}")
      redo.foreach(onePass)
      sweep += 1
    }

    val results = names.map { n =>
      val sec = bestTime(n)
      val fails = failCount(n)
      val flags = (if (isFailed(n)) "  FAILED" else if (fails > 0) s"  ($fails/${passes(n).size} passes failed)" else "") +
        (if (suspect(n)) "  SUSPECT(host noise)" else "")
      System.err.println(f"[bench] $n%-28s $sec%8.2fs (passes: ${passes(n).map { case (t, ok) => f"$t%.2f${if (ok) "" else "!"}" }.mkString(", ")})$flags")
      n -> sec
    }
    val failedQ = names.filter(isFailed)
    if (failedQ.nonEmpty)
      System.err.println(s"[bench] FAILED queries (times are of the failed attempt): ${failedQ.mkString(", ")}")

    // total over SUCCEEDED queries (same contract as compactLine): a
    // fast crash must not read as a speedup
    val total = results.collect { case (k, v) if !failedQ.contains(k) => v }.sum
    val failedJson = Json.arr(failedQ.map(Json.str))
    val suspectJson = Json.arr(names.filter(suspect).map(Json.str))
    // full artifact (per-pass detail; failed attempts negated so they
    // can't be mistaken for times) → repo file, committed each round
    val passJson = names.map(n => s"${Json.str(n)}:${Json.arr(passes(n).map { case (t, ok) => f"${if (ok) t else -t}%.3f" })}").mkString("{", ",", "}")
    val fullQs = results.map { case (k, v) => f"${Json.str(k)}:$v%.3f" }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$fullQs,"passes":$passJson,"failed":$failedJson,"suspect":$suspectJson,"probe":${Json.str(ProbeQuery)},"host_factor":${f"$hostFactor%.3f"},"sf":${Json.str(sfDir)},"cpus":$cpus}"""
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "/root/repo/BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $fullPath: $e") }
    // stdout: ONE compact line printed LAST (see compactLine scaladoc —
    // round-4's full per-query map outgrew the driver's capture window)
    println(compactLine(results, failedQ, names.filter(suspect), sfDir, hostFactor))
    spark.stop()
  }
}
