package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Join, Limit, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}

import graft.ops.SnapshotTable

/** Dim-driven bloom file pruning AS A PLANNER RULE — the explicit
  * [[graft.ops.SnapshotTable.readWhereInFrom]] API delivered under the
  * plain join syntax, the way [[GlobalSeqId]] delivers the distributed
  * row_number: a `Rule[LogicalPlan]` recognizes
  * `fact JOIN small-dim ON fact.k = dim.k` where the fact side is a
  * snapshot-version parquet scan carrying a per-file bloom for `k` and
  * the dim side is either a LocalRelation whose keys are known at PLAN
  * time, or — the DPP-style variant — a FILTERED dim scan whose
  * bounded distinct keys materialize at planning with one driver-side
  * executeTake (the same dim-side availability Spark's own dynamic
  * partition pruning waits for at runtime; both forms prune the files
  * before the scan is even scheduled). The fact relation's file index
  * is replaced by the bloom
  * survivor list; the join itself remains and supplies the residual
  * row filter, so the answer is byte-identical to the unpruned plan —
  * at 100 TB this turns every "this entity's rows" lookup written as a
  * plain join into a needle read with no API opt-in.
  *
  * Near-misses (no bloom for the column, dim too big, multi-root scan,
  * hive-partitioned fact) leave the plan untouched — the rewrite is an
  * optimization, never a semantic dependency — and log a warning so
  * the missed prune is visible, the [[GlobalRowNumberRule]] discipline.
  *
  * Installed by [[GraftExtensions]], which every [[graft.Session]]
  * carries.
  */
object SnapshotJoinPrune {
  /** A dim side bigger than this is not a needle lookup — leave the
    * shuffle join alone (the same bound readWhereInFrom enforces).
    */
  val MaxDimKeys: Int = 1 << 16

  /** Rewrites performed (testable evidence the rule fired). */
  private[plans] val rewriteCount = new java.util.concurrent.atomic.AtomicLong
  def rewrites: Long = rewriteCount.get()

  /** Memoized prune DECISIONS, keyed by the immutable inputs
    * `(dir, version, column, keys)`: `Some(files)` = prune to these
    * files, `None` = keep the plain join (no bloom / nothing pruned /
    * probe failed). A snapshot version never changes after its
    * claim-rename, so a decision is valid forever — and the rule runs
    * inside fixed-point optimizer batches session-wide (injected by
    * [[GraftExtensions]]), where an unprunable join would otherwise
    * re-execute the filesystem probe, the nested bloom-scan Spark job,
    * and the near-miss warning on EVERY iteration of every batch (and
    * on every `df.explain()`). Bounded: cleared wholesale past
    * [[DecisionCacheMax]] entries (decisions are cheap to recompute;
    * wholesale clear beats LRU bookkeeping on the planner hot path).
    */
  private[plans] val decisionCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, String, String, Seq[Any]), Option[Seq[String]]]()
  val DecisionCacheMax: Int = 4096

  /** The version DIRECTORY's filesystem identity (inode file key, mtime
    * fallback) — part of every decision-cache key, because "a version
    * never changes after its claim-rename" does not survive a
    * delete-tree-and-recreate of the same table path (test fixtures do
    * exactly that): the recreated v1 has the same (dir, version) name
    * but different data files, and a decision cached against the old
    * incarnation would prune to files that no longer exist.
    */
  private[plans] def versionIdentity(dir: String, version: Long): String =
    try {
      val p = java.nio.file.Paths.get(dir, s"v$version")
      val attrs = java.nio.file.Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes])
      Option(attrs.fileKey()).map(_.toString)
        .getOrElse(attrs.lastModifiedTime().toString)
    } catch {
      case _: java.io.IOException => "absent"
    }

  /** Materialized dim-side key sets for the DPP-style variant, keyed by
    * the CANONICALIZED bounded subquery plan (distinct keys under a
    * MaxDimKeys+1 limit): the one driver-side executeTake per distinct
    * dim subtree, never one per optimizer iteration. Same wholesale
    * clearing bound as [[decisionCache]].
    */
  private[plans] val dimKeysCache =
    new java.util.concurrent.ConcurrentHashMap[LogicalPlan, Option[Seq[Any]]]()
}

object SnapshotBloomJoinRule extends Rule[LogicalPlan] {

  private val vdirRe = ".*/v(\\d+)$".r

  /** The dim side's key values, if the plan is a LocalRelation exposing
    * the attribute — plan-time-known rows, the precondition for
    * plan-time pruning. INTEGRAL AND STRING KEYS ONLY: a LocalRelation
    * holds INTERNAL values, and for those two families the internal
    * form canonicalizes identically to the bloom build side
    * (String.valueOf(long) / UTF8String.toString). A DateType key's
    * internal Int (days since epoch) would canonicalize differently
    * from the build side's ISO string — a silent false NEGATIVE, i.e.
    * wrong results — so anything else is a near-miss that keeps the
    * plain join (the explicit readWhereIn API, which takes EXTERNAL
    * values, still covers dates).
    */
  private def localKeys(plan: LogicalPlan,
      attr: AttributeReference): Option[Seq[Any]] = plan match {
    case LocalRelation(output, data, _, _) =>
      val idx = output.indexWhere(_.exprId == attr.exprId)
      if (idx < 0) None
      else {
        import org.apache.spark.sql.types._
        output(idx).dataType match {
          case ByteType | ShortType | IntegerType | LongType | StringType =>
            Some(data.map { row =>
              row.get(idx, output(idx).dataType) match {
                case u: org.apache.spark.unsafe.types.UTF8String => u.toString
                case v => v
              }
            })
          case other =>
            logWarning(s"snapshot join prune: dim key type " +
              s"${other.simpleString} has no internal/probe canonical-" +
              "form match — plain join kept")
            None
        }
      }
    case _ => None
  }

  /** Look through the Filter/Project shells the optimizer leaves above
    * a scan (null-safety filters, column pruning): the relation plus a
    * rebuilder that re-wraps a replacement in the same shells.
    */
  private def unwrap(plan: LogicalPlan)
      : Option[(LogicalRelation, LogicalRelation => LogicalPlan)] = plan match {
    case lr: LogicalRelation => Some((lr, identity))
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
      unwrap(f.child).map { case (lr, rb) =>
        (lr, (n: LogicalRelation) => f.copy(child = rb(n)))
      }
    case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
      unwrap(p.child).map { case (lr, rb) =>
        (lr, (n: LogicalRelation) => p.copy(child = rb(n)))
      }
    case _ => None
  }

  /** The fact side, if it is an UNPARTITIONED single-root parquet scan
    * of a snapshot version directory (`.../v<N>`), possibly under
    * Filter/Project shells: the relation, a rebuilder for the shells,
    * the snapshot table dir, and the version.
    */
  private def snapshotScan(plan: LogicalPlan, attr: AttributeReference)
      : Option[(LogicalRelation, LogicalRelation => LogicalPlan,
        HadoopFsRelation, String, Long)] =
    unwrap(plan).collect {
      case (lr, rb) if lr.output.exists(_.exprId == attr.exprId) => (lr, rb)
    }.flatMap { case (lr, rb) =>
      lr.relation match {
        case fs: HadoopFsRelation if fs.partitionSchema.isEmpty &&
            fs.location.rootPaths.length == 1 =>
          val root = fs.location.rootPaths.head
          root.toUri.getPath match {
            case vdirRe(v) =>
              val dir = new Path(root.toUri.getPath).getParent.toString
              Some((lr, rb, fs, dir, v.toLong))
            case _ => None
          }
        case _ => None
      }
    }

  /** The survivor-file decision for (dir, version, column, keys) —
    * computed at most once per distinct input (see
    * [[SnapshotJoinPrune.decisionCache]]); the filesystem probe, the
    * bloom-scan job, and the near-miss warnings all live inside the
    * compute so repeat optimizer iterations over an unprunable join are
    * a single map lookup.
    */
  /** Whether the version carries a bloom sidecar at all — the cheap
    * fact-side precondition checked before anything expensive (in the
    * DPP-style path, before the dim subquery ever runs).
    */
  private def hasBloomSidecar(dir: String, version: Long): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, s"v$version", "_bloomtab")) ||
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, s"v$version", "_bloom.tsv"))

  private def decideFiles(spark: SparkSession, dir: String, version: Long,
      column: String, keys: Seq[Any]): Option[Seq[String]] = {
    val cache = SnapshotJoinPrune.decisionCache
    if (cache.size > SnapshotJoinPrune.DecisionCacheMax) cache.clear()
    cache.computeIfAbsent((dir, version,
      SnapshotJoinPrune.versionIdentity(dir, version), column, keys), { _ =>
      // bail (plan unchanged) unless the version really carries a bloom
      // for the join column — the rewrite is optional, the query is not
      if (!hasBloomSidecar(dir, version)) {
        logWarning(s"snapshot join prune: no bloom sidecar on $dir " +
          s"v$version — plain join kept (commit with bloomCols to enable)")
        None
      } else try {
        val (files, total) = SnapshotTable.pruneFilesBloom(
          spark, dir, version, column, keys)
        if (files.size >= total) None // nothing to prune; keep the plan
        else Some(files)
      } catch {
        case scala.util.control.NonFatal(e) =>
          // e.g. no bloom rows for THIS column: optional rewrite, loud log
          logWarning(s"snapshot join prune: skipped on $dir v$version " +
            s"(${e.getMessage})")
          None
      }
    })
  }

  private def prune(lr: LogicalRelation, fs: HadoopFsRelation, dir: String,
      version: Long, column: String, keys: Seq[Any]): Option[LogicalRelation] =
    decideFiles(fs.sparkSession, dir, version, column, keys).map { files =>
      val pruned = new InMemoryFileIndex(fs.sparkSession,
        files.map(new Path(_)), Map.empty, Some(fs.dataSchema))
      SnapshotJoinPrune.rewriteCount.incrementAndGet()
      lr.copy(relation = fs.copy(location = pruned)(fs.sparkSession))
    }

  /** DPP-style dim keys — the shape real star queries write:
    * `fact JOIN dim_table WHERE dim.pred`, where the dim side is a
    * FILTERED single-relation scan (any stack of Project/Filter shells
    * over one LogicalRelation with at least one Filter — the
    * selectivity signal; an unfiltered dim is not a needle lookup) with
    * all-deterministic expressions and a key type in the same
    * integral/string whitelist as [[localKeys]]. The bounded distinct
    * key set materializes at PLAN time with one driver-side
    * executeTake — the same bounded dim-side broadcast Spark's own
    * dynamic partition pruning performs — memoized on the canonicalized
    * subplan ([[SnapshotJoinPrune.dimKeysCache]]) so fixed-point
    * re-runs and `explain()` never re-execute it. More than
    * [[SnapshotJoinPrune.MaxDimKeys]] distinct keys is a near-miss:
    * plain shuffle join kept, loud log.
    */
  private def dimScanKeys(plan: LogicalPlan,
      attr: AttributeReference): Option[Seq[Any]] = {
    import org.apache.spark.sql.types._
    def shape(p: LogicalPlan, sawFilter: Boolean): Boolean = p match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        shape(f.child, sawFilter = true)
      case pr: Project => shape(pr.child, sawFilter)
      case _: LogicalRelation => sawFilter
      case _ => false
    }
    val keyTypeOk = attr.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }
    if (!shape(plan, sawFilter = false) || !keyTypeOk ||
        plan.expressions.exists(!_.deterministic)) None
    else {
      val sub = Limit(Literal(SnapshotJoinPrune.MaxDimKeys + 1),
        Distinct(Project(Seq(attr), plan)))
      val cache = SnapshotJoinPrune.dimKeysCache
      if (cache.size > SnapshotJoinPrune.DecisionCacheMax) cache.clear()
      cache.computeIfAbsent(sub.canonicalized, { _ =>
        val rows = SparkSession.active.sessionState.executePlan(sub)
          .executedPlan.executeTake(SnapshotJoinPrune.MaxDimKeys + 1)
        if (rows.length > SnapshotJoinPrune.MaxDimKeys) {
          logWarning(s"snapshot join prune: dim scan exceeds " +
            s"${SnapshotJoinPrune.MaxDimKeys} distinct keys — plain " +
            "shuffle join kept")
          None
        } else Some(rows.toSeq.map { r =>
          r.get(0, attr.dataType) match {
            case u: org.apache.spark.unsafe.types.UTF8String => u.toString
            case v => v
          }
        })
      })
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, jt, Some(EqualTo(a: AttributeReference,
        b: AttributeReference)), _) if jt == Inner || jt == LeftSemi =>
      // resolve which side of the equality belongs to which child
      def sideOf(attr: AttributeReference): Option[LogicalPlan] =
        if (left.outputSet.exists(_.exprId == attr.exprId)) Some(left)
        else if (right.outputSet.exists(_.exprId == attr.exprId)) Some(right)
        else None
      val rewritten = for {
        (factAttr, dimAttr) <- Seq((a, b), (b, a)).find { case (f, d) =>
          sideOf(f).contains(left) && sideOf(d).contains(right)
        }
        // fact side first: its checks are cheap pattern matches (plus
        // one sidecar stat), and the DPP-style dim materialization must
        // never run for a join that could not be pruned anyway
        (lr, rebuild, fs, dir, version) <- snapshotScan(left, factAttr)
        keys <- localKeys(right, dimAttr).orElse {
          if (hasBloomSidecar(dir, version)) dimScanKeys(right, dimAttr)
          else None
        }
        if keys.nonEmpty && keys.size <= SnapshotJoinPrune.MaxDimKeys
        prunedLr <- prune(lr, fs, dir, version, factAttr.name,
          keys.filter(_ != null))
      } yield j.copy(left = rebuild(prunedLr))
      rewritten.getOrElse(j)
  }
}
