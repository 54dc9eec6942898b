package graft.cube

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Derived-filter → host-dim translation (reference: core-cube/src/
  * main/java/org/apache/kylin/cube/model/DerivedFilterTranslator.java
  * — Kylin turns a predicate on a lookup ATTRIBUTE into an IN-set on
  * the host dimension by evaluating the predicate against the frozen
  * lookup snapshot, so segment/shard pruning built around host-dim
  * values applies to lookup-attribute queries too).
  *
  * Without this, a filter like `c_name LIKE 'Customer#00000000%'`
  * prunes NOTHING: segments carry ranges only for materialized dims,
  * and the lookup attribute resolves only after the snapshot join.
  * With it, the predicate runs once over the broadcast-small snapshot,
  * the matching host keys become `host IN (…)`, and two engines kick
  * in from metadata alone: [[DimRanges.pruneSegments]] skips whole
  * segments whose host range excludes every surviving key, and the
  * scan-side filter reaches the parquet reader (shard-dir pruning when
  * the host is the cube's shardBy dim, row-group skipping otherwise —
  * cuboids are sorted by their dims). At 100 TB that is entire segment
  * file-listings never made.
  *
  * Soundness: the translated IN-set OVER-approximates the original
  * predicate on joined rows — any fact row that survives the real
  * (post-snapshot-attach) filter has a host value the snapshot maps to
  * an attribute satisfying the predicate. That holds only for
  * NULL-REJECTING leaf shapes (P(null) is never TRUE): a row whose
  * host is absent from the snapshot gets a NULL attribute from the
  * left join, and e.g. `attr IS NULL` would select it while no
  * snapshot row does. Hence the explicit whitelist below (compares,
  * IN, LIKE/prefix/suffix/contains, IS NOT NULL, null-safe-eq against
  * a non-null literal) — and no translation under NOT, where an
  * over-approximation flips into an under-approximation. Overflow
  * (more matching hosts than [[maxHostIn]]) or any failure keeps the
  * original leaf: the pruner answers "might match" for an attribute it
  * has no ranges for, so a missed translation costs scan time, never
  * correctness. An EMPTY host set translates to literal FALSE — no
  * lookup row satisfies the predicate, so no joined row can.
  */
object DerivedFilterTranslator {

  /** conservative IN-set bound (reference: DerivedFilterTranslator
    * .java's IN_THRESHOLD — past it Kylin widens to a range or gives
    * up; we keep the original leaf, i.e. scan). Overridable per
    * session for specs via `graft.derivedFilter.maxHostIn`. */
  val DefaultMaxHostIn = 4096

  private def maxHostIn(spark: SparkSession): Int =
    scala.util.Try(
      spark.conf.get("graft.derivedFilter.maxHostIn").toInt)
      .getOrElse(DefaultMaxHostIn)

  /** memoized host sets: the plan path runs per query per candidate
    * realization, and the snapshot job for the same (snapshot, leaf)
    * answers all of them. The snapshot's commit-marker mtime rides the
    * key so a Snapshot.rebuild (operator correction) invalidates
    * naturally. Clear-on-overflow like the DimRanges memos — pure
    * values, worst case recomputation. */
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String, Int), Option[Seq[Literal]]]()
  private val MemoMax = 4096

  /** how long a freshly-read snapshot stamp is trusted before the
    * next filesystem re-check (the MetaStamp recheck-window pattern):
    * the translator runs on the routing hot path — twice per plan per
    * candidate realization — and a window spares memo HITS several
    * metadata RPCs per query. Default 0 (stat every call), OPT-IN like
    * spark.graft.meta.recheckMs (ADVICE r19): the stamp validates a
    * translation that feeds segment pruning and the scan-side
    * predicate, so serving a cached stamp across another process's
    * Snapshot.rebuild is a silent wrong-answer window — only a
    * deployment that accepts that staleness bound may set
    * `graft.derivedFilter.stampRecheckMs` > 0. In-process rebuilds are
    * safe even then: [[Snapshot.rebuild]] invalidates the entry. */
  val DefaultStampRecheckMs = 0L

  private def stampRecheckMs(spark: SparkSession): Long =
    scala.util.Try(
      spark.conf.get("graft.derivedFilter.stampRecheckMs").toLong)
      .getOrElse(DefaultStampRecheckMs)

  /** dir → (stamp, locally observed at) — bounded by the snapshot
    * count, cleared with the host memo */
  private val stampCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def markerStamp(spark: SparkSession, dir: String): Long = {
    val now = System.currentTimeMillis()
    val window = stampRecheckMs(spark)
    val cached = stampCache.get(dir)
    if (cached != null && now - cached._2 < window) cached._1
    else {
      val fresh = scala.util.Try {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val marker = new org.apache.hadoop.fs.Path(p, Snapshot.CommitMarker)
        val succ = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
        if (fs.exists(marker)) fs.getFileStatus(marker).getModificationTime
        else if (fs.exists(succ)) fs.getFileStatus(succ).getModificationTime
        else fs.getFileStatus(p).getModificationTime
      }.getOrElse(0L)
      // never cache the failure sentinel (ADVICE r19): a transient
      // stat error would otherwise pin stamp 0 for a whole window and
      // a 0-keyed memo entry could be re-validated by the NEXT failure
      if (fresh != 0L) stampCache.put(dir, (fresh, now))
      else stampCache.remove(dir)
      fresh
    }
  }

  /** in-process invalidation hook for the snapshot commit path: a
    * rebuild in THIS JVM must be visible to the very next translation
    * even when a session opted into a recheck window. */
  private[cube] def invalidateStamp(dir: String): Unit = {
    stampCache.remove(dir): Unit
  }

  /** a leaf predicate translatable through ONE derived dim: the top
    * node is a whitelisted null-rejecting shape over a bare derived
    * attribute and literal operands. Returns the derived dim. */
  private def derivedLeaf(cube: CubeDef, e: Expression)
      : Option[DerivedDim] = {
    def dd(x: Expression): Option[DerivedDim] =
      DimRanges.attrName(x).flatMap(cube.derivedDim)
    def isLit(x: Expression): Boolean = x.isInstanceOf[Literal]
    def nonNullLit(x: Expression): Boolean = x match {
      case l: Literal => l.value != null
      case _ => false
    }
    e match {
      case EqualTo(a, b) if isLit(b) => dd(a)
      case EqualTo(a, b) if isLit(a) => dd(b)
      case EqualNullSafe(a, b) if nonNullLit(b) => dd(a)
      case EqualNullSafe(a, b) if nonNullLit(a) => dd(b)
      case GreaterThan(a, b) if isLit(b) => dd(a)
      case GreaterThan(a, b) if isLit(a) => dd(b)
      case GreaterThanOrEqual(a, b) if isLit(b) => dd(a)
      case GreaterThanOrEqual(a, b) if isLit(a) => dd(b)
      case LessThan(a, b) if isLit(b) => dd(a)
      case LessThan(a, b) if isLit(a) => dd(b)
      case LessThanOrEqual(a, b) if isLit(b) => dd(a)
      case LessThanOrEqual(a, b) if isLit(a) => dd(b)
      case In(a, vs) if vs.nonEmpty && vs.forall(isLit) => dd(a)
      case InSet(a, _) => dd(a)
      case IsNotNull(a) => dd(a)
      case Like(a, b, _) if isLit(b) => dd(a)
      case StartsWith(a, b) if isLit(b) => dd(a)
      case EndsWith(a, b) if isLit(b) => dd(a)
      case Contains(a, b) if isLit(b) => dd(a)
      case _ => None
    }
  }

  /** evaluate `leaf` against the lookup snapshot, returning the
    * distinct host keys whose lookup row satisfies it — None on
    * overflow or any failure (missing snapshot, unresolvable shape). */
  private def hostLits(spark: SparkSession, inst: CubeInstance,
                       dd: DerivedDim, leaf: Expression)
      : Option[Seq[Literal]] = {
    val snapPath = Snapshot.path(inst.root, dd.lookup)
    val bound = maxHostIn(spark)
    val key = (snapPath, markerStamp(spark, snapPath),
      s"${dd.name}#${dd.host}#$leaf", bound)
    val hit = memo.get(key)
    if (hit != null) hit
    else {
      val v = scala.util.Try {
        val snap = inst.readSnapshot(spark, dd.lookup)
        // re-target the attribute at the snapshot's own column name
        // (the derived name IS the lookup column name; qualifiers and
        // exprIds from the query's plan would not resolve here)
        val pred = ColumnBridge.column(leaf.transformUp {
          case x if DimRanges.attrName(x).contains(dd.name) =>
            UnresolvedAttribute(dd.name)
        })
        val rows = snap.filter(pred)
          .select(dd.host).distinct().head(bound + 1)
        if (rows.length > bound) None
        else Some(rows.toSeq.map(r => Literal(r.get(0))))
      }.toOption.flatten
      if (memo.size > MemoMax) memo.clear()
      memo.put(key, v)
      v
    }
  }

  private def hostIn(spark: SparkSession, inst: CubeInstance,
                     dd: DerivedDim, leaf: Expression)
      : Option[Expression] =
    hostLits(spark, inst, dd, leaf).map { lits =>
      RouteTrace.note("router", inst.cube.name,
        s"derived filter on ${dd.name} translated to ${lits.size} " +
          s"host value(s) on ${dd.host}")
      if (lits.isEmpty) Literal.FalseLiteral
      else In(UnresolvedAttribute(dd.host), lits)
    }

  /** MONOTONE rewrite for metadata pruning: recurse through AND/OR
    * (both monotone — an over-approximated child over-approximates
    * the whole), translate whitelisted derived leaves, leave
    * everything else (incl. whole NOT subtrees) untouched — the
    * pruner scans what it does not recognize. */
  private[cube] def forPruning(spark: SparkSession, inst: CubeInstance,
                               e: Expression): Expression = e match {
    case And(l, r) =>
      And(forPruning(spark, inst, l), forPruning(spark, inst, r))
    case Or(l, r) =>
      Or(forPruning(spark, inst, l), forPruning(spark, inst, r))
    case leaf => derivedLeaf(inst.cube, leaf) match {
      case Some(dd) => hostIn(spark, inst, dd, leaf).getOrElse(leaf)
      case None => leaf
    }
  }

  /** the segment-pruning filter: the query filter with derived leaves
    * translated onto host dims. Falls back to the original column on
    * any failure — pruning is an optimization, never a correctness
    * input. */
  /** the translating session: thread-active first, else the process
    * default — routing may run on serving handler threads that never
    * built the session */
  private def session: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  def pruneColumn(inst: CubeInstance, f: Column): Column =
    session match {
      case None => f
      case Some(spark) =>
        scala.util.Try {
          val e0 = ColumnBridge.expressionTree(f)
            .transformUp { case x => DimRanges.norm(x) }
          ColumnBridge.column(forPruning(spark, inst, e0))
        }.getOrElse(f)
    }

  /** the SCAN-side host predicate: translated host IN-sets for the
    * top-level CONJUNCTS of the filter only (a disjunct cannot be
    * applied standalone). Resolvable over the bare cuboid scan —
    * applied before the snapshot attach, it reaches the parquet
    * reader: shard-dir pruning when host == shardBy, row-group
    * skipping otherwise. None when nothing translated. */
  def scanPrune(inst: CubeInstance, f: Option[Column]): Option[Column] =
    for {
      c <- f
      spark <- session
      combined <- scala.util.Try {
        val e0 = ColumnBridge.expressionTree(c)
          .transformUp { case x => DimRanges.norm(x) }
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case And(l, r) => conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
        conjuncts(e0)
          .flatMap(cj => derivedLeaf(inst.cube, cj)
            .flatMap(dd => hostIn(spark, inst, dd, cj)))
          .reduceOption(And)
          .map(ColumnBridge.column)
      }.toOption.flatten
    } yield combined

  /** spec/probe visibility */
  private[graft] def memoSize: Int = memo.size
  private[graft] def clearMemo(): Unit = {
    memo.clear()
    stampCache.clear()
  }
}
