package graft.cube

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A routable aggregate query against a cube: group-by dims, an
  * optional dim-only filter, an optional time range for segment
  * pruning, and requested measures (name → output alias). */
final case class CubeQuery(
    groupBy: Seq[String],
    measures: Seq[(String, String)],
    filter: Option[Column] = None,
    filterDims: Set[String] = Set.empty,
    timeRange: Option[(String, String)] = None)

/** Result of routing: the answering DataFrame plus which cuboid and
  * segments served it (None/fallback=true when no cuboid covers the
  * query and the source star join answered instead — the reference's
  * query-pushdown, kylin-spark-query/.../pushdown/). */
final case class Routed(
    df: DataFrame,
    cuboid: Option[Set[String]],
    segments: Seq[String],
    fallback: Boolean,
    /** the executed plan's estimated cuboid scan rows (RoutePlan
      * .estRows) — the serving layer weighs scheduler pools by it
      * (reference: ResultPlan.scala picks lightweight vs heavy pools
      * from the plan's scan size). -1 ⇔ unknown (fallback). */
    estRows: Long = -1L)

/** The routing DECISION, made from metadata alone — which cuboid, which
  * segments, what post-processing — before any data is touched. Split
  * from execution so realization choice (Kylin's RealizationChooser)
  * can cost-compare candidate cubes without paying file listings for
  * the losers. `estRows` is the planned scan size: the chosen cuboid's
  * persisted row count summed over the overlapping segments. */
final case class RoutePlan(
    chosen: Set[String],
    overlapping: Seq[Segment],
    emptyScan: Boolean,
    residual: Option[(String, Column)],
    derivedUsed: Seq[DerivedDim],
    filterDerived: Seq[DerivedDim],
    extUsed: Seq[ExtendedColumn],
    realGroup: Seq[String],
    estRows: Long,
    /** the cuboid-relevant dim set this query needs (derived dims
      * replaced by hosts) — what the usage log records */
    needed: Set[String] = Set.empty,
    /** scan-side host-dim predicate from the derived-filter
      * translation ([[DerivedFilterTranslator.scanPrune]]): applied
      * right after the cuboid read, BEFORE the snapshot attach, so it
      * reaches the parquet scan — shard-dir pruning when the host is
      * the shardBy dim, sorted-row-group skipping otherwise. Purely an
      * over-approximation of the row filter that still applies after
      * the attach. */
    hostPrune: Option[Column] = None)

/** Smallest-covering-cuboid routing (reference:
  * CuboidLayoutChooser.scala:25 selectLayoutForBuild, query side
  * TableScanPlan.scala): a cuboid can answer the query iff its dim set
  * ⊇ (groupBy ∪ filter dims); among candidates pick the fewest-rows
  * one, prune segments by time-range overlap, then re-aggregate states
  * and present. Partial-match is a groupBy over the cuboid (states must
  * merge across segments/files); an EXACT match on a single segment
  * needs no re-aggregation at all — the cuboid rows ARE the answer —
  * and short-circuits to a plain scan+present (the reference's
  * exact-match fast path: storage returns cells, no post-agg).
  *
  * Time semantics (Kylin applies the time filter IN ADDITION to segment
  * pruning): segments fully inside the range are read as-is; partially
  * overlapping segments require a residual row-level filter on the
  * cube's time-derived dim (`CubeDef.timeDim`). If the range is not
  * expressible on that dim (boundary not aligned to its granularity, or
  * the dim isn't materialized in any covering cuboid) the router falls
  * back to the source rather than silently over-returning rows.
  */
object QueryRouter {

  /** open-range sentinels for one-sided derived time ranges: lexical
    * min/max of ISO days, so the string overlap math needs no special
    * cases — but residual-filter construction must NOT require them to
    * be expressible on the time dim (they constrain nothing) */
  val MinDay = "0000-01-01"
  val MaxDay = "9999-12-31"

  def route(spark: SparkSession, inst: CubeInstance, q: CubeQuery)
           (fallback: => DataFrame): Routed =
    routeImpl(spark, inst, q, present = true)(fallback)

  /** like route, but measures come back as their mergeable STATES
    * (aliased, no finalizer) — for composite post-processing such as
    * bitmap intersections (Kylin intersect_count) */
  def routeStates(spark: SparkSession, inst: CubeInstance, q: CubeQuery)
                 (fallback: => DataFrame): Routed =
    routeImpl(spark, inst, q, present = false)(fallback)

  /** Multi-realization routing (reference: query/.../
    * RealizationChooser.java — all realizations answering the model are
    * sorted by cost and the cheapest covering one answers): plan the
    * query against every registered instance, pick the smallest
    * estimated routed-cuboid scan, execute only the winner. Returns the
    * winning instance alongside the result so callers can attribute
    * the answer. */
  def routeBest(spark: SparkSession, insts: Seq[CubeInstance], q: CubeQuery,
                present: Boolean = true)
               (fallback: => DataFrame): (Routed, Option[CubeInstance]) = {
    val planned = insts.flatMap(i => plan(i, q).map(i -> _))
    if (planned.isEmpty) (Routed(fallback, None, Nil, fallback = true), None)
    else {
      val (inst, p) = planned.minBy { case (_, pl) =>
        (pl.estRows, pl.chosen.size) }
      (execute(spark, inst, q, p, present), Some(inst))
    }
  }

  /** The routing decision from metadata alone: None ⇔ this instance
    * cannot answer the query (missing dim/measure coverage, or a time
    * range not expressible on the cube's time dim). */
  def plan(inst: CubeInstance, q: CubeQuery): Option[RoutePlan] = {
    val cube = inst.cube

    // a cube with no segments has nothing to scan (ADVICE r3: the
    // zero-path reduce below would throw)
    if (cube.segments.isEmpty) return None

    // every requested measure must exist in THIS cube (a narrower
    // realization legitimately lacks some)
    if (!q.measures.forall { case (m, _) => cube.measures.exists(_.name == m) })
      return None

    // ── derived dims (reference: CubeDesc.java:219 derivedToHostMap):
    // a group-by on a lookup attribute not materialized in any cuboid
    // is answered by joining the lookup SNAPSHOT on its host dim —
    // never by falling back to the source. Unknown names → no plan.
    if (!q.groupBy.forall(cube.routableDim)) return None
    val derivedUsed = q.groupBy.flatMap(cube.derivedDim).distinct

    // ── extended columns (ExtendedColumnMeasureType): functionally
    // determined by a grouped host dim, answered from their measure —
    // the host MUST be grouped too (Kylin's contract); the extended
    // name is stripped from the cuboid group-by and re-attached from
    // the measure value after aggregation
    val extUsed = q.groupBy.flatMap(cube.extendedCol).distinct
    if (extUsed.exists(e => !q.groupBy.contains(e.host))) return None
    val realGroup = q.groupBy.filterNot(n => extUsed.exists(_.name == n))

    // ── segment pruning + residual-filter requirement. Three
    // metadata-only prunes compose: time-range overlap, the empty-
    // segment skip (reference: SegmentPruner.java:63 — a segment whose
    // COMMITTED base-cuboid row count is zero holds nothing; entries
    // missing from the rows map stay, conservatively), and dim-range
    // pruning on the query's NON-time filter (DimensionRangeInfo —
    // DimRanges.pruneSegments). All three only SHRINK the scanned set
    // of a query whose row-level filter still applies afterwards.
    // derived dims in the FILTER are resolved FIRST (they feed the
    // dim-range prune below): reference cube/kv/RowKeyDecoder +
    // DerivedFilterTranslator — Kylin answers lookup-attribute
    // predicates through the snapshot on the host. The cuboid only
    // needs the HOSTS; the lookup attaches before the predicate
    // applies. Unknown filter names → no plan.
    if (!q.filterDims.forall(n =>
        cube.dims.contains(n) || cube.derivedDim(n).isDefined))
      return None
    val filterDerived = q.filterDims.toSeq.flatMap(cube.derivedDim).distinct

    val baseCuboidId = cube.cuboidId(cube.dims.toSet)
    val timeOverlap = cube.segments.filter { s =>
      q.timeRange.forall { case (qs, qe) => s.start < qe && qs < s.end }
    }
    val nonEmpty = timeOverlap.filterNot(s =>
      inst.rows.get((s.name, baseCuboidId)).contains(0L))
    // lookup-attribute predicates translate onto their host dims
    // through the snapshot before pruning — segments carry ranges
    // only for materialized dims, so an untranslated derived filter
    // prunes nothing (reference: DerivedFilterTranslator.java feeding
    // common/SegmentPruner.java)
    val pruneFilter =
      if (filterDerived.isEmpty) q.filter
      else q.filter.map(DerivedFilterTranslator.pruneColumn(inst, _))
    val overlapping = DimRanges.pruneSegments(inst, nonEmpty, pruneFilter)
    // explainRoute visibility (RealizationCheck parity): pruning is a
    // silent scan-shrinker, so each axis notes what it dropped. The
    // serving layer collects a trace on EVERY query, so the dropped
    // sets are computed via name sets — not Seq.contains scans that
    // would go quadratic at thousands of segments on this plan path
    if (nonEmpty.size < timeOverlap.size) {
      val kept = nonEmpty.iterator.map(_.name).toSet
      RouteTrace.note("router", cube.name,
        s"empty-segment skip dropped " +
          timeOverlap.iterator.map(_.name).filterNot(kept)
            .mkString(", "))
    }
    if (overlapping.size < nonEmpty.size) {
      val kept = overlapping.iterator.map(_.name).toSet
      RouteTrace.note("router", cube.name,
        s"dim-range pruning dropped " +
          nonEmpty.iterator.map(_.name).filterNot(kept)
            .mkString(", ") + " on the query filter")
    }
    val partial = q.timeRange match {
      case Some((qs, qe)) => overlapping.filterNot(s => qs <= s.start && s.end <= qe)
      case None => Nil
    }
    // residual filter on the time-derived dim, when needed + expressible.
    // Only bounds the user actually wrote must convert — a sentinel
    // (one-sided range) constrains nothing, so requiring it to be
    // expressible would force every one-sided partial range to fall
    // back (ADVICE r8: MaxDay is never month-aligned).
    val residual: Option[(String, Column)] =
      if (partial.isEmpty) None
      else (cube.timeDim, q.timeRange) match {
        case (Some(td), Some((qs, qe))) =>
          val loPred: Option[Option[Column]] =
            if (qs == MinDay) Some(None)
            else td.toDimValue(qs).map(lo => Some(col(td.name) >= lit(lo)))
          val hiPred: Option[Option[Column]] =
            if (qe == MaxDay) Some(None)
            else td.toDimValue(qe).map(hi => Some(col(td.name) < lit(hi)))
          (loPred, hiPred) match {
            case (Some(l), Some(h)) =>
              // a partial segment implies at least one real bound
              (l.toSeq ++ h.toSeq).reduceOption(_ && _).map(td.name -> _)
            case _ => return None
          }
        case _ => return None
      }

    // ── cuboid choice: must cover groupBy (derived dims replaced by
    // their hosts, extended columns dropped — their hosts are already
    // grouped) ∪ filter dims (derived → hosts) ∪ residual dim
    val needed = realGroup.filter(cube.dims.contains).toSet ++
      derivedUsed.map(_.host) ++ q.filterDims.filter(cube.dims.contains) ++
      filterDerived.map(_.host) ++ residual.map(_._1)
    val candidates = cube.cuboids.filter(needed.subsetOf(_))
    if (candidates.isEmpty) return None
    val chosen = candidates.minBy(c => (inst.totalRows(c), c.size))
    val id = cube.cuboidId(chosen)
    val emptyScan = overlapping.isEmpty
    val estRows =
      if (emptyScan) 0L
      else overlapping.map(s => inst.rows.getOrElse((s.name, id), 0L)).sum
    val hostPrune =
      if (filterDerived.isEmpty) None
      else DerivedFilterTranslator.scanPrune(inst, q.filter)
    Some(RoutePlan(chosen, overlapping, emptyScan, residual, derivedUsed,
      filterDerived, extUsed, realGroup, estRows, needed, hostPrune))
  }

  /** This thread's routing handoff to the serving layer (reference:
    * Kylin's query metrics feeding cube planner "phase 2" —
    * CuboidRecommendAlgorithm optimizes the materialized set from what
    * users actually asked). The route that EXECUTED records the
    * cuboid-relevant dim set it needed, and the routing pass records
    * the cubes it could not match; QueryService and the JDBC guard run
    * routing synchronously on their handler thread and `takeForThread`
    * hands both to `QueryLog.served`, the one served-query record. */
  object QueryStats {
    private val lastRec: ThreadLocal[Option[(String, Set[String])]] =
      ThreadLocal.withInitial(() => None)
    def record(cube: String, dims: Set[String]): Unit =
      lastRec.set(Some((cube, dims)))
    /** observe without clearing — for a caller (the result cache) that
      * must not steal the record from the consumer downstream */
    def peekLastForThread(): Option[(String, Set[String])] = lastRec.get()

    // per-routing-pass dedup: one query is attempted against EVERY
    // candidate realization of its view (hybrid + alternates often
    // share a cube name), and each attempt hits the same unmatched
    // dims — without this, demand counts inflate by the realization
    // count. routeFrame opens a pass; recordMiss counts each
    // (cube, unmatched) once per pass.
    private val passSeen
      : ThreadLocal[scala.collection.mutable.Set[(String, Set[String])]] =
      ThreadLocal.withInitial(() =>
        scala.collection.mutable.Set.empty[(String, Set[String])])
    // this thread's CURRENT routing pass's misses (cube, needed,
    // unmatched) — queries a cube could not route because a grouped
    // dim is outside its rowkey; same lifecycle as passSeen
    private val passMisses
      : ThreadLocal[scala.collection.mutable.ArrayBuffer[QueryLog.Miss]] =
      ThreadLocal.withInitial(() =>
        scala.collection.mutable.ArrayBuffer.empty[QueryLog.Miss])
    private[graft] def beginRoutingPass(): Unit = {
      passSeen.get().clear(); passMisses.get().clear(); ()
    }
    def recordMiss(cube: String, needed: Set[String],
                   unmatched: Set[String]): Unit =
      if (passSeen.get().add((cube, unmatched)))
        passMisses.get() += QueryLog.Miss(cube, needed, unmatched)

    /** consume the thread's last executed route (cube, dims) and the
      * current pass's misses; clears both, so one query's handoff never
      * leaks into the next query on this handler thread */
    def takeForThread(): (Option[(String, Set[String])], Seq[QueryLog.Miss]) = {
      val route = lastRec.get(); lastRec.set(None)
      val misses = passMisses.get().toSeq; passMisses.get().clear()
      (route, misses)
    }
  }

  private def routeImpl(spark: SparkSession, inst: CubeInstance,
                        q: CubeQuery, present: Boolean)
                       (fallback: => DataFrame): Routed =
    plan(inst, q) match {
      case None => Routed(fallback, None, Nil, fallback = true)
      case Some(p) => execute(spark, inst, q, p, present)
    }

  /** Execute a plan: scan the chosen cuboid over the surviving
    * segments, apply residual/derived/filter processing, then either
    * re-aggregate mergeable states (the general partial-match path) or
    * — when the cuboid grain IS the query grain on one segment with no
    * reprocessing — present the stored cells directly. */
  private def execute(spark: SparkSession, inst: CubeInstance, q: CubeQuery,
                      p: RoutePlan, present: Boolean): Routed = {
    val cube = inst.cube
    // the served record feeds the planner: hand off only EXECUTED
    // routes (one per answered query, not one per costed candidate)
    QueryStats.record(cube.name, p.needed)
    val id = cube.cuboidId(p.chosen)

    // ── scan: empty overlap short-circuits to an empty result with the
    // right schema (read the cuboid, keep no rows) instead of a
    // zero-path read, which throws.
    val segs = (if (p.emptyScan) cube.segments else p.overlapping).map(_.name)
    var df = inst.readCuboid(spark, id, segs,
      sharded = cube.shardBy.exists(p.chosen.contains))
    if (p.emptyScan) df = df.filter(lit(false))
    p.residual.foreach { case (_, pred) => df = df.filter(pred) }
    // translated host-dim prune BEFORE the snapshot attach: lands on
    // the bare cuboid scan where parquet can act on it (shard dirs,
    // sorted row groups); the real filter still applies below
    p.hostPrune.foreach(c => df = df.filter(c))

    // ── attach derived dims (grouped AND filtered ones): broadcast-
    // join the lookup snapshot on the host dim (snapshots are written
    // under the cube root at build time; host is the lookup's key, so
    // the join is 1:1). The query filter applies AFTER the attach so
    // lookup-attribute predicates resolve.
    (p.derivedUsed ++ p.filterDerived).distinct.foreach { dd =>
      val snap = inst.readSnapshot(spark, dd.lookup)
        .select(col(dd.host), col(dd.name))
      df = df.join(broadcast(snap), Seq(dd.host), "left")
    }
    q.filter.foreach(f => df = df.filter(f))

    // ── lightweight-scan fast path (guide §2.4 "remove shuffles
    // outright"; reference: ResultPlan.scala sizes a routed query's
    // parallelism from its planned scan, a dashboard point-query must
    // not pay fact-scan-sized exchanges): when the chosen cuboid's
    // COMMITTED row counts bound the scan under the serving layer's
    // light/heavy line, coalesce the scan to est/PartitionSplitRows+1
    // partitions. At ≤ PartitionSplitRows the scan becomes ONE
    // partition, which satisfies every downstream distribution — the
    // re-aggregation groupBy and the caller's total-order sort then
    // plan ZERO exchanges (no shuffle, no AQE stage materialization
    // cascade, no range-sampling pass: the r22 probe measured 5–22
    // jobs per sub-second routed query, almost all fixed per-stage
    // overhead). Scale-safe: a cuboid whose committed counts exceed
    // the threshold — or whose counts are missing (unknown ≠ small) —
    // keeps the full scan parallelism, and `coalesce(n)` with n ≥
    // current partitions is a no-op, never a widen.
    val knownRows = !p.emptyScan &&
      p.overlapping.forall(s => inst.rows.contains((s.name, id)))
    // heavy-state gate: estRows counts CELLS, but a dense-HLL state is
    // orders of magnitude more merge work per cell than a scalar —
    // serializing that merge measured +15–40% (min-of-6 A/B,
    // cube_hll_distinct) while every scalar/bitmap/topn/kll key was
    // flat-to-−34%, so only heavy-state queries keep the parallel agg
    val heavyMeasure = (q.measures.map(_._1) ++ p.extUsed.map(_.measure))
      .exists(m => cube.measure(m).heavyState)
    if (knownRows && !heavyMeasure &&
        p.estRows <= QueryService.HeavyRowThreshold) {
      val target =
        (p.estRows / QueryService.PartitionSplitRows + 1).toInt
      df = df.coalesce(target)
    }

    // ── exact-match short-circuit (the reference's storage fast path:
    // when the cuboid's dims equal the query group-by on a single
    // segment with no derived/extended/residual processing, each group
    // is exactly one stored row — the re-aggregation groupBy would
    // merge nothing, so skip it and present the cells directly)
    val exactMatch = p.overlapping.size == 1 && !p.emptyScan &&
      p.residual.isEmpty && p.derivedUsed.isEmpty &&
      p.filterDerived.isEmpty && p.extUsed.isEmpty &&
      p.chosen == p.realGroup.toSet
    if (exactMatch) {
      val out = df.select(
        q.groupBy.map(col) ++ q.measures.map { case (m, alias) =>
          val state = col(cube.measure(m).stateCol)
          (if (present) cube.measure(m).present(state) else state).as(alias)
        }: _*)
      return Routed(out, Some(p.chosen), p.overlapping.map(_.name),
        fallback = false, estRows = p.estRows)
    }

    // ── measureless query (SELECT DISTINCT dims — Kylin answers
    // distinct projections from the cuboid): the cells' dim tuples,
    // deduped across segments/files — never a fact scan
    if (q.measures.isEmpty && p.extUsed.isEmpty) {
      val out = df.select(q.groupBy.map(col): _*).distinct()
      return Routed(out, Some(p.chosen), p.overlapping.map(_.name),
        fallback = false, estRows = p.estRows)
    }

    // ── re-aggregate mergeable states (incl. extended-column value
    // measures), then present: group cols in the REQUESTED order, with
    // extended names served from their measures
    val aggs = (q.measures.map(_._1) ++ p.extUsed.map(_.measure)).distinct
      .map(m => cube.measure(m).fromState(cube.measure(m).stateCol)
        .as(cube.measure(m).stateCol))
    val grouped = df.groupBy(p.realGroup.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val groupCols = q.groupBy.map { n =>
      p.extUsed.find(_.name == n) match {
        case Some(e) =>
          val m = cube.measure(e.measure)
          m.present(col(m.stateCol)).as(n)
        case None => col(n)
      }
    }
    val out = grouped.select(
      groupCols ++ q.measures.map { case (m, alias) =>
        val state = col(cube.measure(m).stateCol)
        (if (present) cube.measure(m).present(state) else state).as(alias)
      }: _*)
    Routed(out, Some(p.chosen), p.overlapping.map(_.name), fallback = false,
      estRows = p.estRows)
  }
}
