package graft.cube

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.functions.{broadcast, coalesce, col, countDistinct, expr, lit, max, min, posexplode, split}
import org.apache.spark.sql.types.{DoubleType, IntegerType, NumericType, StringType}

import graft.functions.Measures

/** Transparent SQL → cuboid routing: the reference's defining feature
  * (kylin-spark-query SparderContext + runtime/plans/TableScanPlan —
  * Calcite matches a SQL aggregate against the cube and swaps in a
  * cuboid scan). graft's version pattern-matches Spark's ANALYZED plan
  * for `Aggregate [dims ⊆ cube dims ∪ derived dims] [measures the cube
  * answers]` over a REGISTERED CUBE VIEW (optionally through a dim-only
  * Filter, with ORDER BY / LIMIT / HAVING peeled above) and answers it
  * from the routed cuboid; anything else falls back to the original
  * Spark plan — exactly Kylin's query-pushdown behavior, with Catalyst
  * standing in for Calcite.
  *
  * Measure recognition is METADATA-DRIVEN (`Measure.answers` /
  * `Measure.topnShape` on the CubeDef — reference:
  * core-metadata/.../measure/MeasureTypeFactory dispatch +
  * query/.../RealizationChooser), so ANY registered cube routes, not
  * just the default star: one view per cube, each bound to its built
  * instance. Rewrites beyond plain measures:
  *  - AVG(x)    → routed SUM(x) state / routed COUNT(*) state (Kylin's
  *    avg rewrite)
  *  - approx_count_distinct → HLL measure estimate
  *    (HLLCMeasureType.java:40-47); percentile_approx(col, p) → the
  *    quantile-sketch state evaluated at the query's own p
  *    (PercentileMeasureType.java:83-95)
  *  - `GROUP BY <topn dims> ORDER BY SUM(v) DESC LIMIT n` → the
  *    pre-computed TopN sketch (TopNMeasureType.java:129), global or
  *    per-group (rank-filter idiom), with dim filters off the sketch
  *    dims applied pre-merge; refused if any merged state was
  *    capacity-trimmed (approximate)
  *  - `intersect_count(key, dim, array(...))` → bitmap-state AND
  *    (BitmapIntersectDistinctCountAggFunc.java); the same call is SQL-
  *    registered as an exact raw-row aggregate so unrouted plans still
  *    answer correctly
  *  - MIN/MAX/COUNT DISTINCT over DIM columns with no declared measure
  *    → cuboid-cell post-aggregation (dimension-as-measure)
  *  - GROUPING SETS / ROLLUP / CUBE → full-dims cells routed once,
  *    each set answered by one cuboid-cell re-aggregation
  *  - user-written model joins (typed per edge, incl LEFT) and
  *    derived-dim group-bys/filters via lookup snapshots
  */
object GraftSql {

  val ViewName = "graft_star"
  val EventsViewName = "graft_events"
  val HybridViewName = "graft_star_hybrid"

  /** how a query was answered. `estRows` is the routed plan's estimated
    * cuboid scan rows (None on fallback) — the serving layer weighs its
    * scheduler pool by it (QueryService.poolFor). `fromCache` marks a
    * result-cache HIT: the frame replays persisted blocks, so per-query
    * scan actuals would otherwise re-report the cache BUILD's reads
    * (ADVICE r12) — the serving layer reports 0 actuals for hits. */
  final case class SqlResult(df: DataFrame, routed: Boolean, via: String,
      estRows: Option[Long] = None, fromCache: Boolean = false,
      route: Option[(String, Set[String])] = None)

  /** one SQL-routable cube: registered view name + its flat table (the
    * view source / fallback) + built-instance supplier + optionally a
    * star model (so user-written joins over `rawTables` route too).
    * `alternates` are additional REALIZATIONS of the same view (Kylin:
    * many cubes per model) — the front-end picks the cheapest covering
    * one per query (RealizationChooser). Every realization supplier is
    * consulted per routed query, so suppliers MUST be cheap after
    * their first call (memoized and metadata-backed, like the
    * CubeManager.ensure* family) — an unmemoized builder would pay its
    * build even for queries it loses. */
  final case class Binding(view: String,
      flat: (SparkSession, String) => DataFrame,
      instance: (SparkSession, String) => CubeInstance,
      model: Option[ModelDef] = None,
      rawTables: Seq[String] = Nil,
      alternates: Seq[(SparkSession, String) => CubeInstance] = Nil,
      /** hybrid (time-spliced multi-cube) realizations of this view —
        * tried BEFORE the plain realizations, mirroring Kylin's
        * RealizationChooser where a hybrid outranks its own member
        * cubes (HybridInstance cost priority) */
      hybrids: Seq[(SparkSession, String) => HybridInstance] = Nil,
      /** per-raw-table loader OVERRIDES for tables with a declared
        * batch SOURCE (CubeJson.JsonSource — catalog/JDBC/file): the
        * view registration resolves these through the source instead
        * of the `<sfDir>/<table>.parquet` convention, so user-written
        * joins over source-bound tables route like any other */
      rawLoaders: Map[String, (SparkSession, String) => DataFrame] =
        Map.empty) {
    def realizations: Seq[(SparkSession, String) => CubeInstance] =
      instance +: alternates
  }

  /** extension point: additional cube views registered at runtime
    * (specs, multi-cube deployments) — keyed by view name; registering
    * a built-in name REPLACES the built-in everywhere (routing and view
    * data come from one binding, never a mix) */
  private val extraBindings =
    scala.collection.concurrent.TrieMap.empty[String, Binding]

  def registerBinding(b: Binding): Unit = {
    // a raw re-bind invalidates the declaration layer's unchanged-doc
    // memo for this view: the next register of an identical document
    // must actually re-register, not read the foreign binding as its
    // own (harmless for the declaration path itself — register() puts
    // its memo entry back right after this call)
    CubeJson.invalidateRegisteredSpec(b.view)
    extraBindings.put(b.view, b)
    viewsRegistered.synchronized(viewsRegistered.clear()) // force view re-registration on next query
    // a (re-)registered binding changes what queries route to: drop
    // every cached result and flip the version folded into the cache
    // key, so a view re-bound to new data can never serve a stale
    // persisted result (ADVICE r10). Extension-owned realizations that
    // are REBUILT in place are invisible to realizationStamps — their
    // contract is to re-register after a rebuild (or route through
    // CubeManager-backed suppliers, which are stamped).
    bindingsVersion.incrementAndGet()
    clearResultCache()
  }

  private val bindingsVersion = new java.util.concurrent.atomic.AtomicLong(0L)

  /** drop (and unpersist) every cached result — called when the set of
    * bindings changes or the manager's instances reset */
  private[graft] def clearResultCache(): Unit = resultCache.synchronized {
    resultCache.valuesIterator.foreach(r =>
      scala.util.Try(r.df.unpersist()): Unit)
    resultCache.clear()
  }

  def bindings: Seq[Binding] = {
    val builtin = Seq(
      Binding(ViewName, CubeManager.flatTable, CubeManager.ensureBuilt,
        model = Some(CubeManager.starModel),
        rawTables = BuiltinCubes.star.model.tables),
      Binding(EventsViewName, CubeJson.flatBuilder(BuiltinCubes.events),
        CubeManager.ensureEventsBuilt),
      // the schema-evolution view: an old/new cube pair spliced at the
      // cutover answers first — every rewrite family the members'
      // measures support (generic, sketches, intersect, dim-as-
      // measure); the wide star instance covers whatever the hybrid
      // still refuses (e.g. measures the members don't declare)
      Binding(HybridViewName, CubeManager.flatTable, CubeManager.ensureBuilt,
        hybrids = Seq((s, d) =>
          CubeJson.ensureDeclaredHybrid(s, d, BuiltinCubes.hybrid))))
    builtin.filterNot(b => extraBindings.contains(b.view)) ++
      extraBindings.values
  }

  /** recognized output shapes: a routed measure, a derived combination
    * of routed measures (avg), or a bitmap-state intersection */
  private[graft] sealed trait MOut { def measures: Seq[String] }
  private[graft] final case class MCol(m: String) extends MOut {
    def measures: Seq[String] = Seq(m)
  }
  private[graft] final case class MAvg(sumM: String, cntM: String) extends MOut {
    def measures: Seq[String] = Seq(sumM, cntM)
  }
  private[graft] final case class MIntersect(bitmapM: String, dim: String,
      vals: Seq[String], value: Boolean = false) extends MOut {
    def measures: Seq[String] = Seq(bitmapM)
  }
  /** percentile_approx(col, p) answered by evaluating the measure's
    * quantile-sketch state at the query's own p (the declared present
    * is percentile-agnostic state → one default rank; the SQL surface
    * must honor the requested rank — PercentileMeasureType.java:83-95) */
  private[graft] final case class MQuantile(m: String, p: Double) extends MOut {
    def measures: Seq[String] = Seq(m)
  }
  /** MIN/MAX/COUNT DISTINCT over a DIMENSION column with no declared
    * measure: dims are exact in every cuboid, so the query routes by
    * adding the dim to the cuboid group-by and post-aggregating
    * (Kylin's dimension-as-measure answering — query/.../
    * FunctionDesc.java DIMENSION_AS_MEASURE). `op` ∈ min/max/cd. */
  private[graft] final case class MDimAgg(dim: String, op: String) extends MOut {
    def measures: Seq[String] = Nil
  }

  /** non-null inputs ⇒ non-null output: closed add/subtract/multiply
    * arithmetic over attributes, non-null literals, numeric-to-numeric
    * casts (never null with ANSI off), and decimal overflow guards —
    * everything else (Divide, CASE, nullif, string casts) may
    * introduce nulls and refuses.
    *
    * Caveat (ADVICE r8, documented contract): with ANSI off, DECIMAL
    * arithmetic that overflows its result precision yields NULL, which
    * would break the ⇒ above. The whitelist therefore assumes the
    * declared-non-null columns also don't overflow their widened result
    * types — the same trust the `notNull` contract itself embodies
    * (Spark widens decimal results, so TPC-H-scale inputs cannot reach
    * the 38-digit ceiling; an overflowing model should not declare the
    * column). */
  private def nullSafeArithmetic(e: Expression): Boolean = e match {
    case _: AttributeReference => true
    case l: Literal => l.value != null
    case c: Cast =>
      c.child.resolved && c.child.dataType.isInstanceOf[NumericType] &&
        c.dataType.isInstanceOf[NumericType] && nullSafeArithmetic(c.child)
    case CheckOverflow(child, _, _) => nullSafeArithmetic(child)
    case b @ (_: Add | _: Subtract | _: Multiply) =>
      b.children.forall(nullSafeArithmetic)
    case _ => false
  }

  /** literal string array in an analyzed plan (array('a','b') stays a
    * CreateArray of literals pre-optimization). A NULL element anywhere
    * means the shape is NOT recognized (clean fallback) — coercing it
    * would NPE mid-route (ADVICE r4). */
  private def constStrings(e: Expression): Option[Seq[String]] = e match {
    case CreateArray(elems, _)
        if elems.forall(x => x.isInstanceOf[Literal] &&
          x.dataType == StringType && x.eval(null) != null) =>
      Some(elems.map(_.eval(null).toString))
    case Literal(arr: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(StringType, _)) =>
      val vals = arr.toArray[org.apache.spark.unsafe.types.UTF8String](StringType)
      if (vals.contains(null)) None else Some(vals.map(_.toString).toSeq)
    case _ => None
  }

  /** measure recognition: SQL aggregate shape → output spec, driven by
    * the cube's measure metadata. FILTER (WHERE ...) clauses are
    * matched as `None` explicitly — a filtered aggregate must fall back
    * (ADVICE r3: wildcarding the filter would silently drop it). */
  private[graft] def measureOf(cube: CubeDef, e: AggregateExpression): Option[MOut] =
    e match {
      case AggregateExpression(Sum(a: AttributeReference, _), _, false, None, _) =>
        cube.measureAnswering(SqlAgg.SumOf(a.name)).map(m => MCol(m.name))
      // SUM over a composite expression: matched against a measure's
      // DEFINING expression by canonicalized tree equality, so the
      // literal `SUM(l_extendedprice * (1 - l_discount))` answers from
      // the pre-computed revenue state (FunctionDesc parameter matching)
      case AggregateExpression(Sum(e, _), _, false, None, _) =>
        cube.measureAnsweringSumExpr(e).map(m => MCol(m.name))
      case AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _) =>
        cube.measureAnswering(SqlAgg.CountAll).map(m => MCol(m.name))
      // COUNT(col) counts non-null rows — equal to COUNT(*) only under
      // the cube's NOT NULL contract (Kylin rewrites count(col) onto
      // the row counter the same way; a nullable column falls back)
      case AggregateExpression(Count(Seq(a: AttributeReference)), _, false, None, _)
          if cube.notNull.contains(a.name) =>
        cube.measureAnswering(SqlAgg.CountAll).map(m => MCol(m.name))
      // declared measures win; a DIMENSION column answers min/max/
      // count-distinct by itself (dims are exact in every cuboid —
      // Kylin's dimension-as-measure)
      case AggregateExpression(Count(Seq(a: AttributeReference)), _, true, None, _) =>
        cube.measureAnswering(SqlAgg.CountDistinctOf(a.name))
          .map(m => MCol(m.name): MOut)
          .orElse(if (cube.dims.contains(a.name))
            Some(MDimAgg(a.name, "cd")) else None)
      case AggregateExpression(Min(a: AttributeReference), _, false, None, _) =>
        cube.measureAnswering(SqlAgg.MinOf(a.name))
          .map(m => MCol(m.name): MOut)
          .orElse(if (cube.dims.contains(a.name))
            Some(MDimAgg(a.name, "min")) else None)
      case AggregateExpression(Max(a: AttributeReference), _, false, None, _) =>
        cube.measureAnswering(SqlAgg.MaxOf(a.name))
          .map(m => MCol(m.name): MOut)
          .orElse(if (cube.dims.contains(a.name))
            Some(MDimAgg(a.name, "max")) else None)
      // avg = exact sum state / count state, assembled from two routed
      // measures — the same rewrite Kylin applies to AVG. Spark's AVG
      // divides by COUNT(x) (non-null rows), our rewrite by COUNT(*):
      // only equivalent when the cube declares the column non-null in
      // its flat table (ADVICE r4) — nullable columns fall back.
      case AggregateExpression(Average(a: AttributeReference, _), _, false, None, _)
          if cube.notNull.contains(a.name) =>
        for {
          s <- cube.measureAnswering(SqlAgg.SumOf(a.name))
          c <- cube.measureAnswering(SqlAgg.CountAll)
        } yield MAvg(s.name, c.name)
      // AVG over a composite expression: sum-expr state / COUNT(*),
      // sound when the expression can't produce null from non-null
      // inputs — a WHITELIST of closed arithmetic, because blacklisting
      // null sources (Divide on zero, CASE without ELSE, nullif, bad
      // string casts) is unwinnable
      case AggregateExpression(Average(e, _), _, false, None, _)
          if e.references.nonEmpty &&
            e.references.forall(r => cube.notNull.contains(r.name)) &&
            nullSafeArithmetic(e) =>
        for {
          s <- cube.measureAnsweringSumExpr(e)
          c <- cube.measureAnswering(SqlAgg.CountAll)
        } yield MAvg(s.name, c.name)
      // approx_count_distinct → the HLL measure's estimate (Kylin's
      // hllc rewrite). The rsd argument is ignored: the sketch was
      // sized at build time, as in the reference.
      case AggregateExpression(
          hll: HyperLogLogPlusPlus, _, false, None, _) =>
        hll.child match {
          case a: AttributeReference =>
            cube.measureAnswering(SqlAgg.ApproxDistinctOf(a.name))
              .map(m => MCol(m.name))
          case _ => None
        }
      // percentile_approx(col, p [, accuracy]) → the quantile sketch
      // evaluated at p; only a scalar literal p routes (an array p
      // returns an array — different shape, clean fallback)
      case AggregateExpression(
          ap: ApproximatePercentile, _, false, None, _) =>
        // the analyzed percentage is often Cast(decimal-literal) —
        // foldable, but not a bare Literal until the optimizer runs
        (ap.child, ap.percentageExpression) match {
          case (a: AttributeReference, pe)
              if pe.foldable && pe.dataType == DoubleType &&
                pe.eval(null) != null =>
            cube.measureAnswering(SqlAgg.PercentileOf(a.name))
              .map(m => MQuantile(m.name, pe.eval(null).asInstanceOf[Double]))
          case _ => None
        }
      // intersect_count / intersect_value (key, dim, array(...)) → the
      // bitmap measure over `key`, intersected across `vals` of cube
      // dim `dim`; _value returns the member ids instead of the count
      case AggregateExpression(sa: ScalaAggregator[_, _, _], _, false, None, _)
          if sa.agg.isInstanceOf[Measures.IntersectCountAggregator] ||
            sa.agg.isInstanceOf[Measures.IntersectValueAggregator] =>
        sa.children match {
          case Seq(k: AttributeReference, d: AttributeReference, valsE) =>
            for {
              m <- cube.measureAnswering(SqlAgg.CountDistinctOf(k.name))
              vals <- constStrings(valsE)
              if cube.dims.contains(d.name)
            } yield MIntersect(m.name, d.name, vals,
              value = sa.agg.isInstanceOf[Measures.IntersectValueAggregator])
          case _ => None
        }
      case _ => None
    }

  /** Temp-view names are GLOBAL to a session, so the memo tracks which
    * sfDir the session's views are CURRENTLY bound to — not the set of
    * sfDirs ever registered. Keying on (session, sfDir) would skip
    * re-registration after an intervening sfDir bound the same view
    * names to different data (ADVICE r5: routing would then use sfA's
    * cube while fallbacks read sfB's views). */
  // keyed on sessionUUID STRINGS with a size bound — never on session
  // objects: a process churning short-lived cloned sessions (one per
  // JDBC connection) must not accrete strong session refs in a static
  // map (the same hazard fixed in GraftCatalog, r14 wrong #1). An
  // eviction or unseen uuid merely re-runs idempotent temp-view DDL.
  private val ViewsCap = 64
  private val viewsRegistered =
    scala.collection.mutable.LinkedHashMap.empty[String, String]
  private def viewsKey(spark: SparkSession): String =
    org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(spark)
  private def viewsGet(spark: SparkSession): Option[String] =
    viewsRegistered.synchronized(viewsRegistered.get(viewsKey(spark)))
  private def viewsPut(spark: SparkSession, dir: String): Unit =
    viewsRegistered.synchronized {
      val k = viewsKey(spark)
      viewsRegistered.remove(k)
      viewsRegistered.put(k, dir)
      while (viewsRegistered.size > ViewsCap)
        viewsRegistered.remove(viewsRegistered.head._1): Unit
    }

  /** register every cube view + the intersect_count SQL function (once
    * per session while the sfDir stays the same — re-analysis per query
    * is wasted work at high QPS) */
  /** store-resident cube declarations: `registerViews` scans this dir
    * (when set) before binding views, so a fresh serving process
    * discovers operator-dropped JSON cubes with zero code */
  val CubeDefDirConf = "spark.graft.cubeDefDir"
  /** TTL for re-scanning the declaration dir on a LONG-RUNNING serving
    * session (VERDICT r15 item 2): without it, a bound (session,
    * sfDir) pair never discovered a newly dropped `*.json` until
    * something else rebound — undercutting "deployment is a file
    * drop" (reference: core-metadata cachesync/Broadcaster.java pushes
    * reloads to serving nodes; graft pulls on a window instead). Cost
    * per elapsed window: ONE listStatus — file contents are read only
    * when their (name, mtime, len) signature moved. */
  val CubeDefRescanConf = "spark.graft.cubeDefRescanMs"
  val DefaultCubeDefRescanMs = 30000L
  private val lastDefScan =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    if (!viewsGet(spark).contains(sfDir)) synchronized {
      if (!viewsGet(spark).contains(sfDir)) {
        // declarations first: a registerDir that (re)registers a
        // binding clears viewsRegistered, which we are about to set —
        // the order makes the new binding's view land in THIS pass
        spark.conf.getOption(CubeDefDirConf).filter(_.nonEmpty)
          .foreach { d =>
            lastDefScan.put(d, System.currentTimeMillis())
            CubeJson.registerDir(spark, d): Unit
          }
        bindings.foreach { b =>
          b.flat(spark, sfDir).createOrReplaceTempView(b.view)
          // raw star tables, so user-written model joins resolve —
          // source-bound tables (rawLoaders) resolve through their
          // declared source, never the parquet convention
          b.rawTables.foreach(n =>
            b.rawLoaders.get(n)
              .map(_(spark, sfDir))
              .getOrElse(graft.Tables.tbl(spark, sfDir, n))
              .createOrReplaceTempView(n))
        }
        Measures.registerIntersectCount(spark)
        viewsPut(spark, sfDir)
      }
    }
    else spark.conf.getOption(CubeDefDirConf).filter(_.nonEmpty)
      .foreach { d =>
        // bound steady state: pull-rescan the store once per window.
        // An unchanged dir costs one listStatus and registers nothing
        // (the result cache survives untouched); a changed/new
        // declaration (re)registers, which clears the views memo —
        // re-enter so the new binding's view lands in THIS call and
        // the very query that triggered the window can use it.
        val ttl = spark.conf.getOption(CubeDefRescanConf).map(_.toLong)
          .getOrElse(DefaultCubeDefRescanMs)
        val now = System.currentTimeMillis()
        val due = synchronized {
          val d0 = lastDefScan.get(d).forall(now - _ >= ttl)
          if (d0) lastDefScan.put(d, now): Unit
          d0
        }
        // the rescan is OPPORTUNISTIC: a transient store error
        // (listing or read) must never fail the user query that
        // happened to trigger the window — the bindings and caches
        // that can answer it are intact. Log and retry next window.
        if (due) scala.util.Try(CubeJson.registerDir(spark, d)) match {
          case scala.util.Success(registered) if registered.nonEmpty =>
            registerViews(spark, sfDir)
          case scala.util.Failure(e) =>
            System.err.println(
              s"[graft-cube-def] rescan of $d failed (will retry " +
                s"next window): ${e.getMessage}")
          case _ => ()
        }
      }
  }

  /** back-compat: the default star view only */
  def registerView(spark: SparkSession, sfDir: String): Unit =
    registerViews(spark, sfDir)

  /** a predicate is routable only if it is deterministic, subquery-free
    * (ADVICE r3: rand() has no references and subqueries don't survive
    * the expr() round-trip), and references only `allowed` names */
  private def routablePred(cond: Expression, allowed: String => Boolean): Boolean =
    cond.deterministic &&
      !cond.exists(_.isInstanceOf[SubqueryExpression]) &&
      cond.references.forall(r => allowed(r.name))

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    // BETWEEN survives analysis as a RuntimeReplaceable node (the
    // optimizer expands it later) whose replacement hides the input
    // behind CommonExpressionRef nodes — rebuild the equivalent
    // `input >= lower AND input <= upper` conjunct pair directly
    case Between(input, lower, upper, _) =>
      Seq(GreaterThanOrEqual(input, lower), LessThanOrEqual(input, upper))
    case other => Seq(other)
  }

  /** a foldable timestamp/date bound as (calendar day it falls in,
    * whether it sits exactly on midnight) in the session time zone.
    * Midnight bounds are exact day boundaries for any temporal type;
    * mid-day instants are only convertible under a cube's day contract
    * (the caller decides — FilePruner.scala:198-286 likewise derives
    * general ranges from arbitrary pushed bounds) */
  private def dayOf(spark: SparkSession, e: Expression)
    : Option[(String, Boolean)] =
    e match {
      case _ if !e.foldable => None
      case _ if e.dataType == org.apache.spark.sql.types.TimestampType =>
        Option(e.eval(null)).collect { case micros: Long =>
          val zid = java.time.ZoneId.of(
            spark.sessionState.conf.sessionLocalTimeZone)
          val ldt = java.time.Instant
            .ofEpochSecond(Math.floorDiv(micros, 1000000L),
              Math.floorMod(micros, 1000000L) * 1000L)
            .atZone(zid).toLocalDateTime
          (ldt.toLocalDate.toString,
            ldt.toLocalTime == java.time.LocalTime.MIDNIGHT)
        }
      case _ if e.dataType == org.apache.spark.sql.types.DateType =>
        Option(e.eval(null)).collect { case days: Int =>
          (java.time.LocalDate.ofEpochDay(days.toLong).toString, true)
        }
      case _ => None
    }

  /** Derive a segment-pruning time range from WHERE conjuncts over the
    * cube's segment column (reference: FilePruner.scala:198-286
    * pruneSegments derives segment ranges from the query's pushed
    * filters). `segCol >= <midnight literal>` and `segCol <
    * <midnight literal>` (either operand order) are exact as a
    * [day, day) bound for any temporal type; the closed/equality
    * shapes (`<=`, `=`, strict `>` below a bound, and BETWEEN — which
    * analyzes to the >=/<= conjunct pair) additionally need the day
    * contract: a DATE-typed column, or the cube's declared
    * `segDayGranular`, guarantees no value sits strictly between
    * `d` and `d+1day`, so `col <= d` ⇔ `col < d+1day`. Anything else
    * refuses so the router falls back rather than over- or
    * under-returning rows. One-sided ranges get open sentinel bounds. */
  private def deriveTimeRange(spark: SparkSession, cube: CubeDef,
      preds: Seq[Expression]): Option[(String, String)] = {
    val segCol = cube.segmentCol
    // the segment column, possibly under the analyzer's widening cast
    // (date/ntz column compared to a timestamp literal) — the cast is
    // day-preserving so the derived range stays exact
    object SegAttr {
      def unapply(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference if a.name == segCol => Some(a)
        case Cast(a: AttributeReference, _, _, _) if a.name == segCol => Some(a)
        case _ => None
      }
    }
    def dayExact(a: AttributeReference): Boolean =
      a.dataType == org.apache.spark.sql.types.DateType || cube.segDayGranular
    // clamped at the open-range sentinel: LocalDate would render the
    // day after 9999-12-31 as "+10000-01-01", whose leading '+' sorts
    // lexically BEFORE every real date and silently inverts the
    // derived range (`<= '9999-12-31'` would answer zero rows). No
    // representable segment [start, end) can contain the sentinel day
    // itself (end would have to exceed it), so the clamp loses nothing.
    def nextDay(d: String): String =
      if (d >= QueryRouter.MaxDay) QueryRouter.MaxDay
      else java.time.LocalDate.parse(d).plusDays(1).toString
    // normalize to (op against the column on the LEFT, bound expr,
    // whether the day contract holds for the column)
    sealed trait Op
    case object GE extends Op; case object GT extends Op
    case object LE extends Op; case object LT extends Op
    case object EQ extends Op
    val normalized: Seq[Option[(Op, Expression, Boolean)]] = preds.map {
      case GreaterThanOrEqual(SegAttr(a), v) => Some((GE, v, dayExact(a)))
      case GreaterThanOrEqual(v, SegAttr(a)) => Some((LE, v, dayExact(a)))
      case GreaterThan(SegAttr(a), v) => Some((GT, v, dayExact(a)))
      case GreaterThan(v, SegAttr(a)) => Some((LT, v, dayExact(a)))
      case LessThan(SegAttr(a), v) => Some((LT, v, dayExact(a)))
      case LessThan(v, SegAttr(a)) => Some((GT, v, dayExact(a)))
      case LessThanOrEqual(SegAttr(a), v) => Some((LE, v, dayExact(a)))
      case LessThanOrEqual(v, SegAttr(a)) => Some((GE, v, dayExact(a)))
      case EqualTo(SegAttr(a), v) => Some((EQ, v, dayExact(a)))
      case EqualTo(v, SegAttr(a)) => Some((EQ, v, dayExact(a)))
      case _ => None
    }
    // scala.Left = lower bound (inclusive), scala.Right = upper
    // (exclusive) — fully qualified, catalyst has Left/Right exprs.
    // Midnight >= / < bounds are exact for any temporal type; every
    // other (op, instant) combination is exact only under the day
    // contract, where values sit on midnights so a mid-day instant
    // floors/ceils to the enclosing day boundary (VERDICT r8 item 1;
    // mid-day equality can match nothing — an intentionally empty
    // range, which the router answers with an empty scan):
    //   col >= t → [ceil(t), ∞)      col > t → [ceil(t+ε), ∞)
    //   col <  t → (-∞, ceil(t))     col <= t → (-∞, ceil(t+ε))
    //   col =  t → [t, t+1day) at midnight, ∅ otherwise
    val bounds: Seq[Option[Seq[Either[String, String]]]] =
      normalized.map(_.flatMap { case (op, v, exact) =>
        dayOf(spark, v).flatMap { case (d, midnight) =>
          (op, midnight) match {
            case (GE, true) => Some(Seq(scala.Left(d)))
            case (GE, false) if exact => Some(Seq(scala.Left(nextDay(d))))
            case (GT, _) if exact => Some(Seq(scala.Left(nextDay(d))))
            case (LT, true) => Some(Seq(scala.Right(d)))
            case (LT, false) if exact => Some(Seq(scala.Right(nextDay(d))))
            case (LE, _) if exact => Some(Seq(scala.Right(nextDay(d))))
            case (EQ, true) if exact =>
              Some(Seq(scala.Left(d), scala.Right(nextDay(d))))
            case (EQ, false) if exact =>
              // no day-contract value equals a mid-day instant:
              // lo > hi ⇒ zero segments overlap ⇒ empty answer
              Some(Seq(scala.Left(nextDay(d)), scala.Right(d)))
            case _ => None
          }
        }
      })
    if (bounds.exists(_.isEmpty)) None
    else {
      val flat = bounds.flatten.flatten
      val lo = flat.collect { case scala.Left(d) => d }
        .maxOption.getOrElse(QueryRouter.MinDay)
      val hi = flat.collect { case scala.Right(d) => d }
        .minOption.getOrElse(QueryRouter.MaxDay)
      Some((lo, hi))
    }
  }

  /** Split a WHERE condition below the aggregate into (routable dim
    * predicate SQL, its dims, derived segment time range): conjuncts
    * referencing only the segment column become the time range; every
    * other conjunct must be deterministic, subquery-free and reference
    * only materialized/derived dims. None ⇔ the filter can't route
    * against this cube. */
  private def splitFilter(spark: SparkSession, cube: CubeDef,
      cond: Expression)
    : Option[(Option[String], Set[String], Option[(String, String)])] = {
    val conjuncts = splitConjuncts(cond)
    val (timeParts, rest) = conjuncts.partition(c =>
      c.references.nonEmpty && c.references.forall(_.name == cube.segmentCol))
    val restOk = rest.forall(c => routablePred(c, n =>
      cube.dims.contains(n) || cube.derivedDim(n).isDefined))
    if (!restOk) None
    else {
      val range =
        if (timeParts.isEmpty) Some(None)
        else deriveTimeRange(spark, cube, timeParts).map(Some(_))
      range.map { tr =>
        val restSql = rest.reduceOption(And.apply).map(_.transform {
          case a: AttributeReference => a.withQualifier(Seq.empty)
        }.sql)
        (restSql, rest.flatMap(_.references.map(_.name)).toSet, tr)
      }
    }
  }

  /** peeled ORDER BY (as both structure and columns) + LIMIT above the
    * aggregate; sorts are attribute-only. `winCols` are window
    * expressions computed ABOVE the aggregate (OLAPWindowRule parity —
    * Kylin computes window functions over the cube result), re-applied
    * on the routed frame; `finalNames` is the outer projection. */
  private final case class Peeled(agg: Aggregate,
                                  sorts: Seq[(String, Boolean)], // (name, desc)
                                  sortCols: Seq[Column],
                                  limit: Option[Int],
                                  havingSql: Option[String] = None,
                                  winCols: Seq[(String, String)] = Nil,
                                  finalNames: Seq[String] = Nil,
                                  winRaw: Seq[(Expression, String)] = Nil,
                                  winFilters: Seq[Expression] = Nil,
                                  winFilterSqls: Seq[String] = Nil)

  /** Walks a Project/Filter/Window/SubqueryAlias stack above the
    * aggregate: pass-through projections of plain attributes, filters
    * (validated by the caller to sit ABOVE a window — they must
    * reference a window output), plus any number of Window layers whose
    * expressions are deterministic and subquery-free. Returns (outer
    * projection names, window exprs as (sql, alias, raw), filters, the
    * plan below the stack) — None when no Window is present or anything
    * else appears. The rank-filter shape this admits — row_number()
    * in a subquery, WHERE rn <= n outside — is the standard per-group
    * top-N idiom the reference's topn rewrite recognizes
    * (TopNMeasureType.java:129-170). */
  private def peelWindowStack(plan: LogicalPlan,
      outNames: Option[Seq[String]] = None,
      wins: Seq[(String, String, Expression)] = Nil,
      filters: Seq[Expression] = Nil)
    : Option[(Seq[String], Seq[(String, String, Expression)],
              Seq[Expression], LogicalPlan)] = plan match {
    case Project(projs, c) if projs.forall(_.isInstanceOf[AttributeReference]) =>
      peelWindowStack(c, outNames.orElse(Some(projs.map(_.name))), wins, filters)
    case Filter(cond, c)
        if cond.deterministic &&
          !cond.exists(_.isInstanceOf[SubqueryExpression]) =>
      peelWindowStack(c, outNames, wins, filters :+ cond)
    case Window(winExprs, _, _, c, _) =>
      val parsed = winExprs.map {
        case a @ Alias(we, name)
            if a.deterministic &&
              !we.exists(_.isInstanceOf[SubqueryExpression]) =>
          val bare = we.transform {
            case at: AttributeReference => at.withQualifier(Seq.empty)
          }
          Some((bare.sql, name, bare))
        case _ => None
      }
      if (parsed.forall(_.isDefined))
        peelWindowStack(c, outNames, parsed.flatten ++ wins, filters)
      else None
    case SubqueryAlias(_, c) => peelWindowStack(c, outNames, wins, filters)
    case other if wins.nonEmpty =>
      Some((outNames.getOrElse(Nil), wins, filters, other))
    case _ => None
  }

  private def peel(plan: LogicalPlan): Option[Peeled] = plan match {
    case a: Aggregate => Some(Peeled(a, Nil, Nil, None))
    // DISTINCT is a measureless aggregate over its child's output (the
    // optimizer performs the same rewrite; routing happens earlier)
    case Distinct(child) =>
      Some(Peeled(Aggregate(child.output, child.output, child), Nil, Nil,
        None))
    // subquery wrappers (SELECT * FROM (...) t, inlined CTE refs) are
    // transparent
    case s: SubqueryAlias => peel(s.child)
    // window functions computed over the aggregate result: peel the
    // Project/Filter/Window stack, route the aggregate below it,
    // re-apply windows + rank filters on the routed frame (reference:
    // OLAPWindowRule — Kylin evaluates window calls on top of the cube
    // scan)
    case p: Project =>
      val viaWindow = for {
        (outNames, wins, filters, inner) <- peelWindowStack(p)
        peeled <- peel(inner)
        if peeled.winCols.isEmpty // one window stack, directly above agg
        // a peeled filter must reference a window output: that pins it
        // ABOVE the Window node (below it those attributes don't
        // exist), so re-applying it after the windows is sound
        winNames = wins.map(_._2).toSet
        if filters.forall(_.references.exists(r => winNames(r.name)))
      } yield peeled.copy(
        winCols = wins.map(w => (w._1, w._2)),
        winRaw = wins.map(w => (w._3, w._2)),
        winFilters = filters,
        winFilterSqls = filters.map(_.transform {
          case at: AttributeReference => at.withQualifier(Seq.empty)
        }.sql),
        finalNames = outNames)
      // an IDENTITY projection (same attributes, same order — what
      // `SELECT * FROM (...)` analyzes to) is transparent; a pruning
      // or reordering projection is NOT (it changes the output
      // contract) and refuses
      viaWindow.orElse {
        if (p.projectList.forall(_.isInstanceOf[AttributeReference]) &&
            p.projectList.map(_.exprId) == p.child.output.map(_.exprId))
          peel(p.child)
        else None
      }
    // HAVING: a filter directly above the aggregate, referencing only
    // its output attributes (aliases) — re-applied on the routed frame
    case Filter(cond, a: Aggregate)
        if routablePred(cond, r => a.output.exists(_.name == r)) =>
      val bare = cond.transform {
        case at: AttributeReference => at.withQualifier(Seq.empty)
      }
      Some(Peeled(a, Nil, Nil, None, Some(bare.sql)))
    case Sort(order, true, inner, _) =>
      val parsed = order.map {
        case SortOrder(a: AttributeReference, Ascending, NullsFirst, _) =>
          Some((a.name, false, col(a.name).asc_nulls_first))
        case SortOrder(a: AttributeReference, Ascending, NullsLast, _) =>
          Some((a.name, false, col(a.name).asc_nulls_last))
        case SortOrder(a: AttributeReference, Descending, NullsFirst, _) =>
          Some((a.name, true, col(a.name).desc_nulls_first))
        case SortOrder(a: AttributeReference, Descending, NullsLast, _) =>
          Some((a.name, true, col(a.name).desc_nulls_last))
        case _ => None
      }
      if (parsed.forall(_.isDefined))
        peel(inner).map(p => p.copy(
          sorts = parsed.flatten.map(t => (t._1, t._2)) ++ p.sorts,
          sortCols = parsed.flatten.map(_._3) ++ p.sortCols))
      else None
    case GlobalLimit(Literal(n: Int, _), LocalLimit(_, inner)) =>
      peel(inner).map(_.copy(limit = Some(n)))
    case _ => None
  }

  /** Backward-compatible entry: (result, routed?). */
  def sql(spark: SparkSession, sfDir: String, query: String)
    : (DataFrame, Boolean) = {
    val r = sqlVia(spark, sfDir, query)
    (r.df, r.routed)
  }

  /** Run `query`; route to a registered cube when the analyzed plan
    * matches a supported shape, else fall back to Spark's own result. */
  def sqlVia(spark: SparkSession, sfDir: String, query: String): SqlResult = {
    registerViews(spark, sfDir)
    // suppress the acceleration rule for OUR OWN spark.sql: with the
    // gate on, the rule would swap the plan during this analysis and
    // routeFrame would then find no view to match — reporting
    // routed=false ("fallback") for a query that IS served from the
    // cube, and starving sqlCached (fallbacks never cache)
    val df = {
      accelerating.set(true)
      try spark.sql(query) finally accelerating.set(false)
    }
    routeFrame(spark, sfDir, df)
  }

  /** `sqlVia` plus the routing DECISION TRACE — the answer to "why did
    * (or didn't) my query accelerate?". The reference surfaces exactly
    * this through RealizationCheck (populated by RealizationChooser /
    * QueryRouter with per-realization incapable reasons) so a silent
    * pushdown is diagnosable; graft's equivalent records every refusal
    * stage (shape / bind / recognize / filter / router / rewrite /
    * present) and the winning realization's serve line (cuboid,
    * segments, estimated rows). Tracing is per-thread and enabled only
    * inside this call — the normal serving path pays nothing. */
  final case class RouteExplain(routed: Boolean, via: String,
      estRows: Option[Long], trace: Seq[RouteTrace.Entry]) {
    def pretty: String =
      ((s"routed=$routed via=$via" +
        estRows.map(r => s" estRows=$r").getOrElse("")) +:
        trace.map("  " + _.toString)).mkString("\n")
  }

  def explainRoute(spark: SparkSession, sfDir: String,
                   query: String): RouteExplain = {
    val (r, trace) = RouteTrace.collect(sqlVia(spark, sfDir, query))
    RouteExplain(r.routed, r.via, r.estRows, trace)
  }

  /** Query-result cache (reference: kylin.query.cache-enabled — the
    * query server memoizes results and drops them when a realization's
    * state changes). The cached value is the routed frame PERSISTED
    * (post-aggregation results are cuboid-cell-scale; no driver
    * collect), so a repeated dashboard query replays cached blocks
    * instead of re-scanning. The key folds in each registered
    * realization's metadata commit (root + meta.json buildId — a UUID
    * written last in every commit, immune to coarse-mtime stores) plus
    * the binding-set version (registerBinding bumps it and drops the
    * cache): every build/append/refresh/merge/optimize flips the key,
    * and the stale entry ages out of the FIFO bound (eviction
    * unpersists). Fallback (raw-scan) results never cache. */
  val ResultCacheCap = 64
  private val resultCache = scala.collection.mutable.LinkedHashMap
    .empty[(String, String, Long, Seq[(String, String, String)]), SqlResult]

  /** observability (VERDICT r10 item 8): a cache nobody measures can't
    * prove a dashboard workload actually hits it — the gated benchmark
    * (perfbench) reports these as its cache hit ratio */
  private val cacheHits = new java.util.concurrent.atomic.AtomicLong(0L)
  private val cacheMisses = new java.util.concurrent.atomic.AtomicLong(0L)
  private val cacheEvictions = new java.util.concurrent.atomic.AtomicLong(0L)
  def resultCacheStats: (Long, Long, Long) =
    (cacheHits.get(), cacheMisses.get(), cacheEvictions.get())

  /** fleet (L2) tier observability: hits served from the shared store */
  private val fleetHits = new java.util.concurrent.atomic.AtomicLong(0L)
  private val fleetMisses = new java.util.concurrent.atomic.AtomicLong(0L)
  def fleetCacheStats: (Long, Long) = (fleetHits.get(), fleetMisses.get())

  /** Cross-process-stable canonical form of the query's parsed plan —
    * the fleet-cache key half that normalizes formatting/keyword case
    * without touching the catalog — plus the tier's ELIGIBILITY: the
    * realization stamp set covers everything under the cube root
    * (built-ins + declared cubes), but an extension-owned Binding
    * registered straight through [[registerBinding]] may route to
    * storage the stamps never see (a temp-root cube, a re-bound view)
    * — a query touching such a view must NOT enter the shared tier,
    * or a re-bind in one process would leave stale entries other
    * processes still address. Alias/expression ids are JVM-global
    * counters (NOT stable across processes), so they are stripped
    * from the canon. */
  private val l2InfoMemo =
    new graft.BoundedMemo[String, (String, Boolean)](256)(_ => ())

  private def l2KeyInfo(spark: SparkSession,
                        query: String): (String, Boolean) = {
    // memoized per (bindings version, query text): the parse is pure
    // driver CPU the repeat-query hot path should not re-pay, and the
    // eligibility half depends only on the binding/declaration sets,
    // which every change to bumps the version
    l2InfoMemo.getOrElseUpdate(s"${bindingsVersion.get()}|$query", {
      val plan = spark.sessionState.sqlParser.parsePlan(query)
      val canon = plan.toString.replaceAll("#\\d+", "")
      val rels = plan.collect {
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
          r.multipartIdentifier.last.toLowerCase(java.util.Locale.ROOT)
      }.toSet
      val unknownExtra =
        extraBindings.keySet.map(_.toLowerCase(java.util.Locale.ROOT)) --
          CubeJson.declaredViews.map(_.toLowerCase(java.util.Locale.ROOT))
      // fold the touched views' DECLARATION fingerprints into the canon
      // (ADVICE r15): a redeployed CHANGED declaration must change the
      // shared key immediately — disk stamps only move when the rebuild
      // commits, and an L2 hit bypasses sqlVia, so without this the
      // fleet would serve the old declaration's answers to hot queries
      // indefinitely after a deploy. Memoized per bindings version:
      // every (re)registration bumps it, recomputing the fold.
      val declFp = rels.toSeq.sorted
        .flatMap(v => CubeJson.declaredViewFingerprint(v)
          .map(fp => s"$v=$fp"))
      (if (declFp.isEmpty) canon
       else canon + declFp.mkString("|decl:", "|", ""),
        rels.intersect(unknownExtra).isEmpty)
    })
  }

  /** stamps over every instance this process has TOUCHED for the dir
    * (incl. merged and hybrid members) — no build is forced to compute
    * a key: an untouched cube can't have produced a cached result, and
    * its first touch enlarges the set, changing the key (one benign
    * extra recompute, never staleness). The stamp is the meta's
    * committed BUILD ID via [[MetaStamp]] (shared with CubeManager's
    * reload-on-drift path since r14), steady-state cost one
    * getFileStatus per realization per call. */
  private[graft] def realizationStamps(spark: SparkSession,
                                sfDir: String): Seq[(String, String, String)] =
    CubeManager.loadedInstances(sfDir).map { inst =>
      (inst.root, inst.cube.name,
        MetaStamp.of(spark, inst.root, inst.cube.name))
    }.distinct.sorted

  /** `sqlVia` behind the result cache. */
  def sqlCached(spark: SparkSession, sfDir: String,
                query: String): SqlResult = {
    registerViews(spark, sfDir)
    // L2: the fleet-shared tier (off unless the conf names a dir).
    // Key = canonical plan + stamp set read from the shared store —
    // meaningful in every process, unlike the L1 key's memo-scoped
    // stamps. Computed BEFORE the L1 probe because the L1 key must
    // fold it in: an L2-served result's realization may be one this
    // process never TOUCHED (loadedInstances stays empty), so the
    // memo-scoped stamps alone would never notice a foreign rebuild
    // and the L1 entry would serve the old answer forever. With the
    // disk-derived hash inside the key, any commit anywhere changes
    // it and the stale L1 entry becomes unaddressable like its L2
    // parent. A set containing an Unavailable stamp (transient stat
    // failure) disables the tier for this call — a hiccup must err
    // toward recompute, never toward two different states hashing to
    // the same shared key.
    val l2 = FleetCache.dirOf(spark).flatMap { d =>
      val (canon, eligible) = l2KeyInfo(spark, query)
      if (!eligible) None
      else {
        val stamps = CubeManager.fleetStamps(spark, sfDir)
        if (stamps.exists(_._3 == MetaStamp.Unavailable)) None
        else Some((d, FleetCache.keyHash(sfDir, canon, stamps)))
      }
    }
    val key = (sfDir, query, bindingsVersion.get(),
      realizationStamps(spark, sfDir) ++
        l2.map { case (_, k) => ("fleet", "", k) })
    resultCache.synchronized(resultCache.get(key)) match {
      case Some(hit) =>
        cacheHits.incrementAndGet()
        // a hit is still a served query SHAPE: replay its route into
        // the thread's routing handoff so the served record carries
        // the hit's cube/dims and the planner loop counts cached
        // workload
        hit.route.foreach { case (c, d) => QueryRouter.QueryStats.record(c, d) }
        hit.copy(fromCache = true)
      case None =>
        cacheMisses.incrementAndGet()
        // another JVM's committed entry serves here with zero Spark
        // jobs against cube parquet (the payload read IS the answer);
        // a foreign metadata commit changed the stamps and so the key,
        // making staleness unaddressable.
        l2.flatMap { case (d, k) => FleetCache.lookup(spark, d, k) } match {
          case Some(hit) =>
            fleetHits.incrementAndGet()
            hit.route.foreach { case (c, dm) =>
              QueryRouter.QueryStats.record(c, dm) }
            val res = SqlResult(hit.df.persist(), routed = true, hit.via,
              hit.estRows, route = hit.route)
            l1Insert(key, res).copy(fromCache = true)
          case None =>
            if (l2.isDefined) fleetMisses.incrementAndGet()
            // compute OUTSIDE the lock: a cache must not serialize
            // misses
            val r = sqlVia(spark, sfDir, query)
            if (!r.routed) r // fallbacks never cache, in either tier
            else {
              val route = QueryRouter.QueryStats.peekLastForThread()
              // write-through: after the store, the frame we keep (and
              // L1-persist) READS THE CACHE PAYLOAD, so later replays
              // in this JVM also stay off the cube parquet
              val served = l2.map { case (d, k) =>
                FleetCache.store(spark, d, k, r.df, r.via, r.estRows,
                  route, query)
              }.getOrElse(r.df)
              l1Insert(key, SqlResult(served.persist(), r.routed, r.via,
                r.estRows, route = route))
            }
        }
    }
  }

  /** insert a computed/fetched result into the in-JVM (L1) tier under
    * the FIFO bound; a lost insert race serves the winner and drops
    * our persist */
  private def l1Insert(
      key: (String, String, Long, Seq[(String, String, String)]),
      cached: SqlResult): SqlResult =
    resultCache.synchronized {
      resultCache.get(key) match {
        case Some(winner) => // lost a race: drop our persist
          scala.util.Try(cached.df.unpersist()): Unit
          winner
        case None =>
          resultCache.put(key, cached)
          while (resultCache.size > ResultCacheCap) {
            val (ek, ev) = resultCache.head
            resultCache.remove(ek)
            cacheEvictions.incrementAndGet()
            scala.util.Try(ev.df.unpersist()): Unit
          }
          cached
      }
    }

  /** SparkSessionExtensions entry (graft.plans.GraftExtensions installs
    * it as a post-hoc resolution rule): transparently swap a plain
    * `spark.sql(...)` plan for its routed equivalent. Opt-in via the
    * runtime conf `spark.graft.accelerate=true` AFTER `registerViews`
    * has bound the views; refuses (returns None, leaving the plan
    * untouched) whenever the route fails, the routed schema's
    * name/type signature differs from the original plan's, or the rule
    * re-enters from a frame the routing itself is building. */
  def accelerate(spark: SparkSession,
                 plan: LogicalPlan): Option[LogicalPlan] = {
    if (accelerating.get()) return None
    // default outcome for the serve-guard rule running next in the
    // post-hoc batch: not routed (pushdown) until a swap succeeds
    recordAccelOutcome(routed = false, estRows = None)
    if (!plan.resolved) return None
    if (spark.conf.get("spark.graft.accelerate", "false") != "true")
      return None
    // the dir THIS session registered its views against — never a
    // JVM-global "last registered" value, which in a multi-session
    // process (Thriftserver without singleSession, notebooks) would
    // route one session's query against another session's data
    val dir = viewsGet(spark).getOrElse(return None)
    // touch only plans that read a registered cube view OR one of a
    // binding's raw star tables (explicit model-join SQL routes via
    // ModelMatcher without ever referencing the pre-joined view)
    val routable: Set[String] =
      bindings.map(_.view).toSet ++ bindings.flatMap(_.rawTables)
    val touchesView = plan.exists {
      case v: View => routable.contains(v.desc.identifier.table)
      // catalog-addressed tables/views (graft_cat.lineitem, ...) carry
      // no View node for tables — recognize the qualified alias so
      // JDBC/accelerated catalog SQL gets the same routing attempt;
      // this is only the CHEAP pre-filter, correctness stays with
      // routeFrame's qualifier-guarded matching
      case s: SubqueryAlias =>
        ModelMatcher.catalogQualified(s.identifier.qualifier) &&
          routable.contains(s.identifier.name.toLowerCase)
      case _ => false
    }
    if (!touchesView) return None
    accelerating.set(true)
    try {
      val df = org.apache.spark.sql.graftbridge.DatasetBridge
        .ofRows(spark, plan)
      // a plan that touched a cube view but did NOT route is the case
      // worth diagnosing (the reference's BadQueryDetector records it):
      // collect the refusal trace and hand its summary to the serve
      // guard so the fleet's served log names the reason, not just
      // "pushdown"
      val (r, trace) = RouteTrace.collect(routeFrame(spark, dir, df))
      if (!r.routed) {
        recordAccelOutcome(routed = false, estRows = None,
          reason = summarizeTrace(trace))
        None
      } else {
        val routedPlan = r.df.queryExecution.analyzed
        // identical name/type signature (nullability free to differ):
        // a type-changing swap would alter what the user's query
        // declares — refuse and serve the plain plan instead
        val sig = (s: org.apache.spark.sql.types.StructType) =>
          s.fields.toSeq.map(f => (f.name, f.dataType))
        if (sig(routedPlan.schema) == sig(plan.schema)) {
          recordAccelOutcome(routed = true, estRows = r.estRows)
          Some(routedPlan)
        } else {
          recordAccelOutcome(routed = false, estRows = None,
            reason = Some("routed schema signature differs from the " +
              "original plan's — swap refused"))
          None
        }
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally accelerating.set(false)
  }

  private val accelerating: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** True while THIS thread is inside graft's own plan construction —
    * routing, acceleration, or a serving entry point that enforces its
    * own contract. The serve-guard rule (plans.ServeGuardRule) keys on
    * it: internal frames must not each grow a guard node (they compose
    * into bigger plans, and QueryService already IS a guarded
    * consumption point). */
  private[graft] def internalAnalysis: Boolean = accelerating.get()

  /** Run `body` with the internal-analysis marker set (restoring the
    * caller's value — entry points nest: QueryService.run →
    * sqlVia → routeFrame). */
  private[graft] def withInternalAnalysis[T](body: => T): T = {
    val prev = accelerating.get()
    accelerating.set(true)
    try body finally accelerating.set(prev)
  }

  /** What the LAST acceleration attempt on this thread decided —
    * (routed, estRows). The acceleration rule records it on every
    * apply; the serve-guard rule (which runs next in the same post-hoc
    * batch) consumes it to pick the scheduler pool the reference gives
    * every served query (ResultPlan.scala:66). Cleared on read. */
  private val lastAccel
    : ThreadLocal[Option[(Boolean, Option[Long], Option[String])]] =
    ThreadLocal.withInitial(() => None)
  private[graft] def recordAccelOutcome(routed: Boolean,
                                        estRows: Option[Long],
                                        reason: Option[String] = None): Unit =
    lastAccel.set(Some((routed, estRows, reason)))
  private[graft] def takeAccelOutcome()
    : Option[(Boolean, Option[Long], Option[String])] = {
    val v = lastAccel.get(); lastAccel.set(None); v
  }

  /** compress a route trace to one operator-readable line: prefer the
    * most realization-specific refusal (recognize/router/filter/
    * rewrite/present name a concrete cube and cause) over the generic
    * shape/bind stages — the reference's BadQueryDetector records the
    * same "why did this hit pushdown" line per query */
  private[graft] def summarizeTrace(trace: Seq[RouteTrace.Entry]): Option[String] = {
    val specific = Set("recognize", "router", "filter", "rewrite", "present")
    trace.filter(e => specific(e.stage)).lastOption
      .orElse(trace.lastOption)
      .map(e => e.toString.take(240))
  }

  /** Route an already-analyzed frame — the shared body of `sqlVia`
    * and `accelerate`. */
  private def routeFrame(spark: SparkSession, sfDir: String,
                         df: DataFrame): SqlResult = {
    // one miss per (cube, unmatched dims) per pass — see QueryStats
    QueryRouter.QueryStats.beginRoutingPass()

    // a registered cube view — or a user-written join tree matching a
    // binding's declared star model (Kylin's OLAPJoinRule: explicit
    // model joins route exactly like the pre-joined view). The alias
    // must stand over the REGISTERED VIEW's own View node: a derived
    // table or foreign relation merely REUSING the view's name would
    // otherwise route to the cube with its actual contents (filters,
    // different table) silently ignored.
    def isViewNode(p: LogicalPlan, name: String): Boolean = p match {
      // a temp view (no database) or a view in graft's own catalog db
      // (GraftCatalog registers graft_cat.graft_star with the same
      // star-join algebra); a foreign database's view reusing the name
      // must not route
      case v: View => v.desc.identifier.table == name &&
        v.desc.identifier.database.forall(
          _.equalsIgnoreCase(GraftCatalog.Db)) &&
        // pin the catalog too: only the session catalog's graft_cat is
        // ours — a foreign catalog's same-named db must not route
        v.desc.identifier.catalog.forall(
          _.equalsIgnoreCase("spark_catalog"))
      case SubqueryAlias(_, c) => isViewNode(c, name)
      case _ => false
    }
    def viewOf(plan: LogicalPlan): Option[Binding] = plan match {
      case SubqueryAlias(id, child) if isViewNode(child, id.name) =>
        bindings.find(_.view == id.name)
      case _ =>
        bindings.find(_.model.exists(ModelMatcher.matches(plan, _)))
    }

    // one peeled aggregate stack → routed result, or None when no
    // registered realization answers it
    def routeOne(plan: LogicalPlan): Option[SqlResult] = {
      val peeled = peel(plan)
      if (peeled.isEmpty)
        RouteTrace.note("shape", "query",
          "aggregate stack not recognized — only GROUP BY aggregates, " +
            "DISTINCT, HAVING, window-over-aggregate, and ORDER BY/" +
            "LIMIT above a registered view or model join route")
      peeled.flatMap { p =>
        val groups = p.agg.groupingExpressions
        val aggs = p.agg.aggregateExpressions
        p.agg.child match {
          // ── GROUPING SETS / ROLLUP / CUBE appear as Aggregate over
          // Expand: route the full-dims cells once, then answer every
          // grouping set by one cuboid-cell-scale re-aggregation
          case e: Expand =>
            val r = routeGroupingSets(spark, sfDir, df, p, groups, aggs,
              e, viewOf)
            if (r.routed) Some(r) else None
          // child must be a registered cube view or model join,
          // optionally through a Filter the per-realization split
          // validates (dim predicates + a derived segment time range).
          // Pass-through column-pruning Projects (plain attributes, no
          // aliases — e.g. what DISTINCT analyzes to) are transparent.
          case rawChild =>
            def stripPrune(pl: LogicalPlan): LogicalPlan = pl match {
              case Project(ps, c)
                  if ps.forall(_.isInstanceOf[AttributeReference]) =>
                stripPrune(c)
              case other => other
            }
            val child = stripPrune(rawChild) match {
              case Filter(fc, c) => Filter(fc, stripPrune(c))
              case other => other
            }
            val (bOpt, cond) = child match {
              case c if viewOf(c).isDefined => (viewOf(c), None)
              case Filter(fc, c) if viewOf(c).isDefined =>
                (viewOf(c), Some(fc))
              case _ => (None, None)
            }
            val groupNames =
              groups.collect { case a: AttributeReference => a.name }
            if (bOpt.isEmpty) {
              RouteTrace.note("bind", "FROM",
                "no registered cube view or declared star model " +
                  "matches the relation tree under the aggregate")
              None
            } else if (groups.length != groupNames.length) {
              RouteTrace.note("shape", "group-by",
                "a grouping expression is not a plain column — group " +
                  "by the materialized dim instead")
              None
            } else {
              // hybrids outrank their member cubes (Kylin's chooser
              // gives HybridInstance cost priority over realizations
              // it spans); a refusing hybrid falls through to the
              // plain realizations below
              val viaHybrid = bOpt.get.hybrids.iterator
                .map(f => tryHybrid(spark, df, f(spark, sfDir), p,
                  groupNames, aggs, cond))
                .collectFirst { case Some(r) => r }
              viaHybrid.orElse {
                val insts = bOpt.get.realizations.map(f => f(spark, sfDir))
                // RealizationChooser: candidates cheapest-covering-first
                // (cost = planned cuboid rows for the grouped dims); the
                // first realization that recognizes every output answers
                val ordered =
                  if (insts.sizeIs == 1) insts
                  else insts.sortBy(i =>
                    QueryRouter.plan(i, CubeQuery(groupNames, Nil))
                      .map(_.estRows).getOrElse(Long.MaxValue))
                ordered.iterator
                  .map(i => tryInstance(spark, df, i, p, groupNames, aggs,
                    cond))
                  .collectFirst { case Some(r) => r }
              }
            }
        }
      }
    }

    // CTEs stay as WithCTE/CTERelationRef until the optimizer; inline
    // them first (the optimizer's own rule) so `WITH x AS (...) SELECT
    // ... FROM x` routes like the inlined query
    val analyzed = df.queryExecution.analyzed match {
      case w if w.exists(_.isInstanceOf[WithCTE]) =>
        new org.apache.spark.sql.catalyst.optimizer.InlineCTE(true, false)
          .apply(w)
      case p => p
    }

    analyzed match {
      // ── UNION ALL of routable aggregates (OLAPUnionRule.java:33):
      // each branch routes independently against its own best
      // realization; ANY branch refusing falls the WHOLE query back —
      // mixing pre-aggregated and raw-scan branches would answer the
      // same query from two different consistencies
      case UnionShape(u, sorts, limit) =>
        val branches = u.children.map(routeOne)
        if (branches.forall(_.isDefined))
          scala.util.Try {
            var out = branches.flatten.map(_.df).reduce(_ union _)
            if (sorts.nonEmpty) out = out.orderBy(sorts: _*)
            limit.foreach(n => out = out.limit(n))
            out.queryExecution.analyzed // force analysis errors here
            SqlResult(out, routed = true, "cuboid-union",
              estRows = Some(branches.flatten.flatMap(_.estRows).sum))
          }.getOrElse(SqlResult(df, routed = false, "fallback"))
        else SqlResult(df, routed = false, "fallback")
      case p => routeOne(p).getOrElse(SqlResult(df, routed = false, "fallback"))
    }
  }

  /** matcher for a Union optionally under attribute-only Sort / Limit */
  private object UnionShape {
    def unapply(plan: LogicalPlan)
      : Option[(Union, Seq[Column], Option[Int])] = plan match {
      case u: Union if !u.byName => Some((u, Nil, None))
      case Sort(_, true, _, _) | GlobalLimit(_, _) => walk(plan, Nil, None)
      case _ => None
    }
    private def walk(plan: LogicalPlan, sorts: Seq[Column],
        limit: Option[Int]): Option[(Union, Seq[Column], Option[Int])] =
      plan match {
        case u: Union if !u.byName => Some((u, sorts, limit))
        case Sort(order, true, inner, _) =>
          val parsed = order.map {
            case SortOrder(a: AttributeReference, Ascending, NullsFirst, _) =>
              Some(col(a.name).asc_nulls_first)
            case SortOrder(a: AttributeReference, Ascending, NullsLast, _) =>
              Some(col(a.name).asc_nulls_last)
            case SortOrder(a: AttributeReference, Descending, NullsFirst, _) =>
              Some(col(a.name).desc_nulls_first)
            case SortOrder(a: AttributeReference, Descending, NullsLast, _) =>
              Some(col(a.name).desc_nulls_last)
            case _ => None
          }
          if (parsed.forall(_.isDefined))
            walk(inner, parsed.flatten ++ sorts, limit)
          else None
        case GlobalLimit(Literal(n: Int, _), LocalLimit(_, inner)) =>
          walk(inner, sorts, Some(n))
        case _ => None
      }
  }

  /** Shared output-shape recognition against a realization's cube:
    * every output must be a grouped dim or a recognized measure, and a
    * measureless attribute-only output list is the DISTINCT projection
    * shape (OLAPAggregateRule — Kylin answers it from cuboid cells).
    * None ⇔ this cube cannot describe the outputs. One definition for
    * both the single-cube and hybrid paths, so the two routing
    * surfaces cannot drift. */
  private def recognizeOutputs(cube: CubeDef, groupNames: Seq[String],
      aggs: Seq[NamedExpression]): Option[Seq[(MOut, String)]] = {
    val named = aggs.collect {
      case Alias(ae: AggregateExpression, name) =>
        (name, ae, measureOf(cube, ae))
    }
    val specs = named.map { case (name, _, m) => m.map(_ -> name) }
    // TopN sketch literal columns count as group names even when they
    // aren't cuboid dims (TopNMeasureType's literal columns live in the
    // measure, not the rowkey) — the generic path's own router check
    // still refuses them if the TopN rewrite doesn't match
    val groupsOk = groupNames.forall(n => cube.routableDim(n) ||
      cube.measures.exists(_.topnShape.exists(_.dims.contains(n))))
    val outputOk = aggs.forall {
      case _: AttributeReference => true
      case Alias(_: AggregateExpression, _) => true
      case _ => false
    }
    val distinctShape =
      specs.isEmpty && aggs.forall(_.isInstanceOf[AttributeReference]) &&
        aggs.nonEmpty
    if (groupsOk && outputOk && specs.forall(_.isDefined) &&
        (specs.nonEmpty || distinctShape)) Some(specs.flatten)
    else {
      // the RealizationCheck analogue: name WHY this cube refused, in
      // the reference's own vocabulary (UNMATCHED_DIMENSION /
      // UNMATCHED_AGGREGATION) — no-ops unless explainRoute is tracing
      if (!groupsOk) {
        val bad = groupNames.filterNot(n => cube.routableDim(n) ||
          cube.measures.exists(_.topnShape.exists(_.dims.contains(n))))
        RouteTrace.note("recognize", cube.name,
          s"unmatched dimension(s) ${bad.mkString(", ")} — not in this " +
            "cube's rowkey (nor any TopN literal set)")
        // feed the planner loop: an unmatched dim is pushdown query
        // history the Cube Planner evolves the MODEL from
        QueryRouter.QueryStats.recordMiss(cube.name, groupNames.toSet,
          bad.toSet)
      }
      val badAggs = named.collect { case (name, ae, None) =>
        s"$name = ${ae.sql}" }
      if (badAggs.nonEmpty)
        RouteTrace.note("recognize", cube.name,
          s"unmatched aggregation(s) ${badAggs.mkString("; ")} — no " +
            "declared measure answers them")
      if (!outputOk)
        RouteTrace.note("recognize", cube.name,
          "an output is neither a grouped column nor an aggregate call")
      if (groupsOk && outputOk && badAggs.isEmpty && specs.isEmpty &&
          !distinctShape)
        RouteTrace.note("recognize", cube.name,
          "no measures requested and not the DISTINCT projection shape")
      None
    }
  }

  /** Attempt the peeled aggregate against ONE realization: split the
    * WHERE into routable dim predicates + a derived segment time range,
    * recognize every output against this cube's measures, then dispatch
    * to the specialized rewrites. None ⇔ this realization can't answer
    * (the caller tries the next, then Spark answers). */
  private def tryInstance(spark: SparkSession, df: DataFrame,
      inst: CubeInstance, p: Peeled, groupNames: Seq[String],
      aggs: Seq[NamedExpression],
      cond: Option[Expression]): Option[SqlResult] = {
    val cube = inst.cube
    val split = cond match {
      case None => Some((Option.empty[String], Set.empty[String],
        Option.empty[(String, String)]))
      case Some(c) => splitFilter(spark, cube, c)
    }
    if (split.isEmpty)
      RouteTrace.note("filter", cube.name,
        "WHERE is not expressible over this cube's dims (no routable " +
          "predicate split, no derivable segment time range)")
    split.flatMap { case (filterSql, filterDims, timeRange) =>
      dispatchRewrites(spark, df, cube,
        q => QueryRouter.routeStates(spark, inst, q)(df),
        p, groupNames, aggs, filterSql, filterDims, timeRange,
        via = "cuboid")
    }
  }

  /** Rewrite dispatch above a STATE SUPPLIER — the one body behind both
    * the single-cube route (supplier = QueryRouter.routeStates) and the
    * hybrid splice (supplier = HybridRouter.routeStates): every
    * specialized rewrite (intersect, dim-as-measure, TopN sketch,
    * generic states) consumes mergeable states the same way regardless
    * of how many cubes produced them — exactly how the reference's
    * HybridStorageQuery serves every member measure type through the
    * same unioned tuple iterators. */
  private def dispatchRewrites(spark: SparkSession, df: DataFrame,
      cube: CubeDef, states: CubeQuery => Routed,
      p: Peeled, groupNames: Seq[String], aggs: Seq[NamedExpression],
      filterSql: Option[String], filterDims: Set[String],
      timeRange: Option[(String, String)],
      via: String): Option[SqlResult] =
    recognizeOutputs(cube, groupNames, aggs).flatMap { outs =>
      val outNames = aggs.map {
        case a: AttributeReference => a.name
        case Alias(_, name) => name
      }

      // ── intersect_count rewrite: answered from bitmap STATES
      // (routeStates + AND), never from a raw scan; the vals ARE the
      // filter — no extra WHERE or time range supported
      if (outs.exists(_._1.isInstanceOf[MIntersect])) {
        if (timeRange.nonEmpty) {
          RouteTrace.note("rewrite", cube.name,
            "intersect_count rewrite takes its filter from the value " +
              "list — an additional time range is not supported")
          None
        } else {
          val r = routeIntersect(spark, df, cube, states, groupNames, outs,
            outNames, filterSql, filterDims, p, via)
          if (r.routed) Some(r) else None
        }
      }
      // ── dimension-as-measure: add the dim to the routed group-by
      // and post-aggregate (dims are exact in every cuboid)
      else if (outs.exists(_._1.isInstanceOf[MDimAgg])) {
        val r = routeDimAgg(spark, df, cube, states, groupNames, aggs,
          filterSql, filterDims, timeRange, p, via)
        if (r.routed) Some(r) else None
      }
      // ── TopN-measure rewrite: a global `GROUP BY <sketch dims>
      // ORDER BY <the sketch's sum> DESC LIMIT n` is the pre-computed
      // sketch, merged across any cuboid — no dim-level scan at all
      else routeTopn(spark, df, cube, states, groupNames, outs, p, filterSql,
          filterDims, timeRange)
        .map { case (t, est) => SqlResult(t.select(outNames.map(col): _*),
          routed = true, if (via == "cuboid") "topn-measure" else via,
          estRows = Some(est).filter(_ >= 0)) }
        .orElse(routeTopnGrouped(spark, df, cube, states, groupNames, outs, p,
          filterSql, filterDims, timeRange)
          .map { case (t, est) => SqlResult(t, routed = true,
            if (via == "cuboid") "topn-measure" else via,
            estRows = Some(est).filter(_ >= 0)) })
        .orElse(routeGenericVia(spark, cube, states,
          p, aggs, groupNames, outs, filterSql, filterDims, timeRange,
          via = via))
    }

  /** the state-route-then-present body of the generic path, shared by
    * the single-cube route and the hybrid splice — only the state
    * supplier differs */
  private def routeGenericVia(spark: SparkSession, cube: CubeDef,
      states: CubeQuery => Routed,
      p: Peeled, aggs: Seq[NamedExpression],
      groupNames: Seq[String], outs: Seq[(MOut, String)],
      filterSql: Option[String], filterDims: Set[String],
      timeRange: Option[(String, String)], via: String)
    : Option[SqlResult] = {
    val needed = outs.flatMap(_._1.measures).distinct
    val q = CubeQuery(groupNames, needed.map(m => m -> s"__m_$m"),
      filter = filterSql.map(expr),
      filterDims = filterDims,
      timeRange = timeRange)
    val routed = states(q)
    if (routed.fallback) {
      RouteTrace.note("router", cube.name,
        s"no covering cuboid/segment set for dims " +
          s"{${q.groupBy.mkString(", ")}}" +
          (if (q.filterDims.nonEmpty)
             s" with filter dims {${q.filterDims.mkString(", ")}}"
           else "") +
          q.timeRange.map(t => s" in range [${t._1}, ${t._2})")
            .getOrElse(""))
      None
    } else {
      def presented(m: String): Column =
        cube.measure(m).present(col(s"__m_$m"))
      val outCols = aggs.map {
        case a: AttributeReference => col(a.name)
        case Alias(ae: AggregateExpression, name) =>
          measureOf(cube, ae).get match {
            case MCol(m) => presented(m).as(name)
            case MAvg(sm, cm) =>
              (presented(sm) / presented(cm)).as(name)
            case MQuantile(m, p) =>
              Measures.kllQuantile(col(s"__m_$m"), lit(p)).as(name)
            case _: MIntersect =>
              sys.error("intersect handled above")
            case _: MDimAgg =>
              sys.error("dim aggregates handled above")
          }
      }
      // window re-application can fail on exotic frame SQL —
      // fall back to Spark's own answer rather than erroring
      val attempt = scala.util.Try {
        var out = routed.df.select(outCols: _*)
        p.havingSql.foreach(h => out = out.filter(expr(h)))
        if (p.winCols.nonEmpty) {
          out = out.select(out.columns.toSeq.map(col) ++
            p.winCols.map { case (sql, name) =>
              expr(sql).as(name)
            }: _*)
          // rank filters (WHERE rn <= n outside the subquery)
          // re-apply after the windows they reference
          p.winFilterSqls.foreach(f => out = out.filter(expr(f)))
          if (p.finalNames.nonEmpty)
            out = out.select(p.finalNames.map(col): _*)
        }
        if (p.sortCols.nonEmpty) out = out.orderBy(p.sortCols: _*)
        p.limit.foreach(n => out = out.limit(n))
        out.queryExecution.analyzed // force analysis errors here
        RouteTrace.note("serve", cube.name,
          s"answered via $via from cuboid " +
            s"{${routed.cuboid.map(_.toSeq.sorted.mkString(", "))
              .getOrElse("?")}}, segments " +
            s"[${routed.segments.mkString(", ")}], estRows " +
            s"${routed.estRows}")
        SqlResult(out, routed = true, via,
          estRows = Some(routed.estRows).filter(_ >= 0))
      }
      if (attempt.isFailure)
        RouteTrace.note("present", cube.name,
          "window/sort re-application failed on the routed frame — " +
            "this realization refuses")
      attempt.toOption
    }
  }

  /** Attempt the peeled aggregate against a HYBRID realization: the
    * same recognition and rewrite dispatch as tryInstance against the
    * representative member cube — every measure family the members
    * declare (generic sums, sketches, bitmap intersects, dim-as-
    * measure) is served through the time-spliced HybridRouter, exactly
    * as HybridStorageQuery serves all member measures through its
    * unioned tuple iterators. A measure missing from a touched member
    * makes that slice's route fall back, which refuses the whole
    * hybrid (the plain realizations behind the view then answer). */
  private def tryHybrid(spark: SparkSession, df: DataFrame,
      h: HybridInstance, p: Peeled, groupNames: Seq[String],
      aggs: Seq[NamedExpression],
      cond: Option[Expression]): Option[SqlResult] = {
    val cube = h.cube
    val split = cond match {
      case None => Some((Option.empty[String], Set.empty[String],
        Option.empty[(String, String)]))
      case Some(c) => splitFilter(spark, cube, c)
    }
    if (split.isEmpty)
      RouteTrace.note("filter", s"${cube.name} (hybrid)",
        "WHERE is not expressible over this cube's dims (no routable " +
          "predicate split, no derivable segment time range)")
    split.flatMap { case (filterSql, filterDims, timeRange) =>
      dispatchRewrites(spark, df, cube,
        q => HybridRouter.routeStates(spark, h, q)(df),
        p, groupNames, aggs, filterSql, filterDims, timeRange,
        via = "hybrid")
    }
  }

  /** the TopN-sketch rewrite, driven by Measure.topnShape */
  private def routeTopn(spark: SparkSession, df: DataFrame,
      cube: CubeDef, states: CubeQuery => Routed, groupNames: Seq[String],
      outs: Seq[(MOut, String)], p: Peeled,
      filterSql: Option[String],
      filterDims: Set[String],
      timeRange: Option[(String, String)]): Option[(DataFrame, Long)] = {
    for {
      n <- p.limit
      if n <= Measures.TopNBuf.DefaultCapacity &&
        p.havingSql.isEmpty && p.winCols.isEmpty
      (MCol(sumM), valName) <- outs match {
        case Seq(one @ (MCol(_), _)) => Some(one)
        case _ => None
      }
      tm <- cube.measures.find(_.topnShape.exists(sh =>
        sh.dims == groupNames &&
          cube.measureAnswering(SqlAgg.SumOf(sh.sumOf)).exists(_.name == sumM)))
      sh = tm.topnShape.get
      // exact replay requires the full tie-break order: value desc,
      // then the sketch dims ascending
      if p.sorts == (valName, true) +: sh.dims.map(d => (d, false))
      // a dim filter NOT touching the sketch dims applies to the cells
      // BEFORE the sketch merge — exact (TopNMeasureType allows the
      // same); a filter on a sketch dim would change top-n semantics
      // after the fact, so it refuses and the cuboid path answers. The
      // same rule covers a derived time range: its residual filter
      // lands on the time dim, which must not be a sketch dim.
      if filterDims.intersect(sh.dims.toSet).isEmpty
      if timeRange.isEmpty ||
        !cube.timeDim.exists(td => sh.dims.contains(td.name))
      r = states(CubeQuery(Nil, Seq(tm.name -> "state"),
        filter = filterSql.map(expr), filterDims = filterDims,
        timeRange = timeRange))
      if !r.fallback
      // a capacity-trimmed state is approximate: refuse the rewrite
      // rather than present it as exact (ADVICE r3). One 1-row probe
      // job on the merged state — metadata-scale, not a data collect.
      if !r.df.select(Measures.topnIsTrimmed(col("state")).as("t"))
        .head().getBoolean(0)
    } yield {
      val exploded = r.df
        .select(posexplode(Measures.topnExtract(col("state"), lit(n))))
      // composite keys are MultiSep-joined; split back into columns
      val dimCols = sh.dims.zipWithIndex.map { case (d, i) =>
        split(col("col._1"), Measures.MultiSep).getItem(i).as(d)
      }
      val sortCols = col(valName).desc +: sh.dims.map(col(_).asc)
      (exploded
        .select(dimCols :+
          (col("col._2").cast(DoubleType) / sh.scale.toDouble).as(valName): _*)
        .orderBy(sortCols: _*), r.estRows)
    }
  }

  /** The GROUPED TopN-sketch rewrite (TopNMeasureType.java:129-170:
    * the query group-by may extend the sketch dims with cuboid dims —
    * Kylin expands each row's sketch and answers per-group). Recognized
    * shape: `GROUP BY extra ++ sketch dims`, a single SUM output
    * matching the sketch's value, one `row_number() OVER (PARTITION BY
    * extra ORDER BY value DESC, sketch dims)` window, and a `rn <= n`
    * rank filter — the standard per-group top-N idiom. Answered by
    * routing the sketch STATES grouped by `extra` (no sketch-dim-level
    * scan) and exploding each merged state's top n; refused when any
    * merged state was capacity-trimmed (approximate — ADVICE r3). */
  private def routeTopnGrouped(spark: SparkSession, df: DataFrame,
      cube: CubeDef, states: CubeQuery => Routed, groupNames: Seq[String],
      outs: Seq[(MOut, String)], p: Peeled,
      filterSql: Option[String],
      filterDims: Set[String],
      timeRange: Option[(String, String)]): Option[(DataFrame, Long)] = {
    for {
      _ <- Some(())
      if p.havingSql.isEmpty
      (rawWin, rnName) <- p.winRaw match {
        case Seq(w) => Some(w)
        case _ => None
      }
      spec <- rawWin match {
        case WindowExpression(_: RowNumber, s: WindowSpecDefinition) => Some(s)
        case _ => None
      }
      partNames <- Some(spec.partitionSpec.collect {
        case a: AttributeReference => a.name
      })
      if partNames.nonEmpty && partNames.size == spec.partitionSpec.size
      n <- p.winFilters match {
        case Seq(LessThanOrEqual(a: AttributeReference, Literal(v: Int, _)))
            if a.name == rnName => Some(v)
        case Seq(LessThan(a: AttributeReference, Literal(v: Int, _)))
            if a.name == rnName => Some(v - 1)
        case _ => None
      }
      if n >= 1 && n <= Measures.TopNBuf.DefaultCapacity
      // every aggregate output is the SAME sum measure (the analyzer
      // duplicates the window's ORDER BY sum as an extra `_w0` output)
      sumOuts <- Some(outs.collect { case (MCol(m), nm) => (m, nm) })
      if sumOuts.size == outs.size && sumOuts.nonEmpty &&
        sumOuts.map(_._1).distinct.size == 1
      sumM = sumOuts.head._1
      valNames = sumOuts.map(_._2)
      tm <- cube.measures.find(_.topnShape.exists { sh =>
        sh.dims.forall(groupNames.contains) &&
          (groupNames.toSet -- sh.dims) == partNames.toSet &&
          cube.measureAnswering(SqlAgg.SumOf(sh.sumOf)).exists(_.name == sumM)
      })
      sh = tm.topnShape.get
      // exact replay requires the window's full tie-break order:
      // value desc, then the sketch dims ascending
      ordered <- Some(spec.orderSpec.collect {
        case SortOrder(a: AttributeReference, dir, _, _) => (a.name, dir)
      })
      if ordered.size == spec.orderSpec.size &&
        ordered.headOption.exists { case (nm, dir) =>
          valNames.contains(nm) && dir == Descending } &&
        ordered.drop(1) == sh.dims.map(d => (d, Ascending))
      // pre-merge dim filters are exact as long as they avoid the
      // sketch dims (same argument as the global rewrite); ditto the
      // residual filter of a derived time range
      if filterDims.intersect(sh.dims.toSet).isEmpty
      if timeRange.isEmpty ||
        !cube.timeDim.exists(td => sh.dims.contains(td.name))
      r = states(CubeQuery(partNames, Seq(tm.name -> "state"),
        filter = filterSql.map(expr), filterDims = filterDims,
        timeRange = timeRange))
      if !r.fallback
      // one cuboid-scale probe: any trimmed merged state ⇒ approximate
      // ⇒ refuse the rewrite (the generic cuboid path still answers)
      if !r.df.agg(coalesce(max(Measures.topnIsTrimmed(col("state"))),
          lit(false))).head().getBoolean(0)
    } yield {
      val exploded = r.df.select(partNames.map(col) :+
        posexplode(Measures.topnExtract(col("state"), lit(n))): _*)
      val dimCols = sh.dims.zipWithIndex.map { case (d, i) =>
        split(col("col._1"), Measures.MultiSep).getItem(i).as(d)
      }
      val valCols = valNames.map(nm =>
        (col("col._2").cast(DoubleType) / sh.scale.toDouble).as(nm))
      var out = exploded.select(partNames.map(col) ++ dimCols ++ valCols :+
        (col("pos") + 1).cast(IntegerType).as(rnName): _*)
      if (p.finalNames.nonEmpty) out = out.select(p.finalNames.map(col): _*)
      if (p.sortCols.nonEmpty) out = out.orderBy(p.sortCols: _*)
      p.limit.foreach(l => out = out.limit(l))
      (out, r.estRows)
    }
  }

  /** GROUPING SETS / ROLLUP / CUBE routing (Kylin's Calcite surface
    * answers these from the cube; Spark analyzes them as an Aggregate
    * whose child is an Expand replicating each row per set with nulled
    * grouping columns + a spark_grouping_id). Rather than replaying
    * the Expand on raw rows, route the measure STATES grouped by ALL
    * grouping dims once, then answer each set with one re-aggregation
    * of those cuboid-scale cells and union in set order — the
    * reference's pre-aggregation wins apply to every set at once.
    * grouping()/grouping_id() outputs are reconstructed per set by
    * substituting the set's literal id into the output expression. */
  private def routeGroupingSets(spark: SparkSession, sfDir: String,
      df: DataFrame, p: Peeled, groups: Seq[Expression],
      aggs: Seq[NamedExpression], expand: Expand,
      viewOf: LogicalPlan => Option[Binding]): SqlResult = {
    def fb = SqlResult(df, routed = false, "fallback")
    if (p.winCols.nonEmpty) return fb
    // a WHERE below the grouping sets sits between Expand's Project and
    // the view: split it like any routed filter (dim predicates + a
    // derived segment time range)
    val (base, cond) = expand.child match {
      case Project(_, Filter(c, b)) => (b, Some(c))
      case Project(_, b) => (b, Option.empty[Expression])
      case _ => return fb
    }
    val binding = viewOf(base) match {
      case Some(b) => b
      case None => return fb
    }
    val inst = binding.instance(spark, sfDir)
    val cube = inst.cube
    val (filterSql, filterDims, timeRange) = cond match {
      case None =>
        (Option.empty[String], Set.empty[String],
          Option.empty[(String, String)])
      case Some(c) => splitFilter(spark, cube, c) match {
        case None => return fb
        case Some(t) => t
      }
    }

    // Expand output = source columns ++ grouping-attr copies ++ gid;
    // the Aggregate groups by exactly (grouping attrs, gid), which
    // fixes k — the source prefix width follows
    val out = expand.output
    val gidAttr = out.last
    if (gidAttr.name != "spark_grouping_id") return fb
    val k = groups.size - 1
    if (k <= 0) return fb
    val baseN = out.size - k - 1
    if (baseN <= 0) return fb
    val gdimAttrs = out.slice(baseN, baseN + k)
    val groupIds = groups.collect { case a: AttributeReference => a.exprId }
    if (groupIds.size != groups.size ||
        groupIds.toSet != (gdimAttrs :+ gidAttr).map(_.exprId).toSet)
      return fb

    // original dim name per grouping attr, through the Project aliases
    // the projections reference (Alias(origAttr, name))
    val aliasById = expand.child.asInstanceOf[Project].projectList.collect {
      case al @ Alias(orig: AttributeReference, _) => al.exprId -> orig.name
    }.toMap
    val dims: Seq[String] = (0 until k).flatMap { i =>
      expand.projections.iterator.map(_(baseN + i)).collectFirst {
        case a: AttributeReference if aliasById.contains(a.exprId) =>
          aliasById(a.exprId)
      }
    }
    if (dims.size != k) return fb
    val dimByExprId = gdimAttrs.map(_.exprId).zip(dims).toMap
    if (!dims.forall(n => cube.dims.contains(n) || cube.derivedDim(n).isDefined))
      return fb

    // grouping sets from the projections: which dims stay, plus gid
    val sets: Seq[(Set[String], Long)] = expand.projections.map { pr =>
      val grouped = (0 until k).flatMap { i =>
        pr(baseN + i) match {
          case _: AttributeReference => Some(dims(i))
          case Literal(null, _) => None
          case _ => return fb
        }
      }.toSet
      pr.last match {
        case Literal(g: Long, _) => (grouped, g)
        case Literal(g: Int, _) => (grouped, g.toLong)
        case _ => return fb
      }
    }

    val needed = aggs.collect { case Alias(ae: AggregateExpression, _) =>
      measureOf(cube, ae) match {
        case Some(m: MCol) => m.measures
        case Some(m: MAvg) => m.measures
        case _ => return fb
      }
    }.flatten.distinct
    if (needed.isEmpty) return fb

    val routed = QueryRouter.routeStates(spark, inst,
      CubeQuery(dims, needed.map(m => m -> s"__m_$m"),
        filter = filterSql.map(expr), filterDims = filterDims,
        timeRange = timeRange))(df)
    if (routed.fallback) return fb
    val cells = routed.df
    def presented(m: String): Column =
      cube.measure(m).present(col(s"__m_$m"))

    scala.util.Try {
      val frames = sets.map { case (set, gid) =>
        val aggExprs = needed.map(m =>
          cube.measure(m).fromState(s"__m_$m").as(s"__m_$m"))
        // dummy grouping key: the empty set must yield ZERO rows on an
        // empty cell frame (Expand semantics), which a bare agg() won't
        val grouped = cells
          .groupBy(lit(1).as("__g") +: set.toSeq.map(col): _*)
          .agg(aggExprs.head, aggExprs.tail: _*)
        val outCols = aggs.map {
          case a: AttributeReference if dimByExprId.contains(a.exprId) =>
            val dim = dimByExprId(a.exprId)
            (if (set(dim)) col(dim)
             else lit(null).cast(cells.schema(dim).dataType)).as(a.name)
          case Alias(ae: AggregateExpression, name) =>
            measureOf(cube, ae).get match {
              case MCol(m) => presented(m).as(name)
              case MAvg(sm, cm) => (presented(sm) / presented(cm)).as(name)
              case _ => sys.error("unsupported grouping-set output")
            }
          // grouping()/grouping_id(): a pure function of the gid —
          // substitute this set's literal id and fold
          case Alias(e, name)
              if e.deterministic && e.references.nonEmpty &&
                e.references.forall(_.exprId == gidAttr.exprId) =>
            val folded = e.transform {
              case a: AttributeReference if a.exprId == gidAttr.exprId =>
                Literal(gid, org.apache.spark.sql.types.LongType)
            }.eval(null)
            org.apache.spark.sql.graftbridge.ColumnBridge
              .column(Literal.create(folded, e.dataType)).as(name)
          case _ => sys.error("unsupported grouping-set output")
        }
        grouped.select(outCols: _*)
      }
      var result = frames.reduce(_ union _)
      p.havingSql.foreach(h => result = result.filter(expr(h)))
      if (p.sortCols.nonEmpty) result = result.orderBy(p.sortCols: _*)
      p.limit.foreach(n => result = result.limit(n))
      result.queryExecution.analyzed
      SqlResult(result, routed = true, "cuboid-gsets",
        estRows = Some(routed.estRows).filter(_ >= 0))
    }.getOrElse(fb)
  }

  /** Dimension-as-measure routing (Kylin answers MIN/MAX/COUNT
    * DISTINCT over dimension columns with no declared measure —
    * dimensions are exact in every cuboid): route the measure STATES
    * grouped by (query dims ∪ the aggregated dims), then one
    * post-aggregation back to the query grain — dim columns aggregate
    * directly, measure states re-merge through their own fromState
    * (the same arbitrary-re-agg contract the layered build relies on).
    * The post-agg runs at cuboid-cell scale, never on raw rows. */
  private def routeDimAgg(spark: SparkSession, df: DataFrame,
      cube: CubeDef, states: CubeQuery => Routed, groupNames: Seq[String],
      aggs: Seq[NamedExpression],
      filterSql: Option[String], filterDims: Set[String],
      timeRange: Option[(String, String)],
      p: Peeled, via: String): SqlResult = {
    def fallback = SqlResult(df, routed = false, "fallback")
    if (p.winCols.nonEmpty) return fallback
    val outs = aggs.collect {
      case Alias(ae: AggregateExpression, name) => (measureOf(cube, ae), name)
    }
    val specs = outs.collect { case (Some(m), name) => (m, name) }
    val supported = specs.forall {
      case (_: MCol | _: MAvg | _: MDimAgg, _) => true
      case _ => false
    }
    if (specs.size != outs.size || !supported) return fallback
    val dimAggs = specs.collect { case (d: MDimAgg, _) => d }.distinct
    val extra = dimAggs.map(_.dim).distinct.filterNot(groupNames.contains)
    // group names must be plain dims here: derived/extended handling
    // happens inside the router per-query, and a second aggregation
    // above it would need their semantics re-applied
    if (!(groupNames ++ extra).forall(cube.dims.contains)) return fallback
    val needed = specs.flatMap(_._1.measures).distinct
    val q = CubeQuery(groupNames ++ extra,
      needed.map(m => m -> s"__m_$m"),
      filter = filterSql.map(expr), filterDims = filterDims,
      timeRange = timeRange)
    val routed = states(q)
    if (routed.fallback) return fallback
    val aggExprs =
      needed.map(m => cube.measure(m).fromState(s"__m_$m").as(s"__m_$m")) ++
        dimAggs.map { da =>
          (da.op match {
            case "min" => min(col(da.dim))
            case "max" => max(col(da.dim))
            case "cd" => countDistinct(col(da.dim))
          }).as(s"__d_${da.op}_${da.dim}")
        }
    val merged =
      if (groupNames.isEmpty) routed.df.agg(aggExprs.head, aggExprs.tail: _*)
      else routed.df.groupBy(groupNames.map(col): _*)
        .agg(aggExprs.head, aggExprs.tail: _*)
    def presented(m: String): Column =
      cube.measure(m).present(col(s"__m_$m"))
    scala.util.Try {
      val outCols = aggs.map {
        case a: AttributeReference => col(a.name)
        case Alias(ae: AggregateExpression, name) =>
          measureOf(cube, ae).get match {
            case MCol(m) => presented(m).as(name)
            case MAvg(sm, cm) => (presented(sm) / presented(cm)).as(name)
            case MDimAgg(dim, op) => col(s"__d_${op}_$dim").as(name)
            case _ => sys.error("unsupported mix")
          }
      }
      var out = merged.select(outCols: _*)
      p.havingSql.foreach(h => out = out.filter(expr(h)))
      if (p.sortCols.nonEmpty) out = out.orderBy(p.sortCols: _*)
      p.limit.foreach(n => out = out.limit(n))
      out.queryExecution.analyzed
      SqlResult(out, routed = true,
        if (via == "cuboid") "cuboid-dimagg" else via,
        estRows = Some(routed.estRows).filter(_ >= 0))
    }.getOrElse(fallback)
  }

  /** the intersect_count rewrite: route bitmap states grouped by
    * (query dims + the intersect dim), filtered to the requested vals,
    * then AND per output */
  private def routeIntersect(spark: SparkSession, df: DataFrame,
      cube: CubeDef, states: CubeQuery => Routed, groupNames: Seq[String],
      outs: Seq[(MOut, String)], outNames: Seq[String],
      filterSql: Option[String], filterDims: Set[String],
      p: Peeled, via: String): SqlResult = {
    val intersects = outs.collect { case (mi: MIntersect, name) => (mi, name) }
    // supported shape: every measure output is an intersect over the
    // SAME dim; no extra WHERE (vals ARE the filter), no HAVING; the
    // intersect dim must not itself be grouped (a duplicate grouping
    // column would make the routed aggregate ambiguous — ADVICE r4)
    val dims = intersects.map(_._1.dim).distinct
    if (intersects.size != outs.size || dims.size != 1 ||
        filterSql.nonEmpty || p.havingSql.nonEmpty || p.winCols.nonEmpty ||
        groupNames.contains(dims.head) ||
        groupNames.exists(g => !cube.dims.contains(g)))
      return SqlResult(df, routed = false, "fallback")
    val dim = dims.head
    val allVals = intersects.flatMap(_._1.vals).distinct
    val needed = intersects.map(_._1.bitmapM).distinct
    val q = CubeQuery(groupNames :+ dim,
      needed.map(m => m -> s"__st_$m"),
      filter = Some(col(dim).isin(allVals.map(v => v: Any): _*)),
      filterDims = Set(dim))
    val routed = states(q)
    if (routed.fallback) return SqlResult(df, routed = false, "fallback")
    val aggCols = intersects.map { case (mi, name) =>
      val agg =
        if (mi.value) Measures.intersectValueState(mi.vals)
        else Measures.intersectState(mi.vals)
      agg(col(dim), col(s"__st_${mi.bitmapM}")).as(name)
    }
    val grouped = routed.df
      .groupBy(groupNames.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    // The `dim isin vals` pushdown drops groups with zero rows in ALL
    // requested vals, but raw-row semantics (and the reference's
    // RetentionPartialResult) return those groups with count 0
    // (ADVICE r4). Re-attach them: group keys from an UNFILTERED
    // cuboid scan (metadata-scale), left-join, default 0.
    val completed =
      if (groupNames.isEmpty) grouped
      else {
        val keysR = states(CubeQuery(groupNames, Seq(needed.head -> "__k")))
        if (keysR.fallback) return SqlResult(df, routed = false, "fallback")
        keysR.df.select(groupNames.map(col): _*)
          .join(grouped, groupNames, "left")
          .select(groupNames.map(col) ++ intersects.map { case (mi, name) =>
            val empty: Column =
              if (mi.value) org.apache.spark.sql.functions
                .typedLit(Array.empty[Long])
              else lit(0L)
            coalesce(col(name), empty).as(name)
          }: _*)
      }
    var out = completed.select(outNames.map(col): _*)
    if (p.sortCols.nonEmpty) out = out.orderBy(p.sortCols: _*)
    p.limit.foreach(n => out = out.limit(n))
    SqlResult(out, routed = true,
      if (via == "cuboid") "intersect-count" else via,
      estRows = Some(routed.estRows).filter(_ >= 0))
  }
}
