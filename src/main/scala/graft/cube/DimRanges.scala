package graft.cube

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, FloatType, StringType}

/** Per-segment dimension value ranges for query-time segment pruning
  * (reference: core-cube/src/main/java/org/apache/kylin/cube/
  * DimensionRangeInfo.java:35 — each READY segment carries a
  * min/max per dimension, collected by the build's
  * UpdateCubeInfoAfterBuildStep and consulted by common/
  * SegmentPruner.java:53 listSegmentsForQuery before any storage is
  * touched).
  *
  * graft already prunes segments on the TIME axis (the segment
  * column's [start, end) ranges); this closes the OTHER axis: a
  * filter on any materialized dim skips every segment whose observed
  * [min, max] for that dim cannot satisfy it. The canonical win is a
  * second date-ish column correlated with partition time (receipt
  * date vs ship date): time-partitioned segments then carry tight,
  * nearly-disjoint ranges, and a receipt-date predicate prunes like a
  * time predicate even though it is not the partition column. At
  * 100 TB that is whole segment file-listings and scans skipped from
  * METADATA alone.
  *
  * Semantics follow the reference's SegmentPruner.satisfy/
  * TupleFilterNode.checkSeg with two deliberate divergences:
  *  - an all-null range (min and max absent with the segment built)
  *    PRUNES comparisons instead of scanning: a row-level compare
  *    against NULL can never evaluate true, and `IS NULL` — the one
  *    predicate all-null rows do satisfy — is handled as its own
  *    node (always scan). The reference scans "since the result of
  *    null comparison is query engine specific" (SegmentPruner.java:
  *    124-127); here the engine IS Spark, whose three-valued compare
  *    never selects on NULL.
  *  - NOT is never inverted: the reference's `!checkSeg(child)`
  *    (TupleFilterNode.java:68-71) negates a CONSERVATIVE answer,
  *    which is unsound (a "might match, scan" child turns into
  *    "prune"). NOT nodes simply scan here.
  *
  * Every decision is conservative toward scanning: unrecognized
  * predicate shapes, dims without collected ranges (segments built
  * before this feature, or float/double dims whose string round-trip
  * is lossy), uncastable or inexact filter literals all answer
  * "might match". Pruning can only SHRINK the scanned segment set of
  * a query whose row-level filter still applies afterwards, so a
  * missed prune costs time, never correctness.
  */
object DimRanges {

  /** Observed value range of one dim in one segment. `dt` is the
    * dim's Spark DDL type (ranges are compared in the DIM's type, not
    * lexically — "10" < "9" as strings); min/max are the typed
    * min/max cast to string (dates/decimals/integers round-trip
    * exactly). Both absent ⇔ the segment has no non-null values for
    * the dim (all-null or zero rows) — the reference's
    * DimensionRangeInfo null/null convention. */
  final case class DimRange(dt: String, min: Option[String],
                            max: Option[String])

  /** Collect ranges for `segs` by scanning each segment's committed
    * BASE cuboid (it carries every dim; as aggregated output it is
    * orders of magnitude smaller than the flat table — and the scan
    * prunes to the dim columns, one min/max agg per segment).
    * Float/double dims are skipped: their cast-to-string canon can
    * lose ULPs and an off-by-epsilon bound could wrongly prune a
    * boundary-equal value. Failures yield no entry (scan-always),
    * never an error — range info is an optimization, not a
    * correctness input. */
  def collect(spark: SparkSession, inst: CubeInstance,
              segs: Seq[Segment]): Map[(String, String), DimRange] =
    collectWithCounts(spark, inst, segs)._1

  /** the dims of `cube` whose ranges are collectable from a base
    * cuboid with this schema — shared by collection and by the
    * pre-lease eligibility probe (a cube with NO eligible dims can
    * never reach coverage, so scheduled healing must not take the
    * build lease for it on every run). Float/double string canon can
    * lose ULPs, binary is not UTF-8 (cast-to-string mangles non-text
    * bytes) — an off-by-anything bound wrongly prunes, so neither
    * collects. */
  def eligibleDims(cube: CubeDef,
                   schema: org.apache.spark.sql.types.StructType)
      : Seq[String] =
    cube.dims.filter { d =>
      schema.find(_.name == d).exists(f =>
        f.dataType != FloatType && f.dataType != DoubleType &&
          f.dataType != BinaryType &&
          TypeUtils.checkForOrderingExpr(f.dataType, "dimrange")
            .isSuccess)
    }

  /** cheap schema-only probe: can THIS instance ever collect ranges?
    * One schema inference over the first segment's base cuboid: Spark
    * reads one footer in a 1-task job, and scans no rows.
    * False ⇔ no dim is eligible (or nothing is readable) — permanent
    * until the def changes, so callers may skip expensive machinery. */
  def anyEligible(spark: SparkSession, inst: CubeInstance): Boolean =
    scala.util.Try {
      val baseId = inst.cube.cuboidId(inst.cube.dims.toSet)
      inst.cube.segments.headOption.exists { seg =>
        val schema = spark.read
          .parquet(inst.cuboidPath(seg.name, baseId)).schema
        eligibleDims(inst.cube, schema).nonEmpty
      }
    }.getOrElse(false)

  /** Split a collection result into entries whose scanned base-cuboid
    * row count MATCHES the committed stats (safe to commit) and the
    * segment names that disagree (the dirs look damaged — ranges from
    * them could wrongly prune a segment other cuboids still answer).
    * A segment with no committed stat is accepted: there is nothing
    * to disagree with, and the scan itself succeeded. One spelling
    * shared by the CLI backfill (which REFUSES on torn) and the
    * policies heal (which quietly skips them) — the soundness check
    * must not fork. */
  def verifyAgainstStats(inst: CubeInstance,
                         collected: Map[(String, String), DimRange],
                         counts: Map[String, Long])
      : (Map[(String, String), DimRange], Seq[String]) = {
    val baseId = inst.cube.cuboidId(inst.cube.dims.toSet)
    def torn(seg: String): Boolean =
      inst.rows.get((seg, baseId))
        .exists(committed => !counts.get(seg).contains(committed))
    val tornSegs = collected.keySet.map(_._1).filter(torn).toSeq.sorted
    (collected.filterNot { case ((s, _), _) => torn(s) }, tornSegs)
  }

  /** like [[collect]], also returning each successfully scanned
    * segment's observed BASE-CUBOID row count (same job — the count
    * rides the agg). The backfill CLI cross-checks these against the
    * committed row stats: ranges derived from a damaged base cuboid
    * (truncated write, lost part files) would wrongly PRUNE a segment
    * whose other cuboids still answer, the one failure mode pruning
    * must never introduce. */
  def collectWithCounts(spark: SparkSession, inst: CubeInstance,
                        segs: Seq[Segment])
      : (Map[(String, String), DimRange], Map[String, Long]) =
    scala.util.Try {
      val cube = inst.cube
      val baseId = cube.cuboidId(cube.dims.toSet)
      val frames = segs.flatMap { seg =>
        scala.util.Try(
          spark.read.parquet(inst.cuboidPath(seg.name, baseId)))
          .toOption.map(seg -> _)
      }
      if (frames.isEmpty)
        (Map.empty[(String, String), DimRange], Map.empty[String, Long])
      else {
        val schema = frames.head._2.schema
        val dims = eligibleDims(cube, schema)
        if (dims.isEmpty)
          (Map.empty[(String, String), DimRange], Map.empty[String, Long])
        else {
          val dtOf = dims.map(d =>
            d -> schema(schema.fieldIndex(d)).dataType.sql).toMap
          // ONE job for all segments: tag each base-cuboid scan with
          // its segment name, aggregate per tag — N segments cost one
          // stage, not N driver-side job round-trips
          val tagged = frames.map { case (seg, df) =>
            df.select(org.apache.spark.sql.functions.lit(seg.name)
              .as("__seg") +: dims.map(col): _*)
          }.reduce(_ unionByName _)
          val aggs = dims.flatMap(d => Seq(
            min(col(d)).cast("string").as(s"min_$d"),
            max(col(d)).cast("string").as(s"max_$d"))) :+
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("__n")
          val bySeg = tagged.groupBy(col("__seg"))
            .agg(aggs.head, aggs.tail: _*)
            .head(frames.size + 1) // bounded: ≤ one row per segment
            .map(r => r.getString(0) -> r).toMap
          val ranges = frames.flatMap { case (seg, _) =>
            dims.zipWithIndex.map { case (d, i) =>
              (seg.name, d) -> (bySeg.get(seg.name) match {
                case Some(r) => DimRange(dtOf(d),
                  Option(r.getString(2 * i + 1)),
                  Option(r.getString(2 * i + 2)))
                // the scan succeeded and produced NO group row: the
                // segment has zero rows — the all-null/empty range
                case None => DimRange(dtOf(d), None, None)
              })
            }
          }.toMap
          val counts = frames.map { case (seg, _) =>
            seg.name -> bySeg.get(seg.name)
              .map(_.getLong(1 + 2 * dims.size)).getOrElse(0L)
          }.toMap
          (ranges, counts)
        }
      }
    }.getOrElse(
      (Map.empty[(String, String), DimRange], Map.empty[String, Long]))

  /** Merge two segments' range maps into the merged segment's
    * (reference: DimensionRangeInfo.mergeRangeMap:39 — min of mins,
    * max of maxes, an all-null side defers to the other, a dim
    * missing from EITHER side stays unknown in the result). */
  def merge(a: Map[String, DimRange], b: Map[String, DimRange])
      : Map[String, DimRange] =
    a.keySet.intersect(b.keySet).flatMap { d =>
      val (ra, rb) = (a(d), b(d))
      if (ra.dt != rb.dt) None
      else if (ra.min.isEmpty && ra.max.isEmpty) Some(d -> rb)
      else if (rb.min.isEmpty && rb.max.isEmpty) Some(d -> ra)
      else scala.util.Try {
        val dt = dtFromDDL(ra.dt).get
        val ord = TypeUtils.getInterpretedOrdering(dt)
        def pick(x: Option[String], y: Option[String], lo: Boolean)
            : Option[String] = (x.flatMap(parse(_, dt)), y.flatMap(parse(_, dt))) match {
          case (Some(xv), Some(yv)) =>
            if (ord.lt(xv, yv) == lo) x else y
          case _ => None
        }
        val mn = pick(ra.min, rb.min, lo = true)
        val mx = pick(ra.max, rb.max, lo = false)
        if (mn.isEmpty || mx.isEmpty) None else Some(d -> DimRange(ra.dt, mn, mx))
      }.toOption.flatten
    }.toMap

  /** the SESSION timezone, not the JVM default: collect renders
    * TIMESTAMP bounds to string inside a Spark job (session tz), so
    * re-parsing them through any other zone would shift every bound
    * and can wrongly prune matching segments. Build and query
    * sessions must agree on the session timezone — the same contract
    * the cuboid parquet's own timestamp encoding already carries. */
  private def zone: Option[String] =
    Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)

  /** cast a stored bound string back to the dim's type (TRY semantics:
    * unparseable ⇒ None ⇒ unknown ⇒ scan). Memoized: plan() re-checks
    * the same persisted bounds on every query against every candidate
    * segment — measured at 31 segments the uncached parse put ~36 µs
    * PER SEGMENT on the metadata-only plan path, which at thousands
    * of segments is tens of milliseconds per plan for identical
    * strings. Bounded FIFO-ish (clear on overflow): bounds are
    * per-(segment, dim) metadata, a few thousand live entries. */
  /** one spelling of the bounded JVM-wide memo all three plan-path
    * caches use (clear-on-overflow is fine for pure functions: the
    * worst case is recomputation). Two hand-rolled copies would have
    * to evolve together — the fork-risk the verifyAgainstStats
    * consolidation already condemned. */
  /** Cap of the per-value plan-path memos (parse/cast/bounds). SIZING
    * RULE: the cap must exceed the largest single PLAN's working set —
    * 2 bound strings × segments × filtered dims — or the
    * clear-on-overflow eviction fires mid-plan and every later plan
    * re-parses the whole set (thrash, measured by the SCALE probe's
    * 4000-segment × 10-dim conjunction shape: an 80k working set over
    * a 65,536 cap cleared per plan). 262,144 covers ~13,000 segments
    * × 10 filtered dims at a bounded worst-case memory cost (entries
    * are short strings + boxed primitives — tens of MB, paid only by
    * metadata-heavy serving processes that benefit most). */
  private[graft] val MemoCap = 262144

  /** clear-on-overflow events across all plan-path memos: end-state
    * SIZES cannot prove no-thrash (a cleared memo reads small again by
    * report time), so the SCALE probe asserts this counter instead */
  private val memoClears = new java.util.concurrent.atomic.AtomicLong

  private def memo[K, V](cache: java.util.concurrent.ConcurrentHashMap[
      K, Option[V]], max: Int)(k: K)(f: => Option[V]): Option[V] = {
    val hit = cache.get(k)
    if (hit != null) hit
    else {
      val v = f
      if (cache.size > max) { cache.clear(); memoClears.incrementAndGet(): Unit }
      cache.put(k, v)
      v
    }
  }

  /** probe visibility (the metadata SCALE probe): live entry counts of
    * the plan-path memos against their caps — a single plan whose
    * working set exceeded a cap would clear-and-rebuild the memo on
    * every plan (thrash), so the probe asserts headroom at realistic
    * segment×dim cardinalities instead of guessing. */
  private[graft] def memoSizes: Map[String, Int] = Map(
    "parse" -> parseMemo.size, "cast" -> castMemo.size,
    "ddl" -> ddlMemo.size, "bounds" -> boundsMemo.size,
    "clears" -> memoClears.get().toInt)

  /** Interpreted orderings are allocated per `getInterpretedOrdering`
    * call; the plan path compares against the same handful of dim
    * types for every candidate segment of every query — cache one
    * ordering per type (tiny, unbounded is fine: the key space is the
    * cube's dim types). */
  private val ordMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Ordering[Any]]()

  /** Memoized segment-bound resolution: (range, zone) → (min, max,
    * ordering). One CHM hit per (segment, compare) on the plan hot
    * path instead of two parse lookups + a Try/Option allocation
    * chain — at thousands of segments this is the difference the
    * metadata SCALE probe measures. Zone rides the key like parseMemo:
    * a timestamp bound is a different instant under a different
    * session timezone. */
  private val boundsMemo = new java.util.concurrent.ConcurrentHashMap[
    (DimRange, String), Option[(Any, Any, Ordering[Any])]]()
  private def boundsOf(rng: DimRange): Option[(Any, Any, Ordering[Any])] =
    memo(boundsMemo, MemoCap)((rng, zone.getOrElse(""))) {
      dtFromDDL(rng.dt).flatMap { dt =>
        scala.util.Try {
          for (mn <- rng.min.flatMap(parse(_, dt));
               mx <- rng.max.flatMap(parse(_, dt)))
            yield (mn, mx, ordMemo.computeIfAbsent(dt.sql,
              _ => TypeUtils.getInterpretedOrdering(dt)))
        }.toOption.flatten
      }
    }

  private val parseMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), Option[Any]]()
  private def parse(s: String, dt: DataType): Option[Any] =
    // the zone is part of the key: a timestamp bound parses to a
    // different instant under a different session timezone
    memo(parseMemo, MemoCap)((s, dt.sql, zone.getOrElse(""))) {
      scala.util.Try(Option(Cast(Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        StringType), dt, zone, EvalMode.TRY).eval(null)))
        .toOption.flatten
    }

  /** memoized DDL → DataType: fromDDL runs the SQL parser, tens of µs
    * per call — plan() resolves the same handful of dim types for
    * every candidate segment of every query. The ambiguous timestamp
    * names are pinned FIRST, conf-independently: `DataType.sql`
    * rendered "TIMESTAMP" from TimestampType at collect time, but
    * fromDDL resolves that token through spark.sql.timestampType — a
    * session running NTZ-by-default would silently reinterpret every
    * persisted LTZ bound as wall-clock micros (wrong prunes), and a
    * conf-free cache key would even leak one session's resolution
    * into another. Pinning restores "parse what collect wrote"
    * regardless of conf, and makes the bare-string key sound. */
  private val ddlMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Option[DataType]]()
  private def dtFromDDL(ddl: String): Option[DataType] =
    ddl.trim.toUpperCase(java.util.Locale.ROOT) match {
      case "TIMESTAMP" | "TIMESTAMP_LTZ" =>
        Some(org.apache.spark.sql.types.TimestampType)
      case "TIMESTAMP_NTZ" =>
        Some(org.apache.spark.sql.types.TimestampNTZType)
      case _ => memo(ddlMemo, 4096)(ddl) {
        scala.util.Try(DataType.fromDDL(ddl)).toOption
      }
    }

  /** cast a filter literal into the dim's type, accepting only EXACT
    * conversions: the value must round-trip back to its own type
    * unchanged. A lossy cast (10.5 ⇒ INT 10, or "-10.5" ⇒ -10) could
    * move a bound past a real value and prune a matching segment —
    * the truncation-toward-zero case is actively unsound for
    * comparisons against negative bounds. Memoized like parse: the
    * (literal, dim-type) pair does not vary across the candidate
    * segments of a plan, yet sides() resolves it once per segment —
    * two Cast evals per compare node per segment adds up at thousands
    * of segments. Literal internal values (UTF8String, Decimal, Long…)
    * are value-classes with stable equals/hashCode. */
  private val castMemo = new java.util.concurrent.ConcurrentHashMap[
    (Any, String, String, String), Option[Any]]()
  private def exactCast(lit: Literal, dt: DataType): Option[Any] = {
    if (lit.value == null) return None
    if (lit.dataType == dt) return Some(lit.value)
    memo(castMemo, MemoCap)(
      (lit.value, lit.dataType.sql, dt.sql, zone.getOrElse(""))) {
      scala.util.Try {
        Option(Cast(lit, dt, zone, EvalMode.TRY).eval(null)).filter { dv =>
          val back = Option(Cast(Literal(dv, dt), lit.dataType, zone,
            EvalMode.TRY).eval(null))
          back.exists(b => scala.util.Try(
            TypeUtils.getInterpretedOrdering(lit.dataType)
              .equiv(b, lit.value)).getOrElse(false))
        }
      }.toOption.flatten
    }
  }

  /** Name of a plain attribute reference, if the expression is one.
    * A QUALIFIED unresolved name (`t.col`) may reference another
    * relation that happens to share a cube dim's name — binding it to
    * that dim's ranges could wrongly PRUNE a segment, the one
    * unsoundness this scan-conservative module must never commit
    * (ADVICE r16). Unqualified-only costs nothing in practice: the
    * routed filters this module sees reference bare view columns. */
  private[cube] def attrName(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute if u.nameParts.size == 1 =>
      Some(u.nameParts.head)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  /** One-level normalization: a Column built with the DataFrame API
    * (`col("d") >= lit(5)`) carries UNRESOLVED FUNCTION nodes named
    * `>=`/`and`/`in`/…, not the typed Catalyst comparisons a
    * SQL-parsed predicate carries — map the top node onto its typed
    * twin so canMatch sees one shape. Children stay as-is: canMatch
    * re-enters through this for And/Or, and the leaf operands
    * (attributes, literals) convert identically on both paths. */
  private[cube] def norm(e: Expression): Expression = e match {
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts.size == 1 && !f.isDistinct && f.filter.isEmpty =>
      val a = f.arguments
      (f.nameParts.head.toLowerCase(java.util.Locale.ROOT), a.size) match {
        case ("and", 2) => And(a(0), a(1))
        case ("or", 2) => Or(a(0), a(1))
        case ("!" | "not", 1) => Not(a(0))
        case ("=" | "==" | "equalto", 2) => EqualTo(a(0), a(1))
        case ("<=>", 2) => EqualNullSafe(a(0), a(1))
        case (">", 2) => GreaterThan(a(0), a(1))
        case (">=", 2) => GreaterThanOrEqual(a(0), a(1))
        case ("<", 2) => LessThan(a(0), a(1))
        case ("<=", 2) => LessThanOrEqual(a(0), a(1))
        case ("in", n) if n >= 2 => In(a.head, a.tail)
        case ("isnull", 1) => IsNull(a(0))
        case ("isnotnull", 1) => IsNotNull(a(0))
        case ("between", 3) => And(GreaterThanOrEqual(a(0), a(1)),
          LessThanOrEqual(a(0), a(2)))
        case _ => f
      }
    case other => other
  }

  /** can `seg` possibly hold a row satisfying `filter`? The
    * AND/OR recursion of the reference's TupleFilterNode.checkSeg:
    * AND needs every child possible, OR needs any, a recognized
    * compare checks the dim's range, anything else answers "possible"
    * (scan). `ranges` is the segment's dim → range map. */
  def canMatch(ranges: Map[String, DimRange], filter: Expression): Boolean = {

    // resolve (dim, literal) out of a binary compare, either order;
    // `flip` is true when the literal is on the LEFT (5 < d ⇔ d > 5)
    def sides(l: Expression, r: Expression)
        : Option[(DimRange, Any, Boolean)] =
      ((l, r) match {
        case (d, lit: Literal) => attrName(d).map(n => (n, lit, false))
        case (lit: Literal, d) => attrName(d).map(n => (n, lit, true))
        case _ => None
      }).flatMap { case (n, lit, flip) =>
        ranges.get(n).map((_, lit, flip))
      }.flatMap { case (rng, lit, flip) =>
        // all-null segment: no compare can select a row (divergence
        // from the reference, see the scaladoc) — signal with a null
        // sentinel the callers below turn into `false`
        if (rng.min.isEmpty && rng.max.isEmpty) Some((rng, null, flip))
        else dtFromDDL(rng.dt)
          .flatMap(dt => exactCast(lit, dt).map(v => (rng, v, flip)))
      }

    def bounds(rng: DimRange): Option[(Any, Any, Ordering[Any])] =
      boundsOf(rng)

    // range checks, each None ⇒ unknown ⇒ scan
    def eqPossible(rng: DimRange, v: Any): Boolean =
      if (v == null) false
      else bounds(rng).forall { case (mn, mx, ord) =>
        ord.lteq(mn, v) && ord.lteq(v, mx) }
    def ltPossible(rng: DimRange, v: Any): Boolean = // some row < v
      if (v == null) false
      else bounds(rng).forall { case (mn, _, ord) => ord.lt(mn, v) }
    def ltePossible(rng: DimRange, v: Any): Boolean =
      if (v == null) false
      else bounds(rng).forall { case (mn, _, ord) => ord.lteq(mn, v) }
    def gtPossible(rng: DimRange, v: Any): Boolean =
      if (v == null) false
      else bounds(rng).forall { case (_, mx, ord) => ord.gt(mx, v) }
    def gtePossible(rng: DimRange, v: Any): Boolean =
      if (v == null) false
      else bounds(rng).forall { case (_, mx, ord) => ord.gteq(mx, v) }

    norm(filter) match {
      case And(l, r) => canMatch(ranges, l) && canMatch(ranges, r)
      case Or(l, r) => canMatch(ranges, l) || canMatch(ranges, r)
      case EqualTo(l, r) =>
        sides(l, r).forall { case (rng, v, _) => eqPossible(rng, v) }
      case EqualNullSafe(l, r) =>
        // d <=> NULL selects null rows — ranges can't refute that;
        // with a non-null literal it behaves exactly like EqualTo
        ((l, r) match {
          case (_, lit: Literal) if lit.value == null => None
          case (lit: Literal, _) if lit.value == null => None
          case _ => sides(l, r)
        }).forall { case (rng, v, _) => eqPossible(rng, v) }
      case LessThan(l, r) => sides(l, r).forall {
        case (rng, v, false) => ltPossible(rng, v) // d < v
        case (rng, v, true) => gtPossible(rng, v) // v < d ⇔ d > v
      }
      case LessThanOrEqual(l, r) => sides(l, r).forall {
        case (rng, v, false) => ltePossible(rng, v)
        case (rng, v, true) => gtePossible(rng, v)
      }
      case GreaterThan(l, r) => sides(l, r).forall {
        case (rng, v, false) => gtPossible(rng, v)
        case (rng, v, true) => ltPossible(rng, v)
      }
      case GreaterThanOrEqual(l, r) => sides(l, r).forall {
        case (rng, v, false) => gtePossible(rng, v)
        case (rng, v, true) => ltePossible(rng, v)
      }
      case In(d, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        // possible iff ANY in-list value is possible (null list
        // values never match rows, eqPossible answers false for them)
        attrName(d).flatMap(ranges.get) match {
          case None => true
          case Some(rng) =>
            if (rng.min.isEmpty && rng.max.isEmpty) false
            else dtFromDDL(rng.dt) match {
              case None => true
              case Some(dt) => vs.exists { v =>
                val lit = v.asInstanceOf[Literal]
                if (lit.value == null) false
                else exactCast(lit, dt) match {
                  case Some(cv) => eqPossible(rng, cv)
                  case None => true // inexact ⇒ unknown ⇒ possible
                }
              }
            }
        }
      case IsNotNull(d) =>
        // a built segment whose range says "no non-null values"
        // cannot produce a row passing IS NOT NULL
        attrName(d).flatMap(ranges.get)
          .forall(r => r.min.nonEmpty || r.max.nonEmpty)
      case l @ Literal(_, org.apache.spark.sql.types.BooleanType) =>
        // a literally-FALSE (or null) boolean conjunct selects no row
        // anywhere — the derived-filter translator emits FALSE when a
        // lookup predicate matches NO snapshot row, so no fact row can
        // ever pass the post-attach filter either
        l.value == true
      case _ => true // IsNull, Not, functions, non-literal compares, …
    }
  }

  /** the plan-time entry point: keep only segments whose ranges might
    * satisfy the query filter. Metadata-only — no I/O. */
  def pruneSegments(inst: CubeInstance, segs: Seq[Segment],
                    filter: Option[org.apache.spark.sql.Column])
      : Seq[Segment] =
    filter match {
      case None => segs
      case Some(f) =>
        val expr = scala.util.Try(
          org.apache.spark.sql.graftbridge.ColumnBridge.expressionTree(f))
        expr.toOption match {
          case None => segs
          case Some(e0) =>
            // normalize the DataFrame-API function nodes to their
            // typed twins ONCE: canMatch's per-node norm() would
            // otherwise RECONSTRUCT the typed tree for every segment
            // (S × nodes allocations on the plan hot path); after
            // this pass its per-segment norm is a no-op case-miss
            val e = e0.transformUp { case x => norm(x) }
            // per-segment maps come from the instance's ONCE-computed
            // regrouping (CubeInstance.rangesBySegment): a per-plan
            // regroup was O(S·D) work per query at thousands of
            // segments
            segs.filter { s =>
              inst.rangesBySegment.get(s.name) match {
                case None => true
                case Some(rs) => canMatch(rs, e)
              }
            }
        }
    }
}
