package graft.cube

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{RelationBridge, ScanBridge}
import org.apache.spark.sql.types.{StructType, TimestampType}

import scala.jdk.CollectionConverters._

/** A built cube on disk: parquet layout `<root>/<cube>/<segment>/
  * cuboid=<id>/` (reference: ParquetStorage.scala:1-34), plus the
  * row-count metadata the router uses to pick the cheapest cuboid.
  */
final case class CubeInstance(
    cube: CubeDef,
    root: String,
    rows: Map[(String, Long), Long], // (segmentName, cuboidId) -> rows
    /** cuboids materialized by `optimizeCuboids` AFTER the declared
      * build (cube-planner phase 2): part of `cube.cuboids` for
      * routing/building, but excluded from the metadata fingerprint —
      * lattice evolution must not read as a CubeDef drift that forces
      * a rebuild */
    extraCuboids: Seq[Set[String]] = Nil,
    /** (segmentName, dim) → observed value range, collected from each
      * segment's base cuboid at build/append/refresh and consulted by
      * QueryRouter.plan to prune segments on NON-time filters
      * (reference: DimensionRangeInfo.java per-segment min/max +
      * SegmentPruner.java). Metadata like extraCuboids — outside the
      * fingerprint; an absent entry means "unknown, scan". */
    dimRanges: Map[(String, String), DimRanges.DimRange] = Map.empty) {

  def cuboidPath(seg: String, id: Long): String =
    s"$root/${cube.name}/$seg/cuboid=$id"

  /** `dimRanges` regrouped per segment, computed ONCE per instance:
    * the plan hot path consults a segment's dim→range map for every
    * candidate segment of every query — regrouping the whole
    * (segment, dim) map per plan is O(S·D) work per query at
    * thousands of segments (the metadata SCALE probe's finding). */
  @transient lazy val rangesBySegment
      : Map[String, Map[String, DimRanges.DimRange]] =
    dimRanges.groupMap(_._1._1) { case ((_, d), r) => d -> r }
      .view.mapValues(_.toMap).toMap

  def totalRows(c: Set[String]): Long = {
    val id = cube.cuboidId(c)
    cube.segments.map(s => rows.getOrElse((s.name, id), 0L)).sum
  }

  /** committed parquet schema per read shape (`cuboid=<id>` or
    * `snapshots/<lookup>`). Spark's Parquet schema inference runs a
    * 1-task job per read; the schema of a committed layout is fixed for
    * the life of this instance, and CubeManager builds a new instance on
    * every buildId drift (build, refresh, merge, foreign commit), so the
    * memo never outlives the layout it describes. Per instance on
    * purpose: never keyed globally, never persisted into meta. */
  @transient private lazy val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private[graft] def memoizedShapes: Set[String] =
    schemas.keySet.asScala.toSet

  /** The one committed-read builder: one relation over `dirs` (one
    * per segment, or the snapshot dir), partitioned by the `shard`
    * dirs under each when given. The first read of a shape infers its
    * schema from `probe`; every later read passes it and runs no job.
    * Files are listed per read, so a swapped or vanished dir surfaces
    * exactly as without the memo: a missing dir fails with
    * PATH_NOT_FOUND naming it. */
  private def readCommitted(spark: SparkSession, shape: String,
                            dirs: Seq[String], shard: Option[String],
                            probe: String): DataFrame = {
    val schema = Option(schemas.get(shape)).getOrElse {
      val s = spark.read.parquet(probe).schema
      schemas.putIfAbsent(shape, s)
      s
    }
    val fs = new Path(probe)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = dirs.map(d => fs.makeQualified(new Path(d)))
    val leaves = shard match {
      case None => roots.map(_ -> Nil)
      case Some(c) => roots.flatMap { d =>
        val listed = try fs.listStatus(d) catch {
          case _: java.io.FileNotFoundException =>
            throw RelationBridge.pathNotFound(d.toString)
        }
        val prefix = s"$c="
        listed.iterator.collect {
          case st if st.isDirectory &&
              st.getPath.getName.startsWith(prefix) =>
            st.getPath -> Seq(st.getPath.getName.drop(prefix.length))
        }
      }
    }
    RelationBridge.parquet(spark, schema, shard.toSeq, leaves)
  }

  /** Cuboid `id` over `segs`: one relation and one scan node over
    * every segment dir, shard-partitioned or not. With a supplied
    * schema a dir that exists but holds no data files would read as
    * empty, so a segment the committed stats count as non-empty must
    * list data files — checked on the listing the read already made. */
  def readCuboid(spark: SparkSession, id: Long, segs: Seq[String],
                 sharded: Boolean): DataFrame = {
    val probe = segs.find(s => rows.getOrElse((s, id), 0L) > 0)
      .getOrElse(segs.head)
    val df = readCommitted(spark, s"cuboid=$id",
      segs.map(cuboidPath(_, id)), if (sharded) cube.shardBy else None,
      cuboidPath(probe, id))
    val base = new Path(s"$root/${cube.name}")
    val prefix = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(base).toUri.getPath + "/"
    val listed = ScanBridge.scanFiles(df).iterator
      .map(f => new Path(f).toUri.getPath)
      .filter(_.startsWith(prefix))
      .map(_.substring(prefix.length).takeWhile(_ != '/')).toSet
    segs.find(seg => rows.getOrElse((seg, id), 0L) > 0 && !listed(seg))
      .foreach(seg => throw new IllegalStateException(
        s"committed cuboid dir ${cuboidPath(seg, id)} lists no data " +
          s"files but the committed stats count ${rows((seg, id))} rows"))
    df
  }

  def readSnapshot(spark: SparkSession, lookup: String): DataFrame = {
    val dir = Snapshot.path(root, lookup)
    readCommitted(spark, s"snapshots/$lookup", Seq(dir), None, dir)
  }
}

/** Layered spanning-tree cuboid build (reference: CubeBuildJob.java:
  * 100-205 `ForestSpanningTree`/`buildLayer` + CuboidAggregator.scala:
  * 50-131): the base cuboid aggregates the flat table once; every child
  * cuboid re-aggregates its CHEAPEST already-built parent — at 100 TB
  * this is the difference between scanning the flat table 2^d times
  * and scanning it once, with each further layer shrinking geometrically.
  * Mergeable measure state (bitmap/HLL/TopN/KLL bytes, decimal partial
  * sums) is carried between layers so e.g. exact count-distinct stays
  * exact through re-aggregation.
  */
object CubeBuilder {

  /** per-phase build timing (VERDICT r4 item 5): one line per cuboid
    * write and per lifecycle phase, so build-time regressions point at
    * the phase that caused them instead of one opaque total. Totals
    * also accumulate per phase for the bench report (`build_phases`). */
  private val phaseAcc = scala.collection.mutable.HashMap.empty[String, Double]

  /** accumulated seconds per phase since JVM start (or last reset) */
  def phaseTotals: Map[String, Double] =
    phaseAcc.synchronized(phaseAcc.toMap)

  private[cube] def logPhase(phase: String, detail: String, sec: Double): Unit = {
    phaseAcc.synchronized {
      phaseAcc.update(phase, phaseAcc.getOrElse(phase, 0.0) + sec)
    }
    System.err.println(f"[graft-build] $phase $detail ${sec}%.1fs")
  }

  /** spec/probe instrumentation: when armed, every [[timed]] phase
    * also appends (phase, detail, startNs, endNs) — how the
    * dict-lease contention spec/probe prove which phases of two
    * CONCURRENT builds serialized (dictionary, under the root-level
    * lease) and which overlapped (everything else). Off by default:
    * production builds pay one AtomicBoolean read per phase. */
  private[graft] val traceArmed =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val phaseTrace = new java.util.concurrent
    .ConcurrentLinkedQueue[(String, String, Long, Long)]()
  private[graft] def clearTrace(): Unit = phaseTrace.clear()

  private[cube] def timed[T](phase: String, detail: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val t1 = System.nanoTime()
    if (traceArmed.get()) phaseTrace.add((phase, detail, t0, t1)): Unit
    logPhase(phase, detail, (t1 - t0) / 1e9)
    r
  }

  /** spec-only crash injection: armed with N ≥ 0, the (N+1)th cuboid
    * write attempt of any build throws before writing — how
    * BuildResumeSpec kills a build mid-cuboid-layers without a real
    * process kill. Once tripped it KEEPS throwing (concurrent segment
    * threads of the "crashed" build die at their next write instead of
    * silently completing) until a spec disarms it with
    * [[DisarmedFailure]] (the production state). */
  private[graft] val DisarmedFailure = Int.MinValue
  private[graft] val failAfterCuboidWrites =
    new java.util.concurrent.atomic.AtomicInteger(DisarmedFailure)

  /** Build all segments of `cube` from `flat` (the materialized star
    * join). Returns the instance with per-cuboid row counts.
    * STEP-RESUMABLE (VERDICT r15 item 1): the attempt persists a
    * [[BuildJob]] id, every completed cuboid dir is marked with it,
    * and a re-entered build (crash → lease re-acquired) skips the
    * marked dirs — resuming from the last committed layer instead of
    * redoing the whole build. The metadata still commits ONCE at the
    * end. */
  def build(spark: SparkSession, flat: DataFrame, cube: CubeDef,
            root: String): CubeInstance = {
    // Segments must cover the data: a row outside every segment range
    // would silently vanish from all cuboids (ADVICE r2). One cheap
    // min/max job over the segment column catches that at build time.
    val mm = flat.agg(
      min(col(cube.segmentCol)).cast("string"),
      max(col(cube.segmentCol)).cast("string")).head()
    val (covLo, covHi) =
      (cube.segments.map(_.start).min, cube.segments.map(_.end).max)
    require(mm.isNullAt(0) ||
      (mm.getString(0) >= covLo && mm.getString(1) < covHi),
      s"cube ${cube.name}: data range [${mm.get(0)}, ${mm.get(1)}] not " +
        s"covered by segments [$covLo, $covHi) — rows would be dropped")

    // the build ATTEMPT: resumes a crashed attempt of the same def
    // (same fingerprint + segments), else mints a fresh id that
    // invalidates the old attempt's markers. Callers hold the lease.
    val job = BuildJob.begin(spark, cube, root)
    // segments are independent — build them as concurrent job groups
    // (Kylin schedules them as separate build jobs too); each segment's
    // small cuboid writes alone underutilize the cluster
    val rows = awaitAll(cube.segments.map(seg =>
      () => buildSegment(spark, flat, cube, root, seg, Some(job))))
      .reduce(_ ++ _)
    val built = CubeInstance(cube, root, rows)
    // dim-range collection rides the build (reference:
    // UpdateCubeInfoAfterBuildStep.java) — one min/max agg per
    // segment over the just-committed base cuboid, metadata-scale
    // next to the build itself
    val inst = built.copy(
      dimRanges = DimRanges.collect(spark, built, cube.segments))
    // metadata commit LAST: a crashed build never publishes a partial
    // cube; a restarted process loads this instead of rebuilding
    CubeMeta.save(spark, inst)
    BuildJob.finish(spark, job)
    inst
  }

  private def awaitAll[T](thunks: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // settle EVERY future before surfacing a failure — fail-fast would
    // hand control back (and invite a same-process retry/resume) while
    // sibling segment writes still run, zombie writes racing the
    // retry's overwrites of the very same cuboid dirs
    val settled = Future.sequence(
      thunks.map(t => Future(t()).transform(scala.util.Success(_))))
    Await.result(settled, Duration.Inf).map(_.get)
  }

  /** Build ONE segment's cuboids (the unit of Kylin's incremental
    * build job — a new day/partition of data is one buildSegment call,
    * never a full rebuild). Returns per-cuboid row counts. */
  def buildSegment(spark: SparkSession, flat: DataFrame, cube: CubeDef,
                   root: String, seg: Segment,
                   job: Option[BuildJob.Job] = None)
      : Map[(String, Long), Long] = {
    val stateAggs = cube.measures.map(m => m.fromRaw.as(m.stateCol))
    val reAggs = cube.measures.map(m => m.fromState(m.stateCol).as(m.stateCol))
    // base first, then descending dim-count so parents exist before children
    val order = cube.cuboids.sortBy(c => (-c.size, cube.cuboidId(c)))
    var rows = Map.empty[(String, Long), Long]
    val segFlat = flat.filter(
      col(cube.segmentCol) >= lit(seg.start).cast(TimestampType) &&
      col(cube.segmentCol) < lit(seg.end).cast(TimestampType))
    // (dims, id, rowCount) of cuboids already built in this segment
    var built = List.empty[(Set[String], Long, Long)]
    order.foreach { c =>
      val id = cube.cuboidId(c)
      val path = cuboidPath(root, cube, seg.name, id)
      // resume: a dir this ATTEMPT already committed (marker carries
      // the jobId + observed row count) is skipped, and still joins
      // `built` so children re-aggregate from its parquet — which is
      // also what keeps a mixed skipped/rebuilt segment internally
      // consistent: every child derives from the committed parent.
      val n = job.flatMap(j => BuildJob.cuboidRows(spark, j, path))
        .getOrElse {
          if (failAfterCuboidWrites.get() != DisarmedFailure &&
              failAfterCuboidWrites.decrementAndGet() < 0)
            throw new IllegalStateException(
              "graft-spec: injected build crash")
          val dimCols = cube.cuboidDims(c).map(col)
          val df =
            if (c == cube.dims.toSet)
              segFlat.groupBy(dimCols: _*)
                .agg(stateAggs.head, stateAggs.tail: _*)
            else {
              // cheapest-parent selection (CuboidLayoutChooser.scala:25)
              val (_, pId, _) = built.filter(b => c.subsetOf(b._1))
                .minBy(b => (b._3, b._1.size))
              spark.read.parquet(cuboidPath(root, cube, seg.name, pId))
                .groupBy(dimCols: _*).agg(reAggs.head, reAggs.tail: _*)
            }
          // Row count piggybacks on the write via observe — no extra
          // job re-reading what we just wrote (ADVICE r2).
          val obs = Observation()
          val written =
            timed("cuboid", s"${cube.name}/${seg.name}/$id(${c.size}d)") {
              writeCuboid(cube, c,
                df.observe(obs, count(lit(1)).as("n")), path, obs)
            }
          // marker AFTER the write returned — a crash in between
          // leaves an unmarked dir the resume rewrites
          job.foreach(j => BuildJob.markCuboid(spark, j, path, written))
          written
        }
      built ::= (c, id, n)
      rows += (seg.name, id) -> n
    }
    rows
  }

  /** Incremental append: build one NEW segment into an existing
    * instance (the daily-build lifecycle). The new segment must not
    * overlap existing ones. */
  def appendSegment(spark: SparkSession, inst: CubeInstance,
                    flat: DataFrame, seg: Segment): CubeInstance = {
    require(inst.cube.segments.forall(s => seg.end <= s.start || s.end <= seg.start),
      s"segment ${seg.name} [${seg.start},${seg.end}) overlaps an existing segment")
    val rows = buildSegment(spark, flat, inst.cube, inst.root, seg)
    val segs = (inst.cube.segments :+ seg).sortBy(_.start)
    val next0 =
      CubeInstance(inst.cube.copy(segments = segs), inst.root,
        inst.rows ++ rows, inst.extraCuboids, inst.dimRanges)
    val next = next0.copy(dimRanges =
      next0.dimRanges ++ DimRanges.collect(spark, next0, Seq(seg)))
    CubeMeta.save(spark, next) // the appended segment list is the new truth
    next
  }

  /** Refresh ONE existing segment from (possibly corrected) source
    * data (reference: Kylin's REFRESH job — RebuildSegment builds the
    * replacement aside and swaps, leaving every other segment's
    * parquet untouched). STAGED, not in-place: the rebuild lands under
    * `<seg>.refreshing` while the live segment keeps serving; only a
    * completed rebuild swaps in — live renamed ASIDE, staging renamed
    * in, retired copy deleted last. Both renames are CHECKED (Hadoop
    * reports most failures as a boolean; unchecked, a failed swap
    * would commit meta for a segment whose dir vanished — every later
    * query pays a FULL rebuild while the operator reads success) and
    * a failed landing restores the retired dir, so the cube never
    * unpublishes on a reported success. Crash windows: during
    * staging — live untouched, stale staging dir is garbage; between
    * the two renames — the live dir is missing but `<seg>.retired`
    * holds it whole, and the next metadata load's base-cuboid
    * spot-check catches it (miss ⇒ rebuild; a concurrent reader in
    * this metadata-sized window fails transiently, same as a drift
    * rebuild's overwrite); after the swap before the final meta
    * commit — data is new and the metadata is the CONSERVATIVE
    * pre-swap commit below (the refreshed segment's row counts and
    * dim ranges stripped), so answers stay correct and only cost
    * estimates degrade until the final commit lands. Without that
    * strip, stale metadata would now be a CORRECTNESS hazard, not a
    * cost one: a rows==0 entry skips the segment entirely and stale
    * dim ranges can prune the corrected data's new values — a crash
    * in this window would serve missing rows until the next refresh.
    * A reader that loaded the pre-strip meta just before the strip
    * landed has the same exposure for one swap window; that race is
    * the width of the dir renames themselves, the already-documented
    * transient.
    *
    * STEP-RESUMABLE like [[build]]: the refresh ATTEMPT — identified
    * by the def fingerprint and the refreshed segment's range — marks
    * each completed STAGED cuboid dir, so a crashed refresh re-entered
    * under the lease redoes only the missing staged cuboids. No base
    * build id is folded into the attempt key (unlike a merge, the
    * staging derives from SOURCE, not from other cuboid parquet); a
    * def or range change mints a fresh id and the stale staged markers
    * are never trusted. After the swap the live dirs carry the
    * attempt's markers — harmless, the next full-build attempt has its
    * own jobId and rewrites via overwrite. */
  def refreshSegment(spark: SparkSession, inst: CubeInstance,
                     flat: DataFrame, segmentName: String): CubeInstance = {
    val seg = inst.cube.segments.find(_.name == segmentName)
      .getOrElse(throw new IllegalArgumentException(
        s"no segment $segmentName to refresh"))
    val staged = seg.copy(name = s"${seg.name}.refreshing")
    val job = BuildJob.beginRefresh(spark, inst.cube, inst.root, seg)
    val stagedRows =
      buildSegment(spark, flat, inst.cube, inst.root, staged, Some(job))
    val live = new Path(s"${inst.root}/${inst.cube.name}/${seg.name}")
    val tmp = new Path(s"${inst.root}/${inst.cube.name}/${staged.name}")
    val retired =
      new Path(s"${inst.root}/${inst.cube.name}/${seg.name}.retired")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // conservative PRE-SWAP meta commit: drop the refreshed segment's
    // row counts and dim ranges so any crash between the swap and the
    // final commit leaves metadata that says "unknown, scan" instead
    // of "empty/out-of-range, skip" — the empty-segment skip and
    // dim-range pruning act on ANSWERS, and the old entries describe
    // the data this swap is about to replace
    CubeMeta.save(spark, inst.copy(
      rows = inst.rows.filterNot { case ((s, _), _) => s == seg.name },
      dimRanges = inst.dimRanges.filterNot {
        case ((s, _), _) => s == seg.name })): Unit
    fs.delete(retired, true) // a crashed prior swap's leftover
    if (fs.exists(live) && !fs.rename(live, retired))
      throw new IllegalStateException(
        s"refresh swap failed: could not retire $live")
    if (!fs.rename(tmp, live)) {
      fs.rename(retired, live) // restore — the segment stays live
      throw new IllegalStateException(
        s"refresh swap failed: could not land $tmp at $live — the " +
          "previous segment was restored")
    }
    fs.delete(retired, true): Unit
    val rows = stagedRows.map { case ((_, id), n) => (seg.name, id) -> n }
    val next0 = CubeInstance(inst.cube, inst.root, inst.rows ++ rows,
      inst.extraCuboids,
      // the refreshed segment's old ranges describe the REPLACED data
      inst.dimRanges.filterNot { case ((s, _), _) => s == seg.name })
    val next = next0.copy(dimRanges =
      next0.dimRanges ++ DimRanges.collect(spark, next0, Seq(seg)))
    CubeMeta.save(spark, next)
    BuildJob.finish(spark, job)
    next
  }

  /** Merge ALL segments into one (reference: cube merge job). */
  def mergeSegments(spark: SparkSession, inst: CubeInstance,
                    mergedName: String): CubeInstance =
    mergeSegments(spark, inst, mergedName, inst.cube.segments)

  /** Merge a CONTIGUOUS run of segments into one (the general form of
    * the reference's merge job — Kylin merges adjacent segments, never
    * ranges with a hole): per cuboid, read the run's parquet as one
    * relation and re-aggregate states with the same fromState exprs
    * used in the layered build. Untouched segments keep their dirs and
    * row counts; the returned instance swaps the run for the merged
    * segment.
    * STEP-RESUMABLE like [[build]]: the merge ATTEMPT — identified by
    * the def fingerprint, the run, AND the base buildId it merges
    * from — markers each completed merged-cuboid dir, so a crashed
    * merge re-entered under its lease redoes only the missing
    * cuboids; a base rebuilt in between mints a fresh attempt and the
    * stale markers are never trusted. */
  def mergeSegments(spark: SparkSession, inst: CubeInstance,
                    mergedName: String, toMerge: Seq[Segment],
                    baseBuildId: Option[String] = None): CubeInstance = {
    val cube = inst.cube
    require(toMerge.nonEmpty && toMerge.forall(cube.segments.contains),
      "can only merge existing segments")
    val sortedAll = cube.segments.sortBy(_.start)
    val run = toMerge.sortBy(_.start)
    require(sortedAll.indexOfSlice(run) >= 0,
      s"merged segments must be a contiguous run, got ${run.map(_.name)}")
    val reAggs = cube.measures.map(m => m.fromState(m.stateCol).as(m.stateCol))
    val merged = Segment(mergedName, run.head.start, run.last.end)
    // the base buildId chains the merge ATTEMPT to the parquet it
    // merges from. Callers that already loaded the meta pass it;
    // otherwise load it HERE with the DECLARED def — inst.cube carries
    // extraCuboids (planner/optimize evolution), and fingerprinting
    // the evolved def would never match the persisted meta, silently
    // degrading the id to "" and disabling the rebuilt-base
    // invalidation for exactly the widened cubes
    val declaredDef =
      cube.copy(cuboids = cube.cuboids.filterNot(inst.extraCuboids.toSet))
    val baseId = baseBuildId.orElse(
      CubeMeta.load(spark, declaredDef, inst.root).map(_.buildId))
      .getOrElse("")
    val job =
      BuildJob.beginMerge(spark, cube, inst.root, mergedName, run, baseId)
    // per-cuboid merges are independent — run them concurrently
    val rows = awaitAll(cube.cuboids.map(c => () => {
      val id = cube.cuboidId(c)
      val path = cuboidPath(inst.root, cube, mergedName, id)
      (mergedName, id) ->
        BuildJob.cuboidRows(spark, job, path).getOrElse {
          if (failAfterCuboidWrites.get() != DisarmedFailure &&
              failAfterCuboidWrites.decrementAndGet() < 0)
            throw new IllegalStateException(
              "graft-spec: injected build crash")
          val dimCols = cube.cuboidDims(c).map(col)
          val df = inst.readCuboid(spark, id, run.map(_.name),
              sharded = cube.shardBy.exists(c.contains))
            .groupBy(dimCols: _*).agg(reAggs.head, reAggs.tail: _*)
          val obs = Observation()
          val n = timed("merge", s"${cube.name}/$mergedName/$id") {
            writeCuboid(cube, c,
              df.observe(obs, count(lit(1)).as("n")), path, obs)
          }
          BuildJob.markCuboid(spark, job, path, n)
          n
        }
    })).toMap
    // the attempt closes with the last cuboid: the caller's meta
    // commit follows, and a crash in that gap costs one clean
    // re-merge (fresh jobId), never staleness
    BuildJob.finish(spark, job)
    val kept = cube.segments.filterNot(run.contains)
    val keptRows = inst.rows.filter { case ((seg, _), _) =>
      !run.exists(_.name == seg) }
    // merged ranges = union of the run members' (reference:
    // DimensionRangeInfo.mergeRangeMap:39) — no rescan; a dim any
    // member lacks stays unknown in the merged segment
    val runMaps = run.map(s => inst.dimRanges.collect {
      case ((seg, d), r) if seg == s.name => d -> r })
    val mergedRanges = runMaps.reduceOption(DimRanges.merge)
      .getOrElse(Map.empty)
      .map { case (d, r) => (merged.name, d) -> r }
    val keptRanges = inst.dimRanges.filter { case ((seg, _), _) =>
      !run.exists(_.name == seg) }
    CubeInstance(
      cube.copy(segments = (kept :+ merged).sortBy(_.start)),
      inst.root, keptRows ++ rows, inst.extraCuboids,
      keptRanges ++ mergedRanges)
  }

  /** Retention policy (reference: CubeDesc.retentionRange +
    * SegmentAutoMergeUtil — Kylin drops whole segments whose range has
    * aged out as new ones land): segments ending at or before `cutoff`
    * leave the instance: the meta commit publishes the shrunken list
    * FIRST (no reader can load a meta pointing at dirs about to
    * vanish), then the dirs are reclaimed — a crash in between leaves
    * orphaned dirs, which are garbage, not corruption. Whole-segment
    * drops are the reason time-partitioned segments are the retention
    * unit: no row-level delete, just dir removals. Callers holding a
    * MEMOIZED instance must swap it for the returned one
    * (`CubeManager.retain` does) — a stale memo routes to deleted
    * dirs. */
  def applyRetention(spark: SparkSession, inst: CubeInstance,
                     cutoff: String): CubeInstance = {
    val (dropped, kept) = inst.cube.segments.partition(_.end <= cutoff)
    if (dropped.isEmpty) inst
    else {
      require(kept.nonEmpty, "retention must keep at least one segment")
      val keptRows = inst.rows.filter { case ((seg, _), _) =>
        !dropped.exists(_.name == seg) }
      val next = CubeInstance(inst.cube.copy(segments = kept), inst.root,
        keptRows, inst.extraCuboids,
        inst.dimRanges.filter { case ((seg, _), _) =>
          !dropped.exists(_.name == seg) })
      CubeMeta.save(spark, next) // publish the shrunken list first…
      val fs = new Path(inst.root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      dropped.foreach { s => // …then reclaim the dirs
        fs.delete(new Path(s"${inst.root}/${inst.cube.name}/${s.name}"), true)
      }
      next
    }
  }

  /** Cube-planner phase 2: materialize ADDITIONAL cuboids onto a LIVE
    * instance (reference: Kylin's optimize-cube job — the consumer of
    * CuboidRecommendAlgorithm's output, which adds recommended layouts
    * to built segments without rebuilding them). Each new cuboid
    * aggregates from its cheapest already-materialized parent in that
    * segment — the same layered rule as the initial build, never a
    * flat-table rescan — so the cost is proportional to the PARENT
    * cuboid sizes, not the corpus.
    *
    * Queries keep serving throughout: existing cuboid dirs are
    * untouched, the new dirs land before the metadata commit flips
    * the widened lattice, and a crash in between leaves orphan dirs a
    * re-run overwrites. The added cuboids ride `extraCuboids` in the
    * metadata (outside the CubeDef fingerprint), so a restarted
    * process loads the evolved lattice instead of reading the
    * evolution as def drift and rebuilding. Cuboids already declared,
    * not a subset of the dims, or empty are skipped; when nothing
    * remains the instance is returned unchanged (idempotent). */
  def optimizeCuboids(spark: SparkSession, inst: CubeInstance,
                      add: Seq[Set[String]]): CubeInstance = {
    val cube = inst.cube
    val existing = cube.cuboids.toSet
    val fresh = add.distinct.filter(c =>
      c.nonEmpty && c.subsetOf(cube.dims.toSet) && !existing.contains(c))
    if (fresh.isEmpty) return inst
    val reAggs = cube.measures.map(m => m.fromState(m.stateCol).as(m.stateCol))
    var rows = inst.rows
    // segments are independent — optimize them as concurrent job
    // groups, like build does
    val segRows = awaitAll(cube.segments.map(seg => () => {
      var built = cube.cuboids.map(c => {
        val id = cube.cuboidId(c)
        (c, id, inst.rows.getOrElse((seg.name, id), 0L))
      }).toList
      var mine = Map.empty[(String, Long), Long]
      // widest first, so an added cuboid can parent a narrower one
      fresh.sortBy(c => (-c.size, cube.cuboidId(c))).foreach { c =>
        val id = cube.cuboidId(c)
        val dimCols = cube.cuboidDims(c).map(col)
        val (_, pId, _) = built.filter(b => c.subsetOf(b._1))
          .minBy(b => (b._3, b._1.size))
        val df = spark.read.parquet(inst.cuboidPath(seg.name, pId))
          .groupBy(dimCols: _*).agg(reAggs.head, reAggs.tail: _*)
        val obs = Observation()
        val n = timed("optimize", s"${cube.name}/${seg.name}/$id(${c.size}d)") {
          writeCuboid(cube, c,
            df.observe(obs, count(lit(1)).as("n")),
            inst.cuboidPath(seg.name, id), obs)
        }
        built ::= (c, id, n)
        mine += (seg.name, id) -> n
      }
      mine
    }))
    segRows.foreach(rows ++= _)
    val next = CubeInstance(cube.copy(cuboids = cube.cuboids ++ fresh),
      inst.root, rows, inst.extraCuboids ++ fresh, inst.dimRanges)
    CubeMeta.save(spark, next) // commit the widened lattice LAST
    next
  }

  /** TIERED auto-merge (reference: core-metadata Segments.java:212
    * `autoMergeCubeSegments` + `findMergeOffsetsByDateRange`:260 —
    * the consumer of CubeDesc.java:179 `auto_merge_time_ranges`):
    * thresholds are tried LARGEST first; for each starting segment,
    * collect the contiguous run (no holes) CONTAINED in
    * [start, start + T days), and merge the first run of ≥2 segments
    * whose total span reaches T. ONE merge per call — the reference's
    * scheduler converges the same way, daily segments into weeklies,
    * weeklies into monthlies under the larger threshold, each
    * scheduled run taking one step. Returns the instance unchanged
    * when nothing qualifies.
    *
    * One deliberate divergence: the reference admits any member that
    * OVERLAPS the window (findMergeOffsetsByDateRange:266), so a
    * member starting inside but ending past it can mint a merged
    * segment of up to 2T−1 days — past its own tier, never
    * compactable again under T. Containment keeps every tile ≤ T,
    * which is the property the tier ladder exists for. */
  def autoMergeByDays(spark: SparkSession, inst: CubeInstance,
                      days: Seq[Int]): CubeInstance = {
    val segs = inst.cube.segments.sortBy(_.start)
    def day(x: String) = java.time.LocalDate.parse(x.take(10))
    def span(s: Segment): Long =
      java.time.temporal.ChronoUnit.DAYS.between(day(s.start), day(s.end))
    for (t <- days.distinct.sorted(Ordering[Int].reverse)) {
      var i = 0
      while (i < segs.size) {
        if (span(segs(i)) <= t) {
          val winEnd = day(segs(i).start).plusDays(t.toLong)
          var run = List(segs(i))
          var j = i + 1
          while (j < segs.size && segs(j).start == run.head.end &&
              !day(segs(j).end).isAfter(winEnd)) {
            run ::= segs(j)
            j += 1
          }
          val runAsc = run.reverse
          val total = java.time.temporal.ChronoUnit.DAYS.between(
            day(runAsc.head.start), day(runAsc.last.end))
          if (runAsc.size >= 2 && total >= t)
            return mergeSegments(spark, inst,
              s"am-${runAsc.head.name}-${runAsc.last.name}", runAsc)
        }
        i += 1
      }
    }
    inst
  }

  /** Auto-merge policy (reference: CubeDesc auto-merge thresholds +
    * SegmentAutoMergeUtil — Kylin compacts old small segments as new
    * ones accumulate): when more than `maxSegments` segments exist,
    * merge the OLDEST run (everything but the latest maxSegments-1)
    * into one — history compacts, fresh segments stay granular for
    * cheap incremental builds. */
  def autoMerge(spark: SparkSession, inst: CubeInstance,
                maxSegments: Int): CubeInstance = {
    require(maxSegments >= 2, "need room for one merged + one fresh segment")
    val sorted = inst.cube.segments.sortBy(_.start)
    if (sorted.size <= maxSegments) inst
    else {
      val run = sorted.dropRight(maxSegments - 1)
      mergeSegments(spark, inst,
        s"am-${run.head.name}-${run.last.name}", run)
    }
  }

  /** One cuboid write. Cuboids containing the cube's shard-by dim are
    * REPARTITIONED ON the shard dim and written partitionBy(shardDim)
    * — Hive-style dirs per value, with each shard's rows owned by the
    * task(s) hashing to it, so dir count × task count can't explode
    * into tiny files at cluster parallelism and queries filtering on
    * the shard read only matching directories (the parquet-v2 answer
    * to FilePruner.pruneShards; Catalyst's partition pruning does the
    * rest). Unsharded cuboids coalesce to a bounded file count.
    * `graft.build.filesPerCuboid` sizes both paths (default 4 suits
    * local/test; a cluster sets it so cuboid_bytes / files ≈ an HDFS
    * block).
    *
    * Rows are sorted WITHIN each output partition by the cuboid's dims
    * in canonical (cube dim order) sequence before writing — the
    * reference does exactly this at build (CubeBuildJob.java:306,317),
    * merge (CubeMergeJob.java:96-101) and repartition
    * (Repartitioner.java:156-161) time. A sorted file's parquet
    * row-group min/max stats on the leading dims are disjoint ordered
    * slices, so a residual dim predicate (e.g. a one-day filter hitting
    * a month-grain segment) prunes whole row groups at the scan instead
    * of reading the entire segment — invisible at sf0.1, decisive at
    * 100 TB. `graft.build.rowGroupBytes` optionally sizes parquet row
    * groups (parquet.block.size) so a cluster can match them to its
    * scan granularity; unset keeps the parquet default (128 MB).
    * Returns the observed row count. */
  private def writeCuboid(cube: CubeDef, dims: Set[String], df: DataFrame,
                          path: String, obs: Observation): Long = {
    val conf = df.sparkSession.conf
    val files = conf
      .getOption("graft.build.filesPerCuboid").map(_.toInt).getOrElse(4)
    // cube-dim-order sort keys. Sharded cuboids sort (shard, dims…):
    // the dynamic-partition writer requires an ordering prefixed by the
    // partition column and would inject its own (unstable, dim-order-
    // destroying) sort if ours didn't already satisfy it; leading with
    // the shard keeps one sort that serves both.
    val shardOpt = cube.shardBy.filter(dims.contains)
    val dimOrder = cube.cuboidDims(dims)
    val sortCols = (shardOpt.toSeq ++
      dimOrder.filterNot(shardOpt.contains)).map(col)
    def sorted(part: DataFrame): DataFrame =
      if (sortCols.isEmpty) part else part.sortWithinPartitions(sortCols: _*)
    val writer = (shardOpt match {
      case Some(shard) =>
        sorted(df.repartition(files, col(shard)))
          .write.partitionBy(shard)
      case None =>
        sorted(df.coalesce(files)).write
    }).mode("overwrite")
    conf.getOption("graft.build.rowGroupBytes")
      .fold(writer)(b => writer.option("parquet.block.size", b))
      .parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  private def cuboidPath(root: String, cube: CubeDef, seg: String,
                         id: Long): String =
    s"$root/${cube.name}/$seg/cuboid=$id"
}
