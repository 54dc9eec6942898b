package graft.cube

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Owns the built-in cubes (declared as documents in [[BuiltinCubes]])
  * and memoizes one built instance per sf dir per JVM — queries route
  * against the built parquet, mirroring Kylin's build-once/query-many
  * lifecycle. The build is the "offline" phase; Bench times it
  * separately from query latencies.
  */
object CubeManager {

  def cubeRoot: String =
    sys.env.getOrElse("GRAFT_CUBE_ROOT", "/root/repo/target/graft-cubes")

  /** Flat table = materialized star join (reference:
    * CreateFlatTable.scala:1-241): fact lineitem ⋈ orders ⋈ customer ⋈
    * nation ⋈ region ⋈ supplier ⋈ part, plus derived dim columns and
    * pre-computed measure input columns, as the star document declares
    * them ([[BuiltinCubes]] says why only nation/region are
    * broadcast-hinted).
    */
  def flatTable(s: SparkSession, d: String): DataFrame =
    flatTableFrom(lineitem(s, d), orders(s, d), customer(s, d),
      nation(s, d), region(s, d), supplier(s, d), part(s, d))

  /** flat table over a WIDENED fact scan (guide §2.5, no-op at scale) —
    * opt-IN per consumer, exactly like Tables.widened: the r22 probe
    * showed every flat-table consumer paying a 0.35–1.44 s serial
    * 3-task join stage on the single-row-group fact scan, but the r22
    * bench A/B of widening flatTable ITSELF split the consumers two
    * ways: heavy per-row aggregates (the pushdown fallback's decimal
    * sum, the percentile exact sides' value→count maps) win 1.1–2×,
    * while light/distinct-shaped ones (cube_sql_fallback's min/count,
    * the hll/approx exact sides whose distinct shuffle already
    * parallelizes after its first exchange) consistently LOSE 1.3–1.7×
    * to the extra round-robin exchange (two gated runs,
    * BENCH_local_r22_before vs the widen-all mid runs). The shared
    * `flatTable` — which also backs the GraftSql pushdown view, where
    * query weight is unknowable — therefore stays UNWIDENED. */
  def flatTableWidened(s: SparkSession, d: String): DataFrame =
    flatTableFrom(graft.Tables.widened(s, d, "lineitem"), orders(s, d),
      customer(s, d), nation(s, d), region(s, d), supplier(s, d),
      part(s, d))

  /** flat table over explicit inputs — the build path passes
    * snapshot-backed lookup tables (reference DFSnapshotBuilder) so a
    * segment rebuild joins the same dimension rows the cube was built
    * with even if the live tables changed since. Joins come from the
    * MODEL (each edge's declared inner/left type), so the built flat
    * table and the SQL matcher can never disagree. */
  def flatTableFrom(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, nation: DataFrame,
                    region: DataFrame, supplier: DataFrame,
                    part: DataFrame): DataFrame =
    CubeJson.flatOf(BuiltinCubes.star, Map(
      "lineitem" -> lineitem, "orders" -> orders, "customer" -> customer,
      "nation" -> nation, "region" -> region, "supplier" -> supplier,
      "part" -> part))

  /** The star model behind the default cube (reference: core-metadata
    * DataModelDesc). User SQL written as these explicit joins — with
    * each join TYPED as declared — routes to the cube via
    * ModelMatcher. */
  def starModel: ModelDef = CubeJson.toModel(BuiltinCubes.star.model)

  /** The default cube, built from its document per call (Column trees
    * are never shared across queries). */
  def defaultCube: CubeDef = CubeJson.toCubeDef(BuiltinCubes.star)

  /** the events cube's CubeDef (specs build and inspect it directly) */
  def eventsCube: CubeDef = CubeJson.toCubeDef(BuiltinCubes.events)

  /** a memoized instance plus the buildId stamp(s) it was loaded or
    * built under — [[MetaStamp]] revalidates the stamp on every
    * ensure* call (one getFileStatus steady-state), so a long-running
    * serving JVM reloads metadata another PROCESS committed (segment
    * append/refresh/merge) instead of routing stale segments until
    * restart. Reference: core-metadata CachedCrudAssist.java
    * reload-on-access + server-base CacheService/Broadcaster — graft
    * replaces the push broadcast with a cheap pull stamp, which a
    * shared store makes race-free (the meta commit is the publish). */
  private val built = TrieMap.empty[String, (CubeInstance, String)]
  /** JSON-declared cubes ([[CubeJson]]), keyed `<cube name>|<sfDir>` —
    * one registry holds every runtime declaration */
  private val declaredBuilt = TrieMap.empty[String, (CubeInstance, String)]
  /** merged realization: chained to BOTH its own meta-merged.json
    * stamp and the base build it merged from */
  private val mergedCache =
    TrieMap.empty[String, (CubeInstance, String, String)]
  private val lock = new Object

  /** PER-(root, cube) build locks for [[ensureFresh]] — the in-JVM
    * mirror of the cross-process `_building` lease granularity
    * (root/<cube>/_building): one JVM deploying several cubes must
    * build them CONCURRENTLY (two members of a shared root overlap
    * everything but their dict phases — DictLeaseContentionSpec),
    * which a single global build lock silently forbade. Same-cube
    * callers still serialize (one build per miss); the rare
    * lifecycle ops that guard their own memos (retain / ensureMerged)
    * keep the coarse `lock` and only ever take a
    * build lock NESTED INSIDE it, so lock ordering is global → key
    * and cannot deadlock. */
  private val buildLocks = TrieMap.empty[String, Object]
  private def buildLock(root: String, cubeName: String): Object =
    buildLocks.getOrElseUpdate(s"$root/$cubeName", new Object)

  /** drop the per-JVM memo (simulated process restart in specs): the
    * next ensure* must come back through CubeMeta.load, not a rebuild.
    * The SQL result cache keys on these instances' stamps, so it must
    * reset with them (ADVICE r10). */
  private[graft] def resetMemos(): Unit = {
    built.clear(); mergedCache.clear(); declaredBuilt.clear()
    fleetEnum.clear()
    // buildLocks deliberately NOT cleared: minting a fresh lock object
    // while a build holds the old one would let a same-cube build run
    // concurrently (the ioLocks/clearPending hazard); the map is
    // bounded at one Object per (root, cube) ever touched
    GraftSql.clearResultCache()
  }

  /** every instance this process has built or loaded for `sfDir` so
    * far — NO build forced (cache-invalidation stamps read this: a
    * cube never touched in this process can't have produced a cached
    * result either, so its absence from the stamp set is consistent
    * with routing's own view of the world; its first touch changes
    * the set and thus the key) */
  private[graft] def loadedInstances(sfDir: String): Seq[CubeInstance] =
    built.get(sfDir).map(_._1).toSeq ++
      mergedCache.get(sfDir).map(_._1).toSeq ++
      declaredBuilt.collect {
        case (k, (inst, _)) if k.endsWith(s"|$sfDir") => inst
      }

  private def sfName(sfDir: String): String =
    sfDir.replaceAll("/+$", "").split('/').last

  /** The storage root a DECLARED cube lives under — computable without
    * touching the store, for read-only tools that must not trigger a
    * first-touch build. CONTRACT: the root embeds the sf dir's
    * BASENAME only, so two dataset dirs sharing a basename (/a/sf1 and
    * /b/sf1) would share every declared root and cross-serve each
    * other's data — deployments must give dataset dirs distinct
    * basenames (true of every driver sf dir; a fleet pointing many
    * same-named warehouses at one cube root has bigger problems). */
  def declaredRoot(sfDir: String, cubeName: String): String =
    s"$cubeRoot/${sfName(sfDir)}-$cubeName"

  /** the storage root of a DECLARED document, honoring its optional
    * `rootScope` (several declarations — e.g. a hybrid's members —
    * share one multi-cube root so the root-level dictionary is one
    * append-stable id space; see CubeJson.JsonCube.rootScope) */
  def declaredRootOf(sfDir: String, spec: CubeJson.JsonCube): String =
    declaredRoot(sfDir, spec.rootScope.getOrElse(spec.name))

  /** The realization stamp set read straight FROM THE SHARED STORE —
    * one (meta path, cube, committed buildId) triple per committed
    * realization meta under this sf's cube roots, enumerated by
    * LISTING the store rather than by any per-process registry. Two
    * processes (or one process before/after a restart) therefore
    * compute the SAME set for the same on-disk state — the property
    * the fleet-cache key needs, which per-JVM `loadedInstances`-based
    * stamps cannot give (a fresh memo is empty) and an in-memory
    * declared-cube registry cannot either (the other process never saw
    * the registration). Every commit anywhere in the fleet (build,
    * append, merge, a new declared cube's first build, a GC'd meta)
    * changes the set. Cost: two listStatus levels + one getFileStatus
    * per committed meta (MetaStamp memoizes inside the optional
    * recheck window for object-store QPS). */
  /** the enumeration half of [[fleetStamps]] (the two listStatus
    * levels) memoized per sf for a short window: it names WHICH meta
    * files exist — a set that changes only when a brand-new cube root
    * or realization file first appears, so a ≤window-stale listing can
    * at worst delay a NEW realization's entry into the key (one benign
    * extra recompute window), never hide a data change — data changes
    * land in EXISTING metas, whose stamps are read fresh below on
    * every call. Without this memo, every L1-hit query at fleet-tier
    * QPS would pay the listing round-trips the cache exists to avoid. */
  private val fleetEnum =
    TrieMap.empty[String, (Long, Seq[(String, String, String)])]
  private[graft] val FleetEnumWindowMs = 5000L

  private def fleetEnumerate(spark: SparkSession,
      sf: String): Seq[(String, String, String)] = {
    val base = new org.apache.hadoop.fs.Path(cubeRoot)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val roots = scala.util.Try(fs.listStatus(base).toSeq).getOrElse(Nil)
      .filter(st => st.isDirectory && {
        val n = st.getPath.getName
        n == sf || n.startsWith(s"$sf-")
      })
    for {
      r <- roots
      c <- scala.util.Try(fs.listStatus(r.getPath).toSeq).getOrElse(Nil)
      if c.isDirectory
      file <- Seq(CubeMeta.MetaFile, CubeMeta.MergedFile)
      if fs.exists(new org.apache.hadoop.fs.Path(c.getPath, file))
    } yield (r.getPath.toString, c.getPath.getName, file)
  }

  private[graft] def fleetStamps(spark: SparkSession,
      sfDir: String): Seq[(String, String, String)] = {
    val sf = sfName(sfDir)
    val now = System.currentTimeMillis()
    val cands = fleetEnum.get(sf) match {
      case Some((at, c)) if now - at < FleetEnumWindowMs => c
      case _ =>
        val c = fleetEnumerate(spark, sf)
        fleetEnum.put(sf, (now, c))
        c
    }
    // stamps are read FRESH per call (MetaStamp memoizes under its own
    // optional recheck window): a commit to any enumerated meta flips
    // the key immediately; a meta deleted since enumeration stamps
    // Absent and drops out
    cands.flatMap { case (root, cube, file) =>
      val id = MetaStamp.of(spark, root, cube, file)
      if (id == MetaStamp.Absent) None
      else Some((s"$root/$cube/$file", cube, id))
    }.sortBy(_._1)
  }

  /** a memoized id keeps serving when the fresh stamp matches it — or
    * when the stamp read failed transiently ([[MetaStamp.Unavailable]]):
    * a store hiccup on the query hot path must degrade to serving the
    * memo, never to a spurious reload or rebuild */
  private def stampServes(fresh: String, memoized: String): Boolean =
    fresh == memoized || fresh == MetaStamp.Unavailable

  /** generic stamp-aware memo step: serve the memoized instance while
    * its on-disk buildId is unchanged (one getFileStatus); on drift —
    * another process committed a build/append/refresh — reload via the
    * given loader, and only when the loader misses (no meta,
    * fingerprint drift, incomplete layout) pay the build */
  private def ensureFresh(memo: TrieMap[String, (CubeInstance, String)],
      spark: SparkSession, key: String, root: String, cube: CubeDef)(
      build: => CubeInstance): CubeInstance = {
    def stamp() = MetaStamp.of(spark, root, cube.name)
    memo.get(key) match {
      case Some((inst, id)) if stampServes(stamp(), id) => inst
      case _ => buildLock(root, cube.name).synchronized {
        // double-check under the lock (another thread may have
        // refreshed while we waited)
        memo.get(key).filter { case (_, id) => stampServes(stamp(), id) }
          .map(_._1).getOrElse {
            // memoize the buildId READ WITH the instance (Loaded pairs
            // them from one file read) — stamping after the load would
            // blind the detector to a foreign commit landing in
            // between: stamp() would return the NEWER id, pair it with
            // the OLDER instance, and every later call would see
            // "no drift" while routing stale segments
            val (inst, id) = CubeMeta.load(spark, cube, root)
              .map(l => (l.inst, l.buildId))
              .getOrElse {
                // the build runs under the cross-process lease: a
                // second builder racing this root waits and loads the
                // winner's committed meta instead of rebuilding. After
                // OUR build, re-load for the same atomic (inst, id)
                // pairing — if a foreign commit already superseded our
                // meta, the re-load returns THEIR newer state
                BuildLease.withLease(spark, root, cube.name)(
                  CubeMeta.load(spark, cube, root)
                    .map(l => (l.inst, l.buildId))) {
                  val b = build
                  CubeMeta.load(spark, cube, root)
                    .map(l => (l.inst, l.buildId))
                    .getOrElse((b, stamp()))
                }
              }
            memo.put(key, (inst, id))
            inst
          }
      }
    }
  }

  /** Load-or-build (once per JVM per sf dir) and return the instance.
    * A fresh process finds the metadata a previous build committed
    * (CubeMeta — reference CubeManager.java:143 loads CubeInstance from
    * the ResourceStore) and routes immediately; only a miss — no meta,
    * fingerprint drift, incomplete layout — pays the build. The memo is
    * STAMP-AWARE: a buildId drift (another process appended/refreshed)
    * reloads the committed meta without a restart. */
  def ensureBuilt(spark: SparkSession, sfDir: String): CubeInstance = {
    val root = s"$cubeRoot/${sfName(sfDir)}"
    ensureFresh(built, spark, sfDir, root, defaultCube)(
      buildStar(spark, sfDir, root))
  }

  /** The full star build pipeline at an explicit root — the closure
    * [[ensureBuilt]] runs under its lease, factored out so
    * BuildResumeSpec can drive a crash + resume against its own root.
    * STEP-RESUMABLE (VERDICT r15 item 1): every phase is markered
    * under the attempt's [[BuildJob]] id — snapshots are write-once
    * already, the dictionary column and materialized flat table skip
    * when their markers match the attempt, and the cuboid layers
    * resume per-dir inside [[CubeBuilder.build]]. The meta still
    * commits once, at the very end. */
  private[graft] def buildStar(spark: SparkSession, sfDir: String,
                               root: String): CubeInstance = {
    val job = BuildJob.begin(spark, defaultCube, root)
    // lookup tables are snapshotted under the cube root (write-once,
    // _SUCCESS-gated) so rebuilds join frozen dimension rows —
    // DFSnapshotBuilder
    val snap = (n: String) =>
      Snapshot.ensure(spark, tbl(spark, sfDir, n), root, n)
    val flatPath = s"$root/flat"
    if (!BuildJob.dirDone(spark, job, flatPath)) {
      val flat = CubeBuilder.timed("snapshots", "star") {
        // fact scan widened (guide §2.5; no-op at scale): the 6-way
        // join + dictionary distinct + encoded flat WRITE otherwise
        // serialize on the single-row-group test scan, and the flat
        // parquet then lands as 1-3 single-row-group files that
        // re-serialize every segment's BASE cuboid aggregate (the
        // heaviest build stage — 8 measure states incl. bitmap/HLL).
        flatTableFrom(
          graft.Tables.widened(spark, sfDir, "lineitem"),
          orders(spark, sfDir), snap("customer"),
          snap("nation"), snap("region"), snap("supplier"), snap("part"))
      }
      // dictionary-encode string bitmap inputs before the build
      // (reference DFTableEncoder: encode once on the flat table).
      // buildOrAppend persists the dictionary under the cube root
      // and keeps ids append-stable across incremental builds — and
      // that append form IS the resume semantics: a "skip the scan"
      // marker would freeze the dictionary at crash time against a
      // flat derived from sources that may have changed since, and
      // unseen values would encode to null ids (bitmap undercounts).
      // Re-running is idempotent and appends only what's new; the
      // resume's savings live in the flat/cuboid phases.
      val dict = CubeBuilder.timed("dictionary", "c_name") {
        Dictionary.buildOrAppend(spark, flat, "c_name", root)
      }
      // Materialize the encoded flat table once (reference
      // CreateFlatTable writes it to storage before the cuboid
      // build): the four concurrent segment builds then read a
      // pruned, predicate-pushed parquet scan instead of each
      // recomputing the star join. The marker lands INSIDE the dir
      // (the overwrite of a retry clears it with the partial data),
      // after the write returned.
      CubeBuilder.timed("flat-write", "star") {
        Dictionary.encode(flat, dict, "c_name")
          .write.mode("overwrite").parquet(flatPath)
      }
      BuildJob.markDir(spark, job, flatPath)
    }
    CubeBuilder.build(spark, spark.read.parquet(flatPath),
      defaultCube, root)
  }

  /** Load-or-build the built-in events cube through the declared path
    * (root `<sf>-events`); stamp-aware like [[ensureBuilt]]. */
  def ensureEventsBuilt(spark: SparkSession, sfDir: String): CubeInstance =
    ensureDeclared(spark, sfDir, BuiltinCubes.events)

  /** Dictionary-encode `flat0` through the root's trees — ALWAYS
    * under the root-level `dict` lease: a shared root (rootScope)
    * hosts several cubes whose builds hold DIFFERENT member leases,
    * and unserialized buildOrAppend races could both mint the same
    * next version — one side's new ids would vanish (encode-to-null,
    * silently undercounted bitmaps). The lease is unconditional
    * because scope-ness is a property of the DOCUMENT, not the root:
    * an unscoped declaration whose name equals another document's
    * rootScope lands on the same root, and a forked guard (leased for
    * one, not the other) would reintroduce the exact race. Cost on a
    * private root: one lease acquire per dictionary-bearing build —
    * milliseconds against the build. ONE spelling for the declared
    * build, the CLI append/refresh, and stream promotion — the race
    * guard must not fork. */
  private[cube] def dictEncode(spark: SparkSession,
      spec: CubeJson.JsonCube, flat0: DataFrame,
      root: String): DataFrame =
    if (spec.dictColumns.isEmpty) flat0
    else BuildLease.withLease(spark, root, "dict")(
      Option.empty[DataFrame]) {
      // timed INSIDE the lease: the phase interval is the dictionary
      // work itself, so the contention spec/probe can separate lease
      // WAIT (before this interval) from dict cost (the interval) —
      // and declared builds report a `dictionary` build phase like
      // the star build does
      CubeBuilder.timed("dictionary", spec.name) {
        spec.dictColumns.foldLeft(flat0)((f, c) =>
          Dictionary.encode(f,
            Dictionary.buildOrAppend(spark, f, c, root), c))
      }
    }

  /** Load-or-build a JSON-declared cube ([[CubeJson]]) — the runtime
    * half of declarative deployment: the spec constructs the CubeDef
    * (closures included) on every call, the stamp-aware memo serves
    * the committed instance, and only a metadata miss pays the build
    * (flat table from the declared model, dictionary-encoding the
    * declared columns, snapshotting derived-dim lookups). Roots
    * default per-declaration (`<cubeRoot>/<sf>-<name>`); a declared
    * `rootScope` deliberately CO-ROOTS several declarations on one
    * multi-cube root (shared dict/snapshot trees — see
    * CubeJson.JsonCube.rootScope), which is why the dictionary and
    * snapshot phases serialize under root-level leases rather than
    * assuming the cube lease owns the root. */
  def ensureDeclared(spark: SparkSession, sfDir: String,
                     spec: CubeJson.JsonCube): CubeInstance = {
    val cube = CubeJson.toCubeDef(spec)
    val root = declaredRootOf(sfDir, spec)
    ensureFresh(declaredBuilt, spark, s"${cube.name}|$sfDir", root, cube) {
      // the DECLARED segment span is the cube's data universe at
      // deploy time: rows beyond it are future appends, not drops —
      // scope the build input to it (a hybrid member builds from the
      // rows of its own era). Holes/overlaps INSIDE the span are
      // refused by CubeJson.validate at deploy time (ADVICE r15), so
      // the span filter is exact.
      val lo = cube.segments.map(_.start).min
      val hi = cube.segments.map(_.end).max
      val flat0 = CubeJson.flatBuilder(spec, Some(root))(spark, sfDir)
        .filter(col(cube.segmentCol) >= lit(lo).cast("timestamp") &&
          col(cube.segmentCol) < lit(hi).cast("timestamp"))
      // dictionaries always go through buildOrAppend — append-stable
      // and idempotent, so re-running on a resume is both CORRECT
      // (values that arrived between crash and resume still get ids;
      // a skip-marker would freeze the dictionary and encode them to
      // null, undercounting bitmaps) and cheap relative to the
      // flat/cuboid phases the resume actually skips
      val flat = dictEncode(spark, spec, flat0, root)
      val built = CubeBuilder.build(spark, flat, cube, root)
      // day-zero lattice under a budget (cube planner phase 1,
      // VERDICT r15 item 5): the document's cuboid space is the
      // candidate set; one estimation pass + benefit-per-row greedy
      // picks the materialized subset, built onto the live base via
      // optimizeCuboids so it rides extraCuboids metadata (outside
      // the fingerprint — a reload attaches it, never reads drift).
      // A crash between the two commits leaves a correct base-only
      // cube; the planner loop (optimizeCuboids from the query log)
      // widens it later.
      spec.initialLattice match {
        case Some(il) =>
          // estimate candidate rows from the JUST-BUILT base cuboid,
          // not the un-materialized flat: the base holds one row per
          // distinct dim tuple, so approx_count_distinct over any
          // candidate's dims gives the same estimates while scanning
          // tiny pre-aggregated parquet instead of re-executing the
          // whole model join once per estimation chunk. One frame PER
          // SEGMENT: cuboids materialize per segment, so the budget's
          // planned-rows unit is the per-segment sum
          val baseId = cube.cuboidId(cube.dims.toSet)
          val baseSegs = built.cube.segments.map(s =>
            spark.read.parquet(built.cuboidPath(s.name, baseId)))
          // the rate form resolves against the base rows the build
          // just OBSERVED (reference expansion-threshold semantics):
          // an absolute budget can't be guessed for 100 TB, a rate
          // relative to the measured base holds at any scale
          val baseObserved = built.cube.segments.map(s =>
            built.rows.getOrElse((s.name, baseId), 0L)).sum
          val budget = CubeJson.resolveBudget(il.rowBudget,
            il.expansionRate, baseObserved, "initialLattice")
          val picked = CuboidPlanner.recommendFromStats(baseSegs,
            cube.dims.toSet, CubeJson.candidateCuboids(spec),
            budget, baseRows = Some(baseObserved))
          CubeBuilder.optimizeCuboids(spark, built,
            picked.filterNot(_ == cube.dims.toSet))
        case None => built
      }
    }
  }

  /** Retention over the MEMOIZED default instance: applies the policy
    * and swaps the memo in one step, so this process's own readers see
    * the shrunken instance immediately — a stale memo would route to
    * the deleted dirs. The merged-realization memo drops too (it may
    * contain aged-out rows; its meta chain to the new buildId is
    * broken, so the next ensureMerged re-merges). */
  def retain(spark: SparkSession, sfDir: String,
             cutoff: String): CubeInstance = lock.synchronized {
   // nested build lock (global → key order): retention swaps the same
   // `built` memo entry ensureFresh writes, and without this a
   // concurrent first-touch load could publish a pre-retention
   // instance routing to just-deleted dirs until the stamp heals it
   buildLock(s"$cubeRoot/${sfName(sfDir)}", defaultCube.name)
       .synchronized {
    val next =
      CubeBuilder.applyRetention(spark, ensureBuilt(spark, sfDir), cutoff)
    // pair the memoized (instance, stamp) from ONE meta read — the
    // rule ensureFresh documents. A post-hoc MetaStamp.of here would
    // let a foreign commit landing between applyRetention's save and
    // the stamp pair the NEWER foreign buildId with the local
    // post-retention instance, blinding drift detection until yet
    // another commit. The re-load returns the newest committed state
    // either way: ours, or the foreign commit that superseded it.
    val (inst, id) = CubeMeta.load(spark, defaultCube, next.root)
      .map(l => (l.inst, l.buildId))
      .getOrElse((next, MetaStamp.of(spark, next.root, next.cube.name)))
    built.put(sfDir, (inst, id))
    mergedCache.remove(sfDir)
    inst
  }}

  /** All segments merged into one (cube_segment_merge path). The merged
    * realization persists alongside the primary (meta-merged.json) and
    * is chained to the base build it merged FROM — a rebuilt base
    * invalidates it, so a restart never routes against a merge of
    * parquet that no longer exists. */
  def ensureMerged(spark: SparkSession, sfDir: String): CubeInstance = {
    val root = s"$cubeRoot/${sfName(sfDir)}"
    // fast path: BOTH stamps unchanged — the merged realization's own
    // commit AND the base build it chained to (a rebuilt/appended base
    // invalidates the merge even if meta-merged.json is untouched)
    def stamps() = (
      MetaStamp.of(spark, root, defaultCube.name, CubeMeta.MergedFile),
      MetaStamp.of(spark, root, defaultCube.name))
    def fresh(): Option[CubeInstance] =
      mergedCache.get(sfDir).filter { case (_, mId, bId) =>
        val (fm, fb) = stamps()
        stampServes(fm, mId) && stampServes(fb, bId)
      }.map(_._1)
    fresh().getOrElse(lock.synchronized {
      fresh().getOrElse {
        val base = ensureBuilt(spark, sfDir)
        val baseId = CubeMeta.load(spark, defaultCube, base.root).map(_.buildId)
        // the merged id is paired at load/save time (Loaded.buildId /
        // save's return), never stamped after the fact; the merge runs
        // under its OWN lease file so two processes missing the chain
        // don't both pay the merge (and a concurrent BASE build, which
        // holds _building, is coordinated separately)
        def loadedMerge = CubeMeta.load(spark, defaultCube, base.root,
            CubeMeta.MergedFile)
          .filter(l => baseId.isDefined && l.baseBuildId == baseId)
          .map(l => (l.inst, l.buildId))
        val (inst, mId) = loadedMerge.getOrElse {
          BuildLease.withLease(spark, root, defaultCube.name,
              "_building-merged")(loadedMerge) {
            // pass the baseId this path already loaded: the merge
            // attempt chains to it without a second full meta load
            val m = CubeBuilder.mergeSegments(spark, base, "merged",
              base.cube.segments, baseId)
            val id = CubeMeta.save(spark, m, CubeMeta.MergedFile,
              baseBuildId = baseId)
            (m, id)
          }
        }
        mergedCache.put(sfDir,
          (inst, mId, baseId.getOrElse(MetaStamp.Absent)))
        inst
      }
    })
  }
}
