package graft.cube

import org.apache.spark.sql.SparkSession

/** The operator CLI — one entry point over the ops surface, the
  * analog of the reference's `tool/` module (CubeMetaExtractor /
  * CubeMetaIngester / StorageCleanupJob / MetadataCleanupJob /
  * CubeMigrationCLI / KylinHealthCheckJob, each its own main there).
  * Every subcommand resolves its cube definition either from a
  * compiled name (`--cube star|events`) or from a DECLARED JSON
  * document (`--def <file>`), so the whole tool works against cubes
  * that were never compiled into the engine. `--def` accepts BOTH
  * document kinds the store holds (dispatched on the `primary` field
  * like `registerDir`): a plain cube, or a realization GROUP whose
  * members are addressed with `--member <name>` (append/audit/clean/
  * migrate); `policies` applies to every member.
  *
  * {{{
  * runMain graft.cube.GraftTool backup    <root>
  * runMain graft.cube.GraftTool restore   <root> <backupId>
  *                            [--cubes a,b] [--point-in-time]
  * runMain graft.cube.GraftTool clean     <root> (--cube n | --def f)
  *                            [--member n] [--grace-ms N] [--dry-run]
  * runMain graft.cube.GraftTool metaclean <root> [--def f]
  *                            [--keep-backups N] [--grace-ms N]
  *                            [--dry-run]
  * runMain graft.cube.GraftTool audit     <root> (--cube n | --def f)
  *                            [--member n]
  * runMain graft.cube.GraftTool migrate   <srcRoot> <dstRoot>
  *                            (--cube n | --def f) [--member n]
  *                            [--overwrite]
  * runMain graft.cube.GraftTool append    <sfDir> --def f [--member n]
  *                            --segment name,start,end
  * runMain graft.cube.GraftTool refresh   <sfDir> --def f [--member n]
  *                            --segment name
  * runMain graft.cube.GraftTool snapshot  <sfDir> --def f [--member n]
  *                            --lookup table
  * runMain graft.cube.GraftTool replan    <sfDir> --def f [--member n]
  *                            (--budget N | --expansion-rate R)
  *                            [--log dir]
  * runMain graft.cube.GraftTool advise    <sfDir> --def f [--member n]
  *                            [--budget N | --expansion-rate R]
  *                            [--log dir]
  * runMain graft.cube.GraftTool policies  <sfDir> --def f
  * }}}
  *
  * Exit code 0 on success; 1 with the failure reason on stderr (the
  * refusal messages of the underlying tools are operator-facing by
  * design); `audit` exits 2 when any Error-severity finding fires, so
  * schedulers distinguish "unhealthy" from "tool broke". Output is
  * line-oriented plain text for scripting. The dispatch itself is
  * [[run]], side-effect-free on the JVM (no exit, no session
  * lifecycle), so specs drive it in-process.
  */
object GraftTool {

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER",
        s"local[${graft.GraftSession.cpus}]"))
      .appName("graft-tool")
      .config("spark.sql.shuffle.partitions",
        graft.GraftSession.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private final case class Parsed(positional: Seq[String],
                                  flags: Map[String, String],
                                  switches: Set[String])

  private def parseArgs(args: Seq[String]): Parsed = {
    val pos = Seq.newBuilder[String]
    val flags = Map.newBuilder[String, String]
    val switches = Set.newBuilder[String]
    var i = 0
    val valueFlags = Set("--cube", "--def", "--cubes", "--grace-ms",
      "--keep-backups", "--segment", "--member", "--budget", "--log",
      "--expansion-rate", "--lookup")
    while (i < args.length) {
      val a = args(i)
      if (valueFlags(a)) {
        require(i + 1 < args.length, s"$a needs a value")
        flags += (a -> args(i + 1)); i += 2
      } else if (a.startsWith("--")) { switches += a; i += 1 }
      else { pos += a; i += 1 }
    }
    Parsed(pos.result(), flags.result().toMap, switches.result())
  }

  /** Either document kind behind `--def` (VERDICT r15 item 4): a plain
    * cube, or a realization GROUP — dispatched on the `primary` field
    * exactly like `CubeJson.registerDir` (CubeJson.scala registerDir's
    * kind probe). Group members are addressed with `--member <name>`;
    * `policies` applies to every member. */
  private sealed trait DefDoc {
    /** every member cube (a plain doc is its own single member) */
    def allSpecs: Seq[CubeJson.JsonCube]
    /** the one cube this invocation addresses */
    def memberSpec(p: Parsed): CubeJson.JsonCube
    /** register with the SQL front-end (group docs register the whole
      * realization, keeping routing coherent with deployment) */
    def register(): Unit
  }
  private final case class PlainDoc(spec: CubeJson.JsonCube)
      extends DefDoc {
    def allSpecs: Seq[CubeJson.JsonCube] = Seq(spec)
    def memberSpec(p: Parsed): CubeJson.JsonCube = {
      p.flags.get("--member").filter(_ != spec.name).foreach(m =>
        throw new IllegalArgumentException(
          s"--member '$m' does not apply: a plain cube document has " +
            s"only '${spec.name}'"))
      spec
    }
    def register(): Unit = CubeJson.register(spec): Unit
  }
  private final case class GroupDoc(r: CubeJson.JsonRealization)
      extends DefDoc {
    def allSpecs: Seq[CubeJson.JsonCube] =
      Seq(r.primary) ++ r.alternates ++
        r.hybrid.toSeq.flatMap(h => Seq(h.oldCube, h.newCube))
    def memberSpec(p: Parsed): CubeJson.JsonCube = {
      val names = allSpecs.map(_.name)
      p.flags.get("--member") match {
        case None => throw new IllegalArgumentException(
          s"realization document '${r.view}': pick a member with " +
            s"--member <name> (members: ${names.mkString(", ")})")
        case Some(m) => allSpecs.find(_.name == m).getOrElse(
          throw new IllegalArgumentException(
            s"realization '${r.view}' has no member '$m' " +
              s"(members: ${names.mkString(", ")})"))
      }
    }
    def register(): Unit = CubeJson.registerRealization(r): Unit
  }

  private def readDoc(f: String): DefDoc =
    CubeJson.parseDoc(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)), "UTF-8"))
      .fold(PlainDoc.apply, GroupDoc.apply)

  /** built-in name or declared document → (CubeDef, optional spec);
    * realization documents resolve the `--member`-addressed cube */
  private def resolveCube(p: Parsed)
      : (CubeDef, Option[CubeJson.JsonCube]) =
    (p.flags.get("--cube"), p.flags.get("--def")) match {
      case (Some("star"), _)   => (CubeManager.defaultCube, None)
      case (Some("events"), _) => (CubeManager.eventsCube, None)
      case (Some(other), _) => throw new IllegalArgumentException(
        s"unknown built-in cube '$other' (star|events) — declared " +
          "cubes go through --def <file>")
      case (None, Some(f)) =>
        val spec = readDoc(f).memberSpec(p)
        (CubeJson.toCubeDef(spec), Some(spec))
      case (None, None) => throw new IllegalArgumentException(
        "need --cube <name> or --def <file>")
    }

  /** The lifecycle subcommands' shared serialization contract
    * (append/refresh/snapshot): the cube's DEFAULT '_building' lease
    * (so the op never races a first-touch/drift rebuild, another
    * lifecycle op, or a replan of the same cube), a LOAD-ONLY re-read
    * of the committed base under the lease (never nested
    * ensureDeclared — its miss-path build would re-acquire the very
    * lease we hold, and BuildLease is not reentrant: a nested acquire
    * self-deadlocks forever against our own heartbeat), and a loud
    * refusal when the meta drifted away mid-wait rather than acting
    * on a base that no longer exists. */
  private def withCommittedBase[T](spark: SparkSession, root: String,
      spec: CubeJson.JsonCube, what: String)(
      body: CubeInstance => T): T =
    BuildLease.withLease(spark, root, spec.name)(Option.empty[T]) {
      val fresh = CubeMeta.load(spark, CubeJson.toCubeDef(spec), root)
        .map(_.inst).getOrElse(throw new IllegalStateException(
          s"$what refused: the committed meta for '${spec.name}' " +
            "disappeared or drifted while the build lease was held — " +
            s"rebuild the cube (any query or 'policies' run) and " +
            s"retry the $what"))
      body(fresh)
    }

  /** Dispatch one subcommand. Returns the exit code; prints results
    * through `out` (stdout in main, capturable in specs). */
  def run(spark: SparkSession, args: Seq[String],
          out: String => Unit = println(_)): Int = {
    if (args.isEmpty) { System.err.println("no subcommand"); return 1 }
    val cmd = args.head
    val p = parseArgs(args.tail)
    try {
      cmd match {
        case "backup" =>
          val Seq(root) = p.positional
          out(s"backup ${MetaBackup.backup(spark, root)}")
          0

        case "restore" =>
          val Seq(root, id) = p.positional
          val cubes = p.flags.get("--cubes")
            .map(_.split(",").map(_.trim).toSet)
          MetaBackup.restore(spark, root, id, cubes = cubes,
              pointInTime = p.switches.contains("--point-in-time"))
            .foreach(r => out(s"restored $r"))
          0

        case "clean" =>
          val Seq(root) = p.positional
          val (cube, _) = resolveCube(p)
          val r = StorageCleaner.clean(spark, cube, root,
            graceMs = p.flags.get("--grace-ms").map(_.toLong)
              .getOrElse(StorageCleaner.DefaultGraceMs),
            delete = !p.switches.contains("--dry-run"))
          r.removed.foreach(x => out(
            s"${if (r.deleted) "removed" else "would-remove"} $x"))
          r.inGrace.foreach(x => out(s"in-grace $x"))
          out(s"clean removed=${r.removed.size} " +
            s"inGrace=${r.inGrace.size} live=${r.live.size}")
          0

        case "metaclean" =>
          val Seq(root) = p.positional
          val r = MetaCleanup.clean(spark, root,
            cubes = p.flags.get("--def").toSeq
              .flatMap(f => readDoc(f).allSpecs.map(CubeJson.toCubeDef)),
            keepBackups = p.flags.get("--keep-backups").map(_.toInt)
              .getOrElse(8),
            graceMs = p.flags.get("--grace-ms").map(_.toLong)
              .getOrElse(StorageCleaner.DefaultGraceMs),
            delete = !p.switches.contains("--dry-run"))
          (r.dictRemoved ++ r.backupsRemoved ++ r.snapshotsRemoved)
            .foreach(x => out(
              s"${if (r.deleted) "removed" else "would-remove"} $x"))
          out(s"metaclean dict=${r.dictRemoved.size} " +
            s"backups=${r.backupsRemoved.size} " +
            s"snapshots=${r.snapshotsRemoved.size} " +
            s"inGrace=${r.inGrace.size}")
          0

        case "audit" =>
          val Seq(root) = p.positional
          val (cube, _) = resolveCube(p)
          val findings = HealthCheck.check(spark, cube, root)
          findings.foreach(f =>
            out(s"${f.severity} ${f.code}: ${f.message}"))
          out(s"audit findings=${findings.size}")
          if (findings.exists(_.severity == HealthCheck.Error)) 2 else 0

        case "migrate" =>
          val Seq(src, dst) = p.positional
          val (cube, _) = resolveCube(p)
          val inst = CubeMigrator.migrate(spark, cube, src, dst,
            overwrite = p.switches.contains("--overwrite"))
          out(s"migrated ${cube.name} -> $dst " +
            s"segments=${inst.cube.segments.size}")
          0

        case "append" =>
          // incremental build of one new time segment into a DECLARED
          // cube (the daily-build lifecycle, operable without code):
          // the flat comes from the declared model/columns, the append
          // commits meta last, every stamp-aware process reloads
          val Seq(sfDir) = p.positional
          val doc = p.flags.get("--def").map(readDoc).getOrElse(
            throw new IllegalArgumentException(
              "append needs --def <file> (a declared cube document)"))
          val spec = doc.memberSpec(p)
          val seg = p.flags.get("--segment").map(_.split(",")) match {
            case Some(Array(n, st, en)) => Segment(n, st, en)
            case _ => throw new IllegalArgumentException(
              "append needs --segment name,startDay,endDay")
          }
          // validate the boundaries as real days BEFORE anything
          // builds: a typo'd date would cast to null in the segment
          // filter and silently commit an EMPTY segment that then
          // serves zero rows for its whole range
          Seq(seg.start, seg.end).foreach { d =>
            if (d.length != 10 ||
                scala.util.Try(java.time.LocalDate.parse(d)).isFailure)
              throw new IllegalArgumentException(
                s"segment boundary '$d' must be a yyyy-MM-dd day")
          }
          if (seg.start >= seg.end) throw new IllegalArgumentException(
            s"segment start ${seg.start} must precede end ${seg.end}")
          doc.register() // whole document: a group member's append
                         // keeps routing coherent with the deployment
          val inst = CubeManager.ensureDeclared(spark, sfDir, spec)
          // serialization via withCommittedBase (ADVICE r15: two
          // concurrent appends would both pass the overlap check
          // against the same base and race the commit; an append
          // racing a rebuild would last-writer-win the meta).
          // The dictionary encode mirrors the initial declared build
          // (skipping it would build the new segment's bitmap states
          // over raw values, diverging from every other segment).
          val next = withCommittedBase(spark, inst.root, spec,
              "append") { fresh =>
            val flat0 = CubeJson.flatBuilder(spec, Some(fresh.root))(
              spark, sfDir)
            val flat = CubeManager.dictEncode(spark, spec, flat0,
              fresh.root)
            CubeBuilder.appendSegment(spark, fresh, flat, seg)
          }
          out(s"appended ${seg.name} segments=" +
            next.cube.segments.map(_.name).mkString(","))
          0

        case "refresh" =>
          // rebuild ONE existing segment from (possibly corrected)
          // source data, staged aside and swapped in whole (reference:
          // Kylin's REFRESH job over a cube segment) — the lifecycle
          // answer to "yesterday's source files were fixed" that
          // neither append (new ranges only) nor a full drift rebuild
          // (redoes every segment) covers
          val Seq(sfDir) = p.positional
          val doc = p.flags.get("--def").map(readDoc).getOrElse(
            throw new IllegalArgumentException(
              "refresh needs --def <file> (a declared cube document)"))
          val spec = doc.memberSpec(p)
          val segName = p.flags.getOrElse("--segment",
            throw new IllegalArgumentException(
              "refresh needs --segment <name> (an existing segment)"))
          doc.register() // keep routing coherent with the deployment
          val inst = CubeManager.ensureDeclared(spark, sfDir, spec)
          val next = withCommittedBase(spark, inst.root, spec,
              "refresh") { fresh =>
            if (!fresh.cube.segments.exists(_.name == segName))
              throw new IllegalArgumentException(
                s"no segment '$segName' in '${spec.name}' — have " +
                  fresh.cube.segments.map(_.name).mkString(", "))
            val flat0 = CubeJson.flatBuilder(spec, Some(fresh.root))(
              spark, sfDir)
            // corrected source can carry values no segment has seen:
            // buildOrAppend admits them while every already-assigned
            // id stays stable, so the untouched segments' bitmap
            // states remain comparable with the refreshed one's
            val flat = CubeManager.dictEncode(spark, spec, flat0,
              fresh.root)
            CubeBuilder.refreshSegment(spark, fresh, flat, segName)
          }
          out(s"refreshed $segName segments=" +
            next.cube.segments.map(_.name).mkString(","))
          0

        case "snapshot" =>
          // rebuild a derived-dim lookup's SNAPSHOT from corrected
          // source (reference: SnapshotManager.rebuildSnapshot — the
          // refresh-lookup-snapshot action): snapshots are frozen
          // write-once at build time, so a corrected dimension table
          // never reaches derived-dim answers until an operator acts
          val Seq(sfDir) = p.positional
          val doc = p.flags.get("--def").map(readDoc).getOrElse(
            throw new IllegalArgumentException(
              "snapshot needs --def <file> (a declared cube document)"))
          val lookup = p.flags.getOrElse("--lookup",
            throw new IllegalArgumentException(
              "snapshot needs --lookup <table> (a snapshotted lookup)"))
          // a correction event concerns EVERY member that snapshots
          // the lookup (each member has its own root, hence its own
          // frozen copy): default to the 'policies' sweep semantics —
          // fixing one member of a group while its siblings keep
          // serving the stale rows would be a silent half-correction.
          // --member still narrows to one. Validation is pure spec
          // data, so it runs BEFORE anything registers or builds —
          // a typo'd lookup on an unbuilt cube must refuse instead of
          // paying the full first-touch build (append's precedent).
          val candidates = p.flags.get("--member") match {
            case Some(_) => Seq(doc.memberSpec(p))
            case None => doc.allSpecs
          }
          val targets =
            candidates.filter(_.derived.exists(_.lookup == lookup))
          if (targets.isEmpty) {
            val snapped =
              candidates.flatMap(_.derived.map(_.lookup)).distinct
            throw new IllegalArgumentException(
              s"'$lookup' has no snapshot under " +
                s"${candidates.map(_.name).mkString(", ")} — " +
                (if (snapped.isEmpty) "no derived dims declare one"
                 else s"snapshotted lookups: ${snapped.mkString(", ")}"))
          }
          doc.register()
          // ONE rebuild per distinct ROOT: scoped members share the
          // frozen copy, so rebuilding it once per member would pay N
          // full re-freezes and open N swap windows; the siblings only
          // need their meta stamps flipped (both result-cache tiers
          // key on them and would replay pre-correction answers)
          val rebuiltRoots = scala.collection.mutable.Set.empty[String]
          targets.foreach { spec =>
            val inst = CubeManager.ensureDeclared(spark, sfDir, spec)
            // first member per ROOT rebuilds (scoped members share the
            // frozen copy); siblings only flip their meta stamps —
            // declaration order preserved for deterministic output
            val first = rebuiltRoots.add(inst.root)
            withCommittedBase(spark, inst.root, spec,
                "snapshot") { fresh =>
              // the root-level snapshots lease, like flatBuilder's
              // ensure path: on a SHARED root (rootScope) a sibling
              // member's build could be mid-ensure on the same
              // lookup, and rebuild's swap racing it would tear the
              // freeze. The lookup reads through the document's
              // declared SOURCE when one is bound — the parquet
              // convention could re-freeze different rows than the
              // build reads.
              if (first)
                BuildLease.withLease(spark, fresh.root,
                    "snapshots")(Option.empty[Unit]) {
                  Snapshot.rebuild(spark,
                    CubeJson.loadTable(spark, sfDir, spec, lookup),
                    fresh.root, lookup)
                }
              // commit meta LAST (fresh buildId) for EVERY member
              // that reads the freeze
              CubeMeta.save(spark, fresh): Unit
            }
            out(s"snapshot $lookup " +
              s"${if (first) "rebuilt" else "recommitted"} " +
              s"for ${spec.name}")
          }
          0

        case "ranges" =>
          // backfill/recompute per-segment DIM RANGES for an existing
          // cube (reference: the per-segment DimensionRangeInfo that
          // UpdateCubeInfoAfterBuildStep collects — for segments built
          // before the feature, engine-mr's CubeMigrationCLI-era cubes
          // simply lack the map and never prune). New builds collect
          // ranges automatically; this is the operator path for cubes
          // already on disk — at 100 TB nobody rebuilds a cube to gain
          // metadata, the backfill is one column-pruned min/max agg
          // over each segment's base cuboid. Recomputing is idempotent
          // (observed facts), so it doubles as a repair after manual
          // storage surgery. Defaults to every realization member
          // (each member root holds its own segments); --member
          // narrows to one.
          val Seq(sfDir) = p.positional
          val doc = p.flags.get("--def").map(readDoc).getOrElse(
            throw new IllegalArgumentException(
              "ranges needs --def <file> (a declared cube document)"))
          val specs = p.flags.get("--member") match {
            case Some(_) => Seq(doc.memberSpec(p))
            case None => doc.allSpecs
          }
          doc.register()
          // sweep atomicity: probe EVERY member's built state before
          // the first commit — refusing member B after member A's
          // buildId already flipped would leave a half-applied sweep
          // behind an exit 1 (the snapshot subcommand's validate-
          // before-anything posture)
          specs.foreach { spec =>
            val root = CubeManager.declaredRootOf(sfDir, spec)
            CubeMeta.load(spark, CubeJson.toCubeDef(spec), root)
              .getOrElse(throw new IllegalStateException(
                s"ranges refused: '${spec.name}' has no committed " +
                  s"build under $root — build it first (any query, " +
                  "'policies', or 'append'), then backfill"))
          }
          specs.foreach { spec =>
            val root = CubeManager.declaredRootOf(sfDir, spec)
            // the meta commit serializes under the DEFAULT build
            // lease with a load-only re-read, like every lifecycle op
            withCommittedBase(spark, root, spec, "ranges") { fresh =>
              val (collected, counts) = DimRanges.collectWithCounts(
                spark, fresh, fresh.cube.segments)
              // collection failures must never DESTROY committed
              // pruning metadata: refuse (no commit) unless every
              // segment scanned — collect swallows per-segment store
              // errors, and a shrunken map would silently widen every
              // scan while exiting 0
              val covered = collected.keySet.map(_._1)
              val missing = fresh.cube.segments.map(_.name)
                .filterNot(covered)
              if (missing.nonEmpty)
                throw new IllegalStateException(
                  s"ranges refused for '${spec.name}': segment(s) " +
                    s"${missing.mkString(", ")} did not collect — " +
                    "no eligible dims (float/double/binary only) or " +
                    "unreadable base cuboids; nothing was committed")
              // ranges derived from a DAMAGED base cuboid (truncated
              // write, lost part files) would wrongly prune a segment
              // other cuboids still answer — cross-check the scanned
              // row count against the committed stats and refuse on
              // any mismatch
              val (_, torn) =
                DimRanges.verifyAgainstStats(fresh, collected, counts)
              if (torn.nonEmpty)
                throw new IllegalStateException(
                  s"ranges refused for '${spec.name}': base cuboid " +
                    s"row count of segment(s) ${torn.mkString(", ")} " +
                    "does not match the committed stats — the dirs " +
                    "look damaged; refresh the segment(s) instead of " +
                    "backfilling ranges from them")
              // MERGE like the builder's own append/refresh paths —
              // recollected segments replace their entries, nothing
              // committed is ever dropped
              val next = fresh.copy(
                dimRanges = fresh.dimRanges ++ collected)
              if (next.dimRanges == fresh.dimRanges)
                out(s"ranges ${spec.name} unchanged " +
                  s"entries=${next.dimRanges.size} (no commit)")
              else {
                // commit LAST (fresh buildId): answers are unchanged —
                // pruning only shrinks scans — but stamp-keyed caches
                // and merged realizations re-chain on the flip, the
                // price a metadata-CHANGING lifecycle op pays (and an
                // identical rerun above deliberately does not)
                CubeMeta.save(spark, next): Unit
                out(s"ranges ${spec.name} " +
                  s"segments=${covered.size}/" +
                  s"${next.cube.segments.size} " +
                  s"entries=${next.dimRanges.size}")
              }
            }
          }
          0

        case "replan" =>
          // cube-planner phase 2 as an operator job (reference:
          // PBPUSCalculator + CuboidRecommender — the optimize-cube
          // job fed by query history): re-pick the lattice from the
          // persisted QueryLog's hit probabilities under a row
          // budget, materializing only the ADDITIONS onto the live
          // segments (optimizeCuboids — existing dirs untouched,
          // queries keep serving, the widened lattice rides
          // extraCuboids outside the fingerprint)
          val Seq(sfDir) = p.positional
          val doc = p.flags.get("--def").map(readDoc).getOrElse(
            throw new IllegalArgumentException(
              "replan needs --def <file> (a declared cube document)"))
          val spec = doc.memberSpec(p)
          val rowBudget = p.flags.get("--budget").map(_.toLong)
          val rate = p.flags.get("--expansion-rate").map(_.toDouble)
          if (rowBudget.isDefined == rate.isDefined)
            throw new IllegalArgumentException("replan needs exactly " +
              "ONE budget form: --budget <totalPlannedRows> or " +
              "--expansion-rate <xObservedBaseRows>")
          val logDir = p.flags.get("--log")
            .orElse(QueryLog.configuredDir(spark)).getOrElse(
              throw new IllegalArgumentException("replan needs the " +
                "query history: --log <dir> or spark.graft.querylog.dir"))
          doc.register()
          // the shared lifecycle op (CubeJson.applyReplan): lease
          // discipline, load-only re-read, observed-row baseline —
          // identical whether a scheduler's policies run or this CLI
          // triggered it
          val (next, added) = CubeJson.applyReplan(spark, sfDir, spec,
            rowBudget, rate, logDir)
          val budgetStr = rowBudget.map(_.toString)
            .getOrElse(s"${rate.get}x")
          out(s"replan ${spec.name} budget=$budgetStr " +
            s"added=$added cuboids=${next.cube.cuboids.size}")
          0

        case "advise" =>
          // the cube planner's RECOMMENDATION readout (reference: the
          // optimize-cube proposal operators approve before the job
          // runs): what a replan under the budget WOULD add, plus the
          // current lattice's stats — read-only, nothing mutates, no
          // lease. Defaults to the reference's expansion threshold
          // (kylin.cube.cubeplanner.expansion-threshold = 15.0) when
          // no budget form is given.
          val Seq(sfDir) = p.positional
          val doc = p.flags.get("--def").map(readDoc).getOrElse(
            throw new IllegalArgumentException(
              "advise needs --def <file> (a declared cube document)"))
          val spec = doc.memberSpec(p)
          val rowBudget = p.flags.get("--budget").map(_.toLong)
          val rate0 = p.flags.get("--expansion-rate").map(_.toDouble)
          val rate = if (rowBudget.isEmpty && rate0.isEmpty) Some(15.0)
                     else rate0
          val logDir = p.flags.get("--log")
            .orElse(QueryLog.configuredDir(spark)).getOrElse(
              throw new IllegalArgumentException("advise needs the " +
                "query history: --log <dir> or spark.graft.querylog.dir"))
          // READ-ONLY by contract: the committed meta loads directly —
          // a cube never built refuses instead of triggering the full
          // first-touch build a preview command must not launch
          val root = CubeManager.declaredRootOf(sfDir, spec)
          val inst = CubeMeta.load(spark, CubeJson.toCubeDef(spec),
              root).map(_.inst).getOrElse(
            throw new IllegalStateException(
              s"advise refused: '${spec.name}' has no committed build " +
                s"under $root — build it first (any query, 'policies', " +
                "or 'append'), then ask for advice"))
          val base = inst.cube.dims.toSet
          // ONE log read feeds the report, the pick, AND the SPBPUS
          // cost baseline
          val samples = QueryLog.routedSamples(spark, logDir, spec.name)
          val log = samples.map(_._1)
            .filter(s => s.nonEmpty && s.subsetOf(base))
          val (existing, picked, budget) = CubeJson.replanPick(spark,
            inst, rowBudget, rate, log, what = "advise",
            observed = CubeJson.replanObserved(spec, samples))
          out(s"advise ${spec.name} logged=${log.size} " +
            s"shapes=${log.distinct.size}")
          out(f"current cuboids=${inst.cube.cuboids.size} " +
            f"rows=${existing.values.sum} " +
            f"expansion=${existing.values.sum.toDouble /
              math.max(1L, existing(base))}%.2fx")
          val add = picked.filterNot(existing.contains)
          out(s"recommend budget=$budget add=${add.size}" +
            add.map(_.toSeq.sorted.mkString("(", ",", ")"))
              .sorted.mkString(" ", " ", ""))
          // the other half of the planner's diet: persisted PUSHDOWN
          // shapes (queries no realization could route) ranked as
          // model-evolution advice — adding a rowkey dim is an
          // operator decision, so it surfaces here, never auto-applied
          val missed = QueryLog.missSets(spark, logDir, spec.name)
          if (missed.nonEmpty) {
            val advice = CuboidPlanner.adviseModel(missed)
            out(s"model-advice misses=${missed.size} " +
              advice.take(5).map { case (d, n) => s"$d=$n" }
                .mkString(" "))
          }
          0

        case "policies" =>
          val Seq(sfDir) = p.positional
          val doc = p.flags.get("--def").map(readDoc).getOrElse(
            throw new IllegalArgumentException(
              "policies needs --def <file> (a declared cube document)"))
          doc.register()
          // lifecycle policies apply to EVERY member of a group —
          // retention/auto-merge are per-cube metadata whichever
          // document carries them
          doc.allSpecs.foreach { spec =>
            val inst = CubeJson.applyPolicies(spark, sfDir, spec)
            out(s"policies ${spec.name} " +
              s"segments=${inst.cube.segments.map(_.name).mkString(",")}")
          }
          0

        case "stream-promote" =>
          // streaming → batch promotion (the scheduled companion of
          // 'policies' for streaming-bearing documents): every fully
          // sealed whole day beyond the batch horizon appends as an
          // ordinary segment — dim ranges collected at commit
          val Seq(sfDir) = p.positional
          val doc = p.flags.get("--def").map(readDoc).getOrElse(
            throw new IllegalArgumentException(
              "stream-promote needs --def <file> (a declared cube " +
                "document with a streaming section)"))
          val spec = doc.memberSpec(p) match {
            case m if m.streaming.isDefined => m
            case m => throw new IllegalArgumentException(
              s"'${m.name}' declares no streaming section — nothing " +
                "to promote")
          }
          doc.register()
          val (next, seg) = CubeJson.promoteStream(spark, sfDir, spec)
          out(seg.map(sg =>
            s"promoted ${sg.name} [${sg.start},${sg.end}) segments=" +
              next.cube.segments.map(_.name).mkString(","))
            .getOrElse("nothing to promote: no whole sealed day " +
              "beyond the batch horizon"))
          0

        case other =>
          System.err.println(s"unknown subcommand '$other'")
          1
      }
    } catch {
      case e: Exception =>
        System.err.println(s"graft-tool $cmd failed: ${e.getMessage}")
        1
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    val code = try run(spark, args.toSeq) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
