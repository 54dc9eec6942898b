package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** Storage GC (reference: server-base StorageCleanupJob — sweep paths
  * no live metadata references, behind a delete flag + recency guard).
  * The commit-last protocol makes crashed refreshes/appends, retention
  * leftovers, and broken leases unreachable but storage-billing; the
  * cleaner reclaims them from the committed meta as truth. */
class StorageCleanerSpec extends AnyFunSuite {
  import TestSpark._

  private def build(tag: String): (CubeInstance, String) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-gc-$tag").toString
    val inst = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), CubeManager.eventsCube, root)
    (inst, root)
  }

  private def age(f: java.io.File): Unit =
    assert(f.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))

  test("orphaned segments, staged refreshes, foreign cuboids, and " +
      "broken leases are swept; live data and routing survive") {
    val (inst, root) = build("sweep")
    val cubeDir = new java.io.File(s"$root/events")
    // garbage menagerie, all aged past the grace window
    val staged = new java.io.File(cubeDir, "s2024m1.refreshing")
    assert(new java.io.File(staged, "cuboid=3").mkdirs())
    val orphanSeg = new java.io.File(cubeDir, "s_gone")
    assert(new java.io.File(orphanSeg, "cuboid=3").mkdirs())
    val orphanCuboid = new java.io.File(cubeDir, "s2024m1/cuboid=999")
    assert(orphanCuboid.mkdirs())
    val brokenLease = new java.io.File(cubeDir,
      "_building.broken.deadbeef")
    java.nio.file.Files.write(brokenLease.toPath, "x".getBytes)
    Seq(staged, orphanSeg, orphanCuboid, brokenLease).foreach(age)

    val r = StorageCleaner.clean(spark, CubeManager.eventsCube, root,
      graceMs = 1000)
    assert(r.removed.toSet ==
      Set(staged, orphanSeg, orphanCuboid, brokenLease)
        .map(f => "file:" + f.getPath),
      s"unexpected sweep set: ${r.removed}")
    Seq(staged, orphanSeg, orphanCuboid, brokenLease)
      .foreach(f => assert(!f.exists(), s"$f must be deleted"))
    // live layout intact and the instance still routes
    val loaded = CubeMeta.load(spark, CubeManager.eventsCube, root)
    assert(loaded.exists(_.inst.rows == inst.rows))
    val n = QueryRouter.route(spark, loaded.get.inst, CubeQuery(
      Seq("event_type"), Seq("n_events" -> "n")))(fail("expected cuboid"))
      .df.count()
    assert(n > 0)
  }

  test("build-attempt state (_job*.json / _phase markers) is protocol, " +
      "never swept: reclaiming it between crash and re-entry would " +
      "downgrade the step-resume to a full rebuild (ADVICE r16)") {
    val (_, root) = build("jobstate")
    val cubeDir = new java.io.File(s"$root/events")
    val job = new java.io.File(cubeDir, BuildJob.JobFile)
    val refresh = new java.io.File(cubeDir, BuildJob.RefreshJobFile)
    val phase = new java.io.File(cubeDir, "_phase.dict.c.json")
    Seq(job, refresh, phase).foreach(f =>
      java.nio.file.Files.write(f.toPath, "{}".getBytes))
    Seq(job, refresh, phase).foreach(age)
    val r = StorageCleaner.clean(spark, CubeManager.eventsCube, root,
      graceMs = 1000)
    assert(job.exists() && refresh.exists() && phase.exists(),
      "attempt state is self-healing (begin overwrites, finish " +
        "deletes) and must survive the sweep for resume to work")
    assert(Seq(job, refresh, phase).forall(f =>
      r.live.contains("file:" + f.getPath)))
    assert(r.removed.isEmpty)
  }

  test("fresh garbage is protected by the grace window; dry run " +
      "reports without deleting") {
    val (_, root) = build("grace")
    val cubeDir = new java.io.File(s"$root/events")
    val fresh = new java.io.File(cubeDir, "s_fresh_orphan")
    assert(new java.io.File(fresh, "cuboid=3").mkdirs())
    val old = new java.io.File(cubeDir, "s_old_orphan")
    assert(new java.io.File(old, "cuboid=3").mkdirs())
    age(old)

    // dry run: recognizes both, deletes neither
    val dry = StorageCleaner.clean(spark, CubeManager.eventsCube, root,
      graceMs = 60000, delete = false)
    assert(dry.removed.contains("file:" + old.getPath))
    assert(dry.inGrace.contains("file:" + fresh.getPath))
    assert(old.exists() && fresh.exists(), "dry run must not delete")

    // real run: the in-grace dir (an in-flight append writes its dir
    // BEFORE the meta commit) survives; the old orphan goes
    val r = StorageCleaner.clean(spark, CubeManager.eventsCube, root,
      graceMs = 60000)
    assert(!old.exists() && fresh.exists())
    assert(r.inGrace.contains("file:" + fresh.getPath))
  }

  test("a chained merged realization is live; a broken chain is garbage") {
    val (inst, root) = build("merged")
    val merged = CubeBuilder.mergeSegments(spark, inst, "merged")
    val baseId = CubeMeta.load(spark, CubeManager.eventsCube, root)
      .map(_.buildId)
    CubeMeta.save(spark, merged, CubeMeta.MergedFile, baseBuildId = baseId)
    val mergedDir = new java.io.File(s"$root/events/merged")
    assert(mergedDir.exists())
    age(mergedDir)
    // chained: live
    val r1 = StorageCleaner.clean(spark, CubeManager.eventsCube, root,
      graceMs = 1000)
    assert(mergedDir.exists() &&
      r1.live.contains("file:" + mergedDir.getPath))
    // re-commit the base meta (new buildId) WITHOUT re-merging: the
    // chain is broken and the merged segment dir becomes garbage
    val reloaded = CubeMeta.load(spark, CubeManager.eventsCube, root).get
    CubeMeta.save(spark, reloaded.inst)
    val r2 = StorageCleaner.clean(spark, CubeManager.eventsCube, root,
      graceMs = 1000)
    assert(!mergedDir.exists() &&
      r2.removed.contains("file:" + mergedDir.getPath))
  }

  test("the cleaner refuses without loadable meta — garbage cannot be " +
      "told from cube") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-gc-refuse").toString
    assert(new java.io.File(s"$root/events/s_x/cuboid=3").mkdirs())
    intercept[IllegalStateException] {
      StorageCleaner.clean(spark, CubeManager.eventsCube, root)
    }
    assert(new java.io.File(s"$root/events/s_x").exists())
  }
}
