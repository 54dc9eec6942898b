package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** Metadata backup/restore (reference: tool CubeMetaExtractor +
  * CubeMetaIngester): a point-in-time copy of the per-cube meta
  * commits, restorable over the live paths — and, composed with the
  * stamp-aware managers and the storage cleaner, a no-restart rollback
  * of a bad append including space reclamation. */
class MetaBackupSpec extends AnyFunSuite {
  import TestSpark._

  test("backup → bad append → restore rolls the metadata back; the " +
      "orphaned segment is then swept by the cleaner") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-backup").toString
    val cube = CubeManager.eventsCube
    val v1 = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), cube, root)
    val id = MetaBackup.backup(spark, root)
    assert(MetaBackup.list(spark, root) == Seq(id))

    // the "bad" append
    val febFlat = TestSpark.eventsFlat(spark, sf)
      .withColumn("ts", col("ts") + expr("INTERVAL 31 DAYS"))
      .withColumn("ev_day", date_format(col("ts"), "yyyy-MM-dd"))
    CubeBuilder.appendSegment(spark, v1, febFlat,
      Segment("s2024m2", "2024-02-01", "2024-03-01"))
    assert(CubeMeta.load(spark, cube, root)
      .exists(_.inst.cube.segments.length == 2))

    // restore: metadata back to the v1 commit, layout still complete
    val restored = MetaBackup.restore(spark, root, id)
    assert(restored.nonEmpty)
    val back = CubeMeta.load(spark, cube, root)
      .getOrElse(fail("restored meta must load"))
    assert(back.inst.cube.segments.map(_.name) == Seq("s2024m1"))
    assert(back.inst.rows == v1.rows)
    val n = QueryRouter.route(spark, back.inst, CubeQuery(
      Seq("event_type"), Seq("n_events" -> "n")))(fail("expected cuboid"))
      .df.agg(sum("n")).head().getLong(0)
    assert(n == TestSpark.eventsFlat(spark, sf).count())

    // the appended segment's dir is now unreferenced garbage: the
    // cleaner reclaims it once aged past the grace window
    val segDir = new java.io.File(s"$root/events/s2024m2")
    assert(segDir.exists())
    assert(segDir.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    val r = StorageCleaner.clean(spark, cube, root, graceMs = 1000)
    assert(!segDir.exists() &&
      r.removed.contains("file:" + segDir.getPath))
  }

  test("restore of an unknown id refuses; a serving memo notices the " +
      "restored commit through its stamp") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-backup2").toString
    val cube = CubeManager.eventsCube
    val v1 = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), cube, root)
    intercept[IllegalArgumentException] {
      MetaBackup.restore(spark, root, "no-such-backup")
    }
    val id = MetaBackup.backup(spark, root)
    val stampBefore = MetaStamp.of(spark, root, cube.name)
    CubeBuilder.appendSegment(spark, v1,
      TestSpark.eventsFlat(spark, sf)
        .withColumn("ts", col("ts") + expr("INTERVAL 31 DAYS"))
        .withColumn("ev_day", date_format(col("ts"), "yyyy-MM-dd")),
      Segment("s2024m2", "2024-02-01", "2024-03-01"))
    assert(MetaStamp.of(spark, root, cube.name) != stampBefore)
    MetaBackup.restore(spark, root, id)
    // the restored commit carries the backed-up buildId again — the
    // drift detector sees it as a change from the appended id and a
    // stamp-aware manager would reload to the rolled-back state
    assert(MetaStamp.of(spark, root, cube.name) == stampBefore)
  }

  // ── VERDICT r14 item 5: per-cube restore + post-restore audit ─────

  private def miniDef = CubeDef("mini", Seq("n_name"),
    Seq(Measure("nrows", fromRaw = count(lit(1)),
      fromState = s => sum(col(s)), answers = Some(SqlAgg.CountAll))),
    segmentCol = "d",
    segments = Seq(Segment("all", "1995-01-01", "1996-01-01")),
    cuboids = Seq(Set("n_name")))

  private def buildMini(root: String): CubeInstance =
    CubeBuilder.build(spark, Tables.nation(spark, sf)
      .withColumn("d", lit("1995-06-01").cast("timestamp")),
      miniDef, root)

  private def badAppend(v1: CubeInstance): Unit = {
    CubeBuilder.appendSegment(spark, v1,
      TestSpark.eventsFlat(spark, sf)
        .withColumn("ts", col("ts") + expr("INTERVAL 31 DAYS"))
        .withColumn("ev_day", date_format(col("ts"), "yyyy-MM-dd")),
      Segment("s2024m2", "2024-02-01", "2024-03-01")): Unit
  }

  test("a cube filter scopes the rollback to the named cube only") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-backup3").toString
    val ev = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), CubeManager.eventsCube, root)
    val mini = buildMini(root)
    val id = MetaBackup.backup(spark, root)

    badAppend(ev)                 // events drifts…
    CubeMeta.save(spark, mini)    // …and so does mini
    val miniStamp = MetaStamp.of(spark, root, "mini")

    intercept[IllegalArgumentException] {
      MetaBackup.restore(spark, root, id, cubes = Some(Set("nope")))
    }
    MetaBackup.restore(spark, root, id, cubes = Some(Set("events")))
    // events rolled back; mini untouched (its post-backup commit holds)
    assert(CubeMeta.load(spark, CubeManager.eventsCube, root)
      .exists(_.inst.cube.segments.map(_.name) == Seq("s2024m1")))
    assert(MetaStamp.of(spark, root, "mini") == miniStamp,
      "a scoped restore must not touch unselected cubes")
  }

  test("a since-migrated-away cube is not resurrected unfiltered; the " +
      "post-restore audit is clean") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-backup4").toString
    val ev = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), CubeManager.eventsCube, root)
    buildMini(root)
    val id = MetaBackup.backup(spark, root)

    // mini migrates away: its whole dir leaves this root
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/mini"))
    badAppend(ev)

    MetaBackup.restore(spark, root, id) // unfiltered
    assert(!new java.io.File(s"$root/mini/meta.json").exists(),
      "an unfiltered restore must not resurrect a migrated-away cube")
    // composed audit: the restored root is healthy — no Error finding
    val findings = HealthCheck.check(spark, CubeManager.eventsCube, root)
    assert(!findings.exists(_.severity == HealthCheck.Error),
      s"post-restore audit found: $findings")

    // the operator can still FORCE the ghost back by naming it — and
    // the load-time completeness check correctly refuses to route it
    MetaBackup.restore(spark, root, id, cubes = Some(Set("mini")))
    assert(new java.io.File(s"$root/mini/meta.json").exists())
    assert(CubeMeta.load(spark, miniDef, root).isEmpty,
      "a meta restored over missing parquet must not load as routable")
  }

  test("point-in-time restore decommits cubes born after the backup") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-backup5").toString
    CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), CubeManager.eventsCube, root)
    val id = MetaBackup.backup(spark, root)
    buildMini(root) // committed AFTER the snapshot
    assert(CubeMeta.load(spark, miniDef, root).isDefined)

    intercept[IllegalArgumentException] {
      MetaBackup.restore(spark, root, id, cubes = Some(Set("events")),
        pointInTime = true)
    }
    MetaBackup.restore(spark, root, id, pointInTime = true)
    assert(CubeMeta.load(spark, miniDef, root).isEmpty,
      "point-in-time rollback must decommit the post-backup cube")
    assert(CubeMeta.load(spark, CubeManager.eventsCube, root).isDefined)
  }
}
