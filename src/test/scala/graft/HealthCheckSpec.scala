package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** Cube audit (reference: server-base KylinHealthCheckJob — holes,
  * sprawl, layout completeness, expansion, reclaimable storage). */
class HealthCheckSpec extends AnyFunSuite {
  import TestSpark._

  private def build(tag: String): (CubeInstance, String) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft-health-$tag").toString
    val inst = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), CubeManager.eventsCube, root)
    (inst, root)
  }

  test("a freshly built cube is healthy") {
    val (_, root) = build("ok")
    assert(HealthCheck.check(spark, CubeManager.eventsCube, root).isEmpty)
  }

  test("segment holes, missing cuboids, and reclaimable garbage are " +
      "each surfaced with their remedy") {
    val (inst, root) = build("findings")
    // a hole: append March, skipping February
    val marFlat = TestSpark.eventsFlat(spark, sf)
      .withColumn("ts", col("ts") + expr("INTERVAL 62 DAYS"))
      .withColumn("ev_day", date_format(col("ts"), "yyyy-MM-dd"))
    CubeBuilder.appendSegment(spark, inst, marFlat,
      Segment("s2024m3", "2024-03-01", "2024-04-01"))
    // a missing cuboid dir in the live segment
    val gone = new java.io.File(s"$root/events/s2024m1/cuboid=1")
    org.apache.commons.io.FileUtils.deleteQuietly(gone)
    // garbage: fresh (in-grace — an in-flight build's posture) and
    // aged past the grace window (truly reclaimable)
    val fresh = new java.io.File(s"$root/events/s_fresh/cuboid=3")
    assert(fresh.mkdirs())
    val orphan = new java.io.File(s"$root/events/s_orphan/cuboid=3")
    assert(orphan.mkdirs())
    val aged = System.currentTimeMillis() -
      StorageCleaner.DefaultGraceMs - 3600 * 1000
    assert(orphan.setLastModified(aged))
    assert(orphan.getParentFile.setLastModified(aged))

    val f = HealthCheck.check(spark, CubeManager.eventsCube, root)
    val codes = f.map(_.code).toSet
    assert(codes.contains("segment_hole"), s"findings: $f")
    assert(codes.contains("missing_cuboid"))
    assert(codes.contains("reclaimable_storage"), s"findings: $f")
    // the young orphan gets the in-flight code, NOT a run-the-cleaner
    // remedy the cleaner itself would refuse (grace window)
    assert(codes.contains("inflight_storage"), s"findings: $f")
    assert(f.find(_.code == "reclaimable_storage")
      .exists(_.message.contains("s_orphan")), s"findings: $f")
    assert(f.filter(_.code == "missing_cuboid")
      .forall(_.severity == HealthCheck.Error))
    // messages carry the remedy, not just the symptom
    assert(f.forall(x => x.message.nonEmpty && x.message.length > 20))
  }

  test("partial dim-range coverage surfaces the backfill remedy; " +
      "uniform absence stays quiet") {
    val (inst, root) = build("ranges")
    assert(HealthCheck.check(spark, CubeManager.eventsCube, root).isEmpty,
      "a fresh build collects ranges for every segment — healthy")
    // append a second segment, then strip ONLY its ranges — the
    // partial state a pre-feature binary or a failed collection leaves
    val marFlat = TestSpark.eventsFlat(spark, sf)
      .withColumn("ts", col("ts") + expr("INTERVAL 31 DAYS"))
      .withColumn("ev_day", date_format(col("ts"), "yyyy-MM-dd"))
    val appended = CubeBuilder.appendSegment(spark, inst, marFlat,
      Segment("s2024m2", "2024-02-01", "2024-03-01"))
    CubeMeta.save(spark, appended.copy(
      dimRanges = appended.dimRanges.filterNot {
        case ((s, _), _) => s == "s2024m2" })): Unit
    val f = HealthCheck.check(spark, CubeManager.eventsCube, root)
      .filter(_.code == "missing_dim_ranges")
    assert(f.size == 1 && f.head.message.contains("s2024m2"),
      f.mkString("\n"))
    // a fully range-less meta (every segment stripped) is the
    // pre-feature steady state, or a cube whose dims never collect
    // (float/double/binary) — not a per-audit nag
    CubeMeta.save(spark, appended.copy(dimRanges = Map.empty)): Unit
    assert(HealthCheck.check(spark, CubeManager.eventsCube, root)
      .forall(_.code != "missing_dim_ranges"))
  }

  test("segment sprawl and lattice expansion thresholds fire") {
    val (_, root) = build("thresh")
    val sprawl = HealthCheck.check(spark, CubeManager.eventsCube, root,
      maxSegments = 0)
    assert(sprawl.exists(_.code == "too_many_segments"))
    val expansion = HealthCheck.check(spark, CubeManager.eventsCube, root,
      maxExpansion = 0.5)
    assert(expansion.exists(_.code == "expansion_rate"))
  }

  test("an unloadable meta refuses rather than reporting nonsense") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-health-refuse").toString
    intercept[IllegalStateException] {
      HealthCheck.check(spark, CubeManager.eventsCube, root)
    }
  }

  test("superseded dict versions and over-retained backups surface " +
      "as reclaimable metadata") {
    import spark.implicits._
    val (_, root) = build("auxmeta")
    // a healthy root has no aux finding
    assert(!HealthCheck.check(spark, CubeManager.eventsCube, root)
      .exists(_.code == "reclaimable_metadata"))
    // two dict versions (v1 superseded + aged) and 9 backups
    Dictionary.buildOrAppend(spark, Seq("a").toDF("c"), "c", root)
    Dictionary.buildOrAppend(spark, Seq("a", "b").toDF("c"), "c", root)
    // the dict grace clock runs from the supersession (v2's creation)
    Seq("v1", "v2").foreach(v =>
      assert(new java.io.File(s"$root/dict/c/$v").setLastModified(
        System.currentTimeMillis() - 48L * 3600 * 1000)))
    (1 to 9).foreach { _ =>
      MetaBackup.backup(spark, root); Thread.sleep(3)
    }
    val f = HealthCheck.check(spark, CubeManager.eventsCube, root)
      .find(_.code == "reclaimable_metadata")
    assert(f.isDefined, "the aux-metadata finding must fire")
    assert(f.get.message.contains("1 superseded dictionary version") &&
      f.get.message.contains("1 over-retained backup"),
      f.get.message)
  }
}
