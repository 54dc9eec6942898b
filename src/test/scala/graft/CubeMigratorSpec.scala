package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** Cross-root migration (reference: tool CubeMigrationCLI — staging →
  * prod promotion of meta + segment data + snapshots + dicts, with
  * CubeMigrationCheckCLI as the post-move verification). */
class CubeMigratorSpec extends AnyFunSuite {
  import TestSpark._

  private def freshRoot(tag: String): String = java.nio.file.Files
    .createTempDirectory(s"graft-migrate-$tag").toString

  private def revenueByType(inst: CubeInstance): Map[String, Double] =
    QueryRouter.route(spark, inst, CubeQuery(
      Seq("event_type"), Seq("value_sum" -> "v")))(fail("expected cuboid"))
      .df.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap

  test("a migrated cube serves identical results at the destination " +
      "and passes the post-move health check") {
    val srcRoot = freshRoot("src")
    val dstRoot = freshRoot("dst")
    val cube = CubeManager.eventsCube
    val src = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), cube, srcRoot)
    val want = revenueByType(src)
    // source garbage (a crashed build's orphan) must NOT travel —
    // migration walks the meta's resource list, not the raw dir
    val orphan = new java.io.File(s"$srcRoot/events/s_orphan/cuboid=3")
    assert(orphan.mkdirs())
    // build-attempt state is process/root-local, never data: none of
    // the three attempt files may resurrect a stale attempt id at the
    // destination (the refresh one was the ADVICE r16 gap)
    val attempts = Seq(BuildJob.JobFile, BuildJob.MergeJobFile,
      BuildJob.RefreshJobFile)
    attempts.foreach(f => java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$srcRoot/events/$f"), "{}".getBytes))

    val dst = CubeMigrator.migrate(spark, cube, srcRoot, dstRoot)
    assert(!new java.io.File(s"$dstRoot/events/s_orphan").exists(),
      "unreferenced source dirs must stay behind")
    attempts.foreach(f =>
      assert(!new java.io.File(s"$dstRoot/events/$f").exists(),
        s"build-attempt state $f must not travel"))
    assert(dst.root == dstRoot)
    assert(dst.rows == src.rows,
      "per-(segment,cuboid) row stats must travel with the meta")
    assert(revenueByType(dst) == want)
    // CubeMigrationCheckCLI analogue: the standing audit agrees the
    // copy is complete (every cuboid dir, stats, no garbage)
    assert(HealthCheck.check(spark, cube, dstRoot).isEmpty)
  }

  test("an already-committed destination refuses without overwrite " +
      "and replaces with it") {
    val srcRoot = freshRoot("ow-src")
    val dstRoot = freshRoot("ow-dst")
    val cube = CubeManager.eventsCube
    CubeBuilder.build(spark, TestSpark.eventsFlat(spark, sf), cube,
      srcRoot)
    CubeMigrator.migrate(spark, cube, srcRoot, dstRoot)
    intercept[IllegalStateException] {
      CubeMigrator.migrate(spark, cube, srcRoot, dstRoot)
    }
    val again = CubeMigrator.migrate(spark, cube, srcRoot, dstRoot,
      overwrite = true)
    assert(HealthCheck.check(spark, cube, again.root).isEmpty)
  }

  test("the wide star cube migrates with snapshots, dicts, and the " +
      "merged realization") {
    // the shared build root has everything: derived-dim snapshots,
    // the c_name dict tree, meta-merged.json — every copy path runs.
    // ensureMerged first: earlier suites may have re-committed the
    // primary (their foreign-commit fixtures), orphaning an older
    // merged realization — this re-merges against the CURRENT buildId,
    // so the chain the migration ships is deterministically live
    CubeManager.ensureMerged(spark, sf)
    val src = CubeManager.ensureBuilt(spark, sf)
    val dstRoot = freshRoot("star-dst")
    val dst = CubeMigrator.migrate(spark, src.cube, src.root, dstRoot)
    assert(dst.rows == src.rows)
    // derived-dim snapshots and the dict tree arrived
    val fs = new org.apache.hadoop.fs.Path(dstRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    src.cube.derived.map(_.lookup).distinct.foreach { l =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        Snapshot.path(dstRoot, l))), s"snapshot $l missing at dst")
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dstRoot/dict")),
      "dict tree missing at dst")
    // the merged realization's meta traveled as a byte-copy, so its
    // base-buildId link still matches the (also byte-copied) primary
    val merged = CubeMeta.load(spark, src.cube, dstRoot,
      CubeMeta.MergedFile)
    val mergedAtSrc = CubeMeta.load(spark, src.cube, src.root,
      CubeMeta.MergedFile)
    assert(merged.isDefined == mergedAtSrc.isDefined,
      "merged realization must travel iff the source has one")
    // post-move verification: the audit sees a complete copy
    assert(HealthCheck.check(spark, src.cube, dstRoot).isEmpty)
    // and a routed aggregate answers identically
    val q = CubeQuery(Seq("o_orderstatus"), Seq("revenue" -> "rev"))
    val want = QueryRouter.route(spark, src, q)(fail("expected cuboid"))
      .df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = QueryRouter.route(spark, dst, q)(fail("expected cuboid"))
      .df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == want)
  }

  test("a source without committed meta refuses") {
    intercept[IllegalStateException] {
      CubeMigrator.migrate(spark, CubeManager.eventsCube,
        freshRoot("empty"), freshRoot("never"))
    }
  }

  // ── ADVICE r14: shared trees on a multi-cube destination root are
  // copied ADDITIVELY — never replaced under other committed cubes ──

  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def nationCube(name: String): CubeDef = CubeDef(name,
    Seq("n_name"),
    Seq(Measure("nrows", fromRaw = count(lit(1)),
      fromState = s => sum(col(s)), answers = Some(SqlAgg.CountAll))),
    segmentCol = "d",
    segments = Seq(Segment("all", "1995-01-01", "1996-01-01")),
    cuboids = Seq(Set("n_name")),
    derived = Seq(DerivedDim("n_regionkey", "n_name", "nation")))

  private def buildNationCube(name: String, root: String): CubeInstance = {
    Snapshot.ensure(spark, Tables.nation(spark, sf), root, "nation")
    CubeBuilder.build(spark, Tables.nation(spark, sf)
      .withColumn("d", lit("1995-06-01").cast("timestamp")),
      nationCube(name), root)
  }

  test("a refusal on an overwrite re-migration leaves the destination " +
      "cube COMMITTED (the conflict check precedes the uncommit)") {
    val srcRoot = freshRoot("reref-src")
    val dstRoot = freshRoot("reref-dst")
    buildNationCube("mini", srcRoot)
    Dictionary.buildOrAppend(spark, Seq("a").toDF("c"), "c", srcRoot)
    // destination: the SAME cube already deployed (with its own dict
    // lineage) plus another committed cube — overwrite can't replace
    // shared trees here, so the dict collision must refuse, and the
    // refusal must not have decommitted the destination's mini first
    buildNationCube("mini", dstRoot)
    Dictionary.buildOrAppend(spark, Seq("x").toDF("c"), "c", dstRoot)
    buildNationCube("other", dstRoot)
    intercept[IllegalStateException] {
      CubeMigrator.migrate(spark, nationCube("mini"), srcRoot, dstRoot,
        overwrite = true)
    }
    assert(CubeMeta.load(spark, nationCube("mini"), dstRoot).isDefined,
      "a refused overwrite must leave the destination cube routable")
  }

  test("a destination snapshot that DIFFERS from the source freeze " +
      "refuses rather than silently serving divergent derived rows") {
    val srcRoot = freshRoot("snapdiff-src")
    val dstRoot = freshRoot("snapdiff-dst")
    buildNationCube("mini", srcRoot) // snapshot = the full nation
    // destination froze a DIFFERENT nation (fewer rows) before its own
    // cube was built — a real skew between deployments
    Snapshot.ensure(spark,
      Tables.nation(spark, sf).filter(col("n_regionkey") === 0),
      dstRoot, "nation")
    buildNationCube("other", dstRoot)
    val e = intercept[IllegalStateException] {
      CubeMigrator.migrate(spark, nationCube("mini"), srcRoot, dstRoot)
    }
    assert(e.getMessage.contains("differs from the source freeze"),
      e.getMessage)
    assert(!new java.io.File(s"$dstRoot/mini").exists(),
      "the refusal must come before any data copy")
  }

  test("a dict-column collision on a multi-cube destination refuses " +
      "BEFORE any copy") {
    val srcRoot = freshRoot("dictsrc")
    val dstRoot = freshRoot("dictdst")
    buildNationCube("mini", srcRoot)
    Dictionary.buildOrAppend(spark, Seq("a", "b").toDF("c"), "c", srcRoot)
    // destination: ANOTHER committed cube plus its own dict lineage
    // for the same column name
    buildNationCube("other", dstRoot)
    Dictionary.buildOrAppend(spark, Seq("x").toDF("c"), "c", dstRoot)
    val before = Dictionary.load(spark, dstRoot, "c").get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    intercept[IllegalStateException] {
      CubeMigrator.migrate(spark, nationCube("mini"), srcRoot, dstRoot)
    }
    // refusal left the destination untouched: no mini data, dict
    // lineage intact
    assert(!new java.io.File(s"$dstRoot/mini").exists(),
      "the refusal must come before any data copy")
    val after = Dictionary.load(spark, dstRoot, "c").get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == before,
      "the other cube's dict lineage must be untouched")
  }

  test("an IDENTICAL destination dict tree passes: a shared-root " +
      "(rootScope) hybrid migrates member by member — the second " +
      "member's dictionary is the one the first already carried") {
    val srcRoot = freshRoot("dictsame-src")
    val dstRoot = freshRoot("dictsame-dst")
    // two cubes sharing ONE source root and ONE dict tree (the
    // rootScope layout)
    buildNationCube("m1", srcRoot)
    buildNationCube("m2", srcRoot)
    Dictionary.buildOrAppend(spark, Seq("a", "b").toDF("c"), "c", srcRoot)
    CubeMigrator.migrate(spark, nationCube("m1"), srcRoot, dstRoot)
    assert(new java.io.File(s"$dstRoot/dict/c").exists(),
      "the first member's migration carries the shared dict tree")
    // the second member must NOT refuse on its own shared tree
    val dst2 = CubeMigrator.migrate(spark, nationCube("m2"), srcRoot,
      dstRoot)
    assert(dst2.root == dstRoot)
    assert(new java.io.File(s"$dstRoot/m1").exists() &&
      new java.io.File(s"$dstRoot/m2").exists())
    // the shared tree's ids are byte-identical to the source's
    val src = Dictionary.load(spark, srcRoot, "c").get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dst = Dictionary.load(spark, dstRoot, "c").get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dst == src)
  }

  test("a source dictionary AHEAD of the destination's refuses: the " +
      "migrator never patches version dirs into a live column") {
    val srcRoot = freshRoot("dictahead-src")
    val dstRoot = freshRoot("dictahead-dst")
    buildNationCube("m1", srcRoot)
    buildNationCube("m2", srcRoot)
    Dictionary.buildOrAppend(spark, Seq("a", "b").toDF("c"), "c", srcRoot)
    CubeMigrator.migrate(spark, nationCube("m1"), srcRoot, dstRoot)
    // the SOURCE appends after the sibling migrated: its states may
    // reference ids the destination cannot resolve
    Dictionary.buildOrAppend(spark, Seq("z").toDF("c"), "c", srcRoot)
    val e = intercept[IllegalStateException] {
      CubeMigrator.migrate(spark, nationCube("m2"), srcRoot, dstRoot)
    }
    assert(e.getMessage.contains("cannot serve"), e.getMessage)
    assert(!new java.io.File(s"$dstRoot/m2").exists(),
      "the refusal must come before any copy")
  }

  test("shared trees copy additively under other committed cubes: " +
      "existing snapshots/dict columns are kept, absent ones travel") {
    val srcRoot = freshRoot("addsrc")
    val dstRoot = freshRoot("adddst")
    buildNationCube("mini", srcRoot)
    Dictionary.buildOrAppend(spark, Seq("p", "q").toDF("d"), "d", srcRoot)
    buildNationCube("other", dstRoot)
    Dictionary.buildOrAppend(spark, Seq("x").toDF("c"), "c", dstRoot)
    // marker inside the destination's shared snapshot: survives iff
    // the tree is NOT replaced (hidden name — parquet readers skip it)
    val marker = new java.io.File(s"$dstRoot/snapshots/nation/.marker")
    java.nio.file.Files.write(marker.toPath, "keep".getBytes)

    val dst = CubeMigrator.migrate(spark, nationCube("mini"),
      srcRoot, dstRoot)
    assert(marker.exists(),
      "an existing shared snapshot must not be replaced while another " +
        "cube is committed at the destination")
    // the other cube's dict column survives; the new column traveled
    assert(Dictionary.load(spark, dstRoot, "c").get.collect()
      .map(_.getString(0)).toSet == Set("x"))
    assert(Dictionary.load(spark, dstRoot, "d").get.collect()
      .map(_.getString(0)).toSet == Set("p", "q"))
    // both cubes committed and loadable at the destination
    assert(CubeMeta.load(spark, nationCube("other"), dstRoot).isDefined)
    assert(dst.rows.nonEmpty &&
      CubeMeta.load(spark, nationCube("mini"), dstRoot).isDefined)
  }
}
