package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** VERDICT r7 item 1: persisted cube-instance metadata. A restarted
  * process (simulated by clearing the per-JVM memo) must LOAD the
  * committed meta.json and route queries with no build phase firing —
  * the missing half of the build-once/query-many lifecycle. */
class CubeMetaSpec extends AnyFunSuite {
  import TestSpark._

  test("a restarted process loads the persisted instance and routes " +
      "without rebuilding") {
    // first ensure (builds, or loads a previous run's commit) — either
    // way meta.json is on disk afterwards
    val first = CubeManager.ensureBuilt(spark, sf)
    CubeManager.ensureEventsBuilt(spark, sf)

    CubeManager.resetMemos() // simulated restart
    val phasesBefore = CubeBuilder.phaseTotals

    val inst = CubeManager.ensureBuilt(spark, sf)
    val evInst = CubeManager.ensureEventsBuilt(spark, sf)

    // identical instance state: segments AND per-(segment, cuboid)
    // row counts round-tripped through the meta file
    assert(inst.cube.segments == first.cube.segments)
    assert(inst.rows == first.rows && inst.rows.nonEmpty)
    assert(evInst.rows.nonEmpty)

    // the loaded instance answers the cube_sql_route shape hash-exactly
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT n_name, sum(disc_price) AS revenue, count(*) AS n_rows
        |FROM graft_star WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"expected cuboid route, got ${r.via}")
    val got = r.df.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(sum(col("disc_price")).cast("double").as("revenue"),
           count(lit(1)).as("n_rows"))
      .collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
    assert(got == want && want.nonEmpty)

    // NO [graft-build] phase fired after the simulated restart: the
    // loaded metadata answered everything
    assert(CubeBuilder.phaseTotals == phasesBefore,
      s"a build phase fired on what should be a pure metadata load: " +
        s"before=$phasesBefore after=${CubeBuilder.phaseTotals}")
  }

  test("fingerprint drift or a torn meta file forces a rebuild, " +
      "never a stale route") {
    val root = java.nio.file.Files.createTempDirectory("graft-meta").toString
    val inst = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), CubeManager.eventsCube, root)
    assert(CubeMeta.load(spark, CubeManager.eventsCube, root)
      .exists(_.inst.rows == inst.rows))

    // a def edit that changes the materialized lattice must invalidate
    val drifted = CubeManager.eventsCube
    val fewer = drifted.copy(cuboids = Seq(drifted.dims.toSet))
    assert(CubeMeta.load(spark, fewer, root).isEmpty,
      "a drifted CubeDef must not load the old layout")

    // torn/corrupt meta reads as a miss, not an exception
    val metaFile = new java.io.File(
      s"$root/${drifted.name}/${CubeMeta.MetaFile}")
    java.nio.file.Files.write(metaFile.toPath,
      "{not json".getBytes("UTF-8"))
    assert(CubeMeta.load(spark, drifted, root).isEmpty)
  }

  test("a stale orphaned .tmp never resurrects as current meta; a " +
      "fresh in-flight .tmp still reads (ADVICE r9)") {
    val root = java.nio.file.Files.createTempDirectory("graft-tmp").toString
    val cube = CubeManager.eventsCube
    val inst = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), cube, root)
    assert(CubeMeta.load(spark, cube, root)
      .exists(_.inst.rows == inst.rows))

    // simulate a long-past crashed save: an hours-old .tmp orphan next
    // to a primary the operator then deleted to force a rebuild
    val primary = new java.io.File(
      s"$root/${cube.name}/${CubeMeta.MetaFile}")
    val tmp = new java.io.File(primary.getPath + ".tmp")
    java.nio.file.Files.copy(primary.toPath, tmp.toPath)
    assert(tmp.setLastModified(
      System.currentTimeMillis() - 2 * 3600 * 1000L))
    assert(primary.delete())
    assert(CubeMeta.load(spark, cube, root).isEmpty,
      "an aged .tmp orphan must read as a miss (rebuild), not as " +
        "current metadata")

    // the same .tmp freshly written (a save's rename window) DOES
    // serve — readers landing mid-rename must not see an empty meta
    assert(tmp.setLastModified(System.currentTimeMillis()))
    assert(CubeMeta.load(spark, cube, root)
      .exists(_.inst.rows == inst.rows),
      "a fresh in-flight .tmp must still serve the fallback read")
  }

  test("refreshing one segment replaces its data and commits new meta") {
    val root = java.nio.file.Files.createTempDirectory("graft-refresh").toString
    val flat = TestSpark.eventsFlat(spark, sf)
    val cube = CubeManager.eventsCube
    val inst = CubeBuilder.build(spark, flat, cube, root)
    val before = QueryRouter.route(spark, inst, CubeQuery(
      Seq("event_type"), Seq("value_sum" -> "v")))(fail("expected cuboid"))
      .df.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap

    // corrected source: every value doubled — refresh the one segment
    val corrected = flat.withColumn("value", col("value") * 2)
    val refreshed = CubeBuilder.refreshSegment(spark, inst, corrected,
      cube.segments.head.name)
    val after = QueryRouter.route(spark, refreshed, CubeQuery(
      Seq("event_type"), Seq("value_sum" -> "v")))(fail("expected cuboid"))
      .df.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(after.keySet == before.keySet)
    before.foreach { case (k, v) =>
      assert(math.abs(after(k) - 2 * v) < 1e-6,
        s"$k: expected ${2 * v}, got ${after(k)}")
    }
    // the refresh committed meta: a fresh load sees the new row counts
    val loaded = CubeMeta.load(spark, cube, root)
    assert(loaded.exists(_.inst.rows == refreshed.rows))
  }

  test("retention drops aged segments, reclaims dirs, and survives reload") {
    val root = java.nio.file.Files.createTempDirectory("graft-ret").toString
    // no derived dims: this root carries no lookup snapshots, and the
    // load-time completeness check would (rightly) refuse them
    val cube = CubeManager.defaultCube.copy(derived = Nil)
    val flat = {
      val f = CubeManager.flatTable(spark, sf)
      Dictionary.encode(f, Dictionary.build(f, "c_name"), "c_name")
    }
    val inst = CubeBuilder.build(spark, flat, cube, root)
    val kept = CubeBuilder.applyRetention(spark, inst, "1999-01-01")
    assert(kept.cube.segments.map(_.name) == Seq("s1999", "s2001"))
    // dropped dirs are gone, kept dirs remain
    assert(!new java.io.File(s"$root/${cube.name}/s1995").exists())
    assert(new java.io.File(s"$root/${cube.name}/s1999").exists())
    // a fresh load sees the shrunken list and routes only kept data
    val loaded = CubeMeta.load(spark, cube, root)
    assert(loaded.exists(_.inst.cube.segments.map(_.name) ==
      Seq("s1999", "s2001")))
    val got = QueryRouter.route(spark, loaded.get.inst, CubeQuery(
      Seq("o_orderstatus"), Seq("nrows" -> "n")))(fail("expected cuboid"))
      .df.agg(sum("n")).head().getLong(0)
    val want = flat.filter(col("o_orderdate") >= lit("1999-01-01")
      .cast("timestamp")).count()
    assert(got == want && want > 0)
    // no-op below the cutoff returns the same instance
    assert(CubeBuilder.applyRetention(spark, kept, "1999-01-01") eq kept)
  }

  test("the merged realization is chained to its base build") {
    // ensureMerged persists meta-merged.json with the base buildId; a
    // matching chain loads, a broken chain re-merges — never a stale mix
    CubeManager.ensureMerged(spark, sf)
    val root = CubeManager.ensureBuilt(spark, sf).root
    val merged = CubeMeta.load(spark, CubeManager.defaultCube, root,
      CubeMeta.MergedFile)
    val base = CubeMeta.load(spark, CubeManager.defaultCube, root)
    assert(merged.isDefined && base.isDefined)
    assert(merged.get.baseBuildId.contains(base.get.buildId),
      "merged meta must record the base build it merged from")
    assert(merged.get.inst.cube.segments.map(_.name) == Seq("merged"))
  }
}
