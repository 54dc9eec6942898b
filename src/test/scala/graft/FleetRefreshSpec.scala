package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** VERDICT r13 item 1: serving-fleet metadata refresh. In a two-process
  * deployment (builder + serving JVM) the serving process must notice a
  * segment another process appended and reload the committed meta — the
  * reference's CachedCrudAssist + query-server Broadcaster loop, here a
  * cheap pull stamp ([[MetaStamp]]) revalidated on every ensure* call.
  * The spec simulates "process B" by loading the on-disk meta directly
  * (bypassing CubeManager's memo) and appending through CubeBuilder —
  * exactly the writes a separate builder process performs. */
class FleetRefreshSpec extends AnyFunSuite {
  import TestSpark._

  // an isolated sf dir (symlinked events.parquet) so the appended
  // segment never leaks into the shared test cube roots
  private lazy val dir: String = {
    val d = java.nio.file.Paths.get("/root/repo/target/refresh-sf")
    org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(sf, "events.parquet"))
    // fresh on-disk state for the cube root too: this spec asserts
    // exact before/after segment lists
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      s"${CubeManager.cubeRoot}/refresh-sf-events"))
    d.toString
  }

  test("a serving JVM reloads meta another process committed — appended " +
      "segment serves WITHOUT resetMemos or restart") {
    val a = CubeManager.ensureEventsBuilt(spark, dir)
    assert(a.cube.segments.map(_.name) == Seq("s2024m1"))

    // ── "process B": load the committed meta directly (no memo) and
    // append a February segment, shifting January's events forward
    val root = a.root
    val loadedB = CubeMeta.load(spark, CubeManager.eventsCube, root)
      .getOrElse(fail("process B must load the committed meta")).inst
    val febFlat = TestSpark.eventsFlat(spark, dir)
      .withColumn("ts", col("ts") + expr("INTERVAL 31 DAYS"))
      .withColumn("ev_day", date_format(col("ts"), "yyyy-MM-dd"))
    val appended = CubeBuilder.appendSegment(spark, loadedB, febFlat,
      Segment("s2024m2", "2024-02-01", "2024-03-01"))
    assert(appended.cube.segments.map(_.name) == Seq("s2024m1", "s2024m2"))
    val phasesAfterAppend = CubeBuilder.phaseTotals

    // ── back in the "serving JVM": NO resetMemos — the stamp check
    // must detect the buildId drift and reload the meta (a pure
    // metadata load: no build phase fires)
    val b = CubeManager.ensureEventsBuilt(spark, dir)
    assert(b.cube.segments.map(_.name) == Seq("s2024m1", "s2024m2"),
      "the serving memo routed stale segments after a foreign append")
    assert(CubeBuilder.phaseTotals == phasesAfterAppend,
      "refresh must be a metadata reload, never a rebuild")

    // the routed answer includes the appended segment's rows
    val got = QueryRouter.route(spark, b, CubeQuery(
      Seq("event_type"), Seq("n_events" -> "n")))(fail("expected cuboid"))
      .df.agg(sum("n")).head().getLong(0)
    val jan = TestSpark.eventsFlat(spark, dir).count()
    val feb = febFlat.filter(
      col("ts") >= lit("2024-02-01").cast("timestamp") &&
      col("ts") < lit("2024-03-01").cast("timestamp")).count()
    assert(got == jan + feb && feb > 0,
      s"expected ${jan + feb} events across both segments, got $got")
  }

  test("the no-change fast path costs one getFileStatus and zero " +
      "content reads, and serves the same memoized instance") {
    val saved = MetaStamp.TrustAgeMs
    try {
      // collapse the mtime-granule quiescence window so the stamp memo
      // promotes to trusted without a 5s sleep
      MetaStamp.TrustAgeMs = -1L
      val b = CubeManager.ensureEventsBuilt(spark, dir)
      CubeManager.ensureEventsBuilt(spark, dir) // promotes the memo
      val (st0, rd0) =
        (MetaStamp.statCalls.get(), MetaStamp.contentReads.get())
      val c = CubeManager.ensureEventsBuilt(spark, dir)
      val (st1, rd1) =
        (MetaStamp.statCalls.get(), MetaStamp.contentReads.get())
      assert(c eq b, "no drift must serve the same memoized instance")
      assert(st1 - st0 == 1, s"expected exactly one getFileStatus, " +
        s"got ${st1 - st0}")
      assert(rd1 - rd0 == 0, s"expected zero content reads on the " +
        s"steady-state path, got ${rd1 - rd0}")
    } finally MetaStamp.TrustAgeMs = saved
  }

  test("a REAL second JVM appends; this serving JVM reloads and " +
      "serves the new segment — the full two-process deployment shape") {
    // an isolated root so the in-JVM tests above don't interact
    val d = java.nio.file.Paths.get("/root/repo/target/refresh-sf2")
    org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(sf, "events.parquet"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      s"${CubeManager.cubeRoot}/refresh-sf2-events"))
    val dir = d.toString

    val a = CubeManager.ensureEventsBuilt(spark, dir)
    assert(a.cube.segments.map(_.name) == Seq("s2024m1"))

    // builder PROCESS: a separate JVM with its own SparkSession —
    // nothing shared with this one but the store
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val child = new ProcessBuilder(javaBin,
        "-cp", System.getProperty("java.class.path"),
        "-Xmx2g", "graft.ChildAppend", a.root, dir)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream)
      .mkString // drain, or a full pipe can deadlock the child
    assert(child.waitFor() == 0, s"child append failed:\n${out.takeRight(2000)}")

    // NO resetMemos, NO restart: the stamp notices the foreign commit
    val b = CubeManager.ensureEventsBuilt(spark, dir)
    assert(b.cube.segments.map(_.name) == Seq("s2024m1", "s2024m2"),
      "the serving JVM must reload the segment a REAL second process " +
        "appended")
    val got = QueryRouter.route(spark, b, CubeQuery(
      Seq("event_type"), Seq("n_events" -> "n")))(fail("expected cuboid"))
      .df.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(got > TestSpark.eventsFlat(spark, dir).count(),
      "the routed answer must include the foreign segment's rows")
  }

  test("inside the configured recheck window repeated stamps cost ZERO " +
      "getFileStatus (CachedCrudAssist-style timed cache)") {
    spark.conf.set(MetaStamp.RecheckConf, "60000")
    try {
      val b = CubeManager.ensureEventsBuilt(spark, dir) // primes the window
      val st0 = MetaStamp.statCalls.get()
      val c = CubeManager.ensureEventsBuilt(spark, dir)
      val d = CubeManager.ensureEventsBuilt(spark, dir)
      assert((c eq b) && (d eq b))
      assert(MetaStamp.statCalls.get() - st0 == 0,
        s"stamps inside the recheck window must not stat, got " +
          s"${MetaStamp.statCalls.get() - st0}")
    } finally spark.conf.unset(MetaStamp.RecheckConf)
  }
}
