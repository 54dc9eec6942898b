package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** The operator CLI (reference `tool/` module as one dispatch):
  * backup/restore/clean/metaclean/audit/migrate/policies, each over
  * the same underlying machinery the specs pin individually — and all
  * of it resolvable from a DECLARED JSON document, so operators run
  * the whole lifecycle against cubes that were never compiled in. */
class GraftToolSpec extends AnyFunSuite {
  import TestSpark._

  private def runTool(args: String*): (Int, Seq[String]) = {
    val lines = Seq.newBuilder[String]
    val code = GraftTool.run(spark, args, lines += _)
    (code, lines.result())
  }

  private def writeDef(dir: java.nio.file.Path, name: String): String = {
    val doc =
      s"""{
         |  "name": "$name",
         |  "model": {"fact": "nation"},
         |  "flatColumns": [
         |    {"name": "n_name"},
         |    {"name": "d", "expr": "CAST('1995-06-01' AS TIMESTAMP)"}
         |  ],
         |  "dims": ["n_name"],
         |  "measures": [{"name": "n_rows", "family": "count"}],
         |  "segmentCol": "d",
         |  "segments": [{"name": "all", "start": "1995-01-01",
         |                "end": "1996-01-01"}]
         |}""".stripMargin
    val f = dir.resolve(s"$name.json")
    java.nio.file.Files.write(f, doc.getBytes("UTF-8"))
    f.toString
  }

  test("a full operator scenario drives through the CLI dispatch: " +
      "backup, audit, clean, metaclean, restore") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-tool").toString
    val v1 = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), CubeManager.eventsCube, root)

    // backup prints the id
    val (bc, bout) = runTool("backup", root)
    assert(bc == 0 && bout.size == 1 && bout.head.startsWith("backup "))
    val backupId = bout.head.stripPrefix("backup ")

    // a healthy cube audits clean (exit 0)
    val (ac, aout) = runTool("audit", root, "--cube", "events")
    assert(ac == 0 && aout.last == "audit findings=0", aout.mkString("\n"))

    // plant aged garbage; clean removes it and reports
    val orphan = new java.io.File(s"$root/events/s_gone")
    assert(new java.io.File(orphan, "cuboid=3").mkdirs())
    assert(orphan.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    val (cc, cout) = runTool("clean", root, "--cube", "events",
      "--grace-ms", "1000")
    assert(cc == 0 && !orphan.exists())
    assert(cout.exists(_.startsWith("removed ")), cout.mkString("\n"))

    // a bad append, then restore rolls it back
    CubeBuilder.appendSegment(spark, v1,
      TestSpark.eventsFlat(spark, sf)
        .withColumn("ts", col("ts") + expr("INTERVAL 31 DAYS"))
        .withColumn("ev_day", date_format(col("ts"), "yyyy-MM-dd")),
      Segment("s2024m2", "2024-02-01", "2024-03-01"))
    val (rc, rout) = runTool("restore", root, backupId)
    assert(rc == 0 && rout.nonEmpty)
    assert(CubeMeta.load(spark, CubeManager.eventsCube, root)
      .exists(_.inst.cube.segments.map(_.name) == Seq("s2024m1")))

    // metaclean prunes backups past the retention count
    runTool("backup", root); runTool("backup", root)
    val (mc, mout) = runTool("metaclean", root, "--keep-backups", "1")
    assert(mc == 0 &&
      mout.last.startsWith("metaclean dict=0 backups=2"),
      mout.mkString("\n"))
    assert(MetaBackup.list(spark, root).size == 1)

    // an audit on a now-damaged layout exits 2 (unhealthy ≠ broken)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/events/s2024m1/cuboid=1"))
    val (dc, dout) = runTool("audit", root, "--cube", "events")
    assert(dc == 2 && dout.exists(_.contains("missing_cuboid")))
  }

  test("the whole tool works from a DECLARED document: migrate + " +
      "audit + policies over --def") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-def")
    val defFile = writeDef(dir, "tool_decl")
    val srcRoot = java.nio.file.Files
      .createTempDirectory("graft-tool-src").toString
    val dstRoot = java.nio.file.Files
      .createTempDirectory("graft-tool-dst").toString
    // build the declared cube at the source root
    val spec = CubeJson.parse(new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(defFile)), "UTF-8"))
    CubeBuilder.build(spark,
      CubeJson.flatBuilder(spec)(spark, sf),
      CubeJson.toCubeDef(spec), srcRoot)

    val (mc, mout) = runTool("migrate", srcRoot, dstRoot,
      "--def", defFile)
    assert(mc == 0 && mout.head.startsWith("migrated tool_decl"),
      mout.mkString("\n"))
    val (ac, aout) = runTool("audit", dstRoot, "--def", defFile)
    assert(ac == 0 && aout.last == "audit findings=0")

    // policies through the CLI over the sf dir (none declared in this
    // doc — a no-op that still reports the committed segment list)
    val (pc, pout) = runTool("policies", sf, "--def", defFile)
    assert(pc == 0 && pout.head.contains("segments=all"),
      pout.mkString("\n"))
  }

  test("incremental append to a DECLARED cube through the CLI: the " +
      "daily-build lifecycle without code") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-app")
    val doc =
      """{
        |  "name": "tool_orders",
        |  "model": {"fact": "orders"},
        |  "flatColumns": [
        |    {"name": "o_orderstatus"},
        |    {"name": "o_orderdate"},
        |    {"name": "o_totalprice"}
        |  ],
        |  "dims": ["o_orderstatus"],
        |  "measures": [
        |    {"name": "price_sum", "family": "sum",
        |     "column": "o_totalprice", "decimal": true,
        |     "presentDouble": true},
        |    {"name": "n_orders", "family": "count"}
        |  ],
        |  "segmentCol": "o_orderdate",
        |  "segments": [{"name": "h1", "start": "1992-01-01",
        |                "end": "1999-01-01"}],
        |  "segDayGranular": true
        |}""".stripMargin
    val defFile = dir.resolve("tool_orders.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8"))
    // the declared root persists across JVM runs (that is the point);
    // this test owns it, so start from a clean slate
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      s"${CubeManager.cubeRoot}/${sf.split('/').last}-tool_orders")): Unit
    CubeManager.resetMemos()

    val (ac, aout) = runTool("append", sf, "--def", defFile.toString,
      "--segment", "h2,1999-01-01,2003-01-01")
    assert(ac == 0 && aout.head == "appended h2 segments=h1,h2",
      aout.mkString("\n"))

    // the appended state routes the FULL range and matches the source
    CubeJson.registerJson(doc)
    GraftSql.registerViews(spark, sf)
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_orders
        |FROM graft_tool_orders GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    assert(r.df.inputFiles.exists(_.contains("/h2/")),
      "the appended segment must serve")
    val got = r.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = Tables.orders(spark, sf).groupBy("o_orderstatus").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == want && want.nonEmpty)

    // a second identical append refuses (overlap) with exit 1
    val (bc, _) = runTool("append", sf, "--def", defFile.toString,
      "--segment", "h2b,2000-01-01,2001-01-01")
    assert(bc == 1, "an overlapping segment must refuse")
  }

  test("replan re-picks the lattice from the persisted query log " +
      "under a row budget and materializes only the additions " +
      "(cube planner phase 2 through the CLI)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-rp")
    val doc =
      """{
        |  "name": "tool_replan",
        |  "model": {"fact": "orders"},
        |  "flatColumns": [
        |    {"name": "o_orderstatus"},
        |    {"name": "o_orderpriority"},
        |    {"name": "o_month",
        |     "expr": "date_format(o_orderdate, 'yyyy-MM')"},
        |    {"name": "o_orderdate"},
        |    {"name": "o_totalprice"}
        |  ],
        |  "dims": ["o_orderstatus", "o_orderpriority", "o_month"],
        |  "measures": [
        |    {"name": "price_sum", "family": "sum",
        |     "column": "o_totalprice", "decimal": true,
        |     "presentDouble": true},
        |    {"name": "n_orders", "family": "count"}
        |  ],
        |  "segmentCol": "o_orderdate",
        |  "segments": [{"name": "all", "start": "1992-01-01",
        |                "end": "2003-01-01"}],
        |  "segDayGranular": true
        |}""".stripMargin
    val defFile = dir.resolve("tool_replan.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      s"${CubeManager.cubeRoot}/${sf.split('/').last}-tool_replan")): Unit
    CubeManager.resetMemos()

    // yesterday's workload, persisted the way a serving fleet writes
    // it: one hot shape, recorded more often than the log's flush
    // batch so it lands on disk
    val logDir = java.nio.file.Files
      .createTempDirectory("graft-tool-rplog").toString
    (1 to QueryLog.FlushEvery).foreach(i =>
      QueryLog.record(spark, logDir, s"q$i", "cuboid",
        Some("tool_replan"), Some(Set("o_orderstatus")), 10L, 100L))
    QueryLog.flush(spark, logDir)

    // no history budget can spend on: a sub-row budget adds nothing
    // (the base stays — it exists; the budget gates additions only)
    val (zc, zout) = runTool("replan", sf, "--def", defFile.toString,
      "--budget", "1", "--log", logDir)
    assert(zc == 0 && zout.head.contains("added=0"), zout.mkString("\n"))

    // a real budget materializes the hot shape's cuboid
    val (rc, rout) = runTool("replan", sf, "--def", defFile.toString,
      "--budget", "10000000", "--log", logDir)
    assert(rc == 0 && rout.head.contains("added=1"), rout.mkString("\n"))

    // the widened lattice is live: the hot shape routes onto the new
    // cuboid (not the base), and a reload carries it (extraCuboids)
    val spec = CubeJson.parse(doc)
    val loaded = CubeMeta.load(spark, CubeJson.toCubeDef(spec),
      s"${CubeManager.cubeRoot}/${sf.split('/').last}-tool_replan")
    assert(loaded.exists(_.inst.extraCuboids
      .contains(Set("o_orderstatus"))))
    val inst = loaded.get.inst
    val r = QueryRouter.route(spark, inst, CubeQuery(
      Seq("o_orderstatus"), Seq("n_orders" -> "n")))(
      fail("expected cuboid route"))
    assert(r.cuboid.contains(Set("o_orderstatus")), s"got ${r.cuboid}")
    val got = r.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = Tables.orders(spark, sf).groupBy("o_orderstatus").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == want && want.nonEmpty)

    // idempotent: the same history against the widened lattice finds
    // nothing worth adding (the existing layout IS the baseline)
    val (ic, iout) = runTool("replan", sf, "--def", defFile.toString,
      "--budget", "10000000", "--log", logDir)
    assert(ic == 0 && iout.head.contains("added=0"), iout.mkString("\n"))

    // the expansion-rate form resolves against the observed base rows
    // and reaches the same no-op on the widened lattice
    val (ec, eout) = runTool("replan", sf, "--def", defFile.toString,
      "--expansion-rate", "1000", "--log", logDir)
    assert(ec == 0 && eout.head.contains("added=0") &&
      eout.head.contains("budget=1000.0x"), eout.mkString("\n"))

    // exactly one budget form: both (or neither) refuse
    assert(runTool("replan", sf, "--def", defFile.toString,
      "--budget", "10", "--expansion-rate", "2", "--log", logDir)._1 == 1)
    assert(runTool("replan", sf, "--def", defFile.toString,
      "--log", logDir)._1 == 1)
  }

  test("advise is the read-only planner recommendation: it reports " +
      "what a replan would add under the (default expansion-rate) " +
      "budget without mutating the lattice") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-adv")
    val doc =
      """{
        |  "name": "tool_advise",
        |  "model": {"fact": "orders"},
        |  "flatColumns": [
        |    {"name": "o_orderstatus"},
        |    {"name": "o_orderpriority"},
        |    {"name": "o_orderdate"},
        |    {"name": "o_totalprice"}
        |  ],
        |  "dims": ["o_orderstatus", "o_orderpriority"],
        |  "measures": [{"name": "n_orders", "family": "count"}],
        |  "segmentCol": "o_orderdate",
        |  "segments": [{"name": "all", "start": "1992-01-01",
        |                "end": "2003-01-01"}],
        |  "segDayGranular": true
        |}""".stripMargin
    val defFile = dir.resolve("tool_advise.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8"))
    val root = s"${CubeManager.cubeRoot}/${sf.split('/').last}" +
      "-tool_advise"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root)): Unit
    CubeManager.resetMemos()
    val logDir = java.nio.file.Files
      .createTempDirectory("graft-tool-advlog").toString
    (1 to QueryLog.FlushEvery).foreach(i =>
      QueryLog.record(spark, logDir, s"a$i", "cuboid",
        Some("tool_advise"), Some(Set("o_orderstatus")), 10L, 100L))
    // two persisted pushdown shapes: o_clerk is outside the rowkey
    (1 to 2).foreach(i => QueryLog.record(spark, logDir, s"am$i", "miss",
      Some("tool_advise"), Some(Set("o_clerk", "o_orderstatus")), 0L, 0L,
      unmatched = Some(Set("o_clerk"))))
    QueryLog.flush(spark, logDir)

    // read-only means READ-ONLY: advising a cube that was never built
    // refuses instead of launching the first-touch build
    assert(runTool("advise", sf, "--def", defFile.toString,
      "--log", logDir)._1 == 1,
      "advise must refuse an unbuilt cube, not build it")
    CubeManager.ensureDeclared(spark, sf, CubeJson.parse(doc)): Unit

    val (ac, aout) = runTool("advise", sf, "--def", defFile.toString,
      "--log", logDir)
    assert(ac == 0, aout.mkString("\n"))
    assert(aout.exists(_.startsWith(
      s"advise tool_advise logged=${QueryLog.FlushEvery} shapes=1")),
      aout.mkString("\n"))
    assert(aout.exists(_.startsWith("current cuboids=1 ")),
      aout.mkString("\n"))
    assert(aout.exists(l => l.startsWith("recommend ") &&
      l.contains("add=1") && l.contains("(o_orderstatus)")),
      aout.mkString("\n"))
    assert(aout.exists(_.startsWith("model-advice misses=2 o_clerk=2")),
      aout.mkString("\n"))

    // read-only: the recommendation materialized NOTHING
    val spec = CubeJson.parse(doc)
    val loaded = CubeMeta.load(spark, CubeJson.toCubeDef(spec), root)
    assert(loaded.exists(_.inst.extraCuboids.isEmpty),
      "advise must not mutate the lattice")
  }

  test("a replanRowBudget policy in the document replans from the " +
      "session's configured query log during a policies run — and is " +
      "a silent no-op when no log is configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-rpp")
    val doc =
      """{
        |  "name": "tool_replan_pol",
        |  "model": {"fact": "orders"},
        |  "flatColumns": [
        |    {"name": "o_orderstatus"},
        |    {"name": "o_orderpriority"},
        |    {"name": "o_orderdate"},
        |    {"name": "o_totalprice"}
        |  ],
        |  "dims": ["o_orderstatus", "o_orderpriority"],
        |  "measures": [
        |    {"name": "price_sum", "family": "sum",
        |     "column": "o_totalprice", "decimal": true,
        |     "presentDouble": true},
        |    {"name": "n_orders", "family": "count"}
        |  ],
        |  "segmentCol": "o_orderdate",
        |  "segments": [{"name": "all", "start": "1992-01-01",
        |                "end": "2003-01-01"}],
        |  "segDayGranular": true,
        |  "replanRowBudget": 10000000
        |}""".stripMargin
    val defFile = dir.resolve("tool_replan_pol.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8"))
    val root = s"${CubeManager.cubeRoot}/${sf.split('/').last}" +
      "-tool_replan_pol"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root)): Unit
    CubeManager.resetMemos()

    val logDir = java.nio.file.Files
      .createTempDirectory("graft-tool-rpplog").toString
    (1 to QueryLog.FlushEvery).foreach(i =>
      QueryLog.record(spark, logDir, s"p$i", "cuboid",
        Some("tool_replan_pol"), Some(Set("o_orderpriority")), 10L, 100L))
    QueryLog.flush(spark, logDir)

    val spec = CubeJson.parse(doc)
    def extras: Seq[Set[String]] =
      CubeMeta.load(spark, CubeJson.toCubeDef(spec), root)
        .map(_.inst.extraCuboids).getOrElse(Nil)

    // no query log configured in the session: the replan policy is a
    // silent no-op — retention/merge semantics must not fail on it
    assert(spark.conf.getOption(QueryLog.DirConf).isEmpty,
      "fixture: the suite session must not have a query log configured")
    val (nc, _) = runTool("policies", sf, "--def", defFile.toString)
    assert(nc == 0 && extras.isEmpty)

    // with the log configured, the same policies run widens the
    // lattice from the recorded history
    spark.conf.set(QueryLog.DirConf, logDir)
    try {
      val (pc, pout) = runTool("policies", sf, "--def", defFile.toString)
      assert(pc == 0, pout.mkString("\n"))
      assert(extras.contains(Set("o_orderpriority")), s"got $extras")
    } finally spark.conf.unset(QueryLog.DirConf)
  }

  test("realization documents work through --def/--member: append + " +
      "audit address a named member, policies sweep all members, a " +
      "member-less call refuses naming the members (VERDICT r15 " +
      "item 4)") {
    val defFile = "examples/cube-defs/sales_realization.json"
    val sfName = sf.split('/').last
    // this test owns the example group's roots (persist across runs)
    Seq("salesx_wide", "salesx_narrow", "salesx_old", "salesx_new")
      .foreach(n => org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"${CubeManager.cubeRoot}/$sfName-$n")): Unit)
    CubeManager.resetMemos()

    // append a fresh (empty-range) segment into the NARROW member only
    val (ac, aout) = runTool("append", sf, "--def", defFile,
      "--member", "salesx_narrow",
      "--segment", "h2,2003-01-01,2004-01-01")
    assert(ac == 0 && aout.head == "appended h2 segments=all,h2",
      aout.mkString("\n"))
    // the other members are untouched; the narrow member's root shows
    // the appended segment
    val narrowRoot = s"${CubeManager.cubeRoot}/$sfName-salesx_narrow"
    assert(new java.io.File(s"$narrowRoot/salesx_narrow/h2").isDirectory)

    // audit the appended member through the same addressing
    val (hc, hout) = runTool("audit", narrowRoot,
      "--def", defFile, "--member", "salesx_narrow")
    assert(hc == 0 && hout.last == "audit findings=0", hout.mkString("\n"))

    // a member-less invocation refuses (exit 1 with the members named
    // on stderr — the ADVICE r15 'misleading parse error' is gone)
    assert(runTool("audit", narrowRoot, "--def", defFile)._1 == 1)

    // policies applies to every member (none declared here — still a
    // per-member no-op report, proving the sweep addresses all four)
    val (pc, pout) = runTool("policies", sf, "--def", defFile)
    assert(pc == 0 && pout.size == 4 &&
      Seq("salesx_wide", "salesx_narrow", "salesx_old", "salesx_new")
        .forall(n => pout.exists(_.startsWith(s"policies $n"))),
      pout.mkString("\n"))

    // an unknown member refuses with the available names
    val (uc, _) = runTool("audit", narrowRoot, "--def", defFile,
      "--member", "nope")
    assert(uc == 1)

    // a PLAIN document keeps today's behavior (no --member needed)
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-plain")
    val plain = writeDef(dir, "tool_plain")
    val root = java.nio.file.Files
      .createTempDirectory("graft-tool-plain-root").toString
    val spec = CubeJson.parse(new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(plain)), "UTF-8"))
    CubeBuilder.build(spark,
      CubeJson.flatBuilder(spec)(spark, sf),
      CubeJson.toCubeDef(spec), root): Unit
    assert(runTool("audit", root, "--def", plain)._1 == 0)
  }

  test("append serializes under the DEFAULT '_building' lease, so it " +
      "can never race a concurrent first-touch/drift rebuild of the " +
      "same declared cube (ADVICE r15)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-lease")
    val defFile = writeDef(dir, "tool_lease")
    val sfName = sf.split('/').last
    val root = s"${CubeManager.cubeRoot}/$sfName-tool_lease"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root)): Unit
    CubeManager.resetMemos()
    // pre-build so the append's own ensureDeclared doesn't need the
    // lease we are about to hold
    val spec = CubeJson.parse(new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(defFile)), "UTF-8"))
    CubeManager.ensureDeclared(spark, sf, spec)
    // a concurrent rebuild holds the DEFAULT lease file (what
    // CubeManager.ensureFresh acquires); keep it heartbeat-fresh so
    // the waiter can't judge it crashed
    val lease = new java.io.File(s"$root/tool_lease/_building")
    assert(lease.getParentFile.isDirectory)
    java.nio.file.Files.write(lease.toPath,
      "other-process@somewhere".getBytes("UTF-8"))
    @volatile var done = false
    @volatile var code = -1
    val t = new Thread(() => {
      code = runTool("append", sf, "--def", defFile,
        "--segment", "h2,1996-01-01,1997-01-01")._1
      done = true
    })
    val toucher = new Thread(() => {
      while (!done) { lease.setLastModified(System.currentTimeMillis())
        Thread.sleep(100) }
    })
    toucher.setDaemon(true)
    t.start(); toucher.start()
    Thread.sleep(2500)
    assert(!done,
      "append must WAIT on the '_building' lease a rebuild holds")
    java.nio.file.Files.delete(lease.toPath) // rebuild releases
    t.join(120000)
    assert(done && code == 0,
      s"append must proceed once the lease releases (code=$code)")
  }

  test("meta-committing policy steps serialize under the DEFAULT " +
      "'_building' lease: a policies run WAITS on a lease a " +
      "concurrent append/rebuild holds instead of last-writer-winning " +
      "over its meta commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-please")
    val doc =
      """{
        |  "name": "tool_pol_lease",
        |  "model": {"fact": "nation"},
        |  "flatColumns": [
        |    {"name": "n_name"},
        |    {"name": "d", "expr": "CAST('1995-06-01' AS TIMESTAMP)"}
        |  ],
        |  "dims": ["n_name"],
        |  "measures": [{"name": "n_rows", "family": "count"}],
        |  "segmentCol": "d",
        |  "segments": [{"name": "all", "start": "1995-01-01",
        |                "end": "1996-01-01"}],
        |  "retentionDays": 365
        |}""".stripMargin
    val defFile = dir.resolve("tool_pol_lease.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8"))
    val root = s"${CubeManager.cubeRoot}/${sf.split('/').last}" +
      "-tool_pol_lease"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root)): Unit
    CubeManager.resetMemos()
    // pre-build so the policies run's own ensureDeclared is a pure
    // load that doesn't need the lease we are about to hold
    CubeManager.ensureDeclared(spark, sf,
      CubeJson.parse(doc)): Unit
    val lease = new java.io.File(s"$root/tool_pol_lease/_building")
    assert(lease.getParentFile.isDirectory)
    java.nio.file.Files.write(lease.toPath,
      "other-process@somewhere".getBytes("UTF-8"))
    @volatile var done = false
    @volatile var code = -1
    val t = new Thread(() => {
      code = runTool("policies", sf, "--def", defFile.toString)._1
      done = true
    })
    val toucher = new Thread(() => {
      while (!done) { lease.setLastModified(System.currentTimeMillis())
        Thread.sleep(100) }
    })
    toucher.setDaemon(true)
    t.start(); toucher.start()
    Thread.sleep(2500)
    assert(!done, "the retention step must WAIT on the '_building' " +
      "lease a concurrent append/rebuild holds")
    java.nio.file.Files.delete(lease.toPath) // the holder releases
    t.join(120000)
    assert(done && code == 0,
      s"policies must proceed once the lease releases (code=$code)")
  }

  /** the refresh tests' shared document: orders fact, two segments,
    * a dictionary-less sum+count cube over a PRIVATE copy of the
    * source dir (the tests 'correct' it in place) */
  private def refreshFixture(): (String, String) = {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-tool-rf-src").toString
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(sf), new java.io.File(srcDir))
    val doc =
      """{
        |  "name": "tool_rf",
        |  "model": {"fact": "orders"},
        |  "flatColumns": [
        |    {"name": "o_orderstatus"},
        |    {"name": "o_orderpriority"},
        |    {"name": "o_orderdate"},
        |    {"name": "o_totalprice"}
        |  ],
        |  "dims": ["o_orderstatus", "o_orderpriority"],
        |  "cuboids": [["o_orderstatus"], ["o_orderpriority"]],
        |  "measures": [
        |    {"name": "price_sum", "family": "sum",
        |     "column": "o_totalprice", "decimal": true,
        |     "presentDouble": true},
        |    {"name": "n_orders", "family": "count"}
        |  ],
        |  "segmentCol": "o_orderdate",
        |  "segments": [
        |    {"name": "h1", "start": "1992-01-01", "end": "1996-01-01"},
        |    {"name": "h2", "start": "1996-01-01", "end": "2003-01-01"}]
        |}""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-rf")
    val f = dir.resolve("tool_rf.json")
    java.nio.file.Files.write(f, doc.getBytes("UTF-8"))
    (srcDir, f.toString)
  }

  /** rewrite one source table in place through `transform` — the
    * "yesterday's source files were fixed" event refresh/snapshot
    * answer */
  private def correctTable(srcDir: String, table: String)(
      transform: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): Unit = {
    val path = s"$srcDir/$table.parquet"
    transform(spark.read.parquet(path))
      .write.mode("overwrite").parquet(s"$srcDir/${table}_fix.parquet")
    // the copied source is a single file; the corrected one is a
    // parquet dir at the same path — Spark reads either form
    org.apache.commons.io.FileUtils.forceDelete(new java.io.File(path))
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(s"$srcDir/${table}_fix.parquet"),
      new java.io.File(path))
  }

  /** double o_totalprice for orders on/after `fromDay` */
  private def correctSource(srcDir: String, fromDay: String): Unit =
    correctTable(srcDir, "orders")(_.withColumn("o_totalprice",
      when(col("o_orderdate").cast("string") >= fromDay,
        col("o_totalprice") * 2).otherwise(col("o_totalprice"))))

  private def partMtimes(dir: java.io.File): Map[String, Long] =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified).toMap

  test("refresh rebuilds ONE segment from corrected source through " +
      "the CLI: untouched segments keep their parquet verbatim, the " +
      "swapped segment serves the corrected answers") {
    val (srcDir, defFile) = refreshFixture()
    val spec = CubeJson.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(defFile)), "UTF-8"))
    val inst0 = CubeManager.ensureDeclared(spark, srcDir, spec)
    val truthBefore = Tables.orders(spark, srcDir)
      .groupBy("o_orderstatus")
      .agg(sum(col("o_totalprice").cast("double"))).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap

    correctSource(srcDir, "1996-01-01")
    // the cube does NOT chase source edits (drift is about the cube's
    // own meta) — the routed answer is stale until an operator acts
    CubeJson.registerJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(defFile)), "UTF-8"))
    GraftSql.registerViews(spark, srcDir)
    def routed(): Map[String, Double] = {
      val r = GraftSql.sqlVia(spark, srcDir,
        """SELECT o_orderstatus, sum(o_totalprice) AS price_sum
          |FROM graft_tool_rf GROUP BY o_orderstatus""".stripMargin)
      assert(r.routed && r.via == "cuboid", s"got ${r.via}")
      r.df.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    }
    def approxEq(a: Map[String, Double], b: Map[String, Double]) =
      a.keySet == b.keySet && a.forall { case (k, v) =>
        math.abs(v - b(k)) <= 1e-6 * math.max(1.0, math.abs(b(k))) }
    assert(approxEq(routed(), truthBefore),
      "before the refresh the cube serves the as-built answers")

    val h1 = new java.io.File(s"${inst0.root}/tool_rf/h1/" +
      s"cuboid=${inst0.cube.cuboidId(inst0.cube.dims.toSet)}")
    val h1Before = partMtimes(h1)
    assert(h1Before.nonEmpty)
    Thread.sleep(1100) // mtime resolution guard

    // an unknown segment refuses with the available names
    val (uc, _) = runTool("refresh", srcDir, "--def", defFile,
      "--segment", "nope")
    assert(uc == 1)

    val (rc, rout) = runTool("refresh", srcDir, "--def", defFile,
      "--segment", "h2")
    assert(rc == 0 && rout.head == "refreshed h2 segments=h1,h2",
      rout.mkString("\n"))
    val truthAfter = Tables.orders(spark, srcDir)
      .groupBy("o_orderstatus")
      .agg(sum(col("o_totalprice").cast("double"))).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(!approxEq(truthAfter, truthBefore),
      "the correction must actually change the truth")
    assert(approxEq(routed(), truthAfter),
      "after the refresh the cube serves the corrected answers")
    assert(partMtimes(h1) == h1Before,
      "h1's parquet must not be rewritten by an h2 refresh")
  }

  test("a crashed refresh RESUMES: staged cuboids committed before " +
      "the crash are not rewritten, the swap + meta commit complete") {
    val (srcDir, defFile) = refreshFixture()
    val spec = CubeJson.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(defFile)), "UTF-8"))
    val inst0 = CubeManager.ensureDeclared(spark, srcDir, spec)
    correctSource(srcDir, "1996-01-01")

    // kill the refresh after ONE staged cuboid write commits
    CubeBuilder.failAfterCuboidWrites.set(1)
    val crashed = try runTool("refresh", srcDir, "--def", defFile,
        "--segment", "h2")._1
      finally CubeBuilder.failAfterCuboidWrites
        .set(CubeBuilder.DisarmedFailure)
    assert(crashed == 1, "the injected crash must surface as exit 1")

    val cubeDir = new java.io.File(s"${inst0.root}/tool_rf")
    val stagedDir = new java.io.File(cubeDir, "h2.refreshing")
    assert(new java.io.File(cubeDir, BuildJob.RefreshJobFile).exists,
      "the refresh attempt must persist across the crash")
    val committed = Option(stagedDir.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        new java.io.File(d, BuildJob.CuboidMarker).exists)
    assert(committed.size == 1, s"got ${committed.map(_.getName).toSeq}")
    val before = committed.map(d => d.getName -> partMtimes(d)).toMap
    assert(before.values.forall(_.nonEmpty))
    // the live segment still serves while the staging sits crashed
    assert(CubeMeta.load(spark, CubeJson.toCubeDef(spec), inst0.root)
      .nonEmpty, "a crashed refresh must never unpublish the cube")
    Thread.sleep(1100) // mtime resolution guard

    val (rc, rout) = runTool("refresh", srcDir, "--def", defFile,
      "--segment", "h2")
    assert(rc == 0 && rout.head == "refreshed h2 segments=h1,h2",
      rout.mkString("\n"))
    // the committed staged dir rode the swap into the live segment
    // with its data files verbatim — the resume never rewrote it
    before.foreach { case (name, mt) =>
      assert(partMtimes(new java.io.File(
        new java.io.File(cubeDir, "h2"), name)) == mt,
        s"staged $name must survive the resume + swap unrewritten")
    }
    assert(!stagedDir.exists, "the staging dir must swap away")
    assert(!new java.io.File(cubeDir, BuildJob.RefreshJobFile).exists,
      "a completed refresh must clear its attempt state")
    // and the refreshed cube answers the corrected truth
    CubeJson.registerJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(defFile)), "UTF-8"))
    GraftSql.registerViews(spark, srcDir)
    val r = GraftSql.sqlVia(spark, srcDir,
      """SELECT sum(o_totalprice) AS price_sum
        |FROM graft_tool_rf""".stripMargin)
    assert(r.routed, "the refreshed cube must route")
    val got = r.df.collect().head.getDouble(0)
    val want = Tables.orders(spark, srcDir)
      .agg(sum(col("o_totalprice").cast("double"))).collect()
      .head.getDouble(0)
    assert(math.abs(got - want) <= 1e-6 * math.abs(want))
  }

  test("snapshot rebuild: a corrected lookup reaches derived-dim " +
      "answers only after the operator's rebuild, which also flips " +
      "the result caches") {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-tool-snap-src").toString
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(sf), new java.io.File(srcDir))
    val doc =
      """{
        |  "name": "snap_cube",
        |  "model": {"fact": "customer", "edges": [
        |    {"lookup": "nation", "via": "customer",
        |     "lookupKey": "n_nationkey", "foreignKey": "c_nationkey"}],
        |    "broadcast": ["nation"]},
        |  "flatColumns": [
        |    {"name": "c_mktsegment"},
        |    {"name": "n_name"},
        |    {"name": "d", "expr": "CAST('1995-06-01' AS TIMESTAMP)"}
        |  ],
        |  "dims": ["n_name"],
        |  "derived": [
        |    {"name": "n_regionkey", "host": "n_name", "lookup": "nation"}
        |  ],
        |  "measures": [{"name": "n_rows", "family": "count"}],
        |  "segmentCol": "d",
        |  "segments": [{"name": "all", "start": "1995-01-01",
        |                "end": "1996-01-01"}]
        |}""".stripMargin
    val defFile = java.nio.file.Files
      .createTempDirectory("graft-tool-snap").resolve("snap_cube.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8"))

    CubeJson.registerJson(doc)
    GraftSql.registerViews(spark, srcDir)
    def routed(): Map[Long, Long] = {
      // the derived dim is not a flat column, so SQL reaches it the
      // way users write it: the model join, recognized and routed
      val r = GraftSql.sqlVia(spark, srcDir,
        """SELECT n_regionkey, count(*) AS n_rows
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_regionkey""".stripMargin)
      assert(r.routed, "the derived-dim join shape must route")
      r.df.collect().map(x => x.getAs[Number](0).longValue ->
        x.getAs[Number](1).longValue).toMap
    }
    val before = routed()
    assert(before.nonEmpty)

    // "correct" the nation table: every region key shifts by 10
    correctTable(srcDir, "nation")(
      _.withColumn("n_regionkey", col("n_regionkey") + lit(10)))

    assert(routed() == before,
      "snapshots freeze the lookup — a source edit must NOT leak " +
        "into derived-dim answers on its own")

    // a lookup without a snapshot refuses, naming the snapshotted set
    val (wc, _) = runTool("snapshot", srcDir, "--def",
      defFile.toString, "--lookup", "region")
    assert(wc == 1, "a non-snapshotted lookup must refuse")

    val (sc, sout) = runTool("snapshot", srcDir, "--def",
      defFile.toString, "--lookup", "nation")
    assert(sc == 0 && sout.head == "snapshot nation rebuilt for " +
      "snap_cube", sout.mkString("\n"))
    val want = before.map { case (k, v) => (k + 10) -> v }
    assert(routed() == want,
      "after the rebuild every derived-dim answer joins the " +
        "corrected snapshot — including through the result caches")
  }

  test("snapshot without --member sweeps every realization member " +
      "that snapshots the lookup — one member fixed while siblings " +
      "serve stale rows would be a silent half-correction") {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-tool-snapg-src").toString
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(sf), new java.io.File(srcDir))
    def member(name: String, dims: String) =
      s"""{
         |  "name": "$name",
         |  "model": {"fact": "customer", "edges": [
         |    {"lookup": "nation", "via": "customer",
         |     "lookupKey": "n_nationkey", "foreignKey": "c_nationkey"}],
         |    "broadcast": ["nation"]},
         |  "flatColumns": [
         |    {"name": "c_mktsegment"},
         |    {"name": "n_name"},
         |    {"name": "d", "expr": "CAST('1995-06-01' AS TIMESTAMP)"}
         |  ],
         |  "dims": [$dims],
         |  "derived": [
         |    {"name": "n_regionkey", "host": "n_name",
         |     "lookup": "nation"}
         |  ],
         |  "measures": [{"name": "n_rows", "family": "count"}],
         |  "segmentCol": "d",
         |  "segments": [{"name": "all", "start": "1995-01-01",
         |                "end": "1996-01-01"}]
         |}""".stripMargin
    val doc =
      s"""{
         |  "view": "graft_snap_grp",
         |  "primary": ${member("snap_a", "\"n_name\"")},
         |  "alternates": [
         |    ${member("snap_b", "\"n_name\", \"c_mktsegment\"")}]
         |}""".stripMargin
    val defFile = java.nio.file.Files
      .createTempDirectory("graft-tool-snapg").resolve("grp.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8"))

    // build BOTH members against the as-shipped source, THEN correct
    // it — the sweep below must be a pure swap, not a first-touch
    // build that would see the corrected rows anyway
    val specs = CubeJson.parseDoc(doc) match {
      case Right(r) => Seq(r.primary) ++ r.alternates
      case Left(_) => fail("expected a realization document")
    }
    specs.foreach(CubeManager.ensureDeclared(spark, srcDir, _))
    correctTable(srcDir, "nation")(
      _.withColumn("n_regionkey", col("n_regionkey") + lit(10)))

    val (c, lines) = runTool("snapshot", srcDir, "--def",
      defFile.toString, "--lookup", "nation")
    assert(c == 0 && lines == Seq(
      "snapshot nation rebuilt for snap_a",
      "snapshot nation rebuilt for snap_b"), lines.mkString("\n"))
    val sfName = srcDir.split('/').last
    for (name <- Seq("snap_a", "snap_b")) {
      val keys = spark.read.parquet(
        s"${CubeManager.cubeRoot}/$sfName-$name/snapshots/nation")
        .select("n_regionkey").collect()
        .map(_.getAs[Number](0).longValue)
      assert(keys.nonEmpty && keys.forall(_ >= 10),
        s"$name's snapshot must hold the corrected keys")
    }
  }

  test("ranges backfills dim ranges for a pre-feature meta under the " +
      "lease: unbuilt refuses, the backfilled ranges prune") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rangedef")
    val doc =
      """{
        |  "name": "tool_ranges",
        |  "model": {"fact": "events"},
        |  "flatColumns": [
        |    {"name": "ts"},
        |    {"name": "event_type"},
        |    {"name": "event_id"}
        |  ],
        |  "dims": ["event_type", "event_id"],
        |  "measures": [{"name": "n_events", "family": "count"}],
        |  "segmentCol": "ts",
        |  "segments": [
        |    {"name": "j1", "start": "2024-01-01", "end": "2024-01-15"},
        |    {"name": "j2", "start": "2024-01-15", "end": "2024-02-01"}
        |  ]
        |}""".stripMargin
    val defFile = dir.resolve("tool_ranges.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8")): Unit
    // own the declared root (order-independent across suites/runs)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      CubeManager.declaredRoot(sf, "tool_ranges"))): Unit
    CubeManager.resetMemos()

    // LOAD-ONLY contract: a metadata backfill must not pay (or hide
    // behind) a first-touch build
    val (c0, _) = runTool("ranges", sf, "--def", defFile.toString)
    assert(c0 == 1, "an unbuilt cube must refuse the backfill")

    // build, then simulate a PRE-FEATURE meta: strip the collected
    // ranges and re-commit — exactly what a cube built by older code
    // looks like on disk
    val spec = CubeJson.parse(doc)
    val built = CubeManager.ensureDeclared(spark, sf, spec)
    assert(built.dimRanges.nonEmpty, "new builds collect automatically")
    CubeMeta.save(spark, built.copy(dimRanges = Map.empty)): Unit
    CubeManager.resetMemos()
    val stripped = CubeMeta.load(spark, CubeJson.toCubeDef(spec),
      built.root).getOrElse(fail("meta must load")).inst
    assert(stripped.dimRanges.isEmpty)

    val (c1, out1) = runTool("ranges", sf, "--def", defFile.toString)
    assert(c1 == 0 && out1 == Seq(
      "ranges tool_ranges segments=2/2 entries=4"), out1.mkString("\n"))
    val backLoaded = CubeMeta.load(spark, CubeJson.toCubeDef(spec),
      built.root).getOrElse(fail("meta must load"))
    val back = backLoaded.inst
    assert(back.dimRanges.keySet ==
      Set(("j1", "event_type"), ("j1", "event_id"),
        ("j2", "event_type"), ("j2", "event_id")))

    // an identical rerun changes no metadata, so it must NOT flip the
    // buildId (a flip cold-replays both cache tiers and re-chains
    // merged realizations — churn a no-op has no license to cause)
    val (c2, out2) = runTool("ranges", sf, "--def", defFile.toString)
    assert(c2 == 0 && out2 == Seq(
      "ranges tool_ranges unchanged entries=4 (no commit)"),
      out2.mkString("\n"))
    val after = CubeMeta.load(spark, CubeJson.toCubeDef(spec),
      built.root).getOrElse(fail("meta must load"))
    assert(after.buildId == backLoaded.buildId,
      "an unchanged rerun must not commit")

    // a base cuboid whose scanned rows disagree with the committed
    // stats looks DAMAGED — ranges from it could wrongly prune, so
    // the backfill refuses and commits nothing
    val baseId = back.cube.cuboidId(back.cube.dims.toSet)
    CubeMeta.save(spark, back.copy(
      rows = back.rows + (("j1", baseId) ->
        (back.rows(("j1", baseId)) + 7)),
      dimRanges = Map.empty)): Unit
    val (c3, _) = runTool("ranges", sf, "--def", defFile.toString)
    assert(c3 == 1, "a row-stat mismatch must refuse the backfill")
    val untouched = CubeMeta.load(spark, CubeJson.toCubeDef(spec),
      built.root).getOrElse(fail("meta must load")).inst
    assert(untouched.dimRanges.isEmpty,
      "a refused backfill must not commit partial ranges")
    // restore honest stats so later plan assertions see pruned truth
    CubeMeta.save(spark, back): Unit
    CubeManager.resetMemos()
    // the backfilled metadata immediately prunes: the lowest ids live
    // in the first half of the month
    val q = CubeQuery(Seq("event_type"), Seq("n_events" -> "n"),
      filter = Some(col("event_id") <= 1L),
      filterDims = Set("event_id"))
    val p = QueryRouter.plan(back, q).getOrElse(fail("plan expected"))
    assert(p.overlapping.map(_.name) == Seq("j1"),
      s"backfilled ranges must prune j2, got ${p.overlapping.map(_.name)}")
  }

  test("policies heals missing dim ranges quietly; full coverage " +
      "commits nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-healdef")
    val doc =
      """{
        |  "name": "tool_heal",
        |  "model": {"fact": "events"},
        |  "flatColumns": [
        |    {"name": "ts"},
        |    {"name": "event_type"},
        |    {"name": "event_id"}
        |  ],
        |  "dims": ["event_type", "event_id"],
        |  "measures": [{"name": "n_events", "family": "count"}],
        |  "segmentCol": "ts",
        |  "segments": [
        |    {"name": "j1", "start": "2024-01-01", "end": "2024-01-15"},
        |    {"name": "j2", "start": "2024-01-15", "end": "2024-02-01"}
        |  ]
        |}""".stripMargin
    val defFile = dir.resolve("tool_heal.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8")): Unit
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      CubeManager.declaredRoot(sf, "tool_heal"))): Unit
    CubeManager.resetMemos()
    val spec = CubeJson.parse(doc)
    val built = CubeManager.ensureDeclared(spark, sf, spec)
    // simulate a pre-feature meta
    CubeMeta.save(spark, built.copy(dimRanges = Map.empty)): Unit
    CubeManager.resetMemos()

    val (c0, _) = runTool("policies", sf, "--def", defFile.toString)
    assert(c0 == 0)
    val healed = CubeMeta.load(spark, CubeJson.toCubeDef(spec),
      built.root).getOrElse(fail("meta must load"))
    assert(healed.inst.dimRanges.keySet.map(_._1) == Set("j1", "j2"),
      s"policies must backfill missing ranges, got " +
        s"${healed.inst.dimRanges.keySet}")

    // the steady-state run finds full coverage and must not commit
    val (c1, _) = runTool("policies", sf, "--def", defFile.toString)
    assert(c1 == 0)
    val after = CubeMeta.load(spark, CubeJson.toCubeDef(spec),
      built.root).getOrElse(fail("meta must load"))
    assert(after.buildId == healed.buildId,
      "a fully covered cube's policies run must not flip the buildId")
  }

  test("autoMergeDays compacts tiered time thresholds one step per " +
      "policies run, answers preserved, big segments left alone") {
    val dir = java.nio.file.Files.createTempDirectory("graft-amdays")
    val segs = (1 to 6).map { d =>
      s"""{"name": "d0$d", "start": "2024-01-0$d",
         | "end": "2024-01-0${d + 1}"}""".stripMargin
    }.mkString(",\n")
    val doc =
      s"""{
         |  "name": "tool_amdays",
         |  "model": {"fact": "events"},
         |  "flatColumns": [
         |    {"name": "ts"}, {"name": "event_type"}, {"name": "value"}
         |  ],
         |  "dims": ["event_type"],
         |  "measures": [
         |    {"name": "value_sum", "family": "sum", "column": "value",
         |     "decimal": true, "presentDouble": true},
         |    {"name": "n_events", "family": "count"}
         |  ],
         |  "segmentCol": "ts",
         |  "segments": [
         |$segs
         |  ],
         |  "autoMergeDays": [3]
         |}""".stripMargin
    val defFile = dir.resolve("tool_amdays.json")
    java.nio.file.Files.write(defFile, doc.getBytes("UTF-8")): Unit
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      CubeManager.declaredRoot(sf, "tool_amdays"))): Unit
    CubeManager.resetMemos()
    val spec = CubeJson.parse(doc)
    val truth = Tables.tbl(spark, sf, "events")
      .filter(col("ts") < org.apache.spark.sql.functions.lit("2024-01-07")
        .cast("timestamp"))
      .count()
    def segNames(): Seq[String] = CubeMeta.load(spark,
      CubeJson.toCubeDef(spec),
      CubeManager.declaredRoot(sf, "tool_amdays"))
      .getOrElse(fail("meta must load")).inst.cube.segments
      .sortBy(_.start).map(_.name)
    def routedCount(): Long = {
      CubeManager.resetMemos()
      val inst = CubeManager.ensureDeclared(spark, sf, spec)
      val r = QueryRouter.route(spark, inst, CubeQuery(
        Seq("event_type"), Seq("n_events" -> "n")))(fail("must route"))
      r.df.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    }

    // run 1: six dailies; the first three reach the 3-day threshold
    val (c1, _) = runTool("policies", sf, "--def", defFile.toString)
    assert(c1 == 0)
    assert(segNames() == Seq("am-d01-d03", "d04", "d05", "d06"),
      segNames().mkString(","))
    assert(routedCount() == truth)

    // run 2: the merged 3-day segment fills its own window (nothing
    // else overlaps [d01, d01+3d)), so the NEXT tier-aligned run
    // d04-d06 compacts — the reference's window math, which keeps
    // tiers aligned instead of rolling a 4-day segment
    val (c2, _) = runTool("policies", sf, "--def", defFile.toString)
    assert(c2 == 0)
    assert(segNames() == Seq("am-d01-d03", "am-d04-d06"),
      segNames().mkString(","))

    // run 3: both tiles fill their windows alone — steady state
    val (c3, _) = runTool("policies", sf, "--def", defFile.toString)
    assert(c3 == 0)
    assert(segNames() == Seq("am-d01-d03", "am-d04-d06"),
      segNames().mkString(","))
    assert(routedCount() == truth,
      "compaction must never change routed answers")

    // window CONTAINMENT (the deliberate divergence from the
    // reference's overlap semantics): a 1-day + 3-day pair under [3]
    // must NOT merge into a 4-day segment that could never compact
    // again under its tier
    val doc2 =
      """{
        |  "name": "tool_amwide",
        |  "model": {"fact": "events"},
        |  "flatColumns": [
        |    {"name": "ts"}, {"name": "event_type"}
        |  ],
        |  "dims": ["event_type"],
        |  "measures": [{"name": "n_events", "family": "count"}],
        |  "segmentCol": "ts",
        |  "segments": [
        |    {"name": "a", "start": "2024-01-01", "end": "2024-01-02"},
        |    {"name": "b", "start": "2024-01-02", "end": "2024-01-05"}
        |  ],
        |  "autoMergeDays": [3]
        |}""".stripMargin
    val defFile2 = dir.resolve("tool_amwide.json")
    java.nio.file.Files.write(defFile2, doc2.getBytes("UTF-8")): Unit
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      CubeManager.declaredRoot(sf, "tool_amwide"))): Unit
    CubeManager.resetMemos()
    val spec2 = CubeJson.parse(doc2)
    val (cw, _) = runTool("policies", sf, "--def", defFile2.toString)
    assert(cw == 0)
    val wide = CubeMeta.load(spark, CubeJson.toCubeDef(spec2),
      CubeManager.declaredRoot(sf, "tool_amwide"))
      .getOrElse(fail("meta must load")).inst
    assert(wide.cube.segments.map(_.name).sorted == Seq("a", "b"),
      s"a+b span 4 days > the 3-day tier — must stay unmerged, got " +
        s"${wide.cube.segments.map(_.name)}")
  }

  test("stream-promote: the CLI promotes sealed whole days into a " +
      "batch segment and is a polite no-op when there is nothing") {
    val name = "tool_promo"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      s"${CubeManager.cubeRoot}/${sf.split('/').last}-$name")): Unit
    CubeManager.resetMemos()
    val doc = graft.queries.EventQueries.declaredEventsDoc
      .replace("\"name\": \"events_decl\"", s""""name": "$name"""")
      .replace("\"end\": \"2024-02-01\"", "\"end\": \"2024-01-10\"")
    val dir = java.nio.file.Files.createTempDirectory("graft-tool-promo")
    val f = dir.resolve(s"$name.json")
    java.nio.file.Files.write(f, doc.getBytes("UTF-8"))
    val (c1, o1) = runTool("stream-promote", sf, "--def", f.toString)
    assert(c1 == 0 && o1.exists(_.startsWith("promoted sp_20240110")),
      s"got $o1")
    val (c2, o2) = runTool("stream-promote", sf, "--def", f.toString)
    assert(c2 == 0 && o2.exists(_.startsWith("nothing to promote")))
    // a document with no streaming section refuses loudly
    val plain = java.nio.file.Files.createTempDirectory("graft-tool-pl")
    val pf = writeDef(plain, "tool_promo_plain")
    val (c3, _) = runTool("stream-promote", sf, "--def", pf)
    assert(c3 == 1)
  }

  test("failures surface as exit 1 with the underlying refusal") {
    val (c1, _) = runTool("restore",
      java.nio.file.Files.createTempDirectory("graft-tool-x").toString,
      "no-such-id")
    assert(c1 == 1)
    val (c2, _) = runTool("frobnicate")
    assert(c2 == 1)
    val (c3, _) = runTool("audit", "/tmp/nope")
    assert(c3 == 1) // missing --cube/--def
  }
}
