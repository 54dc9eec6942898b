package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** Persisted query metrics (VERDICT r12 missing #2; reference
  * metrics-reporter-hive / metrics-reporter-kafka + QueryMetricUtils):
  * the usage-driven planner loop must survive a serving-process
  * restart — `QueryLog.recent` is the in-JVM ring, the parquet log is
  * the same record persisted. */
class QueryLogSpec extends AnyFunSuite {
  import TestSpark._

  test("served queries persist to the parquet log and the planner " +
      "recommends from yesterday's workload after a restart") {
    GraftSql.registerViews(spark, sf)
    CubeManager.ensureBuilt(spark, sf)
    val dir = Files.createTempDirectory("graft-querylog").toString
    spark.conf.set(QueryLog.DirConf, dir)
    try {
      QueryLog.clearRecent()
      val s1 = QueryService.run(spark, sf,
        """SELECT o_orderstatus, count(*) AS n FROM graft_star
          |GROUP BY o_orderstatus""".stripMargin,
        queryId = "ql-1", cached = false)
      val s2 = QueryService.run(spark, sf,
        """SELECT n_name, sum(l_quantity) AS q FROM graft_star
          |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin,
        queryId = "ql-2", cached = false)
      assert(s1.routed && s2.routed)
      QueryLog.flush(spark, dir)

      // "restart": every in-JVM buffer gone, only the parquet log left
      QueryLog.clearRecent()
      QueryLog.clearPending()
      assert(QueryLog.recent.isEmpty)

      val rows = QueryLog.load(spark, dir).collect()
      assert(rows.length == 2, s"expected 2 log rows, got ${rows.length}")
      val byId = rows.map(r => r.getAs[String]("query_id") -> r).toMap
      assert(byId.keySet == Set("ql-1", "ql-2"))
      assert(rows.forall(_.getAs[Long]("scan_rows") > 0),
        "persisted rows must carry the scan actuals")
      assert(rows.forall(_.getAs[String]("via").nonEmpty))

      val sets = QueryLog.dimSets(spark, dir, "star")
      assert(sets.contains(Set("o_orderstatus")), s"sets: $sets")
      assert(sets.contains(Set("n_name", "r_name")), s"sets: $sets")

      // the loop closes across the restart: yesterday's persisted
      // workload drives today's recommendation
      val base = CubeManager.defaultCube.dims.toSet
      val rec = CuboidPlanner.recommendFromStore(spark, dir,
        CubeManager.flatTable(spark, sf), base, "star", maxCuboids = 4)
      assert(rec.contains(base))
      sets.foreach(q =>
        assert(rec.exists(c => q.subsetOf(c) && c != base),
          s"no non-base cuboid covers $q in $rec"))
    } finally {
      spark.conf.unset(QueryLog.DirConf)
      QueryLog.clearPending()
    }
  }

  test("fallen-back queries persist their MISS shapes: missSets feeds " +
      "adviseModel across a restart and dimSets stays uncontaminated") {
    GraftSql.registerViews(spark, sf)
    CubeManager.ensureBuilt(spark, sf)
    val dir = Files.createTempDirectory("graft-querylog-miss").toString
    spark.conf.set(QueryLog.DirConf, dir)
    try {
      QueryLog.clearRecent()
      // l_quantity is outside the star rowkey — unroutable, falls back
      val s = QueryService.run(spark, sf,
        """SELECT l_quantity, count(*) AS n FROM graft_star
          |GROUP BY l_quantity""".stripMargin,
        queryId = "qlm-1", cached = false)
      assert(!s.routed)
      // a ROUTED query on the same handler thread afterwards must not
      // inherit the previous query's misses
      val s2 = QueryService.run(spark, sf,
        """SELECT o_orderstatus, count(*) AS n FROM graft_star
          |GROUP BY o_orderstatus""".stripMargin,
        queryId = "qlm-2", cached = false)
      assert(s2.routed)
      QueryLog.flush(spark, dir)

      // "restart": only the parquet log survives
      QueryLog.clearRecent()
      QueryLog.clearPending()

      val misses = QueryLog.missSets(spark, dir, "star")
      assert(misses.nonEmpty, "the fallback's miss shapes must persist")
      assert(misses.forall(_._2.contains("l_quantity")),
        s"misses: $misses")
      // the routed distribution the REPLAN feeds on excludes miss rows
      val sets = QueryLog.dimSets(spark, dir, "star")
      assert(sets.contains(Set("o_orderstatus")), s"sets: $sets")
      assert(!sets.exists(_.contains("l_quantity")),
        "miss rows must never enter the cuboid distribution")
      // the loop closes: yesterday's pushdown history ranks the
      // model-evolution advice today
      val advice = CuboidPlanner.adviseModel(misses)
      assert(advice.nonEmpty && advice.head._1 == "l_quantity",
        s"advice: $advice")
    } finally {
      spark.conf.unset(QueryLog.DirConf)
      QueryLog.clearPending()
    }
  }

  test("a result-cache hit replays its route into the workload log " +
      "and its persisted row carries cube/dims with zero scan") {
    GraftSql.registerViews(spark, sf)
    CubeManager.ensureBuilt(spark, sf)
    GraftSql.clearResultCache()
    QueryLog.clearRecent()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-querylog-hit").toString
    spark.conf.set(QueryLog.DirConf, dir)
    try {
      val q = """SELECT o_orderstatus, l_returnflag, count(*) AS n
                |FROM graft_star GROUP BY o_orderstatus, l_returnflag"""
        .stripMargin
      val miss = QueryService.run(spark, sf, q, queryId = "qlh-miss")
      val hit = QueryService.run(spark, sf, q, queryId = "qlh-hit")
      assert(!miss.fromCache && hit.fromCache)
      // the planner's workload log counts the cached shape twice —
      // a hit is still a served query
      val shapes = QueryLog.routedOf(QueryLog.recentRows, "star")
        .count(_._1 == Set("o_orderstatus", "l_returnflag"))
      assert(shapes >= 2, s"cached workload must count, got $shapes")
      QueryLog.flush(spark, dir)
      val row = QueryLog.load(spark, dir)
        .filter(org.apache.spark.sql.functions
          .col("query_id") === "qlh-hit").collect()
      assert(row.length == 1)
      assert(row.head.getAs[String]("cube") == "star")
      assert(row.head.getAs[Seq[String]]("dims").toSet ==
        Set("l_returnflag", "o_orderstatus"))
      assert(row.head.getAs[Long]("scan_rows") == 0L,
        "a cache hit reads no files — actuals must stay 0")
    } finally {
      spark.conf.unset(QueryLog.DirConf)
      QueryLog.clearPending()
    }
  }

  test("each served query leaves exactly one record; a direct route " +
      "leaves none") {
    GraftSql.registerViews(spark, sf)
    CubeManager.ensureBuilt(spark, sf)
    GraftSql.clearResultCache()
    QueryLog.clearRecent()
    // a route run outside a serving entry point records nothing
    val direct = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n FROM graft_star
        |GROUP BY o_orderstatus""".stripMargin)
    assert(direct.routed)
    assert(QueryLog.recent.isEmpty, s"got ${QueryLog.recent}")

    val q = """SELECT c_mktsegment, l_returnflag, count(*) AS n
              |FROM graft_star GROUP BY c_mktsegment, l_returnflag"""
      .stripMargin
    val s = QueryService.run(spark, sf, q, queryId = "rec-1")
    assert(s.routed && !s.fromCache)
    assert(QueryLog.recent.map(_.queryId) == Seq("rec-1"))
    val rec = QueryLog.recent.head
    assert(rec.route.via == s.via)
    assert(rec.route.executed ==
      Some(("star", Set("c_mktsegment", "l_returnflag"))), s"got $rec")
    assert(rec.scanRows == s.scanRows && rec.scanBytes == s.scanBytes &&
      rec.scanRows > 0 && rec.scanBytes > 0, s"got $rec")
    assert(rec.route.reason.isEmpty && rec.route.misses.isEmpty)

    // a cache hit: 0/0 actuals and the route it replayed
    val hit = QueryService.run(spark, sf, q, queryId = "rec-hit")
    assert(hit.fromCache)
    assert(QueryLog.recent.map(_.queryId) == Seq("rec-1", "rec-hit"))
    val h = QueryLog.recent.last
    assert(h.scanRows == 0L && h.scanBytes == 0L, s"got $h")
    assert(h.route.executed == rec.route.executed, s"got $h")

    // a fallback: its traced reason and its misses, no executed route
    val fb = QueryService.run(spark, sf,
      """SELECT l_quantity, count(*) AS n FROM graft_star
        |GROUP BY l_quantity""".stripMargin,
      queryId = "rec-fb", cached = false)
    assert(!fb.routed)
    assert(QueryLog.recent.map(_.queryId) ==
      Seq("rec-1", "rec-hit", "rec-fb"))
    val f = QueryLog.recent.last
    assert(f.route.via == fb.via && f.route.executed.isEmpty, s"got $f")
    assert(f.route.reason.exists(_.contains("l_quantity")), s"got $f")
    assert(f.route.misses.nonEmpty && f.route.misses.forall(m =>
      m.cube == "star" && m.unmatched == Set("l_quantity") &&
        m.needed == Set("l_quantity")), s"got $f")
  }

  test("a fallback's reason round-trips through flush/load; a log " +
      "written before the reason column reads it as null") {
    import org.apache.spark.sql.functions.col
    GraftSql.registerViews(spark, sf)
    CubeManager.ensureBuilt(spark, sf)
    val dir = Files.createTempDirectory("graft-querylog-reason").toString
    spark.conf.set(QueryLog.DirConf, dir)
    try {
      QueryService.run(spark, sf,
        "SELECT o_orderstatus, stddev(l_quantity) AS s FROM graft_star " +
          "GROUP BY o_orderstatus", queryId = "qlr-fb", cached = false)
      val want = QueryLog.recent.last.route.reason
      assert(want.exists(_.contains("unmatched aggregation")), s"got $want")
      QueryLog.flush(spark, dir)
      val got = QueryLog.load(spark, dir)
        .filter(col("query_id") === "qlr-fb").collect()
      assert(got.length == 1 &&
        Option(got.head.getAs[String]("reason")) == want,
        s"got ${got.toSeq}")
    } finally {
      spark.conf.unset(QueryLog.DirConf)
      QueryLog.clearPending()
    }

    // a batch in the pre-change layout: no reason column at all
    val old = Files.createTempDirectory("graft-querylog-legacy").toString
    val legacy = org.apache.spark.sql.types.StructType(
      QueryLog.schema.fields.filterNot(_.name == "reason"))
    val rows = Seq(
      Row(1L, "old-routed", "cuboid", "star", Seq("o_orderstatus"), 10L,
        100L, null),
      Row(2L, "old-miss", "miss", "star", Seq("l_quantity"), 0L, 0L,
        Seq("l_quantity")))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), legacy)
      .write.parquet(s"$old/_querylog")
    val loaded = QueryLog.load(spark, old).collect()
    assert(loaded.length == 2 &&
      loaded.forall(r => r.isNullAt(r.fieldIndex("reason"))),
      s"got ${loaded.toSeq}")
    assert(QueryLog.routedSamples(spark, old, "star") ==
      Seq((Set("o_orderstatus"), 10L)))
    assert(QueryLog.missSets(spark, old, "star") ==
      Seq((Set("l_quantity"), Set("l_quantity"))))
  }

  test("the log is bounded: compaction keeps the newest MaxRows in " +
      "few files") {
    val dir = Files.createTempDirectory("graft-querylog-bound").toString
    // seed CompactAtFiles+1 small appends totalling > MaxRows rows,
    // with a deterministic ts per batch so "newest wins" is checkable
    val perBatch = QueryLog.MaxRows / QueryLog.CompactAtFiles + 20 // 148
    // the seeds are ROUTED SAMPLES (dims set, unmatched null) — the
    // class the replan's probability distribution reads
    (0 to QueryLog.CompactAtFiles).foreach { b =>
      val rows = (0 until perBatch).map(i =>
        Row(b.toLong, s"seed-$b-$i", "test", null, Seq("a"), 1L, 1L,
          null, null))
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), QueryLog.schema)
        .write.mode("append").parquet(s"$dir/_querylog")
    }
    val seeded = QueryLog.load(spark, dir).count()
    assert(seeded > QueryLog.MaxRows)
    // one more recorded row trips the flush-side compaction
    QueryLog.record(spark, dir, "trip", "test", None, Some(Set("a")),
      1L, 1L)
    QueryLog.flush(spark, dir)
    val after = QueryLog.load(spark, dir)
    val n = after.count()
    assert(n == QueryLog.MaxRows, s"log must trim to MaxRows, got $n")
    // the dropped rows are the OLDEST (ts 0 batch gone, newest kept)
    import org.apache.spark.sql.functions._
    val minTs = after.agg(min("ts")).head.getLong(0)
    assert(minTs > 0L, "compaction must drop the oldest rows first")
    assert(after.filter(col("query_id") === "trip").count() == 1)
    // and the directory is back to a handful of files
    val p = new org.apache.hadoop.fs.Path(s"$dir/_querylog")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    assert(files <= 2, s"compaction must rewrite to few files, got $files")

    // the bound is PER CLASS: a pushdown-heavy burst — each
    // fallen-back query writes a dims-NULL pushdown row plus MISS
    // rows — must not evict the routed history the replan feeds on.
    // Under a single global bound (or one keyed on `unmatched` alone,
    // which lumps pushdown rows with routed samples) the older routed
    // rows would all vanish here
    (0 to QueryLog.CompactAtFiles).foreach { b =>
      val rows = (0 until perBatch).flatMap(i => Seq(
        Row(1000L + b, s"miss-$b-$i", "miss", null,
          Seq("l_quantity"), 1L, 1L, Seq("l_quantity"), null),
        Row(1000L + b, s"pd-$b-$i", "pushdown", null, null, 1L, 1L,
          null, null)))
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), QueryLog.schema)
        .write.mode("append").parquet(s"$dir/_querylog")
    }
    QueryLog.record(spark, dir, "trip2", "test", None, None, 1L, 1L)
    QueryLog.flush(spark, dir)
    val after2 = QueryLog.load(spark, dir)
    val routedSamples = after2.filter(
      col("dims").isNotNull && col("unmatched").isNull).count()
    val missed = after2.filter(col("unmatched").isNotNull).count()
    val pushdown = after2.filter(col("dims").isNull).count()
    assert(routedSamples == QueryLog.MaxRows,
      s"the routed-sample class must survive a pushdown burst " +
        s"intact, got $routedSamples")
    assert(missed == QueryLog.MaxRows,
      s"the miss class must trim to MaxRows, got $missed")
    assert(pushdown == QueryLog.MaxRows,
      s"the pushdown class must trim to MaxRows, got $pushdown")
  }

  test("a crash between the compaction renames parks the history and " +
      "the next flush merges it back instead of shadowing it (ADVICE r13)") {
    val dir = Files.createTempDirectory("graft-querylog-crash").toString
    // a live log with two known rows
    val rows = Seq(Row(1L, "old-1", "test", null, null, 1L, 1L, null, null),
                   Row(2L, "old-2", "test", null, null, 1L, 1L, null, null))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), QueryLog.schema)
      .write.mode("append").parquet(s"$dir/_querylog")
    // simulate the crash window: rename-out happened, rename-in didn't
    val p = new org.apache.hadoop.fs.Path(s"$dir/_querylog")
    val old = new org.apache.hadoop.fs.Path(s"$dir/_querylog_old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, old))
    // load still serves the parked history
    assert(QueryLog.load(spark, dir).count() == 2)
    // the post-crash process flushes a new batch: recovery must rename
    // the history back FIRST, so the append lands beside it
    QueryLog.record(spark, dir, "new-1", "test", None, None, 1L, 1L)
    QueryLog.flush(spark, dir)
    val after = QueryLog.load(spark, dir).collect()
    assert(after.map(_.getAs[String]("query_id")).toSet ==
      Set("old-1", "old-2", "new-1"),
      s"parked history must merge with the post-crash batch, got " +
        s"${after.map(_.getAs[String]("query_id")).toSeq}")
    assert(!fs.exists(old), "recovery must consume _querylog_old")
  }
}
