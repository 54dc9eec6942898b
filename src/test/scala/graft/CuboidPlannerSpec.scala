package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._
import graft.Exact._

/** Cuboid recommendation (VERDICT r4 item 8, reference
  * CuboidRecommendAlgorithm.java): the greedy pick must answer the
  * logged query shapes without fallback, through cuboids cheaper than
  * the base. */
class CuboidPlannerSpec extends AnyFunSuite {
  import TestSpark._

  test("greedy pick maximizes benefit and stops when nothing improves") {
    val base = Set("a", "b", "c")
    val rows = Map(
      base -> 1000L, Set("a", "b") -> 500L, Set("a") -> 10L,
      Set("b") -> 400L, Set("c") -> 900L)
    val log = Seq(Set("a"), Set("a"), Set("a"), Set("b"), Set("c"))
    val picked = CuboidPlanner.recommend(base, rows, log, maxCuboids = 3)
    assert(picked.head == base)
    // {a} saves 3·990, {b} saves 600, {c} saves only 100
    assert(picked.toSet == Set(base, Set("a"), Set("b")))
    // with a bigger budget, {c}'s 100-row benefit still counts…
    val four = CuboidPlanner.recommend(base, rows, log, maxCuboids = 4)
    assert(four.toSet == Set(base, Set("a"), Set("b"), Set("c")))
    // …but a zero-benefit candidate is never picked
    val rows2 = rows + (Set("a", "b") -> 1000L)
    val stop = CuboidPlanner.recommend(base, rows2 - Set("b") - Set("c"),
      Seq(Set("a")), maxCuboids = 4)
    assert(stop.toSet == Set(base, Set("a")))
  }

  test("log-free initial lattice under a row budget: beats base-only " +
      "on workload cost and the full lattice on planned rows, base " +
      "always mandatory (VERDICT r15 item 5)") {
    val base = Set("a", "b", "c")
    // a synthetic stats profile with clear winners: {a,b} collapses
    // hard (worth its rows), {c} barely aggregates (poor benefit/row)
    val rows = Map(
      base -> 10000L, Set("a", "b") -> 500L, Set("a") -> 40L,
      Set("b") -> 450L, Set("c") -> 9500L, Set("a", "c") -> 9000L)
    val budget = 10900L // base (10000) + 900 of lattice
    val picked = CuboidPlanner.selectUnderBudget(base, rows, budget)
    assert(picked.head == base, "the base cuboid is mandatory")
    assert(picked.map(rows).sum <= budget,
      s"planned rows ${picked.map(rows).sum} exceed the budget")
    // {a} (best benefit/row) then {a,b} fit; {b} would push past the
    // budget; {c}/{a,c} never fit
    assert(picked.toSet == Set(base, Set("a", "b"), Set("a")),
      s"got $picked")

    val workload = rows.keySet.toSeq
    val cost = (mat: Seq[Set[String]]) =>
      CuboidPlanner.workloadCost(mat, rows, base, workload)
    val full = rows.keySet.toSeq
    assert(cost(picked) < cost(Seq(base)),
      "the picked lattice must answer the uniform workload cheaper " +
        "than base-only")
    assert(picked.map(rows).sum < full.map(rows).sum,
      "the picked lattice must plan fewer rows than the full lattice")
    assert(cost(full) <= cost(picked)) // sanity: full is the floor

    // a budget below even one extra cuboid degrades to base-only —
    // never over-commits, never drops the base
    assert(CuboidPlanner.selectUnderBudget(base, rows, 1L) == Seq(base))
  }

  test("probability-weighted budget greedy (PBPUS): the workload " +
      "skew changes the pick, and mandatory cuboids seed the cost " +
      "baseline and the spent budget") {
    val base = Set("a", "b", "c")
    // two affordable candidates; only one fits the budget with the
    // other — the pick is the tiebreak under test
    val rows = Map(base -> 10000L, Set("a") -> 400L, Set("b") -> 500L)
    val budget = 10600L
    // uniform: {a} saves 9600 over 400 rows (24/row) vs {b}'s 9500
    // over 500 (19/row) — {a} wins, then {b} no longer fits
    assert(CuboidPlanner.selectUnderBudget(base, rows, budget).toSet ==
      Set(base, Set("a")))
    // 90% of the history hits {b}: its weighted saving (0.9·9500 =
    // 17.1/row) now beats {a}'s (0.1·9600 = 2.4/row)
    val skew = Seq(Set("a") -> 0.1, Set("b") -> 0.9)
    val weighted = CuboidPlanner.selectUnderBudgetWeighted(
      base, rows, budget, skew)
    assert(weighted.toSet == Set(base, Set("b")), s"got $weighted")

    // phase 2: an existing {a,b} layout answers shape {a} at 800 rows
    // already, so the near-duplicate {a} (780 rows, saving 20) loses
    // to {c} (2000 rows, saving 8000) — and with {c} spent, {a} no
    // longer fits the budget
    val rows2 = Map(base -> 10000L, Set("a", "b") -> 800L,
      Set("a") -> 780L, Set("c") -> 2000L)
    val wl2 = Seq(Set("a") -> 0.5, Set("c") -> 0.5)
    val replanned = CuboidPlanner.selectUnderBudgetWeighted(base, rows2,
      rowBudget = 12900L, wl2, mandatory = Seq(Set("a", "b")))
    assert(replanned.toSet == Set(base, Set("a", "b"), Set("c")),
      s"got $replanned")
    // …while a day-zero pick (no existing layout) takes {a} — shape
    // {a} falls from a 10000-row base scan, the biggest benefit/row
    // on the board. The baseline is what excluded it above, not the
    // weights
    val dayZero = CuboidPlanner.selectUnderBudgetWeighted(base, rows2,
      rowBudget = 12900L, wl2)
    assert(dayZero.contains(Set("a")), s"got $dayZero")
    // mandatory cuboids survive even a budget they alone exceed —
    // they exist on disk; the budget gates additions only
    assert(CuboidPlanner.selectUnderBudgetWeighted(base, rows2, 1L,
      wl2, mandatory = Seq(Set("a", "b"))).toSet ==
      Set(base, Set("a", "b")))
  }

  test("SPBPUS policy (SPBPUSCalculator.java analogue): a measured " +
      "serving cost floors a shape's benefit and redirects the " +
      "budget; no measurements is exactly PBPUS") {
    val base = Set("a", "b", "c")
    val rows = Map(base -> 10000L, Set("a") -> 400L, Set("b") -> 500L)
    val budget = 10600L // fits ONE of the two candidates beside base
    val wl = Seq(Set("a") -> 0.5, Set("b") -> 0.5)
    // PBPUS prices both shapes at a 10000-row base scan: {a} saves
    // 0.5·9600 over 400 rows (12/row), beating {b}'s 0.5·9500/500
    val pb = CuboidPlanner.selectLattice(base, rows, budget, wl)
    assert(pb.toSet == Set(base, Set("a")), s"got $pb")
    // …but serving MEASURED shape {a} at 300 rows (segment/shard
    // pruning a whole-cuboid row estimate cannot see): a 400-row
    // cuboid cannot beat the measurement, so {a}'s benefit is zero
    // and the budget flows to {b}
    val sp = CuboidPlanner.selectLattice(base, rows, budget, wl,
      observed = Map(Set("a") -> 300.0))
    assert(sp.toSet == Set(base, Set("b")), s"got $sp")
    // a measurement WORSE than the estimate changes nothing — the
    // shape's cost is min(estimate, measured), never inflated
    assert(CuboidPlanner.selectLattice(base, rows, budget, wl,
      observed = Map(Set("a") -> 50000.0)).toSet == pb.toSet)
    // the empty map is PBPUS, pick for pick
    assert(CuboidPlanner.selectLattice(base, rows, budget, wl,
      observed = Map.empty) == pb)

    // the persisted-log reader behind the policy: ONE routed-sample
    // read (misses are model advice, not serving costs) feeds both
    // the dim multiset and the per-shape averaged scan_rows
    val dir = Files.createTempDirectory("graft-shapecosts").toString
    QueryLog.record(spark, dir, "q1", "cube", Some("spc"),
      Some(Set("a")), 100L, 1L)
    QueryLog.record(spark, dir, "q2", "cube", Some("spc"),
      Some(Set("a")), 300L, 1L)
    QueryLog.record(spark, dir, "q3", "cube", Some("spc"),
      Some(Set("b")), 700L, 1L)
    QueryLog.record(spark, dir, "q4", "pushdown", Some("spc"),
      Some(Set("b")), 999999L, 1L, unmatched = Some(Set("x")))
    QueryLog.flush(spark, dir)
    val samples = QueryLog.routedSamples(spark, dir, "spc")
    assert(samples.map(_._1).groupBy(identity).view
      .mapValues(_.size).toMap == Map(Set("a") -> 2, Set("b") -> 1))
    val costs = QueryLog.shapeCosts(samples)
    assert(costs == Map(Set("a") -> 200.0, Set("b") -> 700.0),
      s"got $costs")

    // document validation: the policy NAME is checked at parse; a
    // policy without a replan budget parses fine (the CLI advise
    // honors it with its own --budget/--rate flags)
    def doc(extra: String) =
      s"""{"name": "sp_pol", "model": {"fact": "orders"},
         |"dims": ["o_orderstatus"],
         |"measures": [{"name": "n", "family": "count"}],
         |"segmentCol": "o_orderdate",
         |"segments": [{"name": "all", "start": "1992-01-01",
         |              "end": "2003-01-01"}]$extra}""".stripMargin
    intercept[IllegalArgumentException](CubeJson.parse(
      doc(""","replanPolicy": "greedy", "replanRowBudget": 10""")))
    assert(CubeJson.parse(doc(""","replanPolicy": "spbpus""""))
      .replanPolicy.contains("spbpus"))
    assert(CubeJson.parse(doc(
      ""","replanPolicy": "spbpus", "replanRowBudget": 10"""))
      .replanPolicy.contains("spbpus"))
  }

  test("a DECLARED cube with an initialLattice budget builds the " +
      "planner-picked subset as extraCuboids metadata and reloads it " +
      "across a restart") {
    val spec = CubeJson.parse(
      """{
        |  "name": "lattice_budget",
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
        |  "aggGroups": [{"includes": ["o_orderstatus",
        |    "o_orderpriority", "o_month"]}],
        |  "segDayGranular": true,
        |  "initialLattice": {"rowBudget": 100000}
        |}""".stripMargin)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      s"${CubeManager.cubeRoot}/${sf.split('/').last}-lattice_budget")): Unit
    CubeManager.resetMemos()

    val inst = CubeManager.ensureDeclared(spark, sf, spec)
    // the declared def is base-only; the planner's picks ride
    // extraCuboids (outside the fingerprint)
    assert(CubeJson.toCubeDef(spec).cuboids == Seq(inst.cube.dims.toSet))
    assert(inst.extraCuboids.nonEmpty,
      "the budget must admit at least one planned cuboid at this sf")
    assert(inst.cube.cuboids.toSet.subsetOf(
      CubeJson.candidateCuboids(spec).toSet))

    // a narrow query routes to a picked cuboid, not the base
    val narrow = inst.extraCuboids.minBy(c => inst.totalRows(c))
    val r = QueryRouter.route(spark, inst, CubeQuery(
      narrow.toSeq.sorted, Seq("n_orders" -> "n")))(
      fail("expected cuboid"))
    assert(r.cuboid.contains(narrow), s"got ${r.cuboid}")

    // restart: pure metadata load, evolved lattice reattached
    CubeManager.resetMemos()
    val phases = CubeBuilder.phaseTotals
    val again = CubeManager.ensureDeclared(spark, sf, spec)
    assert(CubeBuilder.phaseTotals == phases,
      "the reload must not read the planned lattice as def drift")
    assert(again.cube.cuboids.toSet == inst.cube.cuboids.toSet)
  }

  test("the expansion-rate budget form resolves against the OBSERVED " +
      "base rows (reference expansion-threshold semantics) and exactly " +
      "one budget form is accepted at parse") {
    // validation: neither, both, and non-positive forms refuse at parse
    def doc(lattice: String) =
      s"""{
         |  "name": "lattice_rate",
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
         |  "measures": [{"name": "n_orders", "family": "count"}],
         |  "segmentCol": "o_orderdate",
         |  "segments": [{"name": "all", "start": "1992-01-01",
         |                "end": "2003-01-01"}],
         |  "aggGroups": [{"includes": ["o_orderstatus",
         |    "o_orderpriority", "o_month"]}],
         |  "segDayGranular": true,
         |  "initialLattice": $lattice
         |}""".stripMargin
    intercept[IllegalArgumentException](CubeJson.parse(doc("{}")))
    intercept[IllegalArgumentException](CubeJson.parse(
      doc("""{"rowBudget": 10, "expansionRate": 2.0}""")))
    intercept[IllegalArgumentException](CubeJson.parse(
      doc("""{"expansionRate": -1.0}""")))
    intercept[IllegalArgumentException](CubeJson.parse(
      """{"name": "r", "model": {"fact": "orders"},
        |"dims": ["o_orderstatus"],
        |"measures": [{"name": "n", "family": "count"}],
        |"segmentCol": "o_orderdate",
        |"segments": [{"name": "all", "start": "1992-01-01",
        |              "end": "2003-01-01"}],
        |"replanRowBudget": 10, "replanExpansionRate": 2.0}"""
        .stripMargin))

    // end-to-end: a generous rate (10x the observed base) admits the
    // whole 7-cuboid candidate lattice — every cuboid aggregates to
    // at most the base's rows, so the full lattice always fits 10x
    val spec = CubeJson.parse(doc("""{"expansionRate": 10.0}"""))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      s"${CubeManager.cubeRoot}/${sf.split('/').last}-lattice_rate")): Unit
    CubeManager.resetMemos()
    val inst = CubeManager.ensureDeclared(spark, sf, spec)
    assert(inst.extraCuboids.nonEmpty)
    assert(inst.cube.cuboids.toSet ==
      CubeJson.candidateCuboids(spec).toSet,
      s"a 10x rate must admit the full lattice, got " +
        s"${inst.cube.cuboids}")
  }

  test("executed routes land in the usage log and feed the planner") {
    // Kylin's query-metrics → cube-planner-phase-2 loop: real routed
    // queries record the dim sets they needed, and the planner can
    // recommend straight from that log (the served-query ring, read
    // through the same row projection as the persisted log)
    QueryLog.clearRecent()
    val r1 = QueryService.run(spark, sf,
      """SELECT o_orderstatus, count(*) AS n FROM graft_star
        |GROUP BY o_orderstatus""".stripMargin,
      queryId = "cp-usage-1", cached = false)
    val r2 = QueryService.run(spark, sf,
      """SELECT n_name, sum(l_quantity) AS q FROM graft_star
        |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin,
      queryId = "cp-usage-2", cached = false)
    assert(r1.routed && r2.routed)
    val log = QueryLog.routedOf(QueryLog.recentRows, "star").map(_._1)
    assert(log.contains(Set("o_orderstatus")), s"log: $log")
    assert(log.contains(Set("n_name", "r_name")), s"log: $log")
    // the loop closes: the logged shapes drive a recommendation that
    // includes a cuboid covering each shape (beyond the base)
    val base = CubeManager.defaultCube.dims.toSet
    val rec = CuboidPlanner.recommendFromLog(
      CubeManager.flatTable(spark, sf), base, log, maxCuboids = 4)
    assert(rec.contains(base))
    log.foreach(q =>
      assert(rec.exists(c => q.subsetOf(c) && c != base),
        s"no non-base cuboid covers $q in $rec"))
  }

  test("pushdown misses land in the miss log and rank model advice") {
    // the other half of the planner's query-history diet: shapes the
    // cube could NOT route (a grouped dim outside the rowkey) are the
    // evidence for evolving the model, ranked by demand
    QueryLog.clearRecent()
    (1 to 2).foreach { i =>
      val r = QueryService.run(spark, sf,
        s"""SELECT l_quantity, count(*) AS n$i FROM graft_star
           |GROUP BY l_quantity""".stripMargin,
        queryId = s"cp-miss-$i", cached = false)
      assert(!r.routed)
    }
    val r3 = QueryService.run(spark, sf,
      """SELECT l_linenumber, count(*) AS n FROM graft_star
        |GROUP BY l_linenumber""".stripMargin,
      queryId = "cp-miss-3", cached = false)
    assert(!r3.routed)
    val misses = QueryLog.missesOf(QueryLog.recentRows, "star")
    assert(misses.nonEmpty, "unroutable dims must land in the miss log")
    val advice = CuboidPlanner.adviseModel(misses)
    assert(advice.nonEmpty && advice.head._1 == "l_quantity",
      s"most-demanded unmatched dim first, got $advice")
    assert(advice.head._2 > advice.find(_._1 == "l_linenumber")
      .map(_._2).getOrElse(0),
      s"demand ranking must reflect query counts, got $advice")
    // routed queries record usage, never misses
    QueryLog.clearRecent()
    val ok = QueryService.run(spark, sf,
      """SELECT o_orderstatus, count(*) AS n FROM graft_star
        |GROUP BY o_orderstatus""".stripMargin,
      queryId = "cp-miss-ok", cached = false)
    assert(ok.routed)
    assert(QueryLog.missesOf(QueryLog.recentRows, "star").isEmpty)
  }

  test("a logged query outside the base lattice costs a base scan, no crash") {
    // ADVICE r5: a non-subset log entry left answerCost's covering set
    // empty and .min threw. It must instead price as an (uncoverable)
    // base scan and never crash recommend/recommendFromLog.
    val base = Set("a", "b")
    val rows = Map(base -> 100L, Set("a") -> 10L)
    val log = Seq(Set("a"), Set("z"), Set("a", "z"))
    val picked = CuboidPlanner.recommend(base, rows, log, maxCuboids = 3)
    assert(picked.head == base && picked.contains(Set("a")))

    val flat = CubeManager.flatTable(spark, sf)
    val picked2 = CuboidPlanner.recommendFromLog(flat,
      Set("l_returnflag", "o_orderstatus"),
      Seq(Set("l_returnflag"), Set("not_a_dim"), Set.empty),
      maxCuboids = 3)
    assert(picked2.head == Set("l_returnflag", "o_orderstatus"))
    assert(picked2.contains(Set("l_returnflag")))
  }

  test("optimizeCuboids materializes a recommended cuboid on live " +
      "segments, routes onto it, and survives reload") {
    // cube-planner phase 2 end to end: a usage-logged shape missing
    // from the declared lattice gets materialized onto the BUILT
    // instance (from each segment's cheapest parent, no flat rescan),
    // the router immediately serves it, and a restarted process loads
    // the evolved lattice instead of reading it as def drift
    val flat = CubeManager.flatTable(spark, sf)
    val root = Files.createTempDirectory("graft-optimize").toString
    val cube = CubeManager.defaultCube.copy(
      measures = Seq(
        Measure("revenue", fromRaw = sum(col("disc_price")),
          fromState = s => sum(col(s)), present = _.cast("double")),
        Measure("nrows", fromRaw = count(lit(1)),
          fromState = s => sum(col(s)))),
      shardBy = None, derived = Nil, extended = Nil)
    val inst = CubeBuilder.build(spark, flat, cube, root)

    val extra = Set("n_name", "o_month")
    assert(!cube.cuboids.contains(extra), "fixture: must not be declared")
    val next = CubeBuilder.optimizeCuboids(spark, inst, Seq(extra))
    assert(next.extraCuboids == Seq(extra))
    val id = cube.cuboidId(extra)
    cube.segments.foreach(s =>
      assert(new java.io.File(next.cuboidPath(s.name, id)).exists(),
        s"optimize must materialize cuboid $id into ${s.name}"))

    def check(i: CubeInstance): Unit = {
      val r = QueryRouter.route(spark, i,
        CubeQuery(Seq("n_name", "o_month"), Seq("revenue" -> "rev")))(
        fail("expected cuboid route"))
      assert(r.cuboid.contains(extra),
        s"router must pick the optimized cuboid, got ${r.cuboid}")
      val got = r.df.collect().map(x => (x.getAs[String]("n_name"),
        x.getAs[String]("o_month")) -> x.getAs[Double]("rev")).toMap
      val want = flat.groupBy("n_name", "o_month")
        .agg(sum(col("disc_price")).cast("double").as("rev"))
        .collect().map(x => (x.getString(0), x.getString(1))
          -> x.getDouble(2)).toMap
      assert(got == want && want.nonEmpty)
    }
    check(next)

    // simulated restart: the evolved lattice loads from metadata
    val loaded = CubeMeta.load(spark, cube, root)
    assert(loaded.nonEmpty, "evolution must not invalidate the meta")
    assert(loaded.get.inst.cube.cuboids.contains(extra) &&
      loaded.get.inst.extraCuboids == Seq(extra))
    check(loaded.get.inst)

    // idempotent: re-adding the same cuboid is a no-op
    assert(CubeBuilder.optimizeCuboids(spark, next, Seq(extra)) == next)

    // lifecycle ops carry the evolved lattice: a full merge builds the
    // extra cuboid into the merged segment too
    val merged = CubeBuilder.mergeSegments(spark, next, "m-all")
    assert(new java.io.File(merged.cuboidPath("m-all", id)).exists())
    assert(merged.extraCuboids == Seq(extra))
  }

  test("recommended lattice answers every logged bench shape without fallback") {
    val cube0 = CubeManager.defaultCube
    val base = cube0.dims.toSet
    // the dim sets the CubeQueries bench surface actually needs
    // (groupBy ∪ filter/residual dims)
    val log = Seq(
      Set("o_orderstatus", "l_returnflag"),
      Set("l_returnflag"),
      Set("r_name"),
      Set("n_name", "r_name"),
      Set("o_month"),
      Set("c_mktsegment", "o_month"),
      Set("o_orderstatus", "o_month"))
    val flat = CubeManager.flatTable(spark, sf)
    val picked = CuboidPlanner.recommendFromLog(flat, base, log, maxCuboids = 5)
    assert(picked.head == base && picked.size <= 5)
    assert(log.forall(q => picked.exists(q.subsetOf(_))),
      "base always covers, so coverage can never fail")

    // build a cube on the recommended lattice (2 cheap measures) and
    // route each logged shape: no fallback, and the coarse shapes must
    // be served by a cuboid strictly smaller than the base
    val root = Files.createTempDirectory("graft-planner").toString
    val cube = cube0.copy(
      measures = Seq(
        Measure("revenue", fromRaw = sum(col("disc_price")),
          fromState = s => sum(col(s)), present = _.cast("double")),
        Measure("nrows", fromRaw = count(lit(1)),
          fromState = s => sum(col(s)))),
      cuboids = picked, shardBy = None, derived = Nil)
    val inst = CubeBuilder.build(spark, flat, cube, root)
    log.foreach { q =>
      val r = QueryRouter.route(spark, inst,
        CubeQuery(q.toSeq, Seq("nrows" -> "n")))(fail(s"fallback for $q"))
      assert(!r.fallback)
    }
    val coarse = QueryRouter.route(spark, inst,
      CubeQuery(Seq("l_returnflag"), Seq("nrows" -> "n")))(fail("fallback"))
    assert(coarse.cuboid.exists(_ != base),
      "a logged coarse shape should route below the base cuboid")
  }

  test("genetic lattice selection (GeneticAlgorithm.java analogue): " +
      "deterministic, budget-feasible, never worse than the greedy " +
      "it seeds from, and dispatched only for large candidate spaces") {
    // a 10-dim synthetic space: 2^10-ish candidates would swamp a
    // greedy's per-pick rescan; build ~120 candidates with structured
    // row counts so coverage choices genuinely trade off
    val dims = ('a' to 'j').map(_.toString)
    val base = dims.toSet
    val rnd = new scala.util.Random(7)
    val cands: Seq[Set[String]] = (1 to 150).map { _ =>
      dims.filter(_ => rnd.nextBoolean()).toSet
    }.filter(c => c.nonEmpty && c != base).distinct
    val rows: Map[Set[String], Long] =
      (cands.map(c => c -> (100L + 900L * c.size * c.size)) :+
        (base -> 1000000L)).toMap
    val workload: Seq[(Set[String], Double)] =
      cands.take(40).map(c => c -> rnd.nextDouble())
    val budget = 1300000L

    val ga = CuboidPlanner.selectUnderBudgetGA(base, rows, budget, workload)
    // deterministic: same inputs, same lattice
    assert(ga == CuboidPlanner.selectUnderBudgetGA(base, rows, budget,
      workload))
    // base mandatory, budget respected
    assert(ga.contains(base))
    assert(ga.map(rows).sum <= budget)
    // the greedy seed guarantees the GA never regresses the fitness
    // (the WEIGHTED workload cost — the quantity both optimize)
    def wcost(mat: Seq[Set[String]]): Double = workload.map { case (q, w) =>
      val cov = mat.filter(q.subsetOf(_))
      w * (if (cov.isEmpty) rows(base) else cov.map(rows).min)
    }.sum
    val greedy = CuboidPlanner.selectUnderBudgetWeighted(base, rows,
      budget, workload)
    assert(wcost(ga) <= wcost(greedy) + 1e-6,
      "greedy-seeded GA must never pick a worse lattice than the greedy")
    // mandatory cuboids survive, like the greedy's contract
    val must = cands.head
    assert(CuboidPlanner.selectUnderBudgetGA(base, rows, budget,
      workload, mandatory = Seq(must)).contains(must))
    // the seam: small spaces go to the greedy verbatim, large to GA
    val smallRows = rows.toSeq.take(10).toMap + (base -> 1000000L)
    assert(CuboidPlanner.selectLattice(base, smallRows, budget, workload)
      == CuboidPlanner.selectUnderBudgetWeighted(base, smallRows, budget,
        workload))
    assert(CuboidPlanner.selectLattice(base, rows, budget, workload)
      == ga)
  }
}
