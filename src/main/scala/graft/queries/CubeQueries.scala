package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cube._
import graft.functions.Measures

/** SURVEY.md §2.2 — the cube engine: pre-aggregated cuboids on parquet,
  * layered spanning-tree build, smallest-covering-cuboid routing,
  * mergeable measures, segment prune/merge, pushdown fallback.
  * Every query routes through the built cube (CubeManager memoizes one
  * build per sf dir per JVM); oracles recompute from the raw star
  * tables in DuckDB, so a pass proves the whole build→route→re-agg
  * pipeline end to end.
  */
object CubeQueries extends QueryGroup {

  private def noFallback: Nothing =
    sys.error("query should have routed to a cuboid")

  val queries: Seq[Q] = Seq(

    // 26 ──────────────── flat-table build (star join materialization;
    //     reference CreateFlatTable.scala:1-241)
    //     (widened fact scan: the 6-way join probe + wide projection +
    //     total sort otherwise serialize on the single-row-group scan —
    //     measured −2.7 s in the r21 widen A/B; guide §2.5, no-op at
    //     scale. The shared CubeManager.flatTable stays unwidened: its
    //     light-aggregate consumers measured slower with the exchange.)
    Q("cube_flat_table",
      (s, d) => CubeManager.flatTableWidened(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("r_name"),
                col("p_brand"), col("o_orderstatus"),
                col("disc_price").cast(DoubleType).as("revenue"))
        // exchange boundary BEFORE the total sort (guide §2.4 / the q12
        // lesson): a range sort SAMPLES its child, and with the sort
        // sitting directly on the join subtree the whole 6-way join
        // re-executed for the sampling pass (r22 probe: a duplicate
        // 10.3 s-CPU join stage reading the same widen exchange, zero
        // shuffle write). A keyed repartition — no explicit count, so
        // AQE sizes it at any scale — materializes the join ONCE; the
        // sampler then reads shuffle output instead of re-joining.
        .repartition(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber", "r_name", "p_brand",
                 "o_orderstatus", "revenue"),
      Some("""SELECT l_orderkey, l_linenumber, r_name, p_brand, o_orderstatus,
             |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |LEFT JOIN part ON l_partkey = p_partkey
             |ORDER BY l_orderkey, l_linenumber, r_name, p_brand,
             |  o_orderstatus, revenue""".stripMargin)),

    // 27 ──────────────── exact-match cuboid routing: the group-by set
    //     IS a materialized cuboid
    Q("cube_exact_match",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        QueryRouter.route(s, inst, CubeQuery(
          Seq("o_orderstatus", "l_returnflag"),
          Seq("revenue" -> "revenue", "nrows" -> "n_rows")))(noFallback)
          .df.orderBy("o_orderstatus", "l_returnflag")
      },
      Some("""SELECT o_orderstatus, l_returnflag,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus, l_returnflag
             |ORDER BY o_orderstatus, l_returnflag""".stripMargin)),

    // 28 ──────────────── partial-match: coarser query re-aggregated
    //     from a finer cuboid's mergeable state
    Q("cube_reagg",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        QueryRouter.route(s, inst, CubeQuery(
          Seq("l_returnflag"),
          Seq("revenue" -> "revenue", "qty" -> "sum_qty",
              "nrows" -> "n_rows")))(noFallback)
          .df.orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // 29 ──────────────── bitmap measure: exact count-distinct that
    //     survives re-aggregation (RoaringBitmap union across cuboid
    //     rows + segments)
    Q("cube_bitmap_distinct",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        QueryRouter.route(s, inst, CubeQuery(
          Seq("r_name"),
          Seq("cust_bitmap" -> "n_cust", "nrows" -> "n_rows")))(noFallback)
          .df.orderBy("r_name")
      },
      Some("""SELECT r_name, COUNT(DISTINCT o_custkey) AS n_cust,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // 29b ─────────────── dictionary-encoded bitmap: exact distinct of
    //     a STRING column (c_name) through the global dictionary built
    //     in the cube's encode phase (reference DFDictionaryBuilder)
    Q("cube_dict_bitmap",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        QueryRouter.route(s, inst, CubeQuery(
          Seq("r_name"),
          Seq("cname_bitmap" -> "n_names", "nrows" -> "n_rows")))(noFallback)
          .df.orderBy("r_name")
      },
      Some("""SELECT r_name, COUNT(DISTINCT c_name) AS n_names,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // 29c ─────────────── intersect_count: customers active in BOTH
    //     months via bitmap AND over routed states (reference
    //     measure/bitmap/BitmapIntersectDistinctCountAggFunc — Kylin's
    //     retention/funnel function; states stay distributed, only two
    //     1-row bitmap frames meet in the final cross join)
    Q("cube_intersect_count",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        val r = QueryRouter.routeStates(s, inst, CubeQuery(
          Seq("o_month"), Seq("cust_bitmap" -> "bm"),
          filter = Some(col("o_month").isin("1996-03", "1996-04")),
          filterDims = Set("o_month")))(noFallback)
        val a = r.df.filter(col("o_month") === "1996-03")
          .select(col("bm").as("bm_a"))
        val b = r.df.filter(col("o_month") === "1996-04")
          .select(col("bm").as("bm_b"))
        a.crossJoin(b).select(
          Measures.bitmapAndCount(col("bm_a"), col("bm_b")).as("n_retained"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_retained FROM (
             |  SELECT DISTINCT o_custkey FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  WHERE strftime(o_orderdate, '%Y-%m') = '1996-03'
             |  INTERSECT
             |  SELECT DISTINCT o_custkey FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  WHERE strftime(o_orderdate, '%Y-%m') = '1996-04')""".stripMargin)),

    // 33c ─────────────── shard-by pruning: the r_name-sharded cuboid
    //     is laid out as one directory per region value, so an
    //     equality filter reads only the matching dirs
    //     (FilePruner.pruneShards; spec asserts PartitionFilters)
    Q("cube_shard_prune",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        QueryRouter.route(s, inst, CubeQuery(
          Seq("n_name"), Seq("revenue" -> "revenue", "nrows" -> "n_rows"),
          filter = Some(col("r_name") === "ASIA"),
          filterDims = Set("r_name")))(noFallback)
          .df.orderBy("n_name")
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // 30 ──────────────── HLL measure: approx distinct, hash-checked
    //     via exact counts + a within-5% flag (estimates are engine-
    //     specific, so the estimate itself stays out of the hash)
    Q("cube_hll_distinct",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        val hll = QueryRouter.route(s, inst, CubeQuery(
          Seq("c_mktsegment"), Seq("cust_hll" -> "hll_cust")))(noFallback).df
        val exact = CubeManager.flatTable(s, d)
          .groupBy("c_mktsegment")
          .agg(countDistinct(col("o_custkey")).as("exact_cust"))
        exact.join(hll, "c_mktsegment")
          .select(col("c_mktsegment"), col("exact_cust"),
            (abs(col("hll_cust") - col("exact_cust")) <=
               col("exact_cust") * 0.05).as("hll_ok"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS exact_cust,
             |  TRUE AS hll_ok
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // 31 ──────────────── TopN measure (SpaceSaving-style, exact-integer
    //     sums → bit-stable values through merge)
    Q("cube_topn_measure",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        val r = QueryRouter.route(s, inst, CubeQuery(
          Seq("l_returnflag"), Seq("brand_topn" -> "topn_state")))(noFallback)
        r.df.select(col("l_returnflag"),
            posexplode(Measures.topnExtract(col("topn_state"), lit(5))))
          .select(col("l_returnflag"),
            (col("pos") + 1).cast(LongType).as("rn"),
            col("col._1").as("p_brand"),
            (col("col._2").cast(DoubleType) / 10000.0).as("brand_rev"))
          .orderBy("l_returnflag", "rn")
      },
      Some("""SELECT l_returnflag, rn, p_brand, brand_rev FROM (
             |  SELECT l_returnflag, p_brand,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS brand_rev,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) DESC, p_brand) AS BIGINT) AS rn
             |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
             |  GROUP BY l_returnflag, p_brand)
             |WHERE rn <= 5
             |ORDER BY l_returnflag, rn""".stripMargin)),

    // 32 ──────────────── percentile measure (KLL sketch): exact value
    //     hash-checked, sketch asserted within tolerance
    Q("cube_percentile",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        val approx = QueryRouter.route(s, inst, CubeQuery(
          Seq("o_orderstatus"), Seq("qty_kll" -> "approx_p50")))(noFallback).df
        // widened exact side: percentile's per-group value→count map is
        // the heavy-aggregate case flatTableWidened exists for
        val exact = CubeManager.flatTableWidened(s, d)
          .groupBy("o_orderstatus")
          .agg(expr("percentile(l_quantity, 0.5)").as("ex"))
        exact.join(approx, "o_orderstatus")
          .select(col("o_orderstatus"), round(col("ex"), 4).as("exact_p50"),
            (abs(col("approx_p50") - col("ex")) <= 2.5).as("p50_ok"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  ROUND(quantile_cont(l_quantity, 0.5), 4) AS exact_p50,
             |  TRUE AS p50_ok
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 33 ──────────────── segment pruning: time-range query reads only
    //     overlapping segment dirs (FilePruner.scala:204-221)
    Q("cube_segment_prune",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        QueryRouter.route(s, inst, CubeQuery(
          Seq("o_month"),
          Seq("revenue" -> "revenue", "nrows" -> "n_rows"),
          timeRange = Some(("1997-01-01", "1999-01-01"))))(noFallback)
          .df.orderBy("o_month")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             |  AND o_orderdate < TIMESTAMP '1999-01-01'
             |GROUP BY 1 ORDER BY o_month""".stripMargin)),

    // 33b ─────────────── residual time filter: range NOT aligned to
    //     segment boundaries — partially-overlapping segments get a
    //     row-level filter on the month dim (Kylin applies the time
    //     filter in addition to segment pruning; ADVICE r2)
    Q("cube_prune_residual",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        val r = QueryRouter.route(s, inst, CubeQuery(
          Seq("o_orderstatus"),
          Seq("revenue" -> "revenue", "nrows" -> "n_rows"),
          timeRange = Some(("1996-01-01", "1999-07-01"))))(noFallback)
        assert(!r.fallback && r.cuboid.exists(_.contains("o_month")),
          "expected cuboid route through a month-bearing cuboid")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1999-07-01'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 35b ─────────────── transparent SQL routing: a plain SQL
    //     aggregate against the star view is pattern-matched on the
    //     analyzed plan and answered from the cube (Kylin's
    //     SparderContext/TableScanPlan, Catalyst standing in for
    //     Calcite)
    Q("cube_sql_route",
      (s, d) => {
        val (df, routed) = GraftSql.sql(s, d,
          """SELECT n_name, sum(disc_price) AS revenue, count(*) AS n_rows,
            |  count(distinct o_custkey) AS n_cust
            |FROM graft_star WHERE r_name = 'ASIA'
            |GROUP BY n_name""".stripMargin)
        assert(routed, "expected the SQL aggregate to route to a cuboid")
        df.orderBy("n_name")
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // 35e ─────────────── model matching over user-written join SQL:
    //     the query spells out the star join over the RAW tables; the
    //     analyzed join tree is matched against the declared model
    //     (fact + PK-FK edges) and answered from the cube, exactly like
    //     the view path (OLAPJoinRule.java:37, TableScanPlan.scala:51-66)
    Q("cube_sql_join_route",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT n_name, sum(l_quantity) AS sum_qty, count(*) AS n_rows,
            |  count(distinct o_custkey) AS n_cust
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |JOIN nation ON c_nationkey = n_nationkey
            |JOIN region ON n_regionkey = r_regionkey
            |WHERE r_name = 'ASIA'
            |GROUP BY n_name""".stripMargin)
        assert(r.routed,
          "expected the explicit star join to match the model and route")
        r.df.orderBy("n_name")
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS n_rows,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // 29d ─────────────── basic min/max measure family (reference
    //     measure/basic): lossless through layered re-agg, routed from
    //     SQL like any other measure
    Q("cube_minmax_measure",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus, min(l_quantity) AS min_qty,
            |  max(l_extendedprice) AS max_price, count(*) AS n_rows
            |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected min/max to route, got ${r.via}")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, MIN(l_quantity) AS min_qty,
             |  MAX(l_extendedprice) AS max_price, COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 35e2 ────────────── derived dim through the model-join path: the
    //     user groups the explicit star join by a lookup attribute not
    //     materialized in any cuboid; the route goes model match →
    //     cuboid on the host dim → snapshot join
    Q("cube_sql_join_derived",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT n_nationkey, sum(l_quantity) AS sum_qty, count(*) AS n_rows
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |JOIN nation ON c_nationkey = n_nationkey
            |GROUP BY n_nationkey""".stripMargin)
        assert(r.routed, "derived dim over the model join must route")
        r.df.orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin)),

    // 35e4 ────────────── derived-dim FILTER: a lookup-attribute
    //     predicate (n_nationkey < 5) routes through the snapshot onto
    //     the host dim — the cuboid carries only n_name; the filter
    //     applies after the snapshot attach (Kylin's
    //     DerivedFilterTranslator answers lookup filters from the cube)
    Q("cube_sql_derived_filter",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |JOIN nation ON c_nationkey = n_nationkey
            |WHERE n_nationkey < 5
            |GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected the derived filter to route, got ${r.via}")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE n_nationkey < 5
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 35e3 ────────────── LEFT-declared model edge: the part lookup is
    //     declared LEFT (JoinDesc.java:35-40), the flat table is built
    //     with that type, and a user-written LEFT JOIN part query
    //     matches the model and routes — while an inner-written JOIN
    //     part falls back (row preservation differs; spec-pinned)
    Q("cube_sql_left_model",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n_rows
            |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
            |GROUP BY p_brand""".stripMargin)
        assert(r.routed,
          "LEFT JOIN over the left-declared edge must match the model")
        r.df.orderBy("p_brand")
      },
      Some("""SELECT p_brand,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS n_rows
             |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // 35b2 ────────────── SQL routing with ORDER BY + LIMIT peeled
    //     above the aggregate (the standard reporting top-N shape)
    Q("cube_sql_topn",
      (s, d) => {
        val (df, routed) = GraftSql.sql(s, d,
          """SELECT c_mktsegment, o_month, sum(disc_price) AS revenue
            |FROM graft_star
            |GROUP BY c_mktsegment, o_month
            |ORDER BY revenue DESC, c_mktsegment, o_month
            |LIMIT 10""".stripMargin)
        assert(routed, "expected ORDER BY/LIMIT aggregate to route")
        df
      },
      Some("""SELECT c_mktsegment, o_month,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
             |FROM (SELECT c_mktsegment, strftime(o_orderdate, '%Y-%m') AS o_month,
             |        l_extendedprice, l_discount
             |      FROM lineitem
             |      JOIN orders ON l_orderkey = o_orderkey
             |      JOIN customer ON o_custkey = c_custkey)
             |GROUP BY c_mktsegment, o_month
             |ORDER BY revenue DESC, c_mktsegment, o_month
             |LIMIT 10""".stripMargin)),

    // 35b3 ────────────── TopN-MEASURE rewrite: the global brand top-N
    //     SQL is answered from the pre-computed SpaceSaving sketch
    //     (merged across cuboid rows), not a brand-level aggregation —
    //     Kylin's topn query rewrite
    Q("cube_sql_topn_measure",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT p_brand, sum(disc_price) AS revenue
            |FROM graft_star
            |GROUP BY p_brand
            |ORDER BY revenue DESC, p_brand
            |LIMIT 5""".stripMargin)
        assert(r.routed && r.via == "topn-measure",
          s"expected the TopN-measure rewrite, got ${r.via}")
        r.df
      },
      Some("""SELECT p_brand,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
             |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand
             |ORDER BY revenue DESC, p_brand
             |LIMIT 5""".stripMargin)),

    // 35b10 ───────────── ROLLUP over the cube: Aggregate-over-Expand
    //     routed once as full-dims cells, every grouping set answered
    //     by one cuboid-cell-scale re-agg (Kylin's Calcite surface
    //     answers rollups from the cube the same way)
    Q("cube_sql_rollup",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus, l_returnflag, sum(l_quantity) AS sum_qty,
            |  count(*) AS n_rows
            |FROM graft_star
            |GROUP BY ROLLUP(o_orderstatus, l_returnflag)
            |ORDER BY o_orderstatus ASC NULLS FIRST, l_returnflag ASC NULLS FIRST""".stripMargin)
        assert(r.routed && r.via == "cuboid-gsets",
          s"expected grouping-sets routing, got ${r.via}")
        r.df
      },
      Some("""SELECT o_orderstatus, l_returnflag,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY ROLLUP(o_orderstatus, l_returnflag)
             |ORDER BY o_orderstatus ASC NULLS FIRST, l_returnflag ASC NULLS FIRST""".stripMargin)),

    // 35b11 ───────────── GROUPING SETS + grouping() over the cube:
    //     the grouping-indicator outputs are reconstructed per set
    //     from the set's grouping id
    Q("cube_sql_gsets",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus, l_returnflag,
            |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
            |  sum(disc_price) AS revenue
            |FROM graft_star
            |GROUP BY GROUPING SETS ((o_orderstatus, l_returnflag),
            |  (o_orderstatus), ())
            |ORDER BY o_orderstatus ASC NULLS FIRST, l_returnflag ASC NULLS FIRST""".stripMargin)
        assert(r.routed && r.via == "cuboid-gsets",
          s"expected grouping-sets routing, got ${r.via}")
        r.df
      },
      Some("""SELECT o_orderstatus, l_returnflag,
             |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY GROUPING SETS ((o_orderstatus, l_returnflag),
             |  (o_orderstatus), ())
             |ORDER BY o_orderstatus ASC NULLS FIRST, l_returnflag ASC NULLS FIRST""".stripMargin)),

    // 35b9 ────────────── dimension-as-measure: MIN/MAX/COUNT DISTINCT
    //     over DIMENSION columns with no declared measure — the dim
    //     joins the routed group-by and one cuboid-cell-scale post-agg
    //     answers (Kylin's dimension-as-measure; dims are exact in
    //     every cuboid)
    Q("cube_sql_dim_agg",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT l_returnflag, max(o_month) AS max_month,
            |  min(o_month) AS min_month,
            |  count(distinct p_brand) AS n_brands, count(*) AS n_rows
            |FROM graft_star GROUP BY l_returnflag""".stripMargin)
        assert(r.routed && r.via == "cuboid-dimagg",
          s"expected dimension-as-measure routing, got ${r.via}")
        r.df.orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  MAX(strftime(o_orderdate, '%Y-%m')) AS max_month,
             |  MIN(strftime(o_orderdate, '%Y-%m')) AS min_month,
             |  COUNT(DISTINCT p_brand) AS n_brands,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |LEFT JOIN part ON l_partkey = p_partkey
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // 35b8 ────────────── GROUPED TopN rewrite: per-returnflag brand
    //     top-5 written as the standard rank-filter SQL idiom is
    //     answered from the SpaceSaving sketch states grouped by
    //     l_returnflag — no brand-level cuboid scan
    //     (TopNMeasureType.java:129-170: query group-by extends the
    //     sketch dims with cuboid dims)
    Q("cube_sql_topn_group",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT l_returnflag, p_brand, revenue FROM (
            |  SELECT l_returnflag, p_brand,
            |    sum(disc_price) AS revenue,
            |    row_number() OVER (PARTITION BY l_returnflag
            |      ORDER BY sum(disc_price) DESC, p_brand) AS rn
            |  FROM graft_star
            |  GROUP BY l_returnflag, p_brand) t
            |WHERE rn <= 5
            |ORDER BY l_returnflag, p_brand""".stripMargin)
        assert(r.routed && r.via == "topn-measure",
          s"expected the grouped TopN-measure rewrite, got ${r.via}")
        r.df
      },
      Some("""SELECT l_returnflag, p_brand, revenue FROM (
             |  SELECT l_returnflag, p_brand,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) DESC, p_brand) AS rn
             |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
             |  GROUP BY l_returnflag, p_brand) t
             |WHERE rn <= 5
             |ORDER BY l_returnflag, p_brand""".stripMargin)),

    // 35b4 ────────────── HAVING + AVG rewrite: avg(l_quantity) is
    //     assembled from routed sum+count states (Kylin's AVG
    //     rewrite); the HAVING predicate re-applies on the routed frame
    Q("cube_sql_having_avg",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus, avg(l_quantity) AS avg_qty,
            |  count(*) AS n_rows
            |FROM graft_star
            |GROUP BY o_orderstatus
            |HAVING n_rows > 1000
            |ORDER BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected cuboid routing for HAVING+AVG, got ${r.via}")
        r.df
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus
             |HAVING COUNT(*) > 1000
             |ORDER BY o_orderstatus""".stripMargin)),

    // 35b6 ────────────── approx_count_distinct SQL rewrite: the HLL
    //     sketch built into the cube answers a user's
    //     approx_count_distinct call (HLLCMeasureType.java:40-47) —
    //     checked like cube_hll_distinct: exact counts hashed, the
    //     routed estimate asserted within 5%
    Q("cube_sql_approx_distinct",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT c_mktsegment, approx_count_distinct(o_custkey) AS hll_cust
            |FROM graft_star GROUP BY c_mktsegment""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected approx_count_distinct to route to the hll measure, got ${r.via}")
        val exact = CubeManager.flatTable(s, d)
          .groupBy("c_mktsegment")
          .agg(countDistinct(col("o_custkey")).as("exact_cust"))
        exact.join(r.df, "c_mktsegment")
          .select(col("c_mktsegment"), col("exact_cust"),
            (abs(col("hll_cust") - col("exact_cust")) <=
               col("exact_cust") * 0.05).as("hll_ok"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS exact_cust,
             |  TRUE AS hll_ok
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // 35b7 ────────────── percentile_approx SQL rewrite: the KLL sketch
    //     answers percentile_approx at the QUERY'S OWN rank (0.25 here —
    //     not the measure's default 0.5, proving the state is evaluated
    //     per-query; PercentileMeasureType.java:83-95)
    Q("cube_sql_percentile",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus, percentile_approx(l_quantity, 0.25) AS approx_p25
            |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected percentile_approx to route to the kll measure, got ${r.via}")
        // widened exact side — same heavy-aggregate case as
        // cube_percentile (bench: 1.57 → 1.21/1.41 s across both runs)
        val exact = CubeManager.flatTableWidened(s, d)
          .groupBy("o_orderstatus")
          .agg(expr("percentile(l_quantity, 0.25)").as("ex"))
        exact.join(r.df, "o_orderstatus")
          .select(col("o_orderstatus"), round(col("ex"), 4).as("exact_p25"),
            (abs(col("approx_p25") - col("ex")) <= 2.5).as("p25_ok"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  ROUND(quantile_cont(l_quantity, 0.25), 4) AS exact_p25,
             |  TRUE AS p25_ok
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 35b5 ────────────── intersect_count SQL surface: the retention
    //     call routes through bitmap STATES (Kylin's
    //     BitmapIntersectDistinctCountAggFunc); the same function is
    //     SQL-registered as an exact raw-row aggregate, so an unrouted
    //     plan still answers correctly
    Q("cube_sql_intersect",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT intersect_count(o_custkey, o_month,
            |    array('1996-03', '1996-04')) AS n_retained,
            |  intersect_count(o_custkey, o_month,
            |    array('1996-03')) AS n_first
            |FROM graft_star""".stripMargin)
        assert(r.routed && r.via == "intersect-count",
          s"expected the intersect-count rewrite, got ${r.via}")
        r.df
      },
      Some("""SELECT
             |  CAST((SELECT COUNT(*) FROM (
             |    SELECT DISTINCT o_custkey FROM lineitem
             |    JOIN orders ON l_orderkey = o_orderkey
             |    WHERE strftime(o_orderdate, '%Y-%m') = '1996-03'
             |    INTERSECT
             |    SELECT DISTINCT o_custkey FROM lineitem
             |    JOIN orders ON l_orderkey = o_orderkey
             |    WHERE strftime(o_orderdate, '%Y-%m') = '1996-04')) AS BIGINT) AS n_retained,
             |  CAST((SELECT COUNT(DISTINCT o_custkey) FROM lineitem
             |    JOIN orders ON l_orderkey = o_orderkey
             |    WHERE strftime(o_orderdate, '%Y-%m') = '1996-03') AS BIGINT) AS n_first""".stripMargin)),

    // 29c2 ────────────── N-ary retention (reference
    //     RetentionPartialResult.java chains N children): a grouped
    //     3-way intersect whose months straddle the s1995/s1997
    //     SEGMENT boundary — bitmap states merge across segments
    //     before the AND, and groups empty in every val come back as 0
    Q("cube_intersect3",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT r_name,
            |  intersect_count(o_custkey, o_month,
            |    array('1996-12', '1997-01', '1997-02')) AS n_all3,
            |  intersect_count(o_custkey, o_month,
            |    array('1996-12', '1997-01')) AS n_cross2
            |FROM graft_star GROUP BY r_name""".stripMargin)
        assert(r.routed && r.via == "intersect-count",
          s"expected the intersect-count rewrite, got ${r.via}")
        r.df.orderBy("r_name")
      },
      Some("""WITH star AS (
             |  SELECT o_custkey, r_name,
             |    strftime(o_orderdate, '%Y-%m') AS o_month
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey),
             |a3 AS (SELECT r_name, COUNT(*) AS n FROM (
             |  SELECT DISTINCT r_name, o_custkey FROM star WHERE o_month = '1996-12'
             |  INTERSECT
             |  SELECT DISTINCT r_name, o_custkey FROM star WHERE o_month = '1997-01'
             |  INTERSECT
             |  SELECT DISTINCT r_name, o_custkey FROM star WHERE o_month = '1997-02'
             |) GROUP BY 1),
             |a2 AS (SELECT r_name, COUNT(*) AS n FROM (
             |  SELECT DISTINCT r_name, o_custkey FROM star WHERE o_month = '1996-12'
             |  INTERSECT
             |  SELECT DISTINCT r_name, o_custkey FROM star WHERE o_month = '1997-01'
             |) GROUP BY 1)
             |SELECT k.r_name,
             |  CAST(COALESCE(a3.n, 0) AS BIGINT) AS n_all3,
             |  CAST(COALESCE(a2.n, 0) AS BIGINT) AS n_cross2
             |FROM (SELECT DISTINCT r_name FROM star) k
             |LEFT JOIN a3 ON k.r_name = a3.r_name
             |LEFT JOIN a2 ON k.r_name = a2.r_name
             |ORDER BY k.r_name""".stripMargin)),

    // 29f ─────────────── DimCountDistinct (reference measure/dim):
    //     exact distinct of a low-cardinality column carried as its
    //     value SET through re-aggregation — no dictionary, no bitmap
    Q("cube_dim_distinct",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT r_name, count(distinct o_orderpriority) AS n_prio,
            |  count(*) AS n_rows
            |FROM graft_star GROUP BY r_name""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected the set measure to route, got ${r.via}")
        r.df.orderBy("r_name")
      },
      Some("""SELECT r_name, COUNT(DISTINCT o_orderpriority) AS n_prio,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // 29g ─────────────── extended column (reference
    //     ExtendedColumnMeasureType): o_year rides as a value measure
    //     keyed by its host dim o_month — grouped and selected in SQL
    //     without ever being a cuboid dim
    Q("cube_extended_col",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_month, o_year, sum(disc_price) AS revenue
            |FROM graft_star GROUP BY o_month, o_year""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected the extended column to route, got ${r.via}")
        r.df.orderBy("o_month")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
             |  strftime(o_orderdate, '%Y') AS o_year,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1, 2 ORDER BY o_month""".stripMargin)),

    // 29e ─────────────── INTERSECT_VALUE (reference
    //     BitmapIntersectValueAggFunc): the intersected MEMBER ids
    //     themselves, answered from routed bitmap states like
    //     intersect_count; exploded to rows for the oracle
    Q("cube_intersect_value",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT intersect_value(o_custkey, o_month,
            |  array('1996-03', '1996-04')) AS members
            |FROM graft_star""".stripMargin)
        assert(r.routed && r.via == "intersect-count",
          s"expected the intersect rewrite, got ${r.via}")
        r.df.select(explode(col("members")).as("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM (
             |  SELECT DISTINCT o_custkey FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  WHERE strftime(o_orderdate, '%Y-%m') = '1996-03'
             |  INTERSECT
             |  SELECT DISTINCT o_custkey FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  WHERE strftime(o_orderdate, '%Y-%m') = '1996-04')
             |ORDER BY o_custkey""".stripMargin)),

    // 35d ─────────────── derived dimension: group-by on a lookup
    //     attribute (n_nationkey) NOT materialized in any cuboid — the
    //     router joins the nation snapshot on the host dim n_name and
    //     re-aggregates states (CubeDesc.java:219 derivedToHostMap);
    //     never a source-scan fallback
    Q("cube_derived_dim",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        val r = QueryRouter.route(s, inst, CubeQuery(
          Seq("n_nationkey"),
          Seq("revenue" -> "revenue", "cust_bitmap" -> "n_cust",
              "nrows" -> "n_rows")))(noFallback)
        assert(!r.fallback && r.cuboid.exists(_.contains("n_name")),
          "expected a derived-dim route through an n_name cuboid")
        r.df.orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(DISTINCT o_custkey) AS n_cust,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin)),

    // 31b ─────────────── multi-column TopN measure: the sketch keys on
    //     the (p_brand, c_mktsegment) tuple (TopNMeasureType.java:
    //     129-148 — topn over multiple literal columns); answered via
    //     the SQL topn rewrite, no pair-level scan
    Q("cube_topn_multi",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT p_brand, c_mktsegment, sum(disc_price) AS revenue
            |FROM graft_star
            |GROUP BY p_brand, c_mktsegment
            |ORDER BY revenue DESC, p_brand, c_mktsegment
            |LIMIT 5""".stripMargin)
        assert(r.routed && r.via == "topn-measure",
          s"expected the multi-dim TopN rewrite, got ${r.via}")
        r.df
      },
      Some("""SELECT p_brand, c_mktsegment,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |LEFT JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand, c_mktsegment
             |ORDER BY revenue DESC, p_brand, c_mktsegment
             |LIMIT 5""".stripMargin)),

    // 35f ─────────────── window function over the routed aggregate
    //     (reference OLAPWindowRule: Kylin computes window calls on top
    //     of the cube scan) — the rank is re-applied on the cuboid
    //     answer, not on a source scan
    Q("cube_sql_window",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus, revenue,
            |  rank() OVER (ORDER BY revenue DESC) AS rnk
            |FROM (SELECT o_orderstatus, sum(disc_price) AS revenue
            |      FROM graft_star GROUP BY o_orderstatus)
            |ORDER BY rnk, o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected the window to ride the routed aggregate, got ${r.via}")
        r.df
      },
      Some("""SELECT o_orderstatus, revenue,
             |  CAST(RANK() OVER (ORDER BY revenue DESC) AS BIGINT) AS rnk
             |FROM (SELECT o_orderstatus,
             |        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
             |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |      GROUP BY o_orderstatus)
             |ORDER BY rnk, o_orderstatus""".stripMargin)),

    // 35f2 ────────────── window-rewrite generality (reference
    //     OLAPWindowRule accepts ANY window over the aggregate): lag,
    //     dense_rank, and a rolling-frame SUM computed over routed
    //     month cells — three distinct window specs above one cuboid
    Q("cube_sql_window2",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_month, revenue,
            |  lag(revenue) OVER (ORDER BY o_month) AS prev_rev,
            |  dense_rank() OVER (ORDER BY revenue DESC) AS drnk,
            |  sum(revenue) OVER (ORDER BY o_month
            |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rev_3mo
            |FROM (SELECT o_month, sum(disc_price) AS revenue
            |      FROM graft_star GROUP BY o_month)
            |ORDER BY o_month""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected the windows to ride the routed aggregate, got ${r.via}")
        r.df
      },
      Some("""SELECT o_month, revenue,
             |  LAG(revenue) OVER (ORDER BY o_month) AS prev_rev,
             |  CAST(DENSE_RANK() OVER (ORDER BY revenue DESC) AS BIGINT) AS drnk,
             |  SUM(revenue) OVER (ORDER BY o_month
             |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rev_3mo
             |FROM (SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
             |        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
             |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |      GROUP BY 1)
             |ORDER BY o_month""".stripMargin)),

    // 35c ─────────────── SQL routing fallback: unsupported measure /
    //     non-cube dim → Spark answers from the view (Kylin pushdown)
    Q("cube_sql_fallback",
      (s, d) => {
        val (df, routed) = GraftSql.sql(s, d,
          """SELECT o_orderpriority, min(l_quantity) AS min_qty,
            |  count(*) AS n_rows
            |FROM graft_star GROUP BY o_orderpriority""".stripMargin)
        assert(!routed, "expected SQL fallback for non-cube shapes")
        df.orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, MIN(l_quantity) AS min_qty,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // 34 ──────────────── segment merge: all segments merged into one,
    //     measure states (incl. bitmap) re-aggregated losslessly
    Q("cube_segment_merge",
      (s, d) => {
        val inst = CubeManager.ensureMerged(s, d)
        QueryRouter.route(s, inst, CubeQuery(
          Seq("o_orderstatus"),
          Seq("revenue" -> "revenue", "cust_bitmap" -> "n_cust",
              "nrows" -> "n_rows")))(noFallback)
          .df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(DISTINCT o_custkey) AS n_cust,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 35 ──────────────── pushdown fallback: no covering cuboid → the
    //     source star join answers (kylin-spark-query pushdown)
    Q("cube_pushdown_fallback",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        val r = QueryRouter.route(s, inst, CubeQuery(
          Seq("o_orderpriority"),
          Seq("revenue" -> "revenue", "nrows" -> "n_rows"))) {
          // widened fact side (guide §2.5): the decimal-sum sweep over
          // the whole star join is the heaviest pushdown in the suite
          // and ran serial (1.44 s CPU / 3 tasks, r22 probe)
          CubeManager.flatTableWidened(s, d)
            .groupBy("o_orderpriority")
            .agg(sum(col("disc_price")).cast(DoubleType).as("revenue"),
                 count(lit(1)).as("n_rows"))
        }
        assert(r.fallback, "expected pushdown fallback")
        r.df.orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // 33d ─────────────── SQL-derived segment pruning: the WHERE range
    //     on the raw segment column becomes CubeQuery.timeRange, so the
    //     routed scan lists only overlapping segment dirs
    //     (FilePruner.scala:198-286 pruneSegments; VERDICT r7 item 2).
    //     Written as BETWEEN — the single most common reporting date
    //     idiom, which analyzes to the >=/<= conjunct pair; the closed
    //     upper bound converts to < next-day under the cube's declared
    //     day-granularity contract (VERDICT r8 item 1)
    Q("cube_sql_time_prune",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus, sum(disc_price) AS revenue,
            |  count(*) AS n_rows
            |FROM graft_star
            |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
            |  AND TIMESTAMP '1998-12-31'
            |GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected the BETWEEN time-range query to route, got ${r.via}")
        // [1997-01-01, 1999-01-01) ⇒ pure segment pruning: only s1997
        val files = r.df.inputFiles
        assert(files.nonEmpty && files.forall(_.contains("/s1997/")),
          s"expected only s1997 segment dirs, got ${files.take(3).toSeq}")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
             |  AND TIMESTAMP '1998-12-31'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 35g ─────────────── UNION ALL of routable aggregates: each branch
    //     routes to its own cuboid independently (OLAPUnionRule.java:33;
    //     VERDICT r7 item 3); any branch refusing falls the whole query
    //     back
    Q("cube_sql_union",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT n_name, sum(disc_price) AS revenue, count(*) AS n_rows
            |FROM graft_star WHERE r_name = 'ASIA' GROUP BY n_name
            |UNION ALL
            |SELECT n_name, sum(disc_price) AS revenue, count(*) AS n_rows
            |FROM graft_star WHERE r_name = 'EUROPE' GROUP BY n_name""".stripMargin)
        assert(r.routed && r.via == "cuboid-union",
          s"expected both branches to route, got ${r.via}")
        r.df.orderBy("n_name")
      },
      Some("""WITH star AS (
             |  SELECT n_name, r_name,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS dp
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey)
             |SELECT n_name, revenue, n_rows FROM (
             |  SELECT n_name, CAST(SUM(dp) AS DOUBLE) AS revenue,
             |    COUNT(*) AS n_rows
             |  FROM star WHERE r_name = 'ASIA' GROUP BY n_name
             |  UNION ALL
             |  SELECT n_name, CAST(SUM(dp) AS DOUBLE) AS revenue,
             |    COUNT(*) AS n_rows
             |  FROM star WHERE r_name = 'EUROPE' GROUP BY n_name)
             |ORDER BY n_name""".stripMargin)),

    // 35h ─────────────── expression-defined measure: the literal TPC-H
    //     revenue algebra SUM(l_extendedprice * (1 - l_discount))
    //     matches the cube's revenue measure by canonicalized-tree
    //     equality (FunctionDesc parameter matching; VERDICT r7 item 4)
    Q("cube_sql_sum_expr",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT l_returnflag,
            |  sum(l_extendedprice * (1 - l_discount)) AS revenue,
            |  count(*) AS n_rows
            |FROM graft_star GROUP BY l_returnflag""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected the expression measure to route, got ${r.via}")
        r.df.orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // 35b12 ───────────── ROLLUP under a WHERE: the filter (dim
    //     predicate + segment time range) splits and routes below the
    //     grouping sets, every set still answered from one
    //     cuboid-cell re-aggregation
    Q("cube_sql_rollup_where",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT r_name, n_name, sum(disc_price) AS revenue,
            |  count(*) AS n_rows
            |FROM graft_star
            |WHERE c_mktsegment = 'BUILDING'
            |  AND o_orderdate >= TIMESTAMP '1997-01-01'
            |  AND o_orderdate < TIMESTAMP '1999-01-01'
            |GROUP BY ROLLUP(r_name, n_name)
            |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
        assert(r.routed && r.via == "cuboid-gsets",
          s"expected filtered grouping-sets routing, got ${r.via}")
        r.df
      },
      Some("""SELECT r_name, n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate >= TIMESTAMP '1997-01-01'
             |  AND o_orderdate < TIMESTAMP '1999-01-01'
             |GROUP BY ROLLUP(r_name, n_name)
             |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),

    // 35b13 ───────────── DISTINCT dim projection answered from cuboid
    //     cells (OLAPAggregateRule: a measureless aggregate is a
    //     distinct projection — never a fact scan)
    Q("cube_sql_distinct_dims",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT DISTINCT o_orderstatus, l_returnflag
            |FROM graft_star WHERE r_name = 'ASIA'""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected the distinct projection to route, got ${r.via}")
        // proof it's cuboid-served: the scan reads cuboid dirs only
        assert(r.df.inputFiles.nonEmpty &&
          r.df.inputFiles.forall(_.contains("cuboid=")),
          "distinct projection must read cuboid cells, not the fact")
        r.df.orderBy("o_orderstatus", "l_returnflag")
      },
      Some("""SELECT DISTINCT o_orderstatus, l_returnflag
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |ORDER BY o_orderstatus, l_returnflag""".stripMargin)),

    // 35h2 ────────────── AVG over the defining expression + COUNT(col)
    //     under the NOT NULL contract: avg(l_extendedprice*(1-l_disc))
    //     assembles from the routed sum-expr state and the row counter;
    //     count(l_quantity) rides the row counter (Kylin's count/avg
    //     rewrites over FunctionDesc-matched measures)
    Q("cube_sql_avg_expr",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus,
            |  avg(l_extendedprice * (1 - l_discount)) AS avg_rev,
            |  count(l_quantity) AS n_rows
            |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"expected the avg-expression to route, got ${r.via}")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) / COUNT(*) AS avg_rev,
             |  COUNT(l_quantity) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 35i ─────────────── hybrid realization: one query answered from
    //     TWO cubes spliced by time range — the old design serves
    //     history, the new one serves from the cutover, states merge
    //     across the splice (HybridInstance.java:53,133-147 +
    //     HybridStorageQuery.java; VERDICT r8 item 2)
    Q("cube_sql_hybrid",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus, sum(disc_price) AS revenue,
            |  count(*) AS n_rows
            |FROM graft_star_hybrid
            |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
            |  AND TIMESTAMP '2000-12-31'
            |GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "hybrid",
          s"expected the time-spliced hybrid to answer, got ${r.via}")
        // the splice reads BOTH member cube roots (old pre-cutover,
        // new post-cutover), nothing from the wide star instance
        val files = r.df.inputFiles
        assert(files.exists(_.contains("-star_old/")) &&
          files.exists(_.contains("-star_new/")),
          s"expected both hybrid member roots, got ${files.take(3).toSeq}")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
             |  AND TIMESTAMP '2000-12-31'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 35i2 ────────────── sketch measures over the hybrid: the spliced
    //     member states serve the sketch rewrites too —
    //     approx_count_distinct answers from the members' HLL states
    //     unioned across the cutover. After a real evolution there is
    //     no wide fallback cube, so the hybrid must serve every measure
    //     type its members declare (HybridStorageQuery.java unions
    //     tuple iterators for ALL member measures; VERDICT r9 item 4)
    Q("cube_sql_hybrid_sketch",
      (s, d) => {
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus,
            |  approx_count_distinct(o_custkey) AS hll_cust
            |FROM graft_star_hybrid
            |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
            |  AND TIMESTAMP '2000-12-31'
            |GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "hybrid",
          s"expected the hybrid to serve the HLL sketch, got ${r.via}")
        val files = r.df.inputFiles
        assert(files.exists(_.contains("-star_old/")) &&
          files.exists(_.contains("-star_new/")),
          s"expected both hybrid member roots, got ${files.take(3).toSeq}")
        val exact = CubeManager.flatTable(s, d)
          .filter("o_orderdate >= '1997-01-01' and o_orderdate < '2001-01-01'")
          .groupBy("o_orderstatus")
          .agg(countDistinct(col("o_custkey")).as("exact_cust"))
        exact.join(r.df, "o_orderstatus")
          .select(col("o_orderstatus"), col("exact_cust"),
            (abs(col("hll_cust") - col("exact_cust")) <=
               col("exact_cust") * 0.05).as("hll_ok"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS exact_cust,
             |  TRUE AS hll_ok
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             |  AND o_orderdate < TIMESTAMP '2001-01-01'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 35i3 ────────────── EXACT string-keyed distinct ACROSS the
    //     hybrid cutover (VERDICT r16 top_next, the shared-dictionary
    //     road): both members declare the same `rootScope`, so their
    //     dict-encoded bitmap states live in ONE append-stable id
    //     space (the shared root's dict tree) and the splice's
    //     bitmap_union is exact — customers active in BOTH eras must
    //     count once. Reference: HybridInstance.java splicing +
    //     AppendTrieDictionary.java:66's per-dictionary consistency
    //     contract, satisfied by making it one dictionary.
    Q("cube_sql_hybrid_bitmap",
      (s, d) => {
        val view = hybridBitmapView
        val r = GraftSql.sqlVia(s, d,
          s"""SELECT o_orderstatus, count(DISTINCT c_name) AS n_names,
             |  count(*) AS n_orders
             |FROM $view
             |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
             |  AND TIMESTAMP '2000-12-31'
             |GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "hybrid",
          s"expected the shared-dict hybrid to answer, got ${r.via}")
        val files = r.df.inputFiles
        assert(files.exists(_.contains("-hbm_shared/hbm_old/")) &&
          files.exists(_.contains("-hbm_shared/hbm_new/")),
          s"both members must serve from the SHARED root, got " +
            s"${files.take(3).toSeq}")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(DISTINCT c_name) AS n_names,
             |  COUNT(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
             |  AND TIMESTAMP '2000-12-31'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // 36 ──────────────── RAW measure: per-group value collection
    //     carried through the cube (reference measure/raw)
    Q("cube_raw_measure",
      (s, d) => {
        val inst = CubeManager.ensureBuilt(s, d)
        QueryRouter.route(s, inst, CubeQuery(
          Seq("l_returnflag"), Seq("raw_hi" -> "vals")))(noFallback)
          .df.select(col("l_returnflag"), explode(col("vals")).as("val"))
          .orderBy("l_returnflag", "val")
      },
      Some("""SELECT l_returnflag, l_extendedprice AS val
             |FROM lineitem WHERE l_quantity >= 49.5
             |ORDER BY l_returnflag, val""".stripMargin)),

    // 36b ─────────────── declarative cube metadata (VERDICT r14 item
    //     1): a cube DECLARED as a JSON document — model, flat
    //     columns, dims, measure SPECS, segments, agg groups — with no
    //     Scala definition anywhere, registered at runtime, built on
    //     first touch, and routing user SQL (sum + count + exact
    //     count-distinct via the declared bitmap measure). Reference:
    //     core-cube/model/CubeDesc.java:99 (RootPersistentEntity JSON
    //     + CachedCrudAssist load — a cube is DATA, not code).
    Q("cube_json_declared",
      (s, d) => {
        val view = declaredOrdersView
        val r = GraftSql.sqlVia(s, d,
          s"""SELECT o_orderstatus,
             |  sum(o_totalprice) AS price_sum,
             |  count(*) AS n_orders,
             |  count(DISTINCT o_custkey) AS n_cust
             |FROM $view GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"JSON-declared cube must route, got ${r.via}")
        assert(r.df.inputFiles.exists(_.contains("-orders_json/")),
          "routed scan must read the declared cube's own root")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
             |  COUNT(*) AS n_orders,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // 26k ─────────────── declared batch SOURCES (VERDICT r16 missing
    //     #1; reference: datasource-sdk behind source-hive/
    //     HiveSource.java + source-jdbc/JdbcSource.java — a model
    //     names TABLES, the deployment names where each lives): the
    //     cube document's `sources` map binds the fact to an embedded
    //     Derby database (the JDBC path) and the lookup to a
    //     catalog-registered table (the warehouse path). The model
    //     table names deliberately have NO parquet under the sf dir —
    //     a silent fallback to the `<dir>/<table>.parquet` convention
    //     would fail loudly, so a completed build PROVES the declared
    //     sources were read.
    Q("cube_json_sources",
      (s, d) => {
        // tag on the FULL path (two sf dirs sharing a basename must
        // not share a staged db), marker-gated like Snapshot's commit
        // contract: bare dir existence would trust a crashed partial
        // stage forever
        val dir0 = d.replaceAll("/+$", "")
        val tag = dir0.split('/').last + "-" +
          Integer.toHexString(dir0.hashCode)
        val dbDir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
          s"/graft-derby-cubesrc-$tag"
        val url = s"jdbc:derby:$dbDir;create=true"
        val props = new java.util.Properties()
        props.setProperty("driver",
          "org.apache.derby.iapi.jdbc.AutoloadedDriver")
        // stage the fact once per sf (deterministic rows — a repeat
        // run reuses the COMMITTED db; the cube itself builds only on
        // first touch anyway). A dir without the marker is a crashed
        // partial stage: delete and restage.
        val staged = new java.io.File(dbDir, "_graft_staged")
        if (!staged.exists()) {
          // shut the engine's booted copy down BEFORE deleting the
          // files: a crashed earlier stage in THIS JVM left the db
          // booted, and deleting under a live engine corrupts the
          // retry until process restart (Derby's shutdown=true
          // reports success via an exception — discard it)
          if (new java.io.File(dbDir).exists())
            scala.util.Try(java.sql.DriverManager.getConnection(
              s"jdbc:derby:$dbDir;shutdown=true")): Unit
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(dbDir)): Unit
          graft.Tables.orders(s, d).write.mode("overwrite")
            .jdbc(url, "orders", props)
          java.nio.file.Files.write(staged.toPath,
            Array.emptyByteArray): Unit
        }
        GraftCatalog.register(s, d)
        val view = CubeJson.registerJson(
          s"""{
             |  "name": "orders_src",
             |  "model": {"fact": "orders_jdbc",
             |    "edges": [{"lookup": "customer_cat", "via": "orders_jdbc",
             |      "lookupKey": "c_custkey", "foreignKey": "o_custkey"}],
             |    "broadcast": ["customer_cat"]},
             |  "sources": {
             |    "orders_jdbc": {"format": "jdbc", "url": "$url",
             |      "table": "orders",
             |      "options": {"driver":
             |        "org.apache.derby.iapi.jdbc.AutoloadedDriver"}},
             |    "customer_cat": {"format": "catalog",
             |      "table": "graft_cat.customer"}
             |  },
             |  "flatColumns": [
             |    {"name": "o_orderstatus"},
             |    {"name": "c_mktsegment"},
             |    {"name": "o_orderdate"},
             |    {"name": "o_totalprice"}
             |  ],
             |  "dims": ["o_orderstatus", "c_mktsegment"],
             |  "measures": [
             |    {"name": "price_sum", "family": "sum",
             |     "column": "o_totalprice", "decimal": true,
             |     "presentDouble": true},
             |    {"name": "n_orders", "family": "count"}
             |  ],
             |  "segmentCol": "o_orderdate",
             |  "segments": [
             |    {"name": "all", "start": "1992-01-01", "end": "2003-01-01"}
             |  ],
             |  "segDayGranular": true
             |}""".stripMargin)
        val r = GraftSql.sqlVia(s, d,
          s"""SELECT o_orderstatus, c_mktsegment,
             |  sum(o_totalprice) AS price_sum, count(*) AS n_orders
             |FROM $view GROUP BY o_orderstatus, c_mktsegment""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"the source-declared cube must route, got ${r.via}")
        assert(r.df.inputFiles.exists(_.contains("-orders_src/")),
          "routed scan must read the declared cube's own root")
        r.df.orderBy("o_orderstatus", "c_mktsegment")
      },
      Some("""SELECT o_orderstatus, c_mktsegment,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
             |  COUNT(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY o_orderstatus, c_mktsegment
             |ORDER BY o_orderstatus, c_mktsegment""".stripMargin)),

    // 28g ─────────────── log-free INITIAL lattice under a row budget
    //     (cube planner phase 1 — CuboidStats + BPUSCalculator): the
    //     document's cuboid space is a CANDIDATE set; first build
    //     estimates candidate rows from the just-built base cuboid
    //     and materializes the benefit-per-row pick under the budget
    //     as extraCuboids metadata. The answer is lattice-independent
    //     (the oracle pins correctness); the asserts pin that the
    //     planner actually widened the lattice and the query routes
    //     through the declared cube.
    Q("cube_json_lattice",
      (s, d) => {
        val view = declaredLatticeView
        val inst = CubeManager.ensureDeclared(s, d,
          CubeJson.parse(declaredLatticeDoc))
        assert(inst.extraCuboids.nonEmpty,
          "the budget must admit planner-picked cuboids")
        val r = GraftSql.sqlVia(s, d,
          s"""SELECT o_orderstatus, sum(o_totalprice) AS price_sum,
             |  count(*) AS n_orders
             |FROM $view GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"lattice-planned cube must route, got ${r.via}")
        assert(r.df.inputFiles.exists(_.contains("-orders_lattice/")),
          "routed scan must read the declared cube's own root")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
             |  COUNT(*) AS n_orders
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // 33e ─────────────── dimension-range segment pruning (reference:
    //     DimensionRangeInfo.java + common/SegmentPruner.java): each
    //     segment's meta carries observed per-dim min/max, and a
    //     filter on a NON-time dim prunes segments from metadata
    //     alone. The events table's event_id is assigned in ingest
    //     order — monotone with ts — so time-partitioned segments
    //     carry disjoint id ranges and a narrow id window must land in
    //     ONE of the four weekly segments (asserted on the scanned
    //     files: the other three are never listed, the 100 TB win).
    Q("cube_dimrange_prune",
      (s, d) => {
        val view = declaredRangesView
        val r = GraftSql.sqlVia(s, d,
          s"""SELECT event_type,
             |  sum(value) AS value_sum, count(*) AS n_events
             |FROM $view WHERE event_id BETWEEN 400 AND 450
             |GROUP BY event_type""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"dim-range cube must route, got ${r.via}")
        val segs = r.df.inputFiles.flatMap(
          "events_ranges/(w\\d)/".r.findFirstMatchIn(_).map(_.group(1)))
          .toSet
        assert(segs.size == 1,
          s"a 50-id window must prune to ONE weekly segment, scanned $segs")
        r.df.orderBy("event_type")
      },
      Some("""SELECT event_type,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
             |  COUNT(*) AS n_events
             |FROM events WHERE event_id BETWEEN 400 AND 450
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // 33h ─────────────── derived-filter → host-dim segment pruning
    //     (reference: core-cube/.../model/DerivedFilterTranslator.java
    //     driving common/SegmentPruner.java): a predicate on a lookup
    //     ATTRIBUTE (c_name, not materialized anywhere) is evaluated
    //     against the broadcast-small customer snapshot, the matching
    //     c_custkey host keys become an IN-set, and the per-segment
    //     host ranges (DimRanges) prune from metadata alone. The cube's
    //     segments slice the CUSTOMER-KEY space (an entity-sliced
    //     layout: per-tenant backfill batches, not time), so the name
    //     prefix 'Customer#00000000' (keys 0-9) provably lands in the
    //     first slice — asserted on the scanned files: the other two
    //     segment dirs are never listed. Without the translation this
    //     query prunes NOTHING (segments carry no c_name ranges).
    Q("cube_derived_prune",
      (s, d) => {
        val view = declaredDerivedPruneView
        assert(view == "orders_dprune_v", s"unexpected view $view")
        val r = GraftSql.sqlVia(s, d,
          """SELECT o_orderstatus,
            |  sum(o_totalprice) AS price_sum, count(*) AS n_orders
            |FROM orders JOIN customer ON o_custkey = c_custkey
            |WHERE c_name LIKE 'Customer#00000000%'
            |GROUP BY o_orderstatus""".stripMargin)
        assert(r.routed && r.via == "cuboid",
          s"derived-prune cube must route, got ${r.via}")
        val segs = r.df.inputFiles.flatMap(
          "orders_dprune/(k\\d)/".r.findFirstMatchIn(_).map(_.group(1)))
          .toSet
        assert(segs == Set("k1"),
          s"the 10-customer host set must prune to segment k1 from " +
            s"metadata alone, scanned $segs")
        r.df.orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
             |  COUNT(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_name LIKE 'Customer#00000000%'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))
  )

  /** The operator-authored JSON document behind `cube_json_declared` —
    * registered once per JVM (re-registration would needlessly drop
    * the SQL result cache on every query run). */
  /** The realization behind `cube_sql_hybrid_bitmap`: a hybrid whose
    * members share ONE storage root (`rootScope`) so their
    * dictionary-encoded bitmap states live in one append-stable id
    * space — the sound form of exact string-keyed distinct across a
    * cutover (unscoped dictColumns on hybrid members refuse at
    * deploy). The eras split mid-data at 1999-01-01; each member's
    * model filterExpr scopes its own era like a real evolution. */
  lazy val hybridBitmapView: String = CubeJson.registerRealization(
    CubeJson.parseRealization {
      def member(name: String, filt: String, segName: String,
                 start: String, end: String): String =
        s"""{
           |  "name": "$name",
           |  "rootScope": "hbm_shared",
           |  "model": {"fact": "orders",
           |    "edges": [{"lookup": "customer", "via": "orders",
           |      "lookupKey": "c_custkey", "foreignKey": "o_custkey"}],
           |    "broadcast": ["customer"],
           |    "filterExpr": "$filt"},
           |  "flatColumns": [
           |    {"name": "o_month",
           |     "expr": "date_format(o_orderdate, 'yyyy-MM')"},
           |    {"name": "o_orderstatus"},
           |    {"name": "o_orderdate"},
           |    {"name": "c_name"}
           |  ],
           |  "dims": ["o_month", "o_orderstatus"],
           |  "measures": [
           |    {"name": "cust_nameset", "family": "bitmap",
           |     "column": "c_name_id", "answers": "countDistinct:c_name"},
           |    {"name": "n_orders", "family": "count"}
           |  ],
           |  "dictColumns": ["c_name"],
           |  "segmentCol": "o_orderdate",
           |  "segments": [{"name": "$segName", "start": "$start",
           |                "end": "$end"}],
           |  "timeDim": {"name": "o_month", "granularity": "month"},
           |  "segDayGranular": true
           |}""".stripMargin
      s"""{
         |  "view": "graft_hybrid_bitmap",
         |  "primary": {
         |    "name": "hbm_wide",
         |    "model": {"fact": "orders",
         |      "edges": [{"lookup": "customer", "via": "orders",
         |        "lookupKey": "c_custkey", "foreignKey": "o_custkey"}],
         |      "broadcast": ["customer"]},
         |    "flatColumns": [
         |      {"name": "o_orderstatus"},
         |      {"name": "o_orderdate"},
         |      {"name": "o_totalprice"},
         |      {"name": "c_name"}
         |    ],
         |    "dims": ["o_orderstatus"],
         |    "measures": [
         |      {"name": "price_sum", "family": "sum",
         |       "column": "o_totalprice", "decimal": true,
         |       "presentDouble": true},
         |      {"name": "n_orders", "family": "count"}
         |    ],
         |    "segmentCol": "o_orderdate",
         |    "segments": [{"name": "all", "start": "1992-01-01",
         |                  "end": "2003-01-01"}],
         |    "segDayGranular": true
         |  },
         |  "hybrid": {
         |    "name": "hbm",
         |    "cutover": "1999-01-01",
         |    "oldCube": ${member("hbm_old",
                "o_orderdate < TIMESTAMP '1999-01-01'",
                "old", "1992-01-01", "1999-01-01")},
         |    "newCube": ${member("hbm_new",
                "o_orderdate >= TIMESTAMP '1999-01-01'",
                "new", "1999-01-01", "2003-01-01")}
         |  }
         |}""".stripMargin
    })

  lazy val declaredOrdersView: String = CubeJson.registerJson(
    """{
      |  "name": "orders_json",
      |  "model": {"fact": "orders"},
      |  "flatColumns": [
      |    {"name": "o_month", "expr": "date_format(o_orderdate, 'yyyy-MM')"},
      |    {"name": "o_orderstatus"},
      |    {"name": "o_orderpriority"},
      |    {"name": "o_orderdate"},
      |    {"name": "o_totalprice"},
      |    {"name": "o_custkey"}
      |  ],
      |  "dims": ["o_month", "o_orderstatus", "o_orderpriority"],
      |  "measures": [
      |    {"name": "price_sum", "family": "sum", "column": "o_totalprice",
      |     "decimal": true, "presentDouble": true},
      |    {"name": "n_orders", "family": "count"},
      |    {"name": "cust_bitmap", "family": "bitmap", "column": "o_custkey"}
      |  ],
      |  "segmentCol": "o_orderdate",
      |  "segments": [
      |    {"name": "h1", "start": "1992-01-01", "end": "1999-01-01"},
      |    {"name": "h2", "start": "1999-01-01", "end": "2003-01-01"}
      |  ],
      |  "aggGroups": [
      |    {"includes": ["o_month", "o_orderstatus", "o_orderpriority"]}
      |  ],
      |  "timeDim": {"name": "o_month", "granularity": "month"},
      |  "segDayGranular": true
      |}""".stripMargin)

  /** The document behind `cube_json_lattice`: the aggGroup expansion
    * is the planner's CANDIDATE space, `initialLattice.rowBudget`
    * bounds what materializes (base mandatory, benefit-per-row
    * greedy); the picked subset rides extraCuboids metadata. */
  val declaredLatticeDoc: String =
    """{
      |  "name": "orders_lattice",
      |  "model": {"fact": "orders"},
      |  "flatColumns": [
      |    {"name": "o_month", "expr": "date_format(o_orderdate, 'yyyy-MM')"},
      |    {"name": "o_orderstatus"},
      |    {"name": "o_orderpriority"},
      |    {"name": "o_orderdate"},
      |    {"name": "o_totalprice"}
      |  ],
      |  "dims": ["o_orderstatus", "o_orderpriority", "o_month"],
      |  "measures": [
      |    {"name": "price_sum", "family": "sum", "column": "o_totalprice",
      |     "decimal": true, "presentDouble": true},
      |    {"name": "n_orders", "family": "count"}
      |  ],
      |  "segmentCol": "o_orderdate",
      |  "segments": [{"name": "all", "start": "1992-01-01",
      |                "end": "2003-01-01"}],
      |  "aggGroups": [
      |    {"includes": ["o_orderstatus", "o_orderpriority", "o_month"]}
      |  ],
      |  "segDayGranular": true,
      |  "initialLattice": {"rowBudget": 1000000}
      |}""".stripMargin

  lazy val declaredLatticeView: String =
    CubeJson.registerJson(declaredLatticeDoc)

  /** The document behind `cube_dimrange_prune`: four weekly segments
    * over the events stream, event_id as a materialized dim — its
    * per-segment [min, max] ranges (DimRanges) are what the router
    * prunes on. No timeDim on purpose: the query filters ONLY on
    * event_id, so every pruned segment is the dim-range pruner's
    * doing, not the time axis's. */
  val declaredRangesDoc: String =
    """{
      |  "name": "events_ranges",
      |  "model": {"fact": "events"},
      |  "flatColumns": [
      |    {"name": "ts"},
      |    {"name": "event_type"},
      |    {"name": "event_id"},
      |    {"name": "value"}
      |  ],
      |  "dims": ["event_type", "event_id"],
      |  "cuboids": [["event_type"]],
      |  "measures": [
      |    {"name": "value_sum", "family": "sum", "column": "value",
      |     "decimal": true, "presentDouble": true},
      |    {"name": "n_events", "family": "count"}
      |  ],
      |  "segmentCol": "ts",
      |  "segments": [
      |    {"name": "w1", "start": "2024-01-01", "end": "2024-01-08"},
      |    {"name": "w2", "start": "2024-01-08", "end": "2024-01-15"},
      |    {"name": "w3", "start": "2024-01-15", "end": "2024-01-22"},
      |    {"name": "w4", "start": "2024-01-22", "end": "2024-02-01"}
      |  ]
      |}""".stripMargin

  lazy val declaredRangesView: String =
    CubeJson.registerJson(declaredRangesDoc)

  /** The document behind `cube_derived_prune`: segments slice the
    * CUSTOMER-KEY space (encoded for the declared path as days offset
    * from 2020-01-01 — key k maps to day 2020-01-01+k, so the k1/k2/k3
    * bounds below are keys [0,15), [15,115), [115,…)). c_name is a
    * DERIVED dim hosted on c_custkey: a c_name predicate only prunes
    * through the snapshot translation, which is exactly what the key
    * asserts. No timeDim, no cuboid beyond base — every pruned segment
    * is the derived-filter translator's doing. */
  val declaredDerivedPruneDoc: String =
    """{
      |  "name": "orders_dprune",
      |  "view": "orders_dprune_v",
      |  "model": {"fact": "orders",
      |    "edges": [{"lookup": "customer", "via": "orders",
      |               "lookupKey": "c_custkey", "foreignKey": "o_custkey"}],
      |    "broadcast": ["customer"]},
      |  "flatColumns": [
      |    {"name": "c_day",
      |     "expr": "date_add(date'2020-01-01', cast(c_custkey as int))"},
      |    {"name": "c_custkey"},
      |    {"name": "o_orderstatus"},
      |    {"name": "o_totalprice"}
      |  ],
      |  "dims": ["o_orderstatus", "c_custkey"],
      |  "measures": [
      |    {"name": "price_sum", "family": "sum", "column": "o_totalprice",
      |     "decimal": true, "presentDouble": true},
      |    {"name": "n_orders", "family": "count"}
      |  ],
      |  "derived": [
      |    {"name": "c_name", "host": "c_custkey", "lookup": "customer"}
      |  ],
      |  "segmentCol": "c_day",
      |  "segments": [
      |    {"name": "k1", "start": "2020-01-01", "end": "2020-01-16"},
      |    {"name": "k2", "start": "2020-01-16", "end": "2020-04-25"},
      |    {"name": "k3", "start": "2020-04-25", "end": "2999-12-31"}
      |  ]
      |}""".stripMargin

  lazy val declaredDerivedPruneView: String =
    CubeJson.registerJson(declaredDerivedPruneDoc)
}
