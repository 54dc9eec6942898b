package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._
import graft.functions.Measures

/** SQL-routing guards and the metadata-driven rewrites (ADVICE r3 +
  * VERDICT r3 next-round items 1/5/6/7). */
class GraftSqlSpec extends AnyFunSuite {
  import TestSpark._

  test("query result cache: repeats serve the persisted result, a " +
      "metadata commit invalidates") {
    val q = """SELECT o_orderstatus, count(*) AS n FROM graft_star
              |GROUP BY o_orderstatus""".stripMargin
    // warm: routing's own ensure* loads grow the stamp set, which by
    // design costs one benign recompute — warm so the keys compare
    GraftSql.sqlVia(spark, sf, q)
    val r1 = GraftSql.sqlCached(spark, sf, q)
    assert(r1.routed)
    val want = r1.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val r2 = GraftSql.sqlCached(spark, sf, q)
    assert(r2.df eq r1.df, "a repeat must serve the SAME cached frame")
    assert(r2.fromCache && !r1.fromCache,
      "only the hit carries the fromCache mark (ADVICE r12: the " +
        "serving layer reports 0 scan actuals for hits)")
    assert(r2.df.storageLevel.useMemory, "cached result must be persisted")
    // the stamp is the meta's buildId CONTENT, not the file's mtime
    // (ADVICE r10: coarse-mtime stores): a pure mtime touch with the
    // content untouched must NOT invalidate ...
    val inst = CubeManager.ensureBuilt(spark, sf)
    val p = new org.apache.hadoop.fs.Path(
      s"${inst.root}/${inst.cube.name}/${CubeMeta.MetaFile}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setTimes(p, System.currentTimeMillis() + 1000, -1)
    val rt = GraftSql.sqlCached(spark, sf, q)
    assert(rt.df eq r1.df, "an mtime-only touch must NOT invalidate the entry")
    // ... while a REAL metadata commit (save writes a fresh buildId
    // last, as every build/append/refresh/merge does) must flip the
    // key even when (mtime, length) happen to be unchanged — buildId
    // is a fixed-width UUID, so length never moves on a commit
    CubeMeta.save(spark, inst)
    val r3 = GraftSql.sqlCached(spark, sf, q)
    assert(!(r3 eq r1), "a metadata commit must invalidate the entry")
    assert(r3.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      == want)
    // fallback results never cache
    val fb = GraftSql.sqlCached(spark, sf,
      """SELECT o_orderstatus, sum(disc_price)
        |  FILTER (WHERE l_returnflag = 'R') AS x
        |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
    assert(!fb.routed && !fb.df.storageLevel.useMemory)
  }

  test("realization stamps: memoized on (mtime, length) yet a fresh " +
      "commit is re-read inside the trust window") {
    // the memo serves cold metadata from getFileStatus alone, but a
    // file modified within StampTrustAgeMs always gets a content read
    // — so a rewrite that leaves (mtime, length) unchanged (buildId is
    // a fixed-width UUID; coarse-mtime stores can repeat mtime) is
    // still caught as long as commits land within the trust window
    val inst = CubeManager.ensureBuilt(spark, sf)
    val s1 = GraftSql.realizationStamps(spark, sf)
    val id1 = CubeMeta.save(spark, inst)
    val s2 = GraftSql.realizationStamps(spark, sf)
    assert(s1 != s2, "a commit must change the stamp set")
    assert(s2.exists(_._3 == id1), s"stamps must carry the new buildId $id1")
    val id2 = CubeMeta.save(spark, inst) // likely same mtime granule
    val s3 = GraftSql.realizationStamps(spark, sf)
    assert(s3.exists(_._3 == id2) && s2 != s3,
      "a second commit inside the same mtime granule must still be seen")
    // quiescent file: repeated calls are stable (memo or read agree)
    assert(GraftSql.realizationStamps(spark, sf) == s3)
  }

  test("plain spark.sql accelerates through the cube via " +
      "SparkSessionExtensions (no sqlVia call)") {
    // drop result-cache persisted frames first: a routed plan another
    // suite cached (QueryService's default path) would be substituted
    // by Spark's CacheManager during optimization, emptying inputFiles
    // — this test's file-based assertions need the parquet scans
    // visible
    GraftSql.clearResultCache()
    GraftSql.registerViews(spark, sf)
    val q =
      """SELECT n_name, count(*) AS n, min(l_quantity) AS min_qty
        |FROM graft_star WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin
    // un-accelerated: the view's raw star scan, no cuboids
    val plain = spark.sql(q)
    assert(!plain.inputFiles.exists(_.contains("cuboid=")))
    val want = plain.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    spark.conf.set("spark.graft.accelerate", "true")
    try {
      val acc = spark.sql(q)
      assert(acc.inputFiles.exists(_.contains("cuboid=")),
        s"accelerated plan must read cuboid parquet, got " +
          acc.inputFiles.take(3).mkString(", "))
      assert(!acc.inputFiles.exists(_.contains("lineitem")),
        "accelerated plan must not rescan the fact table")
      val got = acc.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want && got.nonEmpty)
      // a shape the router refuses (FILTER clause) stays untouched —
      // same plan, raw scan
      val fb = spark.sql(
        """SELECT o_orderstatus,
          |  sum(disc_price) FILTER (WHERE l_returnflag = 'R') AS x
          |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
      assert(!fb.inputFiles.exists(_.contains("cuboid=")))
      // a type-changing swap is refused: sum(decimal) routes to a
      // double-presented measure, so this query must keep its plain
      // plan (and its decimal schema) rather than change types
      val dec = spark.sql(
        """SELECT n_name, sum(disc_price) AS revenue FROM graft_star
          |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin)
      assert(dec.schema("revenue").dataType.typeName.startsWith("decimal"))
      assert(!dec.inputFiles.exists(_.contains("cuboid=")))
      // explicit model-join SQL (no graft_star reference at all)
      // accelerates through ModelMatcher the same way
      val mj = spark.sql(
        """SELECT n_name, count(*) AS n FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin)
      assert(mj.inputFiles.exists(_.contains("cuboid=")),
        "model-join SQL must accelerate too")
    } finally spark.conf.set("spark.graft.accelerate", "false")
  }

  test("filtered aggregates fall back instead of dropping the FILTER") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus,
        |  sum(disc_price) FILTER (WHERE l_returnflag = 'R') AS r_rev
        |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
    assert(!r.routed, "FILTER (WHERE ...) must not route")
    // and the fallback answer honors the filter
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("l_returnflag") === "R")
      .groupBy("o_orderstatus").agg(sum("disc_price").as("r_rev"))
      .collect().map(x => x.getString(0) -> x.getDecimal(1)).toMap
    val got = r.df.collect().map(x => x.getString(0) -> x.getDecimal(1)).toMap
    assert(got == want)
  }

  test("non-deterministic WHERE predicates fall back") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n FROM graft_star
        |WHERE rand() < 0.5 GROUP BY o_orderstatus""".stripMargin)
    assert(!r.routed)
  }

  test("subquery WHERE predicates fall back instead of crashing") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n FROM graft_star
        |WHERE r_name = (SELECT max(r_name) FROM graft_star)
        |GROUP BY o_orderstatus""".stripMargin)
    assert(!r.routed)
    assert(r.df.count() > 0)
  }

  test("the events cube routes through the same metadata-driven front-end") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT event_type, sum(value) AS total, count(*) AS n
        |FROM graft_events GROUP BY event_type""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val want = TestSpark.eventsFlat(spark, sf)
      .groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
        count(lit(1)).as("n"))
      .collect().map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
    val got = r.df.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("intersect_count SQL: routed answer equals the raw-row UDAF answer") {
    val q =
      """SELECT intersect_count(o_custkey, o_month,
        |  array('1996-03', '1996-04', '1996-05')) AS n3
        |FROM graft_star""".stripMargin
    val routed = GraftSql.sqlVia(spark, sf, q)
    assert(routed.routed && routed.via == "intersect-count")
    // the registered function computes the same thing from raw rows
    Measures.registerIntersectCount(spark)
    GraftSql.registerViews(spark, sf)
    val raw = spark.sql(q).head().getLong(0)
    assert(routed.df.head().getLong(0) == raw)
    // and grouped: per-r_name retention
    val g = GraftSql.sqlVia(spark, sf,
      """SELECT r_name, intersect_count(o_custkey, o_month,
        |  array('1996-03', '1996-04')) AS ret
        |FROM graft_star GROUP BY r_name ORDER BY r_name""".stripMargin)
    assert(g.routed && g.via == "intersect-count")
    val gotG = g.df.collect().map(x => x.getString(0) -> x.getLong(1)).toSeq
    val wantG = spark.sql(
      """SELECT r_name, intersect_count(o_custkey, o_month,
        |  array('1996-03', '1996-04')) AS ret
        |FROM graft_star GROUP BY r_name ORDER BY r_name""".stripMargin)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toSeq
    assert(gotG == wantG && gotG.nonEmpty)
  }

  test("intersect_value: routed members equal the raw-row UDAF answer") {
    val q =
      """SELECT r_name, intersect_value(o_custkey, o_month,
        |  array('1996-03', '1996-04')) AS members
        |FROM graft_star GROUP BY r_name ORDER BY r_name""".stripMargin
    val routed = GraftSql.sqlVia(spark, sf, q)
    assert(routed.routed && routed.via == "intersect-count")
    GraftSql.registerViews(spark, sf)
    val got = routed.df.collect()
      .map(x => x.getString(0) -> x.getSeq[Long](1).toSeq).toMap
    val want = spark.sql(q).collect()
      .map(x => x.getString(0) -> x.getSeq[Long](1).toSeq).toMap
    assert(got == want && want.nonEmpty)
    assert(want.values.exists(_.nonEmpty), "some region retains members")
  }

  test("grouped intersect_count keeps groups with zero rows in all vals") {
    // 1996-04 covers only 22 of 25 brands: the routed answer must still
    // return all 25 groups (absent ones as 0), exactly like the raw-row
    // UDAF fallback (ADVICE r4 high)
    val q =
      """SELECT p_brand, intersect_count(o_custkey, o_month,
        |  array('1996-04')) AS m
        |FROM graft_star GROUP BY p_brand ORDER BY p_brand""".stripMargin
    val routed = GraftSql.sqlVia(spark, sf, q)
    assert(routed.routed && routed.via == "intersect-count")
    val got = routed.df.collect().map(x => x.getString(0) -> x.getLong(1)).toSeq
    GraftSql.registerViews(spark, sf)
    val want = spark.sql(q).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toSeq
    assert(got == want)
    assert(got.exists(_._2 == 0L), "test needs at least one zero group")
    assert(got.size == 25, "all brands present, including zero groups")
  }

  test("intersect_count with a NULL literal val falls back, not NPEs") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT intersect_count(o_custkey, o_month,
        |  array('1996-03', NULL)) AS m
        |FROM graft_star""".stripMargin)
    assert(!r.routed)
    assert(r.df.count() == 1)
  }

  test("intersect dim appearing in GROUP BY falls back cleanly") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_month, intersect_count(o_custkey, o_month,
        |  array('1996-03')) AS m
        |FROM graft_star GROUP BY o_month""".stripMargin)
    assert(!r.routed)
    assert(r.df.count() > 0)
  }

  test("AVG rewrite is gated on the cube's NOT NULL contract") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    GraftSql.registerViews(spark, sf)
    val plan = spark.sql("SELECT avg(l_quantity) AS a FROM graft_star")
      .queryExecution.analyzed
    val ae = plan.collectFirst { case Aggregate(_, aggs, _, _) =>
      aggs.collectFirst { case Alias(e: AggregateExpression, _) => e }
    }.flatten.get
    val cube = CubeManager.defaultCube
    assert(GraftSql.measureOf(cube, ae).isDefined,
      "declared non-null column must route")
    assert(GraftSql.measureOf(cube.copy(notNull = Set.empty), ae).isEmpty,
      "AVG over a column without the NOT NULL contract must fall back")
  }

  test("explicit model join routes and equals the view-path answer") {
    val joined = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin)
    assert(joined.routed, "model join must route")
    val view = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM graft_star GROUP BY l_returnflag""".stripMargin)
    assert(view.routed)
    val a = joined.df.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
    val b = view.df.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("join type must match the declared edge type exactly") {
    // part is LEFT-declared: an inner-written join differs in row
    // preservation and must fall back (JoinDesc.java:35-40)
    val inner = GraftSql.sqlVia(spark, sf,
      """SELECT p_brand, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin)
    assert(!inner.routed, "inner join over a left-declared edge must fall back")
    // orders is INNER-declared: a left-written join must fall back too
    val left = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin)
    assert(!left.routed, "left join over an inner-declared edge must fall back")
    // the declared type routes — and equals the view-path answer
    val declared = GraftSql.sqlVia(spark, sf,
      """SELECT p_brand, count(*) AS n
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin)
    assert(declared.routed, "the declared LEFT type must route")
    val view = GraftSql.sqlVia(spark, sf,
      "SELECT p_brand, count(*) AS n FROM graft_star GROUP BY p_brand")
    assert(view.routed)
    val a = declared.df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = view.df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("a left-declared edge preserves fact rows without a lookup match") {
    import spark.implicits._
    // fact row fk=99 has no lookup match: the LEFT model keeps it (null
    // dim), the inner model drops it — ModelDef.flatten is the single
    // place the declared type is interpreted (CreateFlatTable parity)
    val fact = Seq((10, 1), (99, 2)).toDF("fk", "v")
    val lookup = Seq((10, "x")).toDF("pk", "name")
    val tables: String => org.apache.spark.sql.DataFrame = {
      case "f" => fact
      case "lk" => lookup
    }
    val leftFlat = ModelDef("f",
      Seq(ModelEdge("lk", "f", "pk", "fk", joinType = "left")))
      .flatten(tables)
    assert(leftFlat.count() == 2)
    assert(leftFlat.filter(col("fk") === 99 && col("name").isNull).count() == 1)
    val innerFlat = ModelDef("f", Seq(ModelEdge("lk", "f", "pk", "fk")))
      .flatten(tables)
    assert(innerFlat.count() == 1)
  }

  test("a derived table aliased to a model table name falls back") {
    // ADVICE r5: alias-name matching alone would route this to the cube
    // and silently drop the inner predicate. The alias must stand over a
    // base relation, not a subquery that merely reuses the name.
    val q =
      """SELECT l_returnflag, count(*) AS n
        |FROM (SELECT * FROM lineitem WHERE l_quantity > 30) lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin
    val r = GraftSql.sqlVia(spark, sf, q)
    assert(!r.routed, "derived-table alias must not match the model")
    // and the fallback answer honors the inner predicate
    val all = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin)
    val nFiltered = r.df.agg(org.apache.spark.sql.functions.sum("n"))
      .head().getLong(0)
    val nAll = all.df.agg(org.apache.spark.sql.functions.sum("n"))
      .head().getLong(0)
    assert(nFiltered < nAll)
  }

  test("re-registering views follows the requested sfDir") {
    // ADVICE r5: the memo must track the CURRENT binding per session —
    // after pointing the views at another sf dir, asking for the first
    // again must re-register, not hit a stale (session, sfDir) key.
    val sfB = "/root/testdata/sf0.01"
    GraftSql.registerViews(spark, sf)
    val nA = spark.table("lineitem").count()
    GraftSql.registerViews(spark, sfB)
    val nB = spark.table("lineitem").count()
    assert(nB != nA, "views must re-bind to the new sf dir")
    GraftSql.registerViews(spark, sf)
    assert(spark.table("lineitem").count() == nA,
      "returning to the first sf dir must re-register its views")
  }

  test("wrong join keys, disconnected lookups, non-equi joins fall back") {
    // key pair not a declared model edge
    val wrongKey = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem JOIN orders ON l_partkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin)
    assert(!wrongKey.routed)
    // region joined without nation: its FK carrier is missing
    val disconnected = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN nation ON n_regionkey = o_custkey
        |GROUP BY l_returnflag""".stripMargin)
    assert(!disconnected.routed)
    // extra predicate inside ON: not a pure PK-FK equi-edge
    val nonEqui = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag, count(*) AS n
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |GROUP BY l_returnflag""".stripMargin)
    assert(!nonEqui.routed)
    assert(nonEqui.df.count() > 0, "fallback still answers")
  }

  test("grouped rank-filter: sketch shape routes via topn-measure, near-miss via cuboid") {
    def q(tieBreak: String) =
      s"""SELECT l_returnflag, p_brand, revenue FROM (
         |  SELECT l_returnflag, p_brand, sum(disc_price) AS revenue,
         |    row_number() OVER (PARTITION BY l_returnflag
         |      ORDER BY sum(disc_price) DESC$tieBreak) AS rn
         |  FROM graft_star
         |  GROUP BY l_returnflag, p_brand) t
         |WHERE rn <= 3
         |ORDER BY l_returnflag, p_brand""".stripMargin
    val sketch = GraftSql.sqlVia(spark, sf, q(", p_brand"))
    assert(sketch.routed && sketch.via == "topn-measure")
    // no deterministic tie-break ⇒ the sketch's replay order can't be
    // proven equal to the query's ⇒ generic cuboid route instead
    val loose = GraftSql.sqlVia(spark, sf, q(""))
    assert(loose.routed && loose.via == "cuboid",
      s"expected the generic cuboid route, got ${loose.via}")
    // both agree with Spark's own answer on the deterministic query
    // (the routed frame presents sums as DOUBLE, raw Spark as DECIMAL)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1),
        BigDecimal(r.get(2).toString).toDouble)).toSet
    val own = rows(spark.sql(q(", p_brand")))
    val got = rows(sketch.df)
    assert(got == own && got.nonEmpty)
  }

  test("TopN rewrites accept dim filters off the sketch dims") {
    // pre-merge filter on a NON-sketch dim: still the sketch rewrite
    def q(where: String) =
      s"""SELECT p_brand, sum(disc_price) AS revenue
         |FROM graft_star $where
         |GROUP BY p_brand
         |ORDER BY revenue DESC, p_brand
         |LIMIT 5""".stripMargin
    val filtered = GraftSql.sqlVia(spark, sf, q("WHERE o_orderstatus = 'F'"))
    assert(filtered.routed && filtered.via == "topn-measure",
      s"got ${filtered.via}")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), BigDecimal(r.get(1).toString))).toSeq
    assert(rows(filtered.df) ==
      rows(spark.sql(q("WHERE o_orderstatus = 'F'"))))
    // a filter ON a sketch dim would change top-n semantics after the
    // merge: the sketch refuses, the generic cuboid route answers
    val onSketch = GraftSql.sqlVia(spark, sf, q("WHERE p_brand <> 'Brand#11'"))
    assert(onSketch.routed && onSketch.via == "cuboid", s"got ${onSketch.via}")
    assert(rows(onSketch.df) ==
      rows(spark.sql(q("WHERE p_brand <> 'Brand#11'"))))
  }

  test("CUBE() routes via grouping-sets and equals Spark's own answer") {
    val q =
      """SELECT o_orderstatus, l_returnflag, sum(l_quantity) AS sum_qty
        |FROM graft_star
        |GROUP BY CUBE(o_orderstatus, l_returnflag)
        |ORDER BY o_orderstatus ASC NULLS FIRST, l_returnflag ASC NULLS FIRST""".stripMargin
    val r = GraftSql.sqlVia(spark, sf, q)
    assert(r.routed && r.via == "cuboid-gsets", s"got ${r.via}")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (Option(x.getString(0)), Option(x.getString(1)),
        BigDecimal(x.get(2).toString))).toSeq
    assert(rows(r.df) == rows(spark.sql(q)))
    // rollup touching a NON-dim column cannot route
    val bad = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderpriority, sum(l_quantity) AS sum_qty
        |FROM graft_star GROUP BY ROLLUP(o_orderpriority)""".stripMargin)
    assert(!bad.routed, "non-dim rollup must fall back")
    assert(bad.df.count() > 0)
  }

  test("HAVING over a routed ROLLUP re-applies on the unioned sets") {
    val q =
      """SELECT o_orderstatus, l_returnflag, count(*) AS n_rows
        |FROM graft_star
        |GROUP BY ROLLUP(o_orderstatus, l_returnflag)
        |HAVING n_rows > 1500
        |ORDER BY o_orderstatus ASC NULLS FIRST, l_returnflag ASC NULLS FIRST""".stripMargin
    val r = GraftSql.sqlVia(spark, sf, q)
    assert(r.routed && r.via == "cuboid-gsets", s"got ${r.via}")
    val own = spark.sql(q).collect().map(_.toString).toSeq
    assert(r.df.collect().map(_.toString).toSeq == own && own.nonEmpty)
  }

  test("window over a routed aggregate equals Spark's own answer") {
    val q =
      """SELECT c_mktsegment, n_cust,
        |  row_number() OVER (PARTITION BY big ORDER BY n_cust DESC, c_mktsegment) AS rn
        |FROM (SELECT c_mktsegment, count(distinct o_custkey) AS n_cust,
        |        count(*) > 10000 AS big
        |      FROM graft_star GROUP BY c_mktsegment)
        |ORDER BY rn, c_mktsegment""".stripMargin
    // `big` is a derived (non-attribute) output → this shape must NOT
    // route, but still answer
    val complex = GraftSql.sqlVia(spark, sf, q)
    assert(!complex.routed && complex.df.count() > 0)

    val simple =
      """SELECT c_mktsegment, n_cust,
        |  row_number() OVER (ORDER BY n_cust DESC, c_mktsegment) AS rn
        |FROM (SELECT c_mktsegment, count(distinct o_custkey) AS n_cust
        |      FROM graft_star GROUP BY c_mktsegment)
        |ORDER BY rn""".stripMargin
    val routed = GraftSql.sqlVia(spark, sf, simple)
    assert(routed.routed && routed.via == "cuboid", s"got ${routed.via}")
    GraftSql.registerViews(spark, sf)
    val got = routed.df.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getInt(2))).toSeq
    val want = spark.sql(simple).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getInt(2))).toSeq
    assert(got == want && want.nonEmpty)
  }

  test("extended column without its host dim falls back") {
    val inst = CubeManager.ensureBuilt(spark, sf)
    var usedFallback = false
    val r = QueryRouter.route(spark, inst, CubeQuery(
      Seq("o_year"), Seq("nrows" -> "n"))) {
      usedFallback = true
      spark.emptyDataFrame
    }
    assert(r.fallback && usedFallback,
      "grouping an extended column without its host must not route")
  }

  test("derived dim group-by routes via snapshot join and matches source") {
    val inst = CubeManager.ensureBuilt(spark, sf)
    val r = QueryRouter.route(spark, inst, CubeQuery(
      Seq("n_regionkey"), Seq("nrows" -> "n")))(fail("expected route"))
    assert(r.cuboid.exists(_.contains("n_name")))
    val got = r.df.collect().map(x => x.get(0) -> x.getLong(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .join(graft.Tables.nation(spark, sf), "n_name")
      .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
      .collect().map(x => x.get(0) -> x.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  test("a cube with zero segments falls back cleanly") {
    val inst0 = {
      val i = CubeManager.ensureBuilt(spark, sf)
      i.copy(cube = i.cube.copy(segments = Nil))
    }
    var usedFallback = false
    val r = QueryRouter.route(spark, inst0, CubeQuery(
      Seq("r_name"), Seq("nrows" -> "n"))) {
      usedFallback = true
      spark.emptyDataFrame
    }
    assert(r.fallback && usedFallback)
  }

  test("TopNBuf trim sets the trimmed flag and it survives serde + merge") {
    val b = new Measures.TopNBuf(2, scala.collection.mutable.HashMap.empty)
    (1 to 10).foreach(i => b.add(s"k$i", i.toLong))
    assert(b.trimmed, "overflow past 2*capacity must trim")
    val round = Measures.TopNBuf.fromBytes(b.toBytes)
    assert(round.trimmed)
    val clean = Measures.TopNBuf.empty
    clean.mergeIn(round)
    assert(clean.trimmed, "merge must propagate the trimmed flag")
    val cleanRound = Measures.TopNBuf.fromBytes(Measures.TopNBuf.empty.toBytes)
    assert(!cleanRound.trimmed)
  }

  test("multi-column TopN extraction splits composite keys losslessly") {
    val b = Measures.TopNBuf.empty
    b.add("Brand#1" + Measures.MultiSep + "AUTOMOBILE", 100L)
    b.add("Brand#2" + Measures.MultiSep + "BUILDING", 50L)
    val top = Measures.TopNBuf.fromBytes(b.toBytes).m.toSeq.sortBy(-_._2)
    assert(top.head._1.split(Measures.MultiSep) sameElements
      Array("Brand#1", "AUTOMOBILE"))
  }

  // ── VERDICT r7 item 2: SQL-derived segment pruning ────────────────

  test("a one-sided WHERE range on the segment column prunes segments") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star
        |WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val files = r.df.inputFiles
    assert(files.nonEmpty &&
      files.forall(f => f.contains("/s1999/") || f.contains("/s2001/")),
      s"s1995/s1997 must be pruned, got ${files.take(3).toSeq}")
    val got = r.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .groupBy("o_orderstatus").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  test("a dim predicate AND a time range route together") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT n_name, sum(l_quantity) AS sum_qty FROM graft_star
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    assert(r.df.inputFiles.filter(_.contains("cuboid="))
      .forall(_.contains("/s1997/")))
    val got = r.df.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy("n_name")
      .agg(sum(col("l_quantity")).cast("double").as("q"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  test("time bounds that aren't exact day/segment ranges fall back") {
    // mid-day instant: ceils to 1997-01-02 under the day contract, but
    // that is not month-aligned so the partial segment's residual is
    // inexpressible — refused
    val midday = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n FROM graft_star
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 12:30:00'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(!midday.routed)
    // strict > at midnight: derives [1997-01-02, ∞) under the day
    // contract, but 1997-01-02 is not month-aligned so the partial
    // segment's residual is inexpressible — refused
    val strict = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n FROM graft_star
        |WHERE o_orderdate > TIMESTAMP '1997-01-01'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(!strict.routed)
    // day-aligned but mid-month: partial segment, residual not
    // expressible at month granularity — router refuses
    val midmonth = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n FROM graft_star
        |WHERE o_orderdate >= TIMESTAMP '1997-03-15'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(!midmonth.routed)
    // and every fallback still answers correctly
    assert(midday.df.count() > 0 && strict.df.count() > 0 &&
      midmonth.df.count() > 0)
  }

  // ── VERDICT r8 item 1: closed/equality day shapes ─────────────────

  test("BETWEEN on the segment column routes as an exact day range") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star
        |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
        |  AND TIMESTAMP '1998-12-31'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val files = r.df.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/s1997/")),
      s"BETWEEN must prune to s1997 only, got ${files.take(3).toSeq}")
    val got = r.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") <= lit("1998-12-31").cast("timestamp"))
      .groupBy("o_orderstatus").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  test("a closed <= upper bound routes as < next-day") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star
        |WHERE o_orderdate <= TIMESTAMP '1996-12-31'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val files = r.df.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/s1995/")),
      s"<= 1996-12-31 must prune to s1995 only, got ${files.take(3).toSeq}")
    val got = r.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") <= lit("1996-12-31").cast("timestamp"))
      .groupBy("o_orderstatus").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  test("a mid-day bound that ceils to a segment boundary routes") {
    // under the day contract col >= '1996-12-31 12:30' ⇔ col >=
    // '1997-01-01' (no value sits strictly between the midnights) —
    // FilePruner derives general ranges from arbitrary pushed bounds
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star
        |WHERE o_orderdate >= TIMESTAMP '1996-12-31 12:30:00'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    assert(r.df.inputFiles.nonEmpty &&
      !r.df.inputFiles.exists(_.contains("/s1995/")),
      "the ceiled bound must prune s1995")
    val got = r.df.agg(sum("n_rows")).head().getLong(0)
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") >=
        lit("1996-12-31 12:30:00").cast("timestamp")).count()
    assert(got == want && want > 0)
  }

  test("a closed bound at the max ISO day answers everything, not nothing") {
    // regression: nextDay('9999-12-31') must clamp at the sentinel —
    // LocalDate renders "+10000-01-01", which sorts BEFORE every real
    // date and would invert the range into an empty scan
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star
        |WHERE o_orderdate <= TIMESTAMP '9999-12-31'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val got = r.df.agg(sum("n_rows")).head().getLong(0)
    assert(got == CubeManager.flatTable(spark, sf).count(),
      "the open-ended upper bound must cover the whole corpus")
  }

  test("mid-day equality matches nothing and answers empty either way") {
    // no day-contract value can equal a mid-day instant: whether the
    // derived empty range routes or the residual refuses, the answer
    // must be the fallback's zero rows
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star
        |WHERE o_orderdate = TIMESTAMP '1997-06-15 12:00:00'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.df.count() == 0)
  }

  // ── ADVICE r8: one-sided partial ranges must not require the open
  //    sentinel bound to be expressible on the time dim ──────────────

  test("a one-sided month-aligned bound inside a segment routes via residual") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid",
      s"one-sided partial range must route, got ${r.via}")
    // s1995 pruned; s1997 survives with a lower-bound-only residual
    assert(r.df.inputFiles.nonEmpty &&
      !r.df.inputFiles.exists(_.contains("/s1995/")))
    val got = r.df.agg(sum("n_rows")).head().getLong(0)
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp"))
      .count()
    assert(got == want && want > 0)
  }

  /** a spec-local cube with per-day segments around the busiest 1997
    * order day: `= day` can only prune exactly when segments are
    * day-grained (a month-grain residual cannot filter day rows) */
  private lazy val dayCube: (String, String) = {
    val flat = CubeManager.flatTable(spark, sf)
    val day = flat
      .filter(col("o_orderdate") >= lit("1997-02-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-12-01").cast("timestamp"))
      .groupBy(col("o_orderdate").cast("date").as("d")).count()
      .orderBy(desc("count"), col("d")).limit(1)
      .collect().head.getDate(0).toLocalDate
    val d0 = day.minusDays(1); val d3 = day.plusDays(2)
    val root = java.nio.file.Files.createTempDirectory("graft-daycube").toString
    val dims = Seq("o_orderstatus")
    val cube = CubeDef("star_day", dims,
      Seq(Measure("nrows", fromRaw = count(lit(1)),
        fromState = s => sum(col(s)), answers = Some(SqlAgg.CountAll))),
      segmentCol = "o_orderdate",
      segments = Seq(
        Segment("d0", d0.toString, day.toString),
        Segment("d1", day.toString, day.plusDays(1).toString),
        Segment("d2", day.plusDays(1).toString, d3.toString)),
      cuboids = Seq(dims.toSet),
      segDayGranular = true)
    val inst = CubeBuilder.build(spark,
      flat.filter(col("o_orderdate") >= lit(d0.toString).cast("timestamp") &&
        col("o_orderdate") < lit(d3.toString).cast("timestamp")),
      cube, root)
    GraftSql.registerBinding(GraftSql.Binding("graft_star_day",
      (s, d) => CubeManager.flatTable(s, d), (_, _) => inst))
    (root, day.toString)
  }

  test("equality on a day routes to exactly that day's segment") {
    val (root, day) = dayCube
    val r = GraftSql.sqlVia(spark, sf,
      s"""SELECT o_orderstatus, count(*) AS n_rows FROM graft_star_day
         |WHERE o_orderdate = TIMESTAMP '$day'
         |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val files = r.df.inputFiles
    assert(files.nonEmpty && files.forall(f =>
      f.contains(root) && f.contains("/d1/")),
      s"= $day must scan only the d1 segment, got ${files.take(3).toSeq}")
    val got = r.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") === lit(day).cast("timestamp"))
      .groupBy("o_orderstatus").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  // ── VERDICT r8 item 2: hybrid (time-spliced multi-cube) routing ───

  test("a hybrid splices both member cubes and matches the source") {
    // no time range: each slice serves its full era, states merge
    // across the cutover
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows
        |FROM graft_star_hybrid GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "hybrid", s"got ${r.via}")
    val files = r.df.inputFiles
    assert(files.exists(_.contains("-star_old/")) &&
      files.exists(_.contains("-star_new/")),
      s"both member roots must serve, got ${files.take(3).toSeq}")
    val got = r.df.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
    val want = CubeManager.flatTable(spark, sf)
      .groupBy("o_orderstatus")
      .agg(sum(col("l_quantity")).cast("double").as("q"),
        count(lit(1)).as("n"))
      .collect().map(x => (x.getString(0), x.getDouble(1), x.getLong(2)))
      .toSet
    assert(got == want && want.nonEmpty)
  }

  test("a range inside one era routes through that member only") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star_hybrid
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "hybrid", s"got ${r.via}")
    val files = r.df.inputFiles.filter(_.contains("cuboid="))
    assert(files.nonEmpty && files.forall(_.contains("-star_old/")),
      s"pre-cutover range must stay in the old cube, got ${files.take(3).toSeq}")
    val got = r.df.agg(sum("n_rows")).head().getLong(0)
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .count()
    assert(got == want && want > 0)
  }

  test("a range cutting into both eras splices with per-slice residuals") {
    // [1997-07-01, 2000-07-01): partial s1997 in the old cube (lower
    // residual o_month >= '1997-07'), partial s1999 in the new one
    // (upper residual o_month < '2000-07') — both route, states merge
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star_hybrid
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '2000-07-01'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "hybrid", s"got ${r.via}")
    val files = r.df.inputFiles
    assert(files.exists(_.contains("-star_old/")) &&
      files.exists(_.contains("-star_new/")),
      s"both member roots must serve, got ${files.take(3).toSeq}")
    val got = r.df.agg(sum("n_rows")).head().getLong(0)
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("2000-07-01").cast("timestamp"))
      .count()
    assert(got == want && want > 0)
  }

  test("AVG merges its two states exactly across the hybrid cutover") {
    // MAvg = sum state / count state, each merged independently across
    // the splice — a per-slice avg-of-avgs would be wrong whenever the
    // eras have different row counts
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, avg(l_quantity) AS avg_qty
        |FROM graft_star_hybrid GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "hybrid", s"got ${r.via}")
    val got = r.df.collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .groupBy("o_orderstatus")
      .agg((sum(graft.Exact.dec(col("l_quantity"))).cast("double") /
        count(lit(1))).as("a"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(got.keySet == want.keySet && want.nonEmpty)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-9, s"$k: $v vs ${want(k)}") }
  }

  test("shapes the hybrid refuses fall through to the star realization") {
    // prio_set (DimCountDistinct family) is NOT declared by the hybrid
    // members — the hybrid steps aside and the wide star realization
    // behind the same view answers, not a raw scan
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(distinct o_orderpriority) AS n_prio
        |FROM graft_star_hybrid GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid",
      s"the wide realization must cover, got ${r.via}")
  }

  test("a month-aligned unaligned-to-segment range routes via residual") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n_rows FROM graft_star
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-07-01'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val got = r.df.agg(sum("n_rows")).head().getLong(0)
    val want = CubeManager.flatTable(spark, sf)
      .filter("o_orderdate >= '1996-01-01' and o_orderdate < '1999-07-01'")
      .count()
    assert(got == want)
  }

  test("extended columns and derived dims ride the SQL path with a time range") {
    // extended column (o_year, host o_month) through the view + a
    // derived segment range
    val ext = GraftSql.sqlVia(spark, sf,
      """SELECT o_month, o_year, sum(l_quantity) AS sum_qty
        |FROM graft_star
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY o_month, o_year""".stripMargin)
    assert(ext.routed && ext.via == "cuboid", s"got ${ext.via}")
    val gotE = ext.df.collect()
      .map(x => (x.getString(0), x.getString(1), x.getDouble(2))).toSet
    val wantE = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy("o_month", "o_year")
      .agg(sum(col("l_quantity")).cast("double").as("q"))
      .collect().map(x => (x.getString(0), x.getString(1), x.getDouble(2)))
      .toSet
    assert(gotE == wantE && wantE.nonEmpty)
    // derived-dim FILTER (n_nationkey via the nation snapshot) through
    // the model-join path, combined with the same range
    val der = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_nationkey < 5
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY o_orderstatus""".stripMargin)
    assert(der.routed && der.via == "cuboid", s"got ${der.via}")
    val gotD = der.df.collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    // recompute over the raw joins (the flat table doesn't carry the
    // derived n_nationkey — that's the point of the derived route)
    import graft.Tables.{customer, lineitem, nation, orders}
    val wantD = lineitem(spark, sf)
      .join(orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .join(customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_nationkey") < 5 &&
        col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy("o_orderstatus")
      .agg(sum(col("l_quantity")).cast("double").as("q"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(gotD == wantD && wantD.nonEmpty)
  }

  test("the TopN-sketch rewrite honors a derived time range") {
    // pruned segments drop their sketch states whole; the residual
    // month filter applies to cells PRE-merge (o_month is not a sketch
    // dim), so the replay stays exact over the requested range
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT p_brand, sum(disc_price) AS revenue
        |FROM graft_star
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-07-01'
        |GROUP BY p_brand
        |ORDER BY revenue DESC, p_brand
        |LIMIT 5""".stripMargin)
    assert(r.routed && r.via == "topn-measure", s"got ${r.via}")
    val got = r.df.collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-07-01").cast("timestamp"))
      .groupBy("p_brand")
      .agg(sum(col("disc_price")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("p_brand")).limit(5)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
    assert(got == want && got.size == 5)
  }

  test("a relation merely aliased as the view name must not route") {
    // derived table reusing the view name: routing would silently drop
    // the inner filter
    val derived = GraftSql.sqlVia(spark, sf,
      """SELECT n_name, sum(disc_price) AS rev
        |FROM (SELECT * FROM graft_star WHERE r_name = 'AFRICA') graft_star
        |GROUP BY n_name""".stripMargin)
    assert(!derived.routed, "a shadowing derived table must not route")
    val got = derived.df.collect()
      .map(x => x.getString(0) -> x.getDecimal(1).doubleValue).toMap
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("r_name") === "AFRICA").groupBy("n_name")
      .agg(sum(col("disc_price")).as("rev"))
      .collect().map(x => x.getString(0) -> x.getDecimal(1).doubleValue).toMap
    assert(got == want && want.nonEmpty)
    // a foreign TABLE aliased as the view name: routing would answer
    // from the wrong relation entirely
    val foreign = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders graft_star GROUP BY o_orderstatus""".stripMargin)
    assert(!foreign.routed, "a shadowing table alias must not route")
    val gotN = foreign.df.collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val wantN = graft.Tables.orders(spark, sf)
      .groupBy("o_orderstatus").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(gotN == wantN)
  }

  test("CTEs and subquery wrappers route like the inlined query") {
    val r = GraftSql.sqlVia(spark, sf,
      """WITH top AS (
        |  SELECT n_name, sum(disc_price) AS revenue
        |  FROM graft_star WHERE r_name = 'ASIA' GROUP BY n_name)
        |SELECT * FROM top ORDER BY revenue DESC, n_name LIMIT 3""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val got = r.df.collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("r_name") === "ASIA").groupBy("n_name")
      .agg(sum(col("disc_price")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name")).limit(3)
      .collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
    assert(got == want && got.size == 3)
    // a PRUNING subquery projection changes the output contract and
    // must fall back, not route with extra columns
    val pruned = GraftSql.sqlVia(spark, sf,
      """SELECT n_name FROM (
        |  SELECT n_name, sum(disc_price) AS revenue
        |  FROM graft_star GROUP BY n_name) t""".stripMargin)
    assert(!pruned.routed)
    assert(pruned.df.columns.toSeq == Seq("n_name"))
  }

  test("DISTINCT dim projections route to cuboid cells") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT DISTINCT o_orderstatus, l_returnflag
        |FROM graft_star WHERE r_name = 'ASIA'""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    assert(r.df.inputFiles.forall(_.contains("cuboid=")))
    val got = r.df.collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    val want = CubeManager.flatTable(spark, sf)
      .filter(col("r_name") === "ASIA")
      .select("o_orderstatus", "l_returnflag").distinct().collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("the events cube derives day-granular time pruning from SQL") {
    // ts range unaligned to the (single, month) segment → residual
    // filter on the day dim; the same front-end logic, second cube
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT event_type, count(*) AS n_events,
        |  count(distinct user_id) AS n_users
        |FROM graft_events
        |WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
        |GROUP BY event_type""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val got = r.df.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val want = TestSpark.eventsFlat(spark, sf)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-20").cast("timestamp"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("u"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(got == want && want.nonEmpty)
  }

  // ── VERDICT r7 item 3: UNION ALL routing ──────────────────────────

  test("UNION ALL with an unroutable branch falls back whole") {
    // first branch routable on its own; second groups by a non-dim
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n FROM graft_star
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT o_orderpriority, count(*) AS n FROM graft_star
        |GROUP BY o_orderpriority""".stripMargin)
    assert(!r.routed, "a non-dim branch must refuse the whole union")
    assert(r.df.count() > 0)
  }

  // ── VERDICT r7 item 4: expression-defined measures ────────────────

  test("only the declared defining expression matches the measure") {
    // (1 + l_discount) is NOT the revenue algebra — must not route
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag,
        |  sum(l_extendedprice * (1 + l_discount)) AS x
        |FROM graft_star GROUP BY l_returnflag""".stripMargin)
    assert(!r.routed)
    assert(r.df.count() > 0)
    // a NARROWING cast changes the algebra (truncation) — stripping it
    // would serve the untruncated pre-computed state; must not route
    val narrowed = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag,
        |  sum(CAST(l_extendedprice AS INT) * (1 - l_discount)) AS x
        |FROM graft_star GROUP BY l_returnflag""".stripMargin)
    assert(!narrowed.routed, "truncating casts must refuse the rewrite")
    // AVG over a null-capable expression (CASE without ELSE) refuses
    // even with NOT NULL inputs — COUNT(*) vs non-null count diverge
    val caseAvg = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag,
        |  avg(CASE WHEN l_quantity > 25
        |      THEN l_extendedprice * (1 - l_discount) END) AS x
        |FROM graft_star GROUP BY l_returnflag""".stripMargin)
    assert(!caseAvg.routed)
  }

  // ── VERDICT r8 item 3: commutative-insensitive expression matching ─

  test("the commuted defining expression routes onto the same measure") {
    val commuted = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag,
        |  sum((1 - l_discount) * l_extendedprice) AS revenue
        |FROM graft_star GROUP BY l_returnflag""".stripMargin)
    assert(commuted.routed && commuted.via == "cuboid",
      s"commuted operand order must still match, got ${commuted.via}")
    val straight = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM graft_star GROUP BY l_returnflag""".stripMargin)
    assert(commuted.df.collect().map(x =>
      x.getString(0) -> x.getDouble(1)).toMap ==
      straight.df.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap)
  }

  test("canonicalization: commuted/reassociated match, distinct big literals refuse") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.expressionTree
    val a = expressionTree(col("l_extendedprice") * (lit(1) - col("l_discount")))
    val b = expressionTree((lit(1.0) - col("l_discount")) * col("l_extendedprice"))
    assert(ExprCanon.same(a, b), "commuted multiply must canonicalize equal")
    // association-insensitive: the whole commutative chain flattens
    val c3 = expressionTree(col("a") * (col("b") * col("c")))
    val d3 = expressionTree((col("c") * col("a")) * col("b"))
    assert(ExprCanon.same(c3, d3), "reassociated multiply must match")
    val s3 = expressionTree(col("a") + (col("b") + col("c")))
    val t3 = expressionTree((col("c") + col("a")) + col("b"))
    assert(ExprCanon.same(s3, t3), "reassociated add must match")
    // ADVICE r8: integral literals beyond double precision stay exact
    val big1 = expressionTree(col("x") * lit(9007199254740992L))
    val big2 = expressionTree(col("x") * lit(9007199254740993L))
    assert(!ExprCanon.same(big1, big2),
      "distinct long literals beyond double precision must not collapse")
    // subtraction stays order-sensitive
    val sub1 = expressionTree(col("a") - col("b"))
    val sub2 = expressionTree(col("b") - col("a"))
    assert(!ExprCanon.same(sub1, sub2))
  }

  test("canonicalization preserves EvalMode: try_multiply never matches " +
      "the plain measure algebra (ADVICE r9)") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{
      EvalMode, Multiply, NumericEvalContext}
    val a = UnresolvedAttribute("a")
    val b = UnresolvedAttribute("b")
    val tryMode = NumericEvalContext(EvalMode.TRY)
    // sum(try_multiply(a,b)) must NOT canonicalize to sum(a*b): the
    // cube's plain-multiply state overflow-errors (or wraps) where TRY
    // nulls — serving it would silently change overflow semantics.
    // `.sql` renders eval modes invisibly, so the only safe contract
    // is refusal: canon is None for any non-default-mode arithmetic,
    // and the query falls through to the raw scan
    assert(ExprCanon.canon(Multiply(a, b, tryMode)).isEmpty,
      "TRY-mode arithmetic must refuse canonicalization")
    assert(!ExprCanon.same(Multiply(a, b, tryMode), Multiply(a, b)),
      "TRY-mode multiply must not collapse onto the plain measure")
    // the session-default context still canonicalizes (the guard
    // refuses only NON-default modes)
    assert(ExprCanon.same(Multiply(a, b), Multiply(b, a)))
  }

  test("ORDER BY and LIMIT above a routed UNION ALL peel and re-apply") {
    val sql =
      """SELECT n_name, sum(disc_price) AS revenue
        |FROM graft_star WHERE r_name = 'ASIA' GROUP BY n_name
        |UNION ALL
        |SELECT n_name, sum(disc_price) AS revenue
        |FROM graft_star WHERE r_name = 'EUROPE' GROUP BY n_name
        |ORDER BY revenue DESC, n_name
        |LIMIT 7""".stripMargin
    val r = GraftSql.sqlVia(spark, sf, sql)
    assert(r.routed && r.via == "cuboid-union", s"got ${r.via}")
    // the routed answer PRESENTS the decimal state as double (same as
    // every routed measure); Spark's own answer keeps the decimal
    def num(x: Any): Double = x match {
      case d: java.math.BigDecimal => d.doubleValue
      case d: Double => d
    }
    val got = r.df.collect().map(x => (x.getString(0), num(x.get(1)))).toSeq
    val want = spark.sql(sql).collect()
      .map(x => (x.getString(0), num(x.get(1)))).toSeq
    assert(got == want && got.size == 7)
  }

  test("COUNT(col) routes onto the row counter only under NOT NULL") {
    // l_quantity is declared NOT NULL → count(l_quantity) == count(*)
    val ok = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(l_quantity) AS n
        |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
    assert(ok.routed && ok.via == "cuboid", s"got ${ok.via}")
    val got = ok.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .groupBy("o_orderstatus").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
    // p_brand rides a LEFT edge (nullable): count(p_brand) must NOT
    // borrow the row counter
    val no = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(p_brand) AS n
        |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
    assert(!no.routed)
  }

  test("AVG over the defining expression routes as sum state / count") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag,
        |  avg(l_extendedprice * (1 - l_discount)) AS avg_rev
        |FROM graft_star GROUP BY l_returnflag""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val got = r.df.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .groupBy("l_returnflag")
      .agg((sum(col("disc_price")).cast("double") / count(lit(1)))
        .as("avg_rev"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  test("the literal revenue algebra routes through the model-join path") {
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    val got = r.df.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val want = CubeManager.flatTable(spark, sf)
      .groupBy("l_returnflag")
      .agg(sum(col("disc_price")).cast("double").as("revenue"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  // ── hybrids serve EVERY member measure family (VERDICT r9 item 4):
  // the sketch/bitmap/dim-as-measure rewrites consume the time-spliced
  // states exactly like the generic path (HybridStorageQuery serves all
  // member measures through its unioned tuple iterators)

  test("TopN sketch answers over the hybrid splice") {
    val sql =
      """SELECT p_brand, sum(disc_price) AS revenue
        |FROM %s
        |GROUP BY p_brand
        |ORDER BY revenue DESC, p_brand
        |LIMIT 5""".stripMargin
    val h = GraftSql.sqlVia(spark, sf, sql.format("graft_star_hybrid"))
    assert(h.routed && h.via == "hybrid", s"got ${h.via}")
    // both member eras contribute (sketch states union across cutover)
    val files = h.df.inputFiles
    assert(files.exists(_.contains("-star_old/")) &&
      files.exists(_.contains("-star_new/")))
    val star = GraftSql.sqlVia(spark, sf, sql.format("graft_star"))
    assert(star.via == "topn-measure")
    assert(h.df.collect().toSeq == star.df.collect().toSeq)
  }

  test("intersect_count answers over the hybrid splice") {
    val sql =
      """SELECT intersect_count(o_custkey, o_month,
        |    array('1996-03', '1996-04')) AS n_retained,
        |  intersect_count(o_custkey, o_month,
        |    array('1999-03', '1999-04')) AS n_after
        |FROM %s""".stripMargin
    val h = GraftSql.sqlVia(spark, sf, sql.format("graft_star_hybrid"))
    assert(h.routed && h.via == "hybrid", s"got ${h.via}")
    val star = GraftSql.sqlVia(spark, sf, sql.format("graft_star"))
    assert(star.via == "intersect-count")
    // one retention window per member era, both equal the single-cube
    // answers (bitmap states AND across the splice exactly)
    assert(h.df.head() == star.df.head())
  }

  test("explainRoute traces the routing decision — the " +
      "RealizationCheck surface") {
    // a served query names its winning realization, cuboid, segments
    val ok = GraftSql.explainRoute(spark, sf,
      """SELECT o_orderstatus, sum(disc_price) AS revenue
        |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
    assert(ok.routed && ok.via == "cuboid")
    val serve = ok.trace.filter(_.stage == "serve")
    assert(serve.nonEmpty, s"trace: ${ok.trace}")
    assert(serve.exists(e => e.reason.contains("cuboid") &&
      e.reason.contains("segments")), s"trace: $serve")
    assert(ok.pretty.contains("routed=true"))

    // UNMATCHED_AGGREGATION: no declared measure answers stddev
    val badAgg = GraftSql.explainRoute(spark, sf,
      """SELECT o_orderstatus, stddev(l_quantity) AS s
        |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
    assert(!badAgg.routed)
    assert(badAgg.trace.exists(e => e.stage == "recognize" &&
      e.reason.contains("unmatched aggregation")),
      s"trace: ${badAgg.trace}")

    // UNMATCHED_DIMENSION: l_quantity is a raw column, not a rowkey dim
    val badDim = GraftSql.explainRoute(spark, sf,
      """SELECT l_quantity, count(*) AS n
        |FROM graft_star GROUP BY l_quantity""".stripMargin)
    assert(!badDim.routed)
    assert(badDim.trace.exists(e => e.stage == "recognize" &&
      e.reason.contains("unmatched dimension") &&
      e.reason.contains("l_quantity")), s"trace: ${badDim.trace}")

    // an unbound FROM: the bind stage refuses, naming the reason
    spark.sql("CREATE OR REPLACE TEMP VIEW rt_plain AS SELECT 1 AS a")
    val noBind = GraftSql.explainRoute(spark, sf,
      "SELECT a, count(*) AS n FROM rt_plain GROUP BY a")
    assert(!noBind.routed)
    assert(noBind.trace.exists(_.stage == "bind"),
      s"trace: ${noBind.trace}")

    // no aggregate at all: the shape stage refuses
    val noAgg = GraftSql.explainRoute(spark, sf,
      "SELECT * FROM graft_star LIMIT 3")
    assert(!noAgg.routed)
    assert(noAgg.trace.exists(_.stage == "shape"),
      s"trace: ${noAgg.trace}")

    // tracing is scoped to explainRoute: the plain serving path
    // collects nothing (note() is a no-op off-thread by design)
    val (_, empty) = {
      GraftSql.sqlVia(spark, sf,
        """SELECT o_orderstatus, sum(disc_price) AS revenue
          |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
      RouteTrace.collect(())
    }
    assert(empty.isEmpty)
  }

  test("dimension-as-measure answers over the hybrid splice") {
    val sql =
      """SELECT o_orderstatus, max(o_month) AS last_month,
        |  sum(disc_price) AS revenue
        |FROM %s GROUP BY o_orderstatus""".stripMargin
    val h = GraftSql.sqlVia(spark, sf, sql.format("graft_star_hybrid"))
    assert(h.routed && h.via == "hybrid", s"got ${h.via}")
    val star = GraftSql.sqlVia(spark, sf, sql.format("graft_star"))
    assert(star.via == "cuboid-dimagg")
    val key = (r: org.apache.spark.sql.Row) => r.getString(0)
    assert(h.df.collect().sortBy(key).toSeq ==
      star.df.collect().sortBy(key).toSeq)
  }

}
