package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // FAIR scheduling so QueryService's per-query pools are live in
      // the serving spec (static: read at SparkContext creation)
      .config("spark.scheduler.mode", "FAIR")
      // transparent-acceleration rule installed suite-wide but gated
      // off by default (spark.graft.accelerate) — only the
      // acceleration spec flips it on, around its own assertions
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // static confs the Thriftserver spec needs at session build:
      // JDBC sessions share THIS session (so its temp views serve),
      // and metastore/derby artifacts land in tmp, not the repo
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=" +
          System.getProperty("java.io.tmpdir") +
          "/graft-test-metastore;create=true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** the built-in events cube's flat table, through its declared
    * flat builder */
  def eventsFlat(s: SparkSession, d: String): DataFrame =
    graft.cube.CubeJson.flatBuilder(graft.cube.BuiltinCubes.events)(s, d)
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle-checked query key has matching columns in its SQL") {
    // sanity: every oracleSql key exists in queries
    SparkEntry.oracleSql.keys.foreach(k => assert(SparkEntry.queries.contains(k)))
  }

  test("all relational queries run non-empty on sf0.001") {
    val empty = Seq("q18_anti_join") // may legitimately be small
    queries.Relational.queries.foreach { q =>
      val df = q.run(spark, sf)
      assert(df.schema.nonEmpty, s"${q.name} has empty schema")
      if (!empty.contains(q.name))
        assert(df.count() > 0, s"${q.name} returned 0 rows")
    }
  }

  test("q02 pricing summary is exact") {
    val rows = SparkEntry.queries("q02_agg_pricing")(spark, sf).collect()
    assert(rows.length == 6) // 3 returnflags x 2 linestatus
    val counts = rows.map(_.getAs[Long]("count_order")).sum
    val total = Tables.lineitem(spark, sf)
      .filter("l_shipdate <= timestamp'2001-09-01'").count()
    assert(counts == total)
  }

  test("q07 top-n per group never exceeds 3 per brand") {
    val rows = SparkEntry.queries("q07_topn_per_group")(spark, sf).collect()
    val perBrand = rows.groupBy(_.getAs[String]("p_brand")).view.mapValues(_.length)
    assert(perBrand.values.forall(_ <= 3))
  }

  test("q10 exact distinct matches dropDuplicates count") {
    val got = SparkEntry.queries("q10_count_distinct")(spark, sf).collect()
      .map(r => r.getAs[String]("o_orderstatus") -> r.getAs[Long]("n_customers")).toMap
    val o = Tables.orders(spark, sf)
    val expect = o.select("o_orderstatus", "o_custkey").distinct()
      .groupBy("o_orderstatus").count().collect()
      .map(r => r.getAs[String]("o_orderstatus") -> r.getAs[Long]("count")).toMap
    assert(got == expect)
  }
}
