package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._
import graft.queries.CubeQueries

/** VERDICT r14 item 1: declarative cube metadata. A cube is DATA — a
  * JSON document an operator authors and deploys at runtime, with no
  * Scala definition and no recompile (reference: core-cube/model/
  * CubeDesc.java:99, a RootPersistentEntity serialized as JSON). The
  * measure-SPEC layer constructs the closure-bearing Measures; the
  * built-in cubes are such documents too, pinned here against their
  * layout from before they were (same dims, cuboid ids and measure
  * algebra, so no committed layout rebuilds). */
class CubeJsonSpec extends AnyFunSuite {
  import TestSpark._

  /** every part of a built-in cube a declaration must reproduce: the
    * fingerprint, cuboid and dim order, per-measure algebra (including
    * the closures outside the fingerprint, rendered on a placeholder
    * column) and every plain-data field */
  private def pinOf(c: CubeDef): Seq[String] = {
    def tree(x: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftbridge.ColumnBridge.expressionTree(x)
    def sqlOf(x: org.apache.spark.sql.Column) =
      scala.util.Try(tree(x).sql).getOrElse(x.toString)
    CubeMeta.fingerprint(c).split("[|;]").toSeq.map("fp " + _) ++ Seq(
      s"cuboids ${c.cuboids.map(c.cuboidId).mkString(",")}",
      s"dims ${c.dims.mkString(",")}") ++
    c.measures.map(m => s"measure ${m.name} answers=${m.answers} " +
      s"sumOf=${m.answersSumOf.flatMap(x => ExprCanon.canon(tree(x)))} " +
      s"topn=${m.topnShape} heavy=${m.heavyState} " +
      s"state=${sqlOf(m.fromState("s"))} present=${sqlOf(m.present(col("s")))}") ++
    Seq(s"derived ${c.derived}", s"extended ${c.extended}",
      s"notNull ${c.notNull.toSeq.sorted}", s"shardBy ${c.shardBy}",
      s"timeDim ${c.timeDim.map(t => (t.name, t.toDimValue("2024-01-01"),
        t.toDimValue("2024-01-15")))}",
      s"segDayGranular ${c.segDayGranular}",
      s"dictColumns ${c.dictColumns.toSeq.sorted}",
      s"sharedDictRoot ${c.sharedDictRoot}",
      s"segmentCol ${c.segmentCol}", s"segments ${c.segments}")
  }

  /** the built-ins' [[pinOf]] lines and star flat schema, captured
    * before their compiled declarations became documents */
  private val StarPin: Seq[String] = Seq(
    "fp dims=o_month,r_name,n_name,c_mktsegment,o_orderstatus,l_returnflag,p_brand",
    "fp cuboids=1,6,9,48,55,112,127",
    "fp measures=revenue:SumOf(disc_price)::sum(disc_price)",
    "fp qty:SumOf(l_quantity)::sum(CAST(l_quantity AS DECIMAL(18,2)))",
    "fp nrows:CountAll::count(1)",
    "fp qty_min:MinOf(l_quantity)::min(l_quantity)",
    "fp price_max:MaxOf(l_extendedprice)::max(l_extendedprice)",
    "fp prio_set:CountDistinctOf(o_orderpriority)::collect_set(o_orderpriority)",
    "fp o_year_ext:::max(o_year)",
    "fp cust_bitmap:CountDistinctOf(o_custkey)::bitmapaggregator$(o_custkey)",
    "fp cust_hll:ApproxDistinctOf(o_custkey)::hllaggregator$(o_custkey)",
    "fp brand_topn::TopNShape(List(p_brand),disc_price,10000):topnaggregator$(p_brand, disc_price_micros)",
    "fp brandseg_topn::TopNShape(List(p_brand, c_mktsegment),disc_price,10000):topnaggregator$(concat_ws('', p_brand, c_mktsegment), disc_price_micros)",
    "fp qty_kll:PercentileOf(l_quantity)::kllaggregator$(l_quantity)",
    "fp raw_hi:::collect_list(raw_hi_price)",
    "fp cname_bitmap:::bitmapaggregator$(c_name_id)",
    "fp segCol=o_orderdate",
    "fp timeDim=o_month",
    "fp shard=r_name",
    "fp derived=DerivedDim(n_nationkey,n_name,nation)",
    "fp DerivedDim(n_regionkey,n_name,nation)",
    "fp extended=ExtendedColumn(o_year,o_month,o_year_ext)",
    "fp notNull=disc_price,l_discount,l_extendedprice,l_quantity",
    "cuboids 127,55,112,48,6,9,1",
    "dims o_month,r_name,n_name,c_mktsegment,o_orderstatus,l_returnflag,p_brand",
    "measure revenue answers=Some(SumOf(disc_price)) sumOf=Some((('1' - l_discount) * l_extendedprice)) topn=None heavy=false state=sum(s) present=CAST(s AS DOUBLE)",
    "measure qty answers=Some(SumOf(l_quantity)) sumOf=None topn=None heavy=false state=sum(s) present=CAST(s AS DOUBLE)",
    "measure nrows answers=Some(CountAll) sumOf=None topn=None heavy=false state=sum(s) present=s",
    "measure qty_min answers=Some(MinOf(l_quantity)) sumOf=None topn=None heavy=false state=min(s) present=s",
    "measure price_max answers=Some(MaxOf(l_extendedprice)) sumOf=None topn=None heavy=false state=max(s) present=s",
    "measure prio_set answers=Some(CountDistinctOf(o_orderpriority)) sumOf=None topn=None heavy=false state=array_distinct(flatten(collect_list(s))) present=CAST(size(s) AS BIGINT)",
    "measure o_year_ext answers=None sumOf=None topn=None heavy=false state=max(s) present=s",
    "measure cust_bitmap answers=Some(CountDistinctOf(o_custkey)) sumOf=None topn=None heavy=false state=bitmapunionaggregator$(s) present=UDF(s)",
    "measure cust_hll answers=Some(ApproxDistinctOf(o_custkey)) sumOf=None topn=None heavy=true state=hllunionaggregator$(s) present=UDF(s)",
    "measure brand_topn answers=None sumOf=None topn=Some(TopNShape(List(p_brand),disc_price,10000)) heavy=false state=topnunionaggregator$(s) present=s",
    "measure brandseg_topn answers=None sumOf=None topn=Some(TopNShape(List(p_brand, c_mktsegment),disc_price,10000)) heavy=false state=topnunionaggregator$(s) present=s",
    "measure qty_kll answers=Some(PercentileOf(l_quantity)) sumOf=None topn=None heavy=false state=kllunionaggregator$(s) present=UDF(s, 0.5)",
    "measure raw_hi answers=None sumOf=None topn=None heavy=false state=flatten(collect_list(s)) present=s",
    "measure cname_bitmap answers=None sumOf=None topn=None heavy=false state=bitmapunionaggregator$(s) present=UDF(s)",
    "derived List(DerivedDim(n_nationkey,n_name,nation), DerivedDim(n_regionkey,n_name,nation))",
    "extended List(ExtendedColumn(o_year,o_month,o_year_ext))",
    "notNull List(disc_price, l_discount, l_extendedprice, l_quantity)",
    "shardBy Some(r_name)",
    "timeDim Some((o_month,Some(2024-01),None))",
    "segDayGranular true",
    "dictColumns List(c_name)",
    "sharedDictRoot false",
    "segmentCol o_orderdate",
    "segments List(Segment(s1995,1995-01-01,1997-01-01), Segment(s1997,1997-01-01,1999-01-01), Segment(s1999,1999-01-01,2001-01-01), Segment(s2001,2001-01-01,2003-01-01))")

  private val EventsPin: Seq[String] = Seq(
    "fp dims=ev_day,event_type",
    "fp cuboids=1,2,3",
    "fp measures=n_events:CountAll::count(1)",
    "fp value_sum:SumOf(value)::sum(CAST(value AS DECIMAL(18,2)))",
    "fp user_bitmap:CountDistinctOf(user_id)::bitmapaggregator$(user_id)",
    "fp segCol=ts",
    "fp timeDim=ev_day",
    "fp shard=",
    "fp derived=",
    "fp extended=",
    "fp notNull=value",
    "cuboids 3,1,2",
    "dims ev_day,event_type",
    "measure n_events answers=Some(CountAll) sumOf=None topn=None heavy=false state=sum(s) present=s",
    "measure value_sum answers=Some(SumOf(value)) sumOf=None topn=None heavy=false state=sum(s) present=CAST(s AS DOUBLE)",
    "measure user_bitmap answers=Some(CountDistinctOf(user_id)) sumOf=None topn=None heavy=false state=bitmapunionaggregator$(s) present=UDF(s)",
    "derived List()",
    "extended List()",
    "notNull List(value)",
    "shardBy None",
    "timeDim Some((ev_day,Some(2024-01-01),Some(2024-01-15)))",
    "segDayGranular false",
    "dictColumns List()",
    "sharedDictRoot false",
    "segmentCol ts",
    "segments List(Segment(s2024m1,2024-01-01,2024-02-01))")

  private val StarFlatDdl: String = Seq(
    "l_orderkey BIGINT",
    "l_linenumber INT",
    "r_name STRING",
    "n_name STRING",
    "c_mktsegment STRING",
    "o_orderstatus STRING",
    "o_orderpriority STRING",
    "l_returnflag STRING",
    "p_brand STRING",
    "o_month STRING",
    "o_year STRING",
    "o_orderdate TIMESTAMP_NTZ",
    "l_quantity DOUBLE",
    "o_custkey BIGINT",
    "l_extendedprice DOUBLE",
    "l_discount DOUBLE",
    "disc_price DECIMAL(24,4)",
    "disc_price_micros BIGINT",
    "raw_hi_price DOUBLE",
    "c_name STRING").mkString(",")

  test("the built-in star and events cubes keep their fingerprints, " +
      "lattices, measure algebra and star flat schema") {
    def diff(got: Seq[String], want: Seq[String]) =
      got.zipAll(want, "<none>", "<none>").filter { case (g, w) => g != w }
    assert(diff(pinOf(CubeManager.defaultCube), StarPin).isEmpty)
    assert(diff(pinOf(CubeManager.eventsCube), EventsPin).isEmpty)
    assert(CubeManager.flatTable(spark, sf).schema.toDDL == StarFlatDdl)
  }

  test("a declaration colliding with a built-in root refuses at " +
      "deploy unless it fingerprints identically") {
    // a DIFFERING def on a built-in's declared root (`<sf>-events`,
    // `<sf>-star_old`, `<sf>-star_new`) would ping-pong rebuilds (each
    // side reads the other's commit as drift). The star lives at the
    // BARE sf root, so a declared "star" never collides.
    def refusal(spec: CubeJson.JsonCube): String =
      intercept[IllegalArgumentException](CubeJson.register(spec)).getMessage
    assert(refusal(BuiltinCubes.star.copy(name = "events",
      view = Some("graft_events_differing"))).contains("ping-pong"))
    // the hybrid member names are declarable now that they are
    // dash-free — a differing member document refuses the same way
    assert(refusal(BuiltinCubes.events.copy(name = "star_old",
      view = Some("graft_star_old_differing"))).contains("ping-pong"))
    // a fingerprint-identical document may take the layout over
    assert(CubeJson.register(BuiltinCubes.events.copy(
      view = Some("graft_events_twin"))) == "graft_events_twin")
    // scoping onto a built-in's root refuses whatever the fingerprint
    assert(refusal(BuiltinCubes.events.copy(name = "scoped_events",
      rootScope = Some("events"))).contains("rootScope 'events'"))
    // storage/SQL-hostile names refuse in validation (a dash would
    // also make the default view name unparseable SQL)
    assert(intercept[IllegalArgumentException](
      CubeJson.parse(BuiltinCubes.StarJson.replace("\"name\": \"star\"",
        "\"name\": \"my-cube\""))).getMessage.contains("alphanumeric"))
  }

  test("the shipped example documents parse, validate, and construct") {
    val dir = java.nio.file.Paths.get("examples/cube-defs")
    val orders = new String(java.nio.file.Files.readAllBytes(
      dir.resolve("orders.json")), "UTF-8")
    val spec = CubeJson.parse(orders)
    assert(CubeJson.toCubeDef(spec).cuboids.nonEmpty)
    assert(spec.retentionDays.contains(3650))
    val real = new String(java.nio.file.Files.readAllBytes(
      dir.resolve("sales_realization.json")), "UTF-8")
    val r = CubeJson.parseRealization(real)
    (Seq(r.primary) ++ r.alternates ++
      r.hybrid.toSeq.flatMap(h => Seq(h.oldCube, h.newCube)))
      .foreach(c => assert(CubeJson.toCubeDef(c).cuboids.nonEmpty))
  }

  test("render ∘ parse is the identity on the document") {
    val spec = BuiltinCubes.star
    assert(CubeJson.parse(CubeJson.render(spec)) == spec)
  }

  test("malformed documents fail at deploy time with the part named") {
    def err(json: String): String =
      intercept[IllegalArgumentException](CubeJson.parse(json)).getMessage
    assert(err("""{"name": ""}""").nonEmpty) // unparseable/empty
    val base =
      """{"name": "x", "model": {"fact": "orders"},
        |"dims": ["a"], "segmentCol": "d",
        |"segments": [{"name": "s", "start": "1992-01-01",
        |              "end": "2003-01-01"}],
        |"measures": [%s]}""".stripMargin
    assert(err(base.format(
      """{"name": "m", "family": "frobnicate"}"""))
      .contains("unknown family"))
    assert(err(base.format(
      """{"name": "m", "family": "sum"}"""))
      .contains("needs a column"))
    assert(err(base.format(
      """{"name": "m", "family": "topn"}"""))
      .contains("needs a topn shape"))
    assert(err(base.format(
      """{"name": "m", "family": "sum", "column": "c",
        | "answers": "gibberish:c"}""".stripMargin))
      .contains("unparseable answers"))
  }

  test("declared segments must tile their span: overlaps, gaps, and " +
      "duplicate names refuse at deploy time (ADVICE r15)") {
    def doc(segments: String) =
      s"""{"name": "segcheck", "model": {"fact": "orders"},
         |"dims": ["o_orderstatus"], "segmentCol": "o_orderdate",
         |"measures": [{"name": "n", "family": "count"}],
         |"segments": [$segments]}""".stripMargin
    def err(segments: String): String =
      intercept[IllegalArgumentException](
        CubeJson.parse(doc(segments))).getMessage
    // overlap: shared rows would build into BOTH segments and the
    // router sums all overlapping segments — double-counted aggregates
    assert(err(
      """{"name": "a", "start": "1995-01-01", "end": "1997-01-01"},
        |{"name": "b", "start": "1996-01-01", "end": "1999-01-01"}"""
        .stripMargin).contains("overlap"))
    // gap: rows inside the declared span but outside every segment
    // would silently vanish (the builder's coverage check is global
    // min/max only)
    assert(err(
      """{"name": "a", "start": "1995-01-01", "end": "1996-01-01"},
        |{"name": "b", "start": "1997-01-01", "end": "1999-01-01"}"""
        .stripMargin).contains("gap"))
    assert(err(
      """{"name": "a", "start": "1995-01-01", "end": "1996-01-01"},
        |{"name": "a", "start": "1996-01-01", "end": "1999-01-01"}"""
        .stripMargin).contains("duplicate segment names"))
    // a contiguous tiling parses
    assert(CubeJson.parse(doc(
      """{"name": "a", "start": "1995-01-01", "end": "1996-01-01"},
        |{"name": "b", "start": "1996-01-01", "end": "1999-01-01"}"""
        .stripMargin)).segments.size == 2)
  }

  test("two views declaring the same cube NAME with differing " +
      "fingerprints refuse (shared root would ping-pong rebuilds); " +
      "same-view redeploys stay allowed (ADVICE r15)") {
    def doc(view: String, dims: String) =
      s"""{"name": "collide_name", "view": "$view",
         |"model": {"fact": "orders"},
         |"flatColumns": [{"name": "o_orderstatus"},
         |  {"name": "o_orderpriority"}, {"name": "o_orderdate"}],
         |"dims": [$dims], "segmentCol": "o_orderdate",
         |"measures": [{"name": "n", "family": "count"}],
         |"segments": [{"name": "all", "start": "1992-01-01",
         |              "end": "2003-01-01"}]}""".stripMargin
    CubeJson.register(CubeJson.parse(doc("collide_v1",
      "\"o_orderstatus\"")))
    // a DIFFERENT view declaring the same cube name with a different
    // fingerprint shares the storage root <sf>-collide_name: refused
    assert(intercept[IllegalArgumentException](
      CubeJson.register(CubeJson.parse(doc("collide_v2",
        "\"o_orderstatus\", \"o_orderpriority\""))))
      .getMessage.contains("different fingerprint"))
    // an IDENTICAL fingerprint under another view is a legitimate
    // shared realization
    CubeJson.register(CubeJson.parse(doc("collide_v3",
      "\"o_orderstatus\"")))
    // the declaring view itself may redeploy a CHANGED document…
    // (only once no other view shares the name)
    CubeJson.register(CubeJson.parse(doc("collide_v3",
      "\"o_orderpriority\"").replace("collide_name", "collide_name2")))
    // …which releases its old name: v1 still owns collide_name, so a
    // drifted redeploy under v1 is fine too
    CubeJson.register(CubeJson.parse(doc("collide_v1",
      "\"o_orderstatus\", \"o_orderpriority\"")))

    // a REFUSED redeploy must not erase the guard's memory: v1's old
    // registration keeps serving, so its claims must survive the
    // refusal (release-before-check would let a later conflicting
    // view slip past while v1 still owns the root)
    def member(name: String, view: String, dims: String) =
      s"""{"name": "$name", "view": "$view",
         |"model": {"fact": "orders"},
         |"flatColumns": [{"name": "o_orderstatus"},
         |  {"name": "o_orderpriority"}, {"name": "o_orderdate"}],
         |"dims": [$dims], "segmentCol": "o_orderdate",
         |"measures": [{"name": "n", "family": "count"}],
         |"segments": [{"name": "all", "start": "1992-01-01",
         |              "end": "2003-01-01"}]}""".stripMargin
    CubeJson.register(CubeJson.parse( // another view's live claim
      member("guard_other", "guard_other_view", "\"o_orderstatus\"")))
    // v1 redeploys as a GROUP whose second member conflicts with
    // guard_other (different fingerprint) → the whole deploy refuses…
    val badGroup =
      s"""{"view": "collide_v1",
         |"primary": ${member("collide_name", "unused_v",
              "\"o_orderstatus\"")},
         |"alternates": [${member("guard_other", "unused_v2",
              "\"o_orderstatus\", \"o_orderpriority\"")}]}""".stripMargin
    assert(intercept[IllegalArgumentException](
      CubeJson.registerRealization(CubeJson.parseRealization(badGroup)))
      .getMessage.contains("different fingerprint"))
    // …and v1's prior claim on collide_name is INTACT: a different
    // view with a drifted fingerprint still refuses
    assert(intercept[IllegalArgumentException](
      CubeJson.register(CubeJson.parse(doc("collide_v9",
        "\"o_orderpriority\"")))).getMessage
      .contains("different fingerprint"))
  }

  test("a JSON-declared cube registers at runtime, builds, routes " +
      "SQL, and survives a restart as a pure metadata load") {
    val view = CubeQueries.declaredOrdersView // registers once per JVM
    GraftSql.registerViews(spark, sf)

    val q =
      s"""SELECT o_orderstatus, sum(o_totalprice) AS price_sum,
         |  count(*) AS n_orders
         |FROM $view GROUP BY o_orderstatus""".stripMargin
    val r = GraftSql.sqlVia(spark, sf, q)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    assert(r.df.inputFiles.exists(f =>
      f.contains("-orders_json/") && f.contains("cuboid=")),
      s"must scan the declared cube's cuboids, got " +
        r.df.inputFiles.take(3).mkString(", "))

    val got = r.df.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
    val want = Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(sum(Exact.dec(col("o_totalprice"))).cast("double").as("p"),
           count(lit(1)).as("n"))
      .collect().map(x => (x.getString(0), x.getDouble(1), x.getLong(2)))
      .toSet
    assert(got == want && want.nonEmpty)

    // a time-ranged query prunes to the covering segment
    val pr = GraftSql.sqlVia(spark, sf,
      s"""SELECT o_orderstatus, count(*) AS n_orders FROM $view
         |WHERE o_orderdate >= TIMESTAMP '1999-01-01'
         |GROUP BY o_orderstatus""".stripMargin)
    assert(pr.routed && pr.via == "cuboid")
    assert(pr.df.inputFiles.forall(_.contains("/h2/")),
      "range in the second segment must prune the first")

    // simulated restart: the declared cube loads its committed meta —
    // no build phase fires
    CubeManager.resetMemos()
    val phasesBefore = CubeBuilder.phaseTotals
    val r2 = GraftSql.sqlVia(spark, sf, q)
    assert(r2.routed && r2.via == "cuboid")
    assert(r2.df.collect().length == got.size)
    assert(CubeBuilder.phaseTotals == phasesBefore,
      "restarted process must serve the declared cube from meta.json")
  }

  test("store-resident declarations: a JSON file dropped in the conf " +
      "dir registers with zero code; bad files skip; unchanged files " +
      "are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cubedefs")
    val doc =
      """{
        |  "name": "nation_json",
        |  "model": {"fact": "nation"},
        |  "flatColumns": [
        |    {"name": "n_name"},
        |    {"name": "n_regionkey"},
        |    {"name": "d", "expr": "CAST('1995-06-01' AS TIMESTAMP)"}
        |  ],
        |  "dims": ["n_name"],
        |  "measures": [{"name": "n_rows", "family": "count"}],
        |  "segmentCol": "d",
        |  "segments": [{"name": "all", "start": "1995-01-01",
        |                "end": "1996-01-01"}]
        |}""".stripMargin
    java.nio.file.Files.write(dir.resolve("nation.json"), doc.getBytes)
    java.nio.file.Files.write(dir.resolve("broken.json"),
      "{this is not a cube".getBytes)
    spark.conf.set(GraftSql.CubeDefDirConf, dir.toString)
    try {
      // a session with no view registration yet — the production shape
      // of a fresh serving process bootstrapping from the store
      val s2 = spark.newSession()
      s2.conf.set(GraftSql.CubeDefDirConf, dir.toString)
      val r = GraftSql.sqlVia(s2, sf,
        """SELECT n_name, count(*) AS n_rows FROM graft_nation_json
          |GROUP BY n_name""".stripMargin)
      assert(r.routed && r.via == "cuboid",
        s"store-declared cube must route, got ${r.via}")
      assert(r.df.collect().map(x => (x.getString(0), x.getLong(1)))
        .toMap.values.forall(_ == 1L))
      assert(r.df.count() == 25)
      // unchanged declarations are no-ops on a rescan
      assert(CubeJson.registerDir(spark, dir.toString).isEmpty,
        "an unchanged declaration must not re-register")
    } finally spark.conf.unset(GraftSql.CubeDefDirConf)
  }

  test("TTL rescan: a BOUND serving session discovers a dropped " +
      "declaration with no binding change; unchanged dirs register " +
      "nothing and the result cache survives; a torn drop poisons " +
      "nothing (VERDICT r15 item 2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-defs-ttl")
    spark.conf.set(GraftSql.CubeDefDirConf, dir.toString)
    spark.conf.set(GraftSql.CubeDefRescanConf, "0") // every call is due
    try {
      GraftSql.registerViews(spark, sf) // bind (dir still empty)
      assert(!spark.catalog.tableExists("graft_ttl_cube"))
      // the deploy: ONE file lands in the store dir — nothing rebinds
      java.nio.file.Files.write(dir.resolve("ttl_cube.json"),
        """{"name": "ttl_cube", "model": {"fact": "nation"},
          |"flatColumns": [{"name": "n_name"},
          |  {"name": "d", "expr": "CAST('1995-06-01' AS TIMESTAMP)"}],
          |"dims": ["n_name"], "segmentCol": "d",
          |"measures": [{"name": "n_rows", "family": "count"}],
          |"segments": [{"name": "all", "start": "1995-01-01",
          |              "end": "1996-01-01"}]}""".stripMargin
          .getBytes("UTF-8"))
      val q =
        """SELECT n_name, count(*) AS n_rows FROM graft_ttl_cube
          |GROUP BY n_name""".stripMargin
      // the next ordinary query — no register call, no binding change
      // — must discover and route the drop within the window
      val r = GraftSql.sqlVia(spark, sf, q)
      assert(r.routed && r.via == "cuboid", s"got ${r.via}")
      assert(r.df.count() == 25)
      // a torn drop is reported and skipped; serving keeps working
      java.nio.file.Files.write(dir.resolve("torn.json"),
        "{this is not a cube".getBytes("UTF-8"))
      assert(GraftSql.sqlVia(spark, sf, q).routed)
      // unchanged dir: the rescan registers nothing, so a cached
      // result SURVIVES the window (the deploy story must not cost
      // the result cache its hits)
      val a = GraftSql.sqlCached(spark, sf, q)
      assert(a.routed)
      val b = GraftSql.sqlCached(spark, sf, q)
      assert(b.fromCache,
        "an unchanged store dir must not drop the result cache")
      // the rescan itself registers nothing on an unchanged dir
      assert(CubeJson.registerDir(spark, dir.toString).isEmpty)
      // and a DIRECT register of the identical document is the same
      // no-op (the CLI registers its doc on every subcommand; a
      // per-call registerJson must not drop every cached result):
      // the cached hit survives an explicit identical re-register
      val doc2 = new String(java.nio.file.Files.readAllBytes(
        dir.resolve("ttl_cube.json")), "UTF-8")
      CubeJson.registerJson(doc2): Unit
      assert(GraftSql.sqlCached(spark, sf, q).fromCache,
        "an identical re-register must not drop the result cache")
    } finally {
      spark.conf.unset(GraftSql.CubeDefDirConf)
      spark.conf.unset(GraftSql.CubeDefRescanConf)
    }
  }

  test("declared lifecycle POLICIES (retention_range / auto-merge as " +
      "data) apply as normal commits and the stamp-aware path reloads") {
    val spec = CubeJson.parse(
      """{
        |  "name": "orders_policy",
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
        |  "segments": [
        |    {"name": "s1995", "start": "1995-01-01", "end": "1997-01-01"},
        |    {"name": "s1997", "start": "1997-01-01", "end": "1999-01-01"},
        |    {"name": "s1999", "start": "1999-01-01", "end": "2001-01-01"},
        |    {"name": "s2001", "start": "2001-01-01", "end": "2003-01-01"}
        |  ],
        |  "cuboids": [["o_orderstatus"]],
        |  "segDayGranular": true,
        |  "retentionDays": 1825,
        |  "autoMergeMaxSegments": 2
        |}""".stripMargin)
    CubeJson.register(spec)
    val after = CubeJson.applyPolicies(spark, sf, spec)
    // retention (relative to the data's newest end, 2003-01-01, minus
    // 1825 days ≈ 1998-01): s1995 aged out; auto-merge then folds the
    // oldest run down to the 2-segment bound
    assert(after.cube.segments.map(_.name) ==
      Seq("am-s1997-s1999", "s2001"),
      s"got ${after.cube.segments.map(_.name)}")
    // the policy state routes, and matches the source over exactly the
    // RETAINED range
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, sum(o_totalprice) AS price_sum,
        |  count(*) AS n_orders
        |FROM graft_orders_policy GROUP BY o_orderstatus""".stripMargin)
    assert(r.routed && r.via == "cuboid")
    val got = r.df.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
    val want = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .groupBy("o_orderstatus")
      .agg(sum(Exact.dec(col("o_totalprice"))).cast("double").as("p"),
        count(lit(1)).as("n"))
      .collect().map(x => (x.getString(0), x.getDouble(1), x.getLong(2)))
      .toSet
    assert(got == want && want.nonEmpty)
    // idempotent: a second run finds nothing to drop or merge
    val again = CubeJson.applyPolicies(spark, sf, spec)
    assert(again.cube.segments.map(_.name) ==
      after.cube.segments.map(_.name))
  }

  test("a declared star cube exercises the FULL family surface: model " +
      "edges, derived dims, dictionary bitmap, HLL, KLL, TopN — all " +
      "from JSON") {
    val spec = CubeJson.parse(
      """{
        |  "name": "star_decl",
        |  "model": {
        |    "fact": "lineitem",
        |    "edges": [
        |      {"lookup": "orders", "via": "lineitem",
        |       "lookupKey": "o_orderkey", "foreignKey": "l_orderkey"},
        |      {"lookup": "customer", "via": "orders",
        |       "lookupKey": "c_custkey", "foreignKey": "o_custkey"},
        |      {"lookup": "nation", "via": "customer",
        |       "lookupKey": "n_nationkey", "foreignKey": "c_nationkey"}
        |    ],
        |    "broadcast": ["nation"]
        |  },
        |  "flatColumns": [
        |    {"name": "n_name"},
        |    {"name": "l_returnflag"},
        |    {"name": "o_month",
        |     "expr": "date_format(o_orderdate, 'yyyy-MM')"},
        |    {"name": "o_orderdate"},
        |    {"name": "l_quantity"},
        |    {"name": "o_custkey"},
        |    {"name": "c_name"},
        |    {"name": "disc_price",
        |     "expr": "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"},
        |    {"name": "disc_price_micros",
        |     "expr": "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)"}
        |  ],
        |  "dims": ["n_name", "l_returnflag", "o_month"],
        |  "measures": [
        |    {"name": "qty", "family": "sum", "column": "l_quantity",
        |     "decimal": true, "presentDouble": true},
        |    {"name": "nrows", "family": "count"},
        |    {"name": "cust_hll", "family": "hll", "column": "o_custkey"},
        |    {"name": "qty_kll", "family": "kll", "column": "l_quantity"},
        |    {"name": "revenue", "family": "sum", "column": "disc_price",
        |     "presentDouble": true},
        |    {"name": "flag_topn", "family": "topn",
        |     "topn": {"dims": ["l_returnflag"],
        |              "valueColumn": "disc_price_micros",
        |              "sumOf": "disc_price", "scale": 10000}},
        |    {"name": "cname_bitmap", "family": "bitmap",
        |     "column": "c_name_id", "answers": "countDistinct:c_name"}
        |  ],
        |  "segmentCol": "o_orderdate",
        |  "segments": [{"name": "all", "start": "1995-01-01",
        |                "end": "2003-01-01"}],
        |  "aggGroups": [
        |    {"includes": ["n_name", "l_returnflag", "o_month"]}
        |  ],
        |  "timeDim": {"name": "o_month", "granularity": "month"},
        |  "derived": [
        |    {"name": "n_regionkey", "host": "n_name", "lookup": "nation"}
        |  ],
        |  "notNull": ["l_quantity"],
        |  "segDayGranular": true,
        |  "dictColumns": ["c_name"]
        |}""".stripMargin)
    val view = CubeJson.register(spec)
    GraftSql.registerViews(spark, sf)
    val flat = CubeJson.flatBuilder(spec)(spark, sf)

    // HLL family: approx_count_distinct routes onto the declared sketch
    val hll = GraftSql.sqlVia(spark, sf,
      s"""SELECT l_returnflag, approx_count_distinct(o_custkey) AS ac
         |FROM $view GROUP BY l_returnflag""".stripMargin)
    assert(hll.routed && hll.via == "cuboid", s"hll got ${hll.via}")
    val exact = flat.groupBy("l_returnflag")
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    hll.df.collect().foreach { r =>
      val (f, ac) = (r.getString(0), r.getLong(1))
      assert(math.abs(ac - exact(f)) <= exact(f) * 0.05,
        s"hll estimate $ac vs exact ${exact(f)}")
    }

    // KLL family: percentile_approx at the query's own rank
    val kll = GraftSql.sqlVia(spark, sf,
      s"""SELECT l_returnflag,
         |  percentile_approx(l_quantity, 0.25) AS q1
         |FROM $view GROUP BY l_returnflag""".stripMargin)
    assert(kll.routed && kll.via == "cuboid", s"kll got ${kll.via}")
    assert(kll.df.collect().forall(r =>
      r.getDouble(1) > 0 && r.getDouble(1) < 30))

    // dictionary bitmap: exact COUNT(DISTINCT c_name) from the
    // dict-encoded state (the declared dictColumns did the encoding)
    val bm = GraftSql.sqlVia(spark, sf,
      s"""SELECT l_returnflag, count(DISTINCT c_name) AS n_cust
         |FROM $view GROUP BY l_returnflag""".stripMargin)
    assert(bm.routed && bm.via == "cuboid", s"bitmap got ${bm.via}")
    val wantCn = flat.groupBy("l_returnflag")
      .agg(countDistinct(col("c_name")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bm.df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == wantCn)

    // TopN sketch: the ORDER BY SUM ... DESC LIMIT shape
    val tn = GraftSql.sqlVia(spark, sf,
      s"""SELECT l_returnflag, sum(disc_price) AS rev FROM $view
         |GROUP BY l_returnflag
         |ORDER BY rev DESC, l_returnflag LIMIT 2""".stripMargin)
    assert(tn.routed, s"topn got ${tn.via}")
    val wantTop = flat.groupBy("l_returnflag")
      .agg(sum(col("disc_price")).as("rev"))
      .orderBy(desc("rev")).limit(2)
      .collect().map(_.getString(0)).toSeq
    assert(tn.df.collect().map(_.getString(0)).toSeq == wantTop)

    // derived dim: group by a lookup attribute NOT in any cuboid —
    // answered through the declared snapshot on the host dim. Routed
    // against the declared INSTANCE directly (the view, like the
    // compiled star's, does not carry derived attrs; the SQL form of
    // derived routing is the model-join shape, which the wider
    // builtin star also matches — the router call pins THIS cube)
    val inst = CubeManager.ensureDeclared(spark, sf, spec)
    val dd = QueryRouter.route(spark, inst, CubeQuery(
      Seq("n_regionkey"), Seq("qty" -> "qty")))(
      fail("derived group-by must route on the declared cube"))
    assert(dd.df.inputFiles.exists(_.contains("-star_decl/")),
      "the derived answer must come from the declared cube's root")
    val wantDd = flat.join(
        broadcast(Tables.nation(spark, sf).select("n_name", "n_regionkey")
          .withColumnRenamed("n_regionkey", "rk")), Seq("n_name"))
      .groupBy("rk")
      .agg(sum(Exact.dec(col("l_quantity"))).cast("double").as("q"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(dd.df.collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap == wantDd)
  }

  test("a REAL second JVM bootstraps a declared cube from the store " +
      "dir alone and serves it as a pure metadata load") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fleet-defs")
    val doc =
      """{
        |  "name": "decl_fleet",
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
    java.nio.file.Files.write(dir.resolve("decl_fleet.json"),
      doc.getBytes("UTF-8"))
    // this process plays the BUILDER: discover the declaration and pay
    // the one build (committing meta under the shared cube root)
    CubeJson.registerDir(spark, dir.toString)
    val q =
      """SELECT n_name, count(*) AS n_rows FROM graft_decl_fleet
        |GROUP BY n_name""".stripMargin
    val first = GraftSql.sqlVia(spark, sf, q)
    assert(first.routed && first.via == "cuboid")

    // the serving JVM: a fresh process given ONLY the def dir — it
    // must register the declaration itself, load the committed meta,
    // route, and never build
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val child = new ProcessBuilder(javaBin,
        "-cp", System.getProperty("java.class.path"),
        "-Xmx2g", "graft.ChildDeclared", dir.toString, sf, q,
        "-decl_fleet/")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream)
      .mkString // drain, or a full pipe can deadlock the child
    assert(child.waitFor() == 0,
      s"child declared-serve failed:\n${out.takeRight(2000)}")
    assert(out.contains("CHILD_DECLARED_OK"), out.takeRight(500))
  }

  test("a declared REALIZATION GROUP: alternates choose cheapest, the " +
      "hybrid splice outranks and serves across its cutover — all " +
      "from one document") {
    def member(name: String, dims: String, segments: String,
               extraCols: String = "", timeDim: String = "",
               filter: String = "") =
      s"""{
         |  "name": "$name",
         |  "model": {"fact": "orders"$filter},
         |  "flatColumns": [
         |    {"name": "o_month",
         |     "expr": "date_format(o_orderdate, 'yyyy-MM')"},
         |    {"name": "o_orderstatus"},
         |    {"name": "o_orderpriority"},
         |    {"name": "o_orderdate"},
         |    {"name": "o_totalprice"}$extraCols
         |  ],
         |  "dims": [$dims],
         |  "measures": [
         |    {"name": "price_sum", "family": "sum",
         |     "column": "o_totalprice", "decimal": true,
         |     "presentDouble": true},
         |    {"name": "n_orders", "family": "count"}
         |  ],
         |  "segmentCol": "o_orderdate",
         |  "segments": [$segments],
         |  "segDayGranular": true$timeDim
         |}""".stripMargin
    val full =
      """{"name": "all", "start": "1995-01-01", "end": "2003-01-01"}"""
    val doc =
      s"""{
         |  "view": "graft_sales",
         |  "primary": ${member("sales_wide",
              "\"o_orderstatus\", \"o_orderpriority\", \"o_month\"", full)},
         |  "alternates": [${member("sales_narrow",
              "\"o_orderstatus\"", full)}],
         |  "hybrid": {
         |    "name": "sales_hybrid",
         |    "cutover": "1999-01-01",
         |    "oldCube": ${member("sales_old", "\"o_month\"",
              """{"name": "s95", "start": "1995-01-01", "end": "1999-01-01"}""",
              timeDim =
                """,
                  |  "timeDim": {"name": "o_month", "granularity": "month"}"""
                  .stripMargin,
              filter = """, "filterExpr":
                |   "o_orderdate < TIMESTAMP '1999-01-01'"""".stripMargin)},
         |    "newCube": ${member("sales_new", "\"o_month\"",
              """{"name": "s99", "start": "1999-01-01", "end": "2003-01-01"}""",
              timeDim =
                """,
                  |  "timeDim": {"name": "o_month", "granularity": "month"}"""
                  .stripMargin,
              filter = """, "filterExpr":
                |   "o_orderdate >= TIMESTAMP '1999-01-01'"""".stripMargin)}
         |  }
         |}""".stripMargin
    val r = CubeJson.parseRealization(doc)
    assert(CubeJson.parseRealization(CubeJson.renderRealization(r)) == r)
    CubeJson.registerRealization(r)
    GraftSql.registerViews(spark, sf)

    // a query the hybrid can't serve (its members only carry o_month)
    // and BOTH primary and alternate cover: the cheapest covering
    // realization — the narrow alternate — wins (RealizationChooser)
    val alt = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderstatus, sum(o_totalprice) AS price_sum
        |FROM graft_sales GROUP BY o_orderstatus""".stripMargin)
    assert(alt.routed && alt.via == "cuboid", s"got ${alt.via}")
    assert(alt.df.inputFiles.exists(_.contains("-sales_narrow/")),
      s"the cheapest covering alternate must serve, got " +
        alt.df.inputFiles.take(3).mkString(", "))
    val want = Tables.orders(spark, sf).groupBy("o_orderstatus")
      .agg(sum(Exact.dec(col("o_totalprice"))).cast("double").as("p"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(alt.df.collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap == want)

    // a query only the wide primary covers
    val wide = GraftSql.sqlVia(spark, sf,
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM graft_sales GROUP BY o_orderpriority""".stripMargin)
    assert(wide.routed && wide.via == "cuboid")
    assert(wide.df.inputFiles.exists(_.contains("-sales_wide/")))

    // a month query spanning the cutover: the declared hybrid outranks
    // and splices both member cubes
    val hy = GraftSql.sqlVia(spark, sf,
      """SELECT o_month, sum(o_totalprice) AS price_sum
        |FROM graft_sales
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '2001-01-01'
        |GROUP BY o_month""".stripMargin)
    assert(hy.routed && hy.via == "hybrid", s"got ${hy.via}")
    val hfiles = hy.df.inputFiles
    assert(hfiles.exists(_.contains("-sales_old/")) &&
      hfiles.exists(_.contains("-sales_new/")),
      s"both member roots must serve, got ${hfiles.take(3).toSeq}")
    val wantHy = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("2001-01-01").cast("timestamp"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("m"))
      .agg(sum(Exact.dec(col("o_totalprice"))).cast("double").as("p"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(hy.df.collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap == wantHy)

    // document validation: a hybrid member leaking past its cutover
    // refuses at deploy time
    val bad = doc.replace("\"end\": \"1999-01-01\"",
      "\"end\": \"1999-06-01\"")
    assert(intercept[IllegalArgumentException](
      CubeJson.parseRealization(bad)).getMessage
      .contains("must end at or before the cutover"))
  }

  test("a hybrid member declaring dictColumns refuses at deploy time " +
      "(per-root dictionary id spaces cannot splice)") {
    // VERDICT r16 wrong #1: each member cube owns its own append-
    // ordered dict tree, so HybridRouter splicing dict-encoded bitmap
    // states would union incompatible id spaces — silently wrong
    // exact-distinct counts. The document is the input class deploy
    // validation exists for, so it refuses with the member + columns
    // named.
    val dir = java.nio.file.Paths.get("examples/cube-defs")
    val doc = new String(java.nio.file.Files.readAllBytes(
      dir.resolve("sales_realization.json")), "UTF-8")
    val bad = doc.replace("\"name\": \"salesx_old\",",
      "\"name\": \"salesx_old\", \"dictColumns\": [\"o_month\"],")
    val msg = intercept[IllegalArgumentException](
      CubeJson.parseRealization(bad)).getMessage
    assert(msg.contains("salesx_old") && msg.contains("o_month") &&
      msg.contains("dictColumns") && msg.contains("hll"),
      s"refusal must name the member, the column, and the sound " +
        s"alternative - got: $msg")
    // dictColumns on the primary/alternates stay legal: they never
    // splice - each serves whole queries from its own id space
    val okAlt = doc.replace("\"name\": \"salesx_narrow\",",
      "\"name\": \"salesx_narrow\", \"dictColumns\": [\"o_orderstatus\"],")
    assert(CubeJson.parseRealization(okAlt).alternates.head
      .dictColumns == Seq("o_orderstatus"))
    // the SOUND form: members sharing a rootScope share ONE
    // append-stable dictionary, so dict-encoded states merge exactly
    // across the splice - the document validates
    val okScoped = doc
      .replace("\"name\": \"salesx_old\",",
        "\"name\": \"salesx_old\", \"dictColumns\": [\"o_month\"], " +
          "\"rootScope\": \"salesx_scope\",")
      .replace("\"name\": \"salesx_new\",",
        "\"name\": \"salesx_new\", \"rootScope\": \"salesx_scope\",")
    assert(CubeJson.parseRealization(okScoped)
      .hybrid.get.oldCube.rootScope.contains("salesx_scope"))
    // MISMATCHED scopes are two different roots - still refused
    val badScoped = okScoped.replace(
      "\"name\": \"salesx_new\", \"rootScope\": \"salesx_scope\",",
      "\"name\": \"salesx_new\", \"rootScope\": \"other_scope\",")
    assert(intercept[IllegalArgumentException](
      CubeJson.parseRealization(badScoped)).getMessage
      .contains("do not share a rootScope"))
  }

  test("reserved root-level directory names refuse; a SCOPED 'events' " +
      "is legal (its root is disjoint from the compiled one)") {
    def doc(name: String, extra: String = "") =
      s"""{"name": "$name", $extra"model": {"fact": "orders"},
         |"flatColumns": [{"name": "o_orderstatus"},
         |  {"name": "o_orderdate"}],
         |"dims": ["o_orderstatus"],
         |"measures": [{"name": "n", "family": "count"}],
         |"segmentCol": "o_orderdate",
         |"segments": [{"name": "all", "start": "1992-01-01",
         |              "end": "2003-01-01"}]}""".stripMargin
    // a cube dir named like a shared root-level tree would merge into
    // it — and its lease file IS the root-level lease path
    Seq("dict", "snapshots", "_backups").foreach(n =>
      assert(intercept[IllegalArgumentException](CubeJson.parse(doc(n)))
        .getMessage.contains("reserved"), s"name '$n' must refuse"))
    // unscoped 'events' with a foreign fingerprint refuses (built-in
    // root collision)...
    assert(intercept[IllegalArgumentException](
      CubeJson.register(CubeJson.parse(doc("events")))).getMessage
      .contains("built-in 'events' cube"))
    // ...but a SCOPED 'events' lives at <sf>-<scope>/events — disjoint
    // (a custom view name on purpose: the DEFAULT would be
    // graft_events, and registering it would steal the built-in
    // events binding out from under every later suite)
    assert(CubeJson.register(CubeJson.parse(
      doc("events", "\"rootScope\": \"crm\", " +
        "\"view\": \"events_crm_view\", "))) == "events_crm_view")
  }

  test("declared batch sources: bad entries refuse at deploy with the " +
      "table and field named") {
    def doc(sources: String) =
      s"""{
         |  "name": "src_bad",
         |  "model": {"fact": "orders"},
         |  "sources": $sources,
         |  "flatColumns": [{"name": "o_orderstatus"},
         |    {"name": "o_orderdate"}, {"name": "o_totalprice"}],
         |  "dims": ["o_orderstatus"],
         |  "measures": [{"name": "n_orders", "family": "count"}],
         |  "segmentCol": "o_orderdate",
         |  "segments": [{"name": "all", "start": "1992-01-01",
         |                "end": "2003-01-01"}]
         |}""".stripMargin
    def err(sources: String): String =
      intercept[IllegalArgumentException](
        CubeJson.parse(doc(sources))).getMessage
    // a source for a table the model doesn't have
    assert(err("""{"nation": {"format": "parquet", "path": "/x"}}""")
      .contains("not a model table"))
    // unknown format
    assert(err("""{"orders": {"format": "hive", "path": "/x"}}""")
      .contains("unknown format 'hive'"))
    // per-format required fields
    assert(err("""{"orders": {"format": "csv"}}""").contains("needs `path`"))
    assert(err("""{"orders": {"format": "jdbc"}}""").contains("needs `url`"))
    assert(err("""{"orders": {"format": "catalog"}}""")
      .contains("needs `table`"))
    // unparseable schema DDL
    assert(err("""{"orders": {"format": "csv", "path": "/x",
        "schema": "not a ddl ((("}}""").contains("unparseable schema"))
    // fields the format does not CONSUME refuse: a declared field
    // that does nothing hides a wrong deployment (a jdbc `schema`
    // would imply the declared types apply when they never do)
    assert(err("""{"orders": {"format": "jdbc", "url": "u",
        "schema": "a INT"}}""").contains("does not consume"))
    assert(err("""{"orders": {"format": "catalog", "table": "t",
        "options": {"x": "y"}}}""").contains("does not consume"))
    assert(err("""{"orders": {"format": "parquet", "path": "/x",
        "url": "u"}}""").contains("does not consume"))
    // a good one parses
    assert(CubeJson.parse(doc(
      """{"orders": {"format": "parquet", "path": "${dir}/orders.parquet"}}"""))
      .sources("orders").format == "parquet")
  }

  test("a declared source resolves instead of the <dir>/<table>.parquet " +
      "convention — the model table name has no parquet on purpose") {
    // fact 'orders_alias' exists ONLY through the declared source: a
    // fallback to the convention would throw on the missing file, so
    // a completed build proves source resolution end to end
    CubeManager.resetMemos()
    val root = CubeManager.declaredRoot(sf, "orders_viasrc")
    org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(root), true)
    val spec = CubeJson.parse(
      """{
        |  "name": "orders_viasrc",
        |  "model": {"fact": "orders_alias"},
        |  "sources": {"orders_alias": {"format": "parquet",
        |    "path": "${dir}/orders.parquet"}},
        |  "flatColumns": [{"name": "o_orderstatus"},
        |    {"name": "o_orderdate"}, {"name": "o_totalprice"}],
        |  "dims": ["o_orderstatus"],
        |  "measures": [
        |    {"name": "price_sum", "family": "sum",
        |     "column": "o_totalprice", "decimal": true,
        |     "presentDouble": true},
        |    {"name": "n_orders", "family": "count"}],
        |  "segmentCol": "o_orderdate",
        |  "segments": [{"name": "all", "start": "1992-01-01",
        |                "end": "2003-01-01"}],
        |  "segDayGranular": true
        |}""".stripMargin)
    val inst = CubeManager.ensureDeclared(spark, sf, spec)
    val got = QueryRouter.route(spark, inst, CubeQuery(
      Seq("o_orderstatus"), Seq("n_orders" -> "n")))(
      fail("expected the source-built cube to route"))
      .df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.orders(spark, sf).groupBy("o_orderstatus").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  test("a JSON-declared cube accelerates plain spark.sql through the " +
      "extensions rule") {
    val view = CubeQueries.declaredOrdersView
    GraftSql.clearResultCache()
    GraftSql.registerViews(spark, sf)
    val q =
      s"""SELECT o_orderstatus, count(*) AS n_orders
         |FROM $view GROUP BY o_orderstatus""".stripMargin
    val plain = spark.sql(q)
    assert(!plain.inputFiles.exists(_.contains("cuboid=")))
    val want = plain.collect().map(x => (x.getString(0), x.getLong(1))).toSet
    spark.conf.set("spark.graft.accelerate", "true")
    try {
      val acc = spark.sql(q)
      assert(acc.inputFiles.exists(f =>
        f.contains("-orders_json/") && f.contains("cuboid=")),
        s"accelerated plan must read the declared cuboids, got " +
          acc.inputFiles.take(3).mkString(", "))
      val got = acc.collect().map(x => (x.getString(0), x.getLong(1))).toSet
      assert(got == want && got.nonEmpty)
    } finally spark.conf.set("spark.graft.accelerate", "false")
  }
}
