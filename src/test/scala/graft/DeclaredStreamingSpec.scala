package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._
import graft.streaming.EventStream

/** VERDICT r15 item 3: declarative STREAMING cubes. The reference's
  * real-time cubes are the same CubeDesc document family (stream-core
  * StreamingSourceConfig rides the cube metadata) — so graft's cube
  * document grows a `streaming` section (source SPI name, window,
  * watermark lateness, hot-tail switch) that deploys today's
  * EventStream wiring with ZERO compiled definition: the batch part of
  * the document is the historical layer, the streaming section the
  * speed layer. */
class DeclaredStreamingSpec extends AnyFunSuite {
  import TestSpark._

  /** the SHARED events-cube document (EventQueries.declaredEventsDoc —
    * also the `ev_stream_declared` oracle key's document, so the spec
    * and the oracle pin the same deployment): the built-in events cube's
    * batch layer plus the declared speed layer at a NON-default
    * window/lateness, pinning that the cadence comes from the document */
  private val doc = graft.queries.EventQueries.declaredEventsDoc

  private def freshRoot(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      s"${CubeManager.cubeRoot}/${sf.split('/').last}-events_decl")): Unit
    CubeManager.resetMemos()
  }

  test("a declared events-cube document dropped in the store dir " +
      "routes the ev_sql_route shape — zero compiled definition") {
    freshRoot()
    val dir = java.nio.file.Files.createTempDirectory("graft-decl-stream")
    java.nio.file.Files.write(dir.resolve("events_decl.json"),
      doc.getBytes("UTF-8"))
    assert(CubeJson.registerDir(spark, dir.toString)
      .contains("graft_events_decl"),
      "registerDir must accept a streaming-bearing document")
    val r = GraftSql.sqlVia(spark, sf,
      """SELECT ev_day, count(*) AS n_events,
        |  count(distinct user_id) AS n_users
        |FROM graft_events_decl
        |GROUP BY ev_day ORDER BY ev_day""".stripMargin)
    assert(r.routed && r.via == "cuboid", s"got ${r.via}")
    assert(r.df.inputFiles.exists(f =>
      f.contains("-events_decl/") && f.contains("cuboid=")))
    val got = r.df.collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq
    val want = Tables.events(spark, sf)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("ev_day"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("u"))
      .orderBy("ev_day")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .toSeq
    assert(got == want && want.nonEmpty)
  }

  test("a declared events document reads ts as TIMESTAMP, like the " +
      "built-in events view") {
    CubeJson.register(CubeJson.parse(doc))
    GraftSql.registerViews(spark, sf)
    val decl = spark.table("graft_events_decl").schema
    val builtin = spark.table("graft_events").schema
    assert(decl("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val shared = decl.fieldNames.filter(builtin.fieldNames.contains).toSeq
    assert(shared.contains("ts") && shared.size == builtin.size)
    assert(shared.map(decl(_)) == shared.map(builtin(_)))
  }

  test("the declared speed layer builds through the document's OWN " +
      "window/lateness and equals the batch aggregation (sealed " +
      "windows exactly; lambda = sealed + hot tail)") {
    val spec = CubeJson.parse(doc)
    val (closed, hot) = CubeJson.ensureDeclaredStream(spark, sf, spec)
    assert(hot.isDefined, "hotTail: true must deploy the update layer")

    val events = Tables.events(spark, sf)
    // the batch equivalent at the DOCUMENT's cadence (12h windows, 2h
    // lateness — watermark is a no-op on a batch frame, so this is
    // every window)
    val batch = EventStream.tumblingAgg(events, "12 hours", "2 hours")
    val cutoff = events.agg(max(col("ts"))).head().getTimestamp(0)
      .toInstant.minusSeconds(2 * 3600)
    val sealedWins = batch.filter(
      col("w_start") + expr("INTERVAL 12 HOURS") <=
        lit(java.sql.Timestamp.from(cutoff)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

    val gotClosed = rows(spark.read.parquet(closed)
      .select("w_start", "event_type", "n_events", "sum_value"))
    assert(gotClosed == rows(sealedWins) && gotClosed.nonEmpty,
      "the sealed cuboid must hold exactly the watermark-closed windows")

    // the lambda read serves EVERYTHING — sealed plus the in-watermark
    // tail the hot layer carries
    val lambda = rows(CubeJson.declaredLambda(spark, sf, spec)
      .select("w_start", "event_type", "n_events", "sum_value"))
    assert(lambda == rows(batch),
      "lambda must equal the full batch aggregation")
    assert(lambda.size > gotClosed.size,
      "the hot tail must contribute the unsealed windows")
  }

  test("hotTail: false deploys only the sealed layer") {
    val spec = CubeJson.parse(doc
      .replace("\"hotTail\": true", "\"hotTail\": false")
      .replace("\"events_decl\"", "\"events_decl_cold\""))
    val (closed, hot) = CubeJson.ensureDeclaredStream(spark, sf, spec)
    assert(hot.isEmpty)
    val lambda = CubeJson.declaredLambda(spark, sf, spec)
    assert(lambda.count() == spark.read.parquet(closed).count())
  }

  test("streaming-section validation names the offending part at " +
      "deploy time") {
    def err(f: String => String): String =
      intercept[IllegalArgumentException](CubeJson.parse(f(doc)))
        .getMessage
    assert(err(_.replace("\"source\": \"file\"",
      "\"source\": \"carrier-pigeon\"")).contains("file|kafka"))
    assert(err(_.replace("\"source\": \"file\"", "\"source\": \"kafka\""))
      .contains("needs a kafka section"))
    assert(err(_.replace("\"window\": \"12 hours\"",
      "\"window\": \"a fortnight-ish\"")).contains("not a valid interval"))
    // a kafka-sourced document VALIDATES (the connector loads at run
    // time; deployment is still one file drop)
    val k = doc.replace("\"source\": \"file\"",
      """"source": "kafka", "kafka": {"bootstrapServers": "b:9092",
        |"topic": "events"""".stripMargin + "}")
    assert(CubeJson.parse(k).streaming.exists(_.kafka.nonEmpty))
  }

  test("render ∘ parse round-trips the streaming section") {
    val spec = CubeJson.parse(doc)
    assert(CubeJson.parse(CubeJson.render(spec)) == spec)
    assert(spec.streaming.contains(CubeJson.JsonStreaming(
      "file", "12 hours", "2 hours", hotTail = true)))
  }

  /** the shared promotion fixture: the batch layer deliberately ends
    * MID-data (2024-01-10) while the stream seals windows far past it
    * — the promotable state a live deployment is in between builds.
    * `extra` injects additional document fields (e.g. a policy). */
  private def promoFixture(name: String,
                           extra: String = ""): CubeJson.JsonCube = {
    val promoDoc = doc
      .replace("\"name\": \"events_decl\"", s""""name": "$name"""")
      .replace("\"end\": \"2024-02-01\"", "\"end\": \"2024-01-10\"")
      .replace("\"streaming\": {", extra + "\"streaming\": {")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      s"${CubeManager.cubeRoot}/${sf.split('/').last}-$name")): Unit
    CubeManager.resetMemos()
    CubeJson.parse(promoDoc)
  }

  test("a policies run on a streaming-bearing document PROMOTES first " +
      "and the promoted history participates in the SAME run's " +
      "retention — one scheduled entry covers the whole lifecycle") {
    // retention is data-relative (cutoff = newest committed end - N
    // days): promoted FIRST, the horizon lands near the data's end and
    // the 10-day cutoff drops the original pre-promotion segment in
    // the SAME run; promoted after (or not at all), the cutoff would
    // derive from 2024-01-10 and drop nothing — so the assertions pin
    // the ORDER, not just that promotion happened
    val spec = promoFixture("events_promo2",
      extra = "\"retentionDays\": 10, ")
    val inst = CubeJson.applyPolicies(spark, sf, spec)
    assert(inst.cube.segments.exists(_.name.startsWith("sp_")),
      s"policies must promote sealed days, got " +
        s"${inst.cube.segments.map(_.name)}")
    assert(!inst.cube.segments.exists(_.name == "s2024m1"),
      "the same run's retention must see the promoted horizon and " +
        s"drop the aged original segment, got " +
        s"${inst.cube.segments.map(_.name)}")
  }

  test("streaming→batch promotion: sealed whole days beyond the batch " +
      "horizon append as a NORMAL segment, dim ranges collected at " +
      "commit (VERDICT r16 item 6), idempotent") {
    val spec = promoFixture("events_promo")

    val (next, seg) = CubeJson.promoteStream(spark, sf, spec)
    assert(seg.nonEmpty, "sealed windows run past 2024-01-10 — a " +
      "promotable day must exist")
    val s0 = seg.get
    assert(s0.start == "2024-01-10" && s0.end > s0.start)
    assert(next.cube.segments.exists(_.name == s0.name))
    // THE r16 item-6 assertion: the appended segment's dim ranges are
    // present at commit — no policies run happened
    val dims = spec.dims
    assert(dims.exists(d => next.dimRanges.contains((s0.name, d))),
      s"promoted segment must carry dim ranges at commit, got " +
        s"${next.dimRanges.keys.filter(_._1 == s0.name)}")
    // the promoted history serves through the ordinary router, equal
    // to the batch recompute over the promoted span
    val got = QueryRouter.route(spark, next, CubeQuery(
      Seq("event_type"), Seq("n_events" -> "n"),
      timeRange = Some((s0.start, s0.end))))(
      fail("the promoted segment must route"))
      .df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf)
      .filter(col("ts") >= lit(s0.start).cast("timestamp") &&
        col("ts") < lit(s0.end).cast("timestamp"))
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
    // idempotent: the horizon hasn't moved, so nothing more commits
    val (again, seg2) = CubeJson.promoteStream(spark, sf, spec)
    assert(seg2.isEmpty &&
      again.cube.segments.map(_.name) == next.cube.segments.map(_.name))
    // the serving composition promotion leaves behind: the TAIL read
    // starts at the batch horizon (no window served twice), and
    // batch route + tail together cover every sealed window exactly
    val tail = CubeJson.declaredTail(spark, sf, spec)
    // the horizon instant derives through the SESSION zone like
    // declaredTail itself — Timestamp.valueOf would read the day in
    // the JVM default zone and mis-assert on any non-UTC JVM
    val horizonTs = java.sql.Timestamp.from(
      java.time.LocalDate.parse(s0.end).atStartOfDay(
        java.time.ZoneId.of(
          spark.sessionState.conf.sessionLocalTimeZone)).toInstant)
    assert(tail.agg(min(col("w_start"))).head().getTimestamp(0)
      .compareTo(horizonTs) >= 0,
      "the tail must not re-serve promoted windows")
    val batchN = QueryRouter.route(spark, next, CubeQuery(
      Seq.empty, Seq("n_events" -> "n"),
      timeRange = Some(("2024-01-01", s0.end))))(
      fail("batch history must route")).df.head().getLong(0)
    val tailN = tail.agg(sum(col("n_events"))).head().getLong(0)
    val lambdaN = CubeJson.declaredLambda(spark, sf, spec)
      .agg(sum(col("n_events"))).head().getLong(0)
    assert(batchN + tailN == lambdaN,
      s"batch($batchN) + tail($tailN) must equal one full lambda " +
        s"read($lambdaN) - a window counted twice or dropped breaks this")
    // a fresh load (new process shape) serves the promoted segment too
    CubeManager.resetMemos()
    val reloaded = CubeManager.ensureDeclared(spark, sf, spec)
    assert(reloaded.cube.segments.exists(_.name == s0.name))
    assert(dims.exists(d => reloaded.dimRanges.contains((s0.name, d))))
  }
}
