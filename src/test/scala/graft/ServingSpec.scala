package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.cube.{CubeManager, GraftSql, QueryLog, QueryService}

/** Query-server concurrency hygiene (reference: ResultPlan.scala's
  * jobgroup/pool/cancel discipline + SparkSqlClient's row cap): every
  * served query runs under its own job group in a planned-rows-weighted
  * FAIR pool, can be cancelled by id without touching its neighbors,
  * and refuses results beyond the caller's row cap. */
/** static home for the cancel test's start flag: module fields are not
  * captured into task closures (the UDF references the module, not an
  * enclosing instance) */
object ServingSpecState {
  @volatile var slowStarted = false
  /** only the FIRST task to see the marker row sleeps: the marker
    * appears once per segment scan task, and letting every task sleep
    * would occupy all local[4] slots and starve the concurrent query */
  val sleepClaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class ServingSpec extends AnyFunSuite {
  import TestSpark._

  private def ensure(): Unit = {
    GraftSql.registerViews(spark, sf)
    CubeManager.ensureBuilt(spark, sf)
    ()
  }

  test("pool choice weighs the routed plan's estimated cuboid rows") {
    assert(QueryService.poolFor(routed = false, None) ==
      QueryService.PushdownPool)
    assert(QueryService.poolFor(routed = true, Some(10L)) ==
      QueryService.LightPool)
    assert(QueryService.poolFor(routed = true,
      Some(QueryService.HeavyRowThreshold + 1)) == QueryService.HeavyPool)
    // a routed plan of UNKNOWN size is heavy, never pushdown: treating
    // it as small could let a big cuboid scan starve the light pool,
    // and the pushdown pool is for un-routed source scans only
    assert(QueryService.poolFor(routed = true, None) ==
      QueryService.HeavyPool)
  }

  test("the router's light coalesce is the one routed-width decision: " +
      "a small scalar query plans no exchange, an HLL query is not " +
      "coalesced") {
    ensure()
    // the default serving path: sqlCached persists the routed frame,
    // so its width is whatever the router planned into it
    def widthAndCoalesce(sql: String): (Option[Int], Boolean) = {
      val r = GraftSql.sqlCached(spark, sf, sql)
      assert(r.routed, s"must route: $sql")
      r.df.collect()
      val plan = r.df.queryExecution.executedPlan
      (QueryService.plannedShufflePartitions(plan),
       QueryService.flatten(plan).exists(
         _.isInstanceOf[org.apache.spark.sql.execution.CoalesceExec]))
    }
    val (scalarWidth, scalarCoalesced) = widthAndCoalesce(
      "SELECT r_name, sum(l_quantity) AS q FROM graft_star GROUP BY r_name")
    assert(scalarWidth.isEmpty,
      s"a small scalar routed query must plan no exchange, got $scalarWidth")
    assert(scalarCoalesced, "a small scalar routed scan must be coalesced")
    // heavy-state gate: a dense-HLL merge keeps the parallel aggregation
    val (_, hllCoalesced) = widthAndCoalesce(
      "SELECT r_name, approx_count_distinct(o_custkey) AS c " +
        "FROM graft_star GROUP BY r_name")
    assert(!hllCoalesced, "an HLL routed scan must not be coalesced")
  }

  test("a served query carries the executed plan's scan actuals") {
    ensure()
    val served = QueryService.run(spark, sf,
      "SELECT n_name, count(*) AS n FROM graft_star GROUP BY n_name",
      queryId = "svc-metrics", cached = false)
    assert(served.scanRows > 0,
      s"a routed cuboid scan must report scanned rows, got $served")
    assert(served.scanBytes > 0,
      s"a routed cuboid scan must report scanned bytes, got $served")
    val logged = QueryLog.recent.find(_.queryId == "svc-metrics")
    assert(logged.exists(e => e.scanRows == served.scanRows &&
      e.scanBytes == served.scanBytes),
      s"the served log must carry the same actuals, got $logged")
    // the DEFAULT serving path reads through the result cache's
    // persisted frame (InMemoryRelation) — actuals must descend into
    // the cached plan, not silently report 0/0
    val cachedServed = QueryService.run(spark, sf,
      "SELECT n_name, count(*) AS n FROM graft_star GROUP BY n_name",
      queryId = "svc-metrics-cached")
    assert(cachedServed.scanRows > 0 && cachedServed.scanBytes > 0,
      s"cached-path scan actuals must be nonzero, got $cachedServed")
    // a result-cache HIT reads zero files: it must carry the fromCache
    // mark and report 0 actuals instead of re-charging the cache
    // build's reads to every hit (ADVICE r12)
    val hitServed = QueryService.run(spark, sf,
      "SELECT n_name, count(*) AS n FROM graft_star GROUP BY n_name",
      queryId = "svc-metrics-hit")
    assert(hitServed.fromCache,
      s"a repeat through the cache must be marked fromCache, got $hitServed")
    assert(hitServed.scanRows == 0 && hitServed.scanBytes == 0,
      s"a cache hit must report 0 scan actuals, got $hitServed")
    // the programmatic path logs WHY a fallback hit pushdown, same as
    // the JDBC guard (BadQueryDetector posture); routed rows carry none
    QueryService.run(spark, sf,
      "SELECT o_orderstatus, stddev(l_quantity) AS s FROM graft_star " +
        "GROUP BY o_orderstatus", queryId = "svc-why-pushdown")
    val why = QueryLog.recent.find(_.queryId == "svc-why-pushdown")
    assert(why.exists(e => e.route.via == "fallback" &&
      e.route.reason.exists(_.contains("unmatched aggregation"))),
      s"fallback must carry its traced reason, got $why")
    assert(QueryLog.recent
      .find(_.queryId == "svc-metrics-hit").exists(_.route.reason.isEmpty),
      "a routed/cached statement must carry no pushdown reason")
  }

  test("cancelling a finished or unknown id does not poison a later " +
      "run reusing it") {
    ensure()
    val q = "SELECT r_name, count(*) AS n FROM graft_star GROUP BY r_name"
    val first = QueryService.run(spark, sf, q, queryId = "svc-reuse")
    assert(first.rows.nonEmpty)
    // stale cancel: the query already finished — the mark must NOT be
    // taken (ADVICE r12: an unguarded mark throws a spurious
    // QueryCancelled from the next run with this id)
    QueryService.cancel(spark, "svc-reuse")
    QueryService.cancel(spark, "svc-never-ran")
    val again = QueryService.run(spark, sf, q, queryId = "svc-reuse")
    assert(again.rows.nonEmpty,
      "a run reusing a previously-cancelled-after-finish id must succeed")
  }

  test("a slow query times out with a typed error; a concurrent query " +
      "is unaffected") {
    ensure()
    ServingSpecState.slowStarted = false
    ServingSpecState.sleepClaimed.set(false)
    spark.udf.register("graft_slow_to", (s: String) => {
      if (s == "NATION_0" &&
          ServingSpecState.sleepClaimed.compareAndSet(false, true)) {
        ServingSpecState.slowStarted = true
        Thread.sleep(120000)
      }
      s
    })
    implicit val ec: ExecutionContext = ExecutionContext.global
    val slow = Future {
      QueryService.run(spark, sf,
        "SELECT n_name, count(*) AS c FROM graft_star " +
          "WHERE graft_slow_to(n_name) = n_name GROUP BY n_name",
        queryId = "svc-deadline", cached = false, timeout = 3.seconds)
    }
    // while the deadline is pending, another query is served normally
    val other = QueryService.run(spark, sf,
      "SELECT r_name, count(*) AS c FROM graft_star GROUP BY r_name",
      queryId = "svc-deadline-other", cached = false)
    assert(other.rows.length == 5)
    val e = intercept[Exception] { Await.result(slow, 90.seconds) }
    assert(e.isInstanceOf[QueryService.QueryTimedOut],
      s"expected QueryTimedOut, got $e")
    // the session still serves after the timeout fired
    val after = QueryService.run(spark, sf,
      "SELECT count(*) AS n FROM graft_star", queryId = "svc-to-after",
      cached = false)
    assert(after.rows.length == 1)
    // deployment-wide default (kylin.query.timeout-seconds parity):
    // with the session conf set, a call that passes NO timeout still
    // gets the deadline
    ServingSpecState.sleepClaimed.set(false)
    spark.conf.set(QueryService.TimeoutConf, "2")
    try {
      val e2 = intercept[Exception] {
        QueryService.run(spark, sf,
          "SELECT n_name, count(*) AS c FROM graft_star " +
            "WHERE graft_slow_to(n_name) = n_name GROUP BY n_name",
          queryId = "svc-conf-deadline", cached = false)
      }
      assert(e2.isInstanceOf[QueryService.QueryTimedOut],
        s"conf-armed deadline must fire, got $e2")
    } finally spark.conf.unset(QueryService.TimeoutConf)
  }

  test("a deadline that elapses before the first job still kills the " +
      "query") {
    ensure()
    ServingSpecState.sleepClaimed.set(false)
    // registered by the timeout test above; re-registered so this test
    // also runs on its own
    spark.udf.register("graft_slow_to", (s: String) => {
      if (s == "NATION_0" &&
          ServingSpecState.sleepClaimed.compareAndSet(false, true)) {
        ServingSpecState.slowStarted = true
        Thread.sleep(120000)
      }
      s
    })
    // 1 ms elapses during routing, before any job of the query exists:
    // a one-shot group cancel would find nothing to cancel and the
    // sleeping task would run for its full 120 s
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      QueryService.run(spark, sf,
        "SELECT n_name, count(*) AS c FROM graft_star " +
          "WHERE graft_slow_to(n_name) = n_name GROUP BY n_name",
        queryId = "svc-early-deadline", cached = false,
        timeout = 1.millisecond)
    }
    val elapsed = (System.nanoTime() - t0).nanos
    assert(e.isInstanceOf[QueryService.QueryTimedOut],
      s"expected QueryTimedOut, got $e")
    assert(elapsed < 30.seconds,
      s"the deadline must stop the query, not wait it out: took $elapsed")
  }

  test("a served routed query runs under its job group in a FAIR pool") {
    ensure()
    // capture job properties as Spark submits them
    val seen = scala.collection.concurrent.TrieMap
      .empty[String, String] // jobGroup -> pool
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = js.properties.getProperty("spark.jobGroup.id")
        if (g != null && g.startsWith(QueryService.GroupPrefix))
          seen.put(g, js.properties.getProperty("spark.scheduler.pool"))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val served = QueryService.run(spark, sf,
        "SELECT n_name, count(*) AS n FROM graft_star GROUP BY n_name",
        queryId = "svc-tagged", cached = false)
      assert(served.routed, "query must route to the cube")
      assert(served.pool == QueryService.LightPool,
        s"a small cuboid scan belongs in the light pool, got ${served.pool}")
      assert(served.rows.nonEmpty)
      // the listener bus is async — poll briefly for the captured props
      val deadline = System.nanoTime() + 10.seconds.toNanos
      while (!seen.contains(QueryService.GroupPrefix + "svc-tagged") &&
             System.nanoTime() < deadline) Thread.sleep(50)
      val pool = seen.get(QueryService.GroupPrefix + "svc-tagged")
      assert(pool.contains(QueryService.LightPool),
        s"the collect job must carry the group + pool, saw $seen")
      // properties are restored after the run
      assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
      assert(
        spark.sparkContext.getLocalProperty("spark.scheduler.pool") == null)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an un-routable query is served from the pushdown pool") {
    ensure()
    // rand() is nondeterministic ⇒ the router refuses ⇒ source answers
    val served = QueryService.run(spark, sf,
      "SELECT count(*) AS n FROM graft_star WHERE rand() >= -1",
      queryId = "svc-pushdown", cached = false)
    assert(!served.routed)
    assert(served.pool == QueryService.PushdownPool)
  }

  test("the result-row cap refuses, never truncates") {
    ensure()
    val sql = "SELECT n_name, count(*) AS n FROM graft_star GROUP BY n_name"
    val e = intercept[QueryService.ResultCapExceeded] {
      QueryService.run(spark, sf, sql, queryId = "svc-capped", maxRows = 3,
        cached = false)
    }
    assert(e.cap == 3)
    // the same query under a sufficient cap serves all groups
    val ok = QueryService.run(spark, sf, sql, queryId = "svc-uncapped",
      maxRows = 1000, cached = false)
    assert(ok.rows.length > 3)
  }

  test("multi-session contract: a session is served only after its own " +
      "registerViews; no cross-session routing") {
    ensure()
    // Temp views are session-scoped, so a Thriftserver in
    // non-singleSession mode serves fresh sessions that have NOT
    // registered: such a session must fail to resolve the view (clean
    // refusal) rather than silently route against another session's
    // data — the acceleration rule keys its registered-dir lookup on
    // the session for exactly this reason.
    val s2 = spark.newSession()
    intercept[Exception] {
      s2.sql(s"SELECT count(*) FROM ${GraftSql.ViewName}").collect()
    }
    // after ITS OWN registration the session serves and accelerates
    // (newSession inherits the extensions object, so the rule is live)
    GraftSql.registerViews(s2, sf)
    s2.conf.set("spark.graft.accelerate", "true")
    try {
      val df = s2.sql("SELECT n_name, count(*) AS n FROM " +
        s"${GraftSql.ViewName} GROUP BY n_name")
      assert(df.queryExecution.executedPlan.toString.contains("cuboid="),
        "the registered new session must be served from the cube")
      assert(df.count() > 0)
    } finally s2.conf.set("spark.graft.accelerate", "false")
  }

  test("cancel(queryId) kills a slow routed query; a concurrent query " +
      "is unaffected") {
    ensure()
    // a deterministic-by-contract UDF over a dim routes (dim-only
    // predicate); ONE value sleeps long enough to outlive the spec
    // unless cancellation interrupts its task — only one task slot
    // blocks, so the concurrent query always has executors (sleeping
    // on every row would starve local[4] and deadlock the spec). The
    // start flag lives in a static module — a closure-captured latch
    // would make the task closure unserializable.
    ServingSpecState.slowStarted = false
    ServingSpecState.sleepClaimed.set(false)
    spark.udf.register("graft_slow", (s: String) => {
      if (s == "NATION_0" &&
          ServingSpecState.sleepClaimed.compareAndSet(false, true)) {
        ServingSpecState.slowStarted = true
        Thread.sleep(120000)
      }
      s
    })
    implicit val ec: ExecutionContext = ExecutionContext.global
    val slow = Future {
      QueryService.run(spark, sf,
        "SELECT n_name, count(*) AS c FROM graft_star " +
          "WHERE graft_slow(n_name) = n_name GROUP BY n_name",
        queryId = "svc-slow", cached = false)
    }
    // wait until a task is actually executing the sleepy filter; an
    // early Future failure (e.g. a routing error) fails fast here
    val startDeadline = System.nanoTime() + 60.seconds.toNanos
    while (!ServingSpecState.slowStarted &&
           System.nanoTime() < startDeadline) {
      slow.value.foreach(v => fail(s"slow query ended early: $v"))
      Thread.sleep(50)
    }
    assert(ServingSpecState.slowStarted,
      "the slow query never started executing")
    // a concurrent query on another thread completes while the slow
    // one is sleeping (FAIR pools + free slots)
    val other = QueryService.run(spark, sf,
      "SELECT r_name, count(*) AS c FROM graft_star GROUP BY r_name",
      queryId = "svc-concurrent", cached = false)
    assert(other.routed && other.rows.length == 5,
      "the concurrent query must be served normally during the slow one")
    QueryService.cancel(spark, "svc-slow")
    val e = intercept[Exception] { Await.result(slow, 60.seconds) }
    assert(e.isInstanceOf[QueryService.QueryCancelled],
      s"expected QueryCancelled, got $e")
    // the group's jobs are gone; the session still serves queries
    val after = QueryService.run(spark, sf,
      "SELECT count(*) AS n FROM graft_star", queryId = "svc-after",
      cached = false)
    assert(after.rows.length == 1)
  }
}
