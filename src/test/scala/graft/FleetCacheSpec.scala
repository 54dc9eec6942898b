package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** VERDICT r14 item 2: the fleet-shared (L2) result cache. One serving
  * JVM's computed result must serve the whole fleet through the
  * shared store (reference: MemcachedCacheManager +
  * RemoteLocalFailOverCacheManager — remote shared tier, in-process
  * tier as L1/failover). */
class FleetCacheSpec extends AnyFunSuite {
  import TestSpark._

  private val q =
    """SELECT n_name, sum(disc_price) AS revenue, count(*) AS n_rows
      |FROM graft_star WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin

  private def withFleetDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fleet").toString
    spark.conf.set(FleetCache.DirConf, dir)
    GraftSql.clearResultCache()
    try f(dir)
    finally {
      spark.conf.unset(FleetCache.DirConf)
      GraftSql.clearResultCache()
    }
  }

  test("state A computes + writes through; fresh state B serves the " +
      "entry with zero scans of cube parquet") {
    CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      val a = GraftSql.sqlCached(spark, sf, q)
      assert(a.routed && !a.fromCache)
      assert(FleetCache.entryCount(spark, dir) == 1,
        "the routed miss must commit one entry")
      val want = a.df.collect()
        .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
      // even in process A, the kept frame reads the cache payload —
      // write-through means later replays stay off the cube parquet.
      // (Dataset.inputFiles consults the cache-substituted plan and
      // reports nothing for persisted frames — assert on the analyzed
      // plan's scan roots instead)
      val scans = (df: org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.graftbridge.ScanBridge.scanRootPaths(df)
      assert(scans(a.df).nonEmpty && scans(a.df).forall(_.contains(dir)),
        s"stored frame must read the payload, got " +
          scans(a.df).take(3).mkString(", "))

      CubeManager.resetMemos() // fresh process state B
      val phases = CubeBuilder.phaseTotals
      val (h0, _) = GraftSql.fleetCacheStats
      val b = GraftSql.sqlCached(spark, sf, q)
      assert(b.routed && b.fromCache,
        "fresh state must hit the fleet entry")
      assert(scans(b.df).nonEmpty && scans(b.df).forall(_.contains(dir)),
        s"fleet hit must scan only the cache dir, got " +
          scans(b.df).take(3).mkString(", "))
      val got = b.df.collect()
        .map(x => (x.getString(0), x.getDouble(1), x.getLong(2))).toSet
      assert(got == want && want.nonEmpty)
      assert(CubeBuilder.phaseTotals == phases,
        "a fleet-cache hit must not fire any build phase")
      assert(GraftSql.fleetCacheStats._1 == h0 + 1)
    }
  }

  test("a REAL second JVM serves the entry written by this process") {
    CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      val a = GraftSql.sqlCached(spark, sf, q)
      assert(a.routed && FleetCache.entryCount(spark, dir) == 1)
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val child = new ProcessBuilder(javaBin,
          "-cp", System.getProperty("java.class.path"),
          "-Xmx2g", "graft.ChildServe", dir, sf, q)
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(child.getInputStream)
        .mkString // drain, or a full pipe can deadlock the child
      assert(child.waitFor() == 0,
        s"child serve failed:\n${out.takeRight(2000)}")
      assert(out.contains("CHILD_SERVE_OK"), out.takeRight(500))
    }
  }

  test("a foreign metadata commit invalidates through the stamps") {
    val inst = CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      val a = GraftSql.sqlCached(spark, sf, q)
      assert(a.routed && FleetCache.entryCount(spark, dir) == 1)
      // foreign commit: a new buildId lands in the shared meta (what a
      // builder process's append/refresh publishes)
      CubeMeta.save(spark, inst)
      CubeManager.resetMemos()
      val b = GraftSql.sqlCached(spark, sf, q)
      assert(b.routed && !b.fromCache,
        "a foreign commit must make the old entry unaddressable")
      assert(FleetCache.entryCount(spark, dir) == 2,
        "the recompute commits a second entry under the new stamps")
    }
  }

  test("an L1 entry seeded by the fleet tier is invalidated by a " +
      "foreign commit WITHOUT a restart (the disk stamps ride the " +
      "L1 key)") {
    val inst = CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      assert(GraftSql.sqlCached(spark, sf, q).routed) // compute + store
      CubeManager.resetMemos() // fresh state: manager memos empty
      val b = GraftSql.sqlCached(spark, sf, q)
      assert(b.fromCache, "fresh state must seed L1 from the fleet entry")
      // foreign commit, NO reset: this process never TOUCHED the cube
      // (the answer came from the payload), so memo-scoped stamps
      // alone would never notice — the key's disk-derived component
      // must
      CubeMeta.save(spark, inst)
      val c = GraftSql.sqlCached(spark, sf, q)
      assert(!c.fromCache,
        "the fleet-seeded L1 entry must not survive a foreign commit")
    }
  }

  test("fallback (unrouted) results never cache") {
    CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      val r = GraftSql.sqlCached(spark, sf,
        """SELECT o_orderstatus,
          |  sum(disc_price) FILTER (WHERE l_returnflag = 'R') AS x
          |FROM graft_star GROUP BY o_orderstatus""".stripMargin)
      assert(!r.routed)
      assert(FleetCache.entryCount(spark, dir) == 0,
        "an unrouted answer is not stamp-tracked and must not cache")
    }
  }

  test("extension bindings outside the cube root never enter the " +
      "shared tier (their storage is invisible to the stamp set)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-fleet-ext").toString
    val inst = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), CubeManager.eventsCube, root)
    GraftSql.registerBinding(GraftSql.Binding("graft_events_ext",
      TestSpark.eventsFlat, (_, _) => inst))
    CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      val r = GraftSql.sqlCached(spark, sf,
        """SELECT event_type, count(*) AS n_events
          |FROM graft_events_ext GROUP BY event_type""".stripMargin)
      assert(r.routed, "the extension binding itself must still route")
      assert(FleetCache.entryCount(spark, dir) == 0,
        "a view the stamps cannot invalidate must not be fleet-cached")
      // a stamp-covered query in the same session still writes through
      val r2 = GraftSql.sqlCached(spark, sf, q)
      assert(r2.routed && FleetCache.entryCount(spark, dir) == 1)
    }
  }

  test("redeploying a CHANGED declaration flips the shared key " +
      "immediately — before any rebuild commits (ADVICE r15)") {
    def doc(measures: String) =
      s"""{"name": "fleet_redeploy", "model": {"fact": "nation"},
         |"flatColumns": [{"name": "n_name"}, {"name": "n_regionkey"},
         |  {"name": "d", "expr": "CAST('1995-06-01' AS TIMESTAMP)"}],
         |"dims": ["n_name"], "segmentCol": "d",
         |"measures": [$measures],
         |"segments": [{"name": "all", "start": "1995-01-01",
         |              "end": "1996-01-01"}]}""".stripMargin
    val q =
      """SELECT n_name, count(*) AS n_rows FROM graft_fleet_redeploy
        |GROUP BY n_name""".stripMargin
    withFleetDir { dir =>
      CubeJson.registerJson(doc("""{"name": "n_rows", "family": "count"}"""))
      val a = GraftSql.sqlCached(spark, sf, q)
      assert(a.routed && FleetCache.entryCount(spark, dir) == 1)
      // redeploy a CHANGED declaration (extra measure → different
      // fingerprint). Disk stamps are untouched until a rebuild
      // commits, and an L2 hit would bypass sqlVia (where the
      // fingerprint-drift rebuild fires) — the declaration fingerprint
      // inside the shared key is what makes the old entry
      // unaddressable NOW, not after the next commit.
      CubeJson.registerJson(doc(
        """{"name": "n_rows", "family": "count"},
          |{"name": "rk_max", "family": "max", "column": "n_regionkey"}"""
          .stripMargin))
      val b = GraftSql.sqlCached(spark, sf, q)
      assert(b.routed && !b.fromCache,
        "the changed declaration must not hit the old fleet entry")
      assert(FleetCache.entryCount(spark, dir) == 2,
        "the recompute commits a second entry under the new key")
    }
  }

  test("a payload dir whose entry.json never landed is a lost race at " +
      "store time — our files never nest inside it (ADVICE r15)") {
    CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      import org.apache.hadoop.fs.Path
      val key = "deadbeef" * 8
      val payload = new Path(s"$dir/entries/$key/payload")
      val fs = payload.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // simulate the winner's rename having landed (entry.json still
      // in flight): Hadoop rename into this EXISTING dir would move
      // our tmp INSIDE it and return true — the corruption the
      // exists-probe must prevent
      fs.mkdirs(payload)
      val df = spark.range(3).toDF("x")
      val served = FleetCache.store(spark, dir, key, df, "cuboid",
        None, None, "q")
      assert(served.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(0L, 1L, 2L), "the degraded store must still serve the frame")
      val inside = fs.listStatus(payload)
      assert(!inside.exists(_.isDirectory),
        s"lost race must not nest our tmp under the winner's payload, " +
          s"got ${inside.map(_.getPath.getName).toSeq}")
      assert(!fs.exists(new Path(s"$dir/entries/$key/entry.json")),
        "the loser must not commit entry.json over a foreign payload")
    }
  }

  test("a store under the caps costs O(1) bookkeeping: the O(cap) " +
      "sweep runs once to seed and then only when a cap is plausibly " +
      "exceeded (VERDICT r15 item 6)") {
    CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      val queries = Seq("ASIA", "EUROPE", "AMERICA", "AFRICA",
        "MIDDLE EAST").map(rg =>
        s"""SELECT n_name, count(*) AS n_rows FROM graft_star
           |WHERE r_name = '$rg' GROUP BY n_name""".stripMargin)
      assert(GraftSql.sqlCached(spark, sf, queries.head).routed)
      val afterSeed = FleetCache.pruneRuns.get() // first store seeds
      queries.tail.foreach(q =>
        assert(GraftSql.sqlCached(spark, sf, q).routed))
      assert(FleetCache.pruneRuns.get() == afterSeed,
        "stores under the caps must not re-run the sweep")
      assert(FleetCache.entryCount(spark, dir) == 5)
    }
  }

  test("the byte budget evicts oldest-first and always keeps at " +
      "least the newest entry (VERDICT r15 item 6)") {
    CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      spark.conf.set(FleetCache.ReadGraceConf, "0")
      spark.conf.set(FleetCache.BytesConf, (10L << 30).toString)
      try {
        val queries = Seq("ASIA", "EUROPE", "AMERICA", "AFRICA").map(rg =>
          s"""SELECT n_name, count(*) AS n_rows FROM graft_star
             |WHERE r_name = '$rg' GROUP BY n_name""".stripMargin)
        assert(GraftSql.sqlCached(spark, sf, queries(0)).routed)
        Thread.sleep(1100) // the eviction order is entry mtime
        assert(GraftSql.sqlCached(spark, sf, queries(1)).routed)
        Thread.sleep(1100)
        // budget ≈ 1.2 × the two committed payloads: fits two similar
        // entries, not three
        def payloadBytes: Long =
          Option(new java.io.File(s"$dir/entries").listFiles).toSeq
            .flatten.map(e => org.apache.commons.io.FileUtils
              .sizeOfDirectory(new java.io.File(e, "payload"))).sum
        spark.conf.set(FleetCache.BytesConf,
          (payloadBytes * 12 / 10).toString)
        assert(GraftSql.sqlCached(spark, sf, queries(2)).routed)
        assert(FleetCache.entryCount(spark, dir) == 2,
          "the over-budget oldest entry must be evicted")
        // the evicted oldest recomputes; the newest still serves
        GraftSql.clearResultCache()
        assert(!GraftSql.sqlCached(spark, sf, queries(0)).fromCache)
        GraftSql.clearResultCache()
        assert(GraftSql.sqlCached(spark, sf, queries(2)).fromCache)
        // a budget below ONE payload still keeps the newest entry —
        // the tier degrades, it never thrashes to zero
        spark.conf.set(FleetCache.BytesConf, "1")
        Thread.sleep(1100)
        assert(GraftSql.sqlCached(spark, sf, queries(3)).routed)
        assert(FleetCache.entryCount(spark, dir) == 1,
          "only the newest entry survives a sub-payload budget")
      } finally {
        spark.conf.unset(FleetCache.BytesConf)
        spark.conf.unset(FleetCache.ReadGraceConf)
      }
    }
  }

  test("the store is FIFO-bounded like QueryLog") {
    CubeManager.ensureBuilt(spark, sf)
    withFleetDir { dir =>
      spark.conf.set(FleetCache.CapConf, "2")
      // the read grace defers over-cap deletion to protect in-flight
      // readers in other processes; zero it so the bound is immediate
      spark.conf.set(FleetCache.ReadGraceConf, "0")
      try {
        val queries = Seq("ASIA", "EUROPE", "AMERICA").map(rg =>
          s"""SELECT n_name, count(*) AS n_rows FROM graft_star
             |WHERE r_name = '$rg' GROUP BY n_name""".stripMargin)
        queries.foreach { qq =>
          val r = GraftSql.sqlCached(spark, sf, qq)
          assert(r.routed)
          // FIFO prune is mtime-ordered: keep the commits apart
          Thread.sleep(1100)
        }
        assert(FleetCache.entryCount(spark, dir) == 2,
          s"cap 2 must hold, got ${FleetCache.entryCount(spark, dir)}")
        // the EVICTED entry is the oldest: the first query recomputes…
        GraftSql.clearResultCache()
        val r0 = GraftSql.sqlCached(spark, sf, queries.head)
        assert(!r0.fromCache)
        // …while the newest still serves
        GraftSql.clearResultCache()
        val r2 = GraftSql.sqlCached(spark, sf, queries.last)
        assert(r2.fromCache)
      } finally {
        spark.conf.unset(FleetCache.CapConf)
        spark.conf.unset(FleetCache.ReadGraceConf)
      }
    }
  }
}
