package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.cube.{CubeInstance, CubeManager, CubeMeta, GraftSql, QueryService}

/** Routed reads pass the committed cuboid/snapshot schema the instance
  * memoized, so a repeat of a warmed shape submits no Spark job before
  * execution (Parquet schema inference runs a 1-task job per read).
  * The memo lives and dies with its CubeInstance, and file listing
  * stays per query: a vanished dir still fails as before, and a dir
  * emptied of its data files fails instead of reading as empty. */
class CommittedSchemaSpec extends AnyFunSuite {
  import TestSpark._

  private def inst: CubeInstance = {
    GraftSql.registerViews(spark, sf)
    CubeManager.ensureBuilt(spark, sf)
  }

  private val unsharded = Set("o_orderstatus", "l_returnflag")
  private val sharded = Set("r_name", "n_name")

  private def byFlag(f: String) =
    s"""SELECT o_orderstatus, count(*) AS n FROM graft_star
       |WHERE l_returnflag = '$f' GROUP BY o_orderstatus""".stripMargin
  private def byRegion(r: String) =
    s"""SELECT n_name, count(*) AS n FROM graft_star
       |WHERE r_name = '$r' GROUP BY n_name""".stripMargin

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toSet

  /** Spark jobs `body` submits on this thread. It runs under a private
    * job group, then one sentinel job in that group: the listener bus
    * delivers job starts in order, so once the sentinel is seen every
    * earlier job of the group has been counted. */
  private def jobsDuring[T](tag: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"schema-memo-$tag"
    val sentinelProp = "graft.spec.sentinel"
    val jobs = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group) {
          if (js.properties.getProperty(sentinelProp) != null)
            sentinel.countDown()
          else jobs.incrementAndGet(): Unit
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, tag)
    try {
      val r = body
      sc.setLocalProperty(sentinelProp, "1")
      sc.parallelize(Seq(1), 1).count(): Unit
      assert(sentinel.await(30, TimeUnit.SECONDS), "sentinel job unseen")
      (r, jobs.get())
    } finally {
      sc.setLocalProperty(sentinelProp, null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def scans(df: org.apache.spark.sql.DataFrame, id: Long): Boolean =
    df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains(s"/cuboid=$id/"))

  for ((name, dims, query, warm, other) <- Seq(
      ("unsharded", unsharded, byFlag _, "R", "A"),
      ("sharded", sharded, byRegion _, "ASIA", "EUROPE")))
    test(s"a repeat of a warmed $name cuboid routes with zero front-end " +
        "jobs and answers as the fallback does") {
      val i = inst
      val id = i.cube.cuboidId(dims)
      assert(i.cube.shardBy.exists(dims.contains) == (name == "sharded"))
      val w = GraftSql.sqlVia(spark, sf, query(warm))
      assert(w.routed && scans(w.df, id), s"warm-up must read cuboid $id")
      assert(i.memoizedShapes.contains(s"cuboid=$id"))
      val (r, jobs) =
        jobsDuring(name)(GraftSql.sqlVia(spark, sf, query(other)))
      assert(r.routed && scans(r.df, id), s"repeat must read cuboid $id")
      assert(jobs == 0, s"routing a warmed cuboid submitted $jobs job(s)")
      val want = rows(spark.sql(query(other)))
      assert(want.nonEmpty && rows(r.df) == want)
    }

  test("a buildId commit yields a new instance with an empty memo and " +
      "the same answers") {
    val q = byFlag("N")
    val before = rows(GraftSql.sqlVia(spark, sf, q).df)
    val old = inst
    assert(old.memoizedShapes.nonEmpty)
    CubeMeta.save(spark, old)
    val fresh = inst
    assert(!(fresh eq old), "a buildId drift must reload the instance")
    assert(fresh.memoizedShapes.isEmpty,
      s"the reloaded instance inherited ${fresh.memoizedShapes}")
    assert(rows(GraftSql.sqlVia(spark, sf, q).df) == before)
    assert(fresh.memoizedShapes.contains(
      s"cuboid=${fresh.cube.cuboidId(unsharded)}"))
  }

  /** a segment holding rows of cuboid `dims` and that cuboid's dir */
  private def damageTarget(i: CubeInstance, dims: Set[String]): JPath = {
    val id = i.cube.cuboidId(dims)
    val seg = i.cube.segments.map(_.name)
      .find(s => i.rows.getOrElse((s, id), 0L) > 0).get
    Paths.get(i.cuboidPath(seg, id))
  }

  /** move `paths` under a scratch dir for `body`, then move them back */
  private def movedAside[T](paths: Seq[JPath], from: JPath)(body: => T): T = {
    val aside = Files.createTempDirectory("graft-aside")
    val moves = paths.map(p => p -> aside.resolve(from.relativize(p).toString))
    moves.foreach { case (p, a) =>
      Files.createDirectories(a.getParent); Files.move(p, a)
    }
    try body
    finally moves.foreach { case (p, a) =>
      Files.createDirectories(p.getParent); Files.move(a, p)
    }
  }

  private def chain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString(" <- ")

  test("a deleted committed cuboid dir still fails with PATH_NOT_FOUND " +
      "after the one swap-window retry") {
    val i = inst
    val q = byFlag("R")
    GraftSql.sqlVia(spark, sf, q)
    assert(i.memoizedShapes.contains(s"cuboid=${i.cube.cuboidId(unsharded)}"))
    val dir = damageTarget(i, unsharded)
    val e = movedAside(Seq(dir), dir.getParent) {
      intercept[Exception](QueryService.run(spark, sf, q,
        queryId = "schema-memo-deleted", cached = false))
    }
    assert(chain(e).contains("PATH_NOT_FOUND") &&
      QueryService.vanishedUnder(e, CubeManager.cubeRoot),
      s"expected the retry-eligible vanished-dir failure, got ${chain(e)}")
    assert(QueryService.run(spark, sf, q, queryId = "schema-memo-restored",
      cached = false).rows.nonEmpty)
  }

  for ((name, dims, q) <- Seq(
      ("unsharded", unsharded, byFlag("R")),
      ("sharded", sharded, byRegion("ASIA"))))
    test(s"a committed $name cuboid dir emptied of its data files fails, " +
        "never returns fewer rows") {
      val i = inst
      val want = rows(GraftSql.sqlVia(spark, sf, q).df)
      assert(i.memoizedShapes.contains(s"cuboid=${i.cube.cuboidId(dims)}"))
      val dir = damageTarget(i, dims)
      val data = scala.util.Using.resource(Files.walk(dir))(
        _.iterator.asScala.toList).filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith("_") && !n.startsWith(".")
      }
      assert(data.nonEmpty, s"no data files under $dir")
      val e = movedAside(data, dir) {
        intercept[Exception](QueryService.run(spark, sf, q,
          queryId = s"schema-memo-emptied-$name", cached = false))
      }
      assert(chain(e).contains("lists no data files"),
        s"expected the empty-dir refusal, got ${chain(e)}")
      assert(rows(GraftSql.sqlVia(spark, sf, q).df) == want)
    }
}
