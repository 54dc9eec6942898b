package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cube._

/** Shared-root dictionary-lease contention (VERDICT r17 item 4,
  * carried through r18): two cubes co-rooted by `rootScope` share one
  * append-stable dictionary tree, and every dictionary-bearing build
  * serializes its DICT PHASE under the root-level `dict` lease
  * (CubeManager.dictEncode) — the race guard that keeps two builds
  * from minting the same next dictionary version and silently
  * null-encoding one side's new values.
  *
  * The risk the verdict flagged: if that lease accidentally scoped
  * the WHOLE build, shared-root members would build strictly one
  * after the other — a fleet-level throughput cliff at 100 TB. This
  * spec races two member builds and proves from the phase trace that
  * ONLY the dictionary phases serialized; the cuboid phases (the bulk
  * of any real build) ran concurrently. The 10×-cardinality lease
  * WAIT measurement lives in `Probe cube`'s `contention` section. */
class DictLeaseContentionSpec extends AnyFunSuite {
  import TestSpark._

  // the SAME fixture `Probe cube`'s contention_x10 measures at 10×
  // cardinality — shared so the pinned contract and the measured
  // shape can never drift apart
  private def doc(name: String): String =
    Probe.Cube.contentionDoc(name, "controot")

  test("two shared-root member builds serialize ONLY their dictionary " +
      "phases; the cuboid phases overlap (the lease scopes the dict " +
      "tree, not the build)") {
    val (a, b) = ("cont_a", "cont_b")
    val root = s"${CubeManager.cubeRoot}/${sf.split('/').last}-controot"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    CubeManager.resetMemos()
    val specs = Seq(a, b).map(n => CubeJson.parse(doc(n)))

    CubeBuilder.clearTrace()
    CubeBuilder.traceArmed.set(true)
    try {
      // a dedicated 2-thread pool: on a 1-CPU runner the global EC
      // would run the two blocking builds one after the other and the
      // overlap assertion below would fail spuriously
      val insts = Probe.Cube.raceTwo(
        CubeManager.ensureDeclared(spark, sf, specs.head),
        CubeManager.ensureDeclared(spark, sf, specs.last), 300)
      assert(insts.map(_.cube.name).toSet == Set(a, b))
      // both builds share ONE dictionary tree under the root scope
      assert(insts.map(_.root).distinct.size == 1,
        "rootScope must co-root both members")
    } finally CubeBuilder.traceArmed.set(false)

    val trace = {
      import scala.jdk.CollectionConverters._
      CubeBuilder.phaseTrace.asScala.toSeq
    }
    def dictOf(n: String) = trace.collect {
      case ("dictionary", d, s, e) if d == n => (s, e) }
    def cuboidsOf(n: String) = trace.collect {
      case ("cuboid", d, s, e) if d.startsWith(s"$n/") => (s, e) }
    val (da, db) = (dictOf(a), dictOf(b))
    assert(da.size == 1 && db.size == 1,
      s"expected one dict phase per member, got a=$da b=$db")
    def disjoint(x: (Long, Long), y: (Long, Long)) =
      x._2 <= y._1 || y._2 <= x._1
    // 1) the dict phases SERIALIZED — the lease's whole job
    assert(disjoint(da.head, db.head),
      s"dictionary phases overlapped — the dict lease failed: " +
        s"a=${da.head} b=${db.head}")
    // 2) the builds themselves ran CONCURRENTLY: some cuboid write of
    // one member overlapped a cuboid write (or the dict phase) of the
    // other — if this fails, the lease is scoping the whole build
    val (ca, cb) = (cuboidsOf(a), cuboidsOf(b))
    assert(ca.nonEmpty && cb.nonEmpty)
    val overlapped =
      ca.exists(x => cb.exists(y => !disjoint(x, y))) ||
      ca.exists(x => !disjoint(x, db.head)) ||
      cb.exists(y => !disjoint(y, da.head))
    assert(overlapped,
      "no phase of one member overlapped any phase of the other — " +
        "the shared-root builds fully serialized (lease scope bug?)")
    // 3) the shared dictionary stayed append-stable: one id space,
    // every customer name encoded (no null-id undercount)
    val dict = Dictionary.load(spark, root, "c_name")
      .getOrElse(fail("shared dict tree must exist"))
    val names = Tables.customer(spark, sf).select("c_name").distinct()
    assert(dict.count() == names.count(),
      "the shared dictionary must hold exactly the distinct values")
  }
}
