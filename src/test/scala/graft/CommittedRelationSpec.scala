package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.cube.{CubeInstance, CubeManager, CubeQuery, QueryRouter}

/** A committed read is one relation over the committed dirs: shard
  * dirs become partition values typed from the committed schema, and
  * a sharded cuboid read over every segment plans one scan, not a
  * union of per-segment scans. */
class CommittedRelationSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).view.mapValues(_.length).toMap

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }

  test("shard dirs read as partition values: escaped names, null, pruning") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-shards").toString
    val data = Map(
      "s1" -> Seq((1L, "MIDDLE EAST"), (2L, "a/b=c"), (3L, null)),
      "s2" -> Seq((4L, "MIDDLE EAST"), (5L, null)))
    val inst = CubeInstance(
      CubeManager.defaultCube.copy(name = "shards", shardBy = Some("k")),
      root, data.map { case (s, rs) => (s, 1L) -> rs.size.toLong })
    data.foreach { case (seg, rs) =>
      rs.toDF("v", "k").write.partitionBy("k")
        .parquet(inst.cuboidPath(seg, 1L))
    }
    val segs = data.keys.toSeq.sorted
    val want = segs.map(s => spark.read.parquet(inst.cuboidPath(s, 1L)))
      .reduce(_ unionByName _)
    // the first read infers the schema, the second passes the memo
    for (pass <- Seq("inferred", "memoized")) {
      val got = inst.readCuboid(spark, 1L, segs, sharded = true)
      assert(got.schema == want.schema, pass)
      assert(bag(got) == bag(want) && bag(want).values.sum == 5, pass)
      assert(got.filter($"k".isNull).count() == 2, pass)
    }
    val one = inst.readCuboid(spark, 1L, segs, sharded = true)
      .filter($"k" === "a/b=c")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(2L))
    val scan = scans(one)
    assert(scan.size == 1 && scan.head.metrics("numFiles").value == 1,
      s"the filter must prune to the one a/b=c dir:\n" +
        one.queryExecution.executedPlan)
  }

  test("a routed query over every segment of sharded cuboid 127 plans one " +
      "scan and answers as a per-segment union read") {
    val inst = CubeManager.ensureBuilt(spark, sf)
    val dims = Seq("r_name", "p_brand")
    val r = QueryRouter.route(spark, inst,
      CubeQuery(dims, Seq("nrows" -> "n")))(fail("expected a cuboid route"))
    val id = inst.cube.cuboidId(inst.cube.dims.toSet)
    assert(id == 127L && r.cuboid.map(inst.cube.cuboidId).contains(id))
    val got = bag(r.df)
    assert(scans(r.df).size == 1,
      s"expected one scan:\n${r.df.queryExecution.executedPlan}")
    val segs = inst.cube.segments.map(_.name)
    val filled = segs.filter(s => inst.rows.getOrElse((s, id), 0L) > 0)
    assert(filled.size > 1 && filled.forall(s =>
      r.df.inputFiles.exists(_.contains(s"/$s/cuboid=$id/r_name="))))
    val m = inst.cube.measures.find(_.name == "nrows").get
    val union = segs.map(s => spark.read.parquet(inst.cuboidPath(s, id)))
      .reduce(_ unionByName _)
    val want = bag(union.groupBy(dims.map(col): _*)
      .agg(m.present(m.fromState(m.stateCol)).as("n")))
    assert(want.nonEmpty && got == want)
  }
}
