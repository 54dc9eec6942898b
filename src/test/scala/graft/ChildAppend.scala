package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cube._

/** Test fixture main, launched AS A SEPARATE JVM by FleetRefreshSpec:
  * the real two-process shape of a production deployment (builder
  * process appends, serving process notices through the stamp). Args:
  * (cubeRoot, sfDir). Loads the committed events-cube meta, appends a
  * February segment, exits 0 — everything the spec then observes from
  * the OTHER process travels through the shared store alone. */
object ChildAppend {
  def main(args: Array[String]): Unit = {
    val Array(root, sfDir) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-child-append")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val cube = CubeManager.eventsCube
      val loaded = CubeMeta.load(spark, cube, root)
        .getOrElse(sys.error(s"child: no committed meta under $root"))
      val febFlat = TestSpark.eventsFlat(spark, sfDir)
        .withColumn("ts", col("ts") + expr("INTERVAL 31 DAYS"))
        .withColumn("ev_day", date_format(col("ts"), "yyyy-MM-dd"))
      CubeBuilder.appendSegment(spark, loaded.inst, febFlat,
        Segment("s2024m2", "2024-02-01", "2024-03-01"))
      ()
    } finally spark.stop()
  }
}
