package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column ↔ Expression bridge. Spark 4 made these converters
  * private[sql]; extension libraries conventionally expose them from a
  * file compiled into the org.apache.spark.sql package tree (the same
  * approach Sedona / spark-excel use). Only graft's own native
  * expressions go through here. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** the EAGER converted tree (ExpressionUtils.expression returns a
    * lazy ColumnNodeExpression wrapper whose children aren't walkable
    * until analysis) — for structural matching of a Column's algebra */
  def expressionTree(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)
}

/** Spark 4's `Dataset.checkpoint` carries the pre-checkpoint plan's
  * STATISTICS onto the resulting LogicalRDD (originStats). For an
  * iterative self-join (pointer doubling), each round's size estimate
  * is then a PRODUCT over the previous round's — the BigInt doubles
  * its bit length every round and `SizeInBytesOnlyStatsPlanVisitor`
  * overflows BigInteger after ~25 rounds of compounding. This strips
  * the carried stats so the checkpointed frame re-bases estimation,
  * exactly as a pre-Spark-3.4 checkpoint did. */
object StatsBridge {
  def resetOriginStats(df: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        DatasetBridge.ofRows(df.sparkSession,
          new org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(
            df.sparkSession
              .asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            None, None))
      case _ => df
    }
}

/** LogicalPlan → DataFrame (Dataset.ofRows went private[sql] too) —
  * the acceleration rule re-wraps the plan it was handed so the
  * routing machinery can analyze/execute it as an ordinary frame. */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
    : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Scan-provenance helper: the file paths a frame's ANALYZED plan
  * reads. `Dataset.inputFiles` consults the cache-substituted plan, so
  * a persisted frame (or one whose plan the CacheManager matched)
  * reports nothing — this walks the analyzed tree, which substitution
  * never rewrites, so cache/spec code can assert WHERE a result comes
  * from regardless of persist state. */
object ScanBridge {
  def scanRootPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    fsRelations(df).flatMap(_.location.rootPaths.map(_.toString))

  /** the data files the relations' existing listings hold (no new
    * listing) */
  def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    fsRelations(df).flatMap(_.location.inputFiles.toSeq)

  private def fsRelations(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.datasources.HadoopFsRelation] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
    }.collect {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation => fs
    }
}

/** Session identity without pinning: `sessionUUID` is defined on the
  * classic SparkSession (every runtime session here is one). Memos
  * keyed on this STRING hold no reference to the session object, so a
  * process churning short-lived cloned sessions (one per JDBC
  * connection) cannot accrete pinned sessions through them. */
object SessionBridge {
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionUUID
}
