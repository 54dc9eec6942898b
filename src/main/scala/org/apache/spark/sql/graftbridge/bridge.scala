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

/** One parquet relation built directly over committed dirs: what
  * `spark.read.schema(s).parquet(dirs: _*)` resolves to, without
  * DataSource's per-read provider lookup, Hadoop conf copies, path
  * checks and partition inference (QueryCompilationErrors is
  * private[sql], hence the missing-path error lives here too). */
object RelationBridge {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
  import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
  import org.apache.spark.sql.errors.QueryCompilationErrors
  import org.apache.spark.sql.execution.datasources._
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.types.{DataType, StructType}

  /** `leaves` are the qualified dirs holding the data files, each with
    * its raw dir-name value per column of `partCols` (columns of
    * `schema`, in order): values are unescaped, typed from `schema`,
    * and the default-partition name reads as null. The leaves are
    * listed here, once, with no file-status cache. A root-level
    * listing skips a missing dir silently, so a leaf that lists no
    * file and no longer exists fails as a missing read path does. */
  def parquet(spark: SparkSession, schema: StructType, partCols: Seq[String],
              leaves: Seq[(Path, Seq[String])]): DataFrame = {
    val partSchema = StructType(partCols.map(schema(_)))
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    def typed(raw: String, t: DataType): Any =
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(Literal(ExternalCatalogUtils.unescapePathName(raw)), t, tz)
        .eval()
    val spec = PartitionSpec(partSchema,
      if (partCols.isEmpty) Nil
      else leaves.map { case (dir, raw) =>
        PartitionPath(InternalRow.fromSeq(
          raw.zip(partSchema).map { case (v, f) => typed(v, f.dataType) }),
          dir)
      })
    val dirs = leaves.map(_._1)
    val index = new InMemoryFileIndex(spark, dirs, Map.empty, Some(schema),
      NoopCache, Some(spec))
    lazy val conf = spark.sessionState.newHadoopConf()
    val listed = index.allFiles().iterator.map(_.getPath.getParent).toSet
    dirs.filterNot(listed)
      .find(d => !d.getFileSystem(conf).exists(d))
      .foreach(d => throw pathNotFound(d.toString))
    val rel = HadoopFsRelation(index, partSchema,
      StructType(schema.filterNot(f => partCols.contains(f.name))),
      None, new ParquetFileFormat, Map.empty)(spark)
    DatasetBridge.ofRows(spark, LogicalRelation(rel))
  }

  /** Spark's own error for a read path that does not exist */
  def pathNotFound(path: String): Throwable =
    QueryCompilationErrors.dataPathNotExistError(path)
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
