package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated star schema + pipeline tables
  * (see TESTDATA.md). One parquet dir per table under the sf dir.
  *
  * Scale notes: at 100 TB these reads become multi-file partitioned
  * scans; nothing here assumes single-file layout. Dim tables
  * (region/nation/supplier/part/customer) are broadcast-sized at any
  * realistic scale factor relative to the fact table and are joined
  * with an explicit `broadcast(...)` hint at call sites.
  */
object Tables {
  /** Fresh relation per call — `tbl` must NOT be memoized: lifecycle
    * surfaces (GraftTool refresh/snapshot) legitimately REWRITE a
    * source dir and re-read it, and a cached DataFrame pins the first
    * read's file listing (FAILED_READ_FILE on the rewritten dir —
    * 4 GraftToolSpec tests caught exactly that when r21 briefly cached
    * here). Only the pipeline corpora below are identity-shared. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** One DataFrame PER (session, dir, table) for the PIPELINE corpora
    * (ADVICE r20 item 4). Every `spark.read.parquet` call builds a
    * fresh HadoopFsRelation whose FileIndex compares by identity, so
    * two reads of the same path yield logical plans even
    * `canonicalized` cannot unify — which made every plan-keyed
    * bounded memo downstream (shingle rows, banded buckets, simhash
    * buckets, cosine pairs) MISS across calls and re-persist duplicate
    * copies of identical frames. Sharing the loader frame makes those
    * memo keys hit by construction. Scoped to documents/embeddings
    * only: they are static test corpora no lifecycle op rewrites,
    * while star tables must stay fresh-per-call (see `tbl`). */
  private val tblMemo = new graft.BoundedMemo[
    (SparkSession, String, String), DataFrame](64)(_ => ())

  private def cachedTbl(spark: SparkSession, dir: String,
                        name: String): DataFrame =
    tblMemo.getOrElseUpdate((spark, dir, name), tbl(spark, dir, name))

  /** Parallelism floor for unsplittable scans (optimization guide §2.5,
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"). The driver's test parquet is single-row-group,
    * so no split configuration can parallelize the scan — every
    * scan-rooted compute stage (decimal partial aggregates, shingling,
    * vector quantization) otherwise serializes on ONE core of 32
    * (measured: q02's 2.0 s of executor time ran as one 3-task stage
    * with two empty tasks). When the scan already plans at least the
    * session's default parallelism — any realistic multi-file table,
    * and certainly a 100 TB one — this is a NO-OP: no exchange is
    * added, the plan is unchanged. Safety: the round-robin repartition
    * keeps sortBeforeRepartition semantics (task retries reproduce the
    * same assignment), and filter/column pushdown still reaches the
    * scan through RepartitionOperation (verified in plans/r21). */
  private val widenMemo = new graft.BoundedMemo[
    (SparkSession, String, String), Option[Int]](64)(_ => ())

  /** `tbl` widened to the session's default parallelism when the scan
    * plans fewer partitions — a no-op at any realistic scale (multi-
    * file tables plan thousands of splits). Opt-IN per consumer, not
    * wired into the plain loaders: the A/B bench showed the extra
    * round-robin exchange only pays for itself where the per-row work
    * downstream is heavy (decimal aggregate sweeps, shingling,
    * quantization, wide sorts); light consumers (simple joins, windows,
    * order-limit) lose more to the exchange + per-task overhead than
    * they gain (BENCH_local_r21_before vs the widen-all A/B run).
    *
    * Only the widen DECISION (target width) is memoized — star-table
    * frames are rebuilt through `tbl` on every call (ADVICE r21: a
    * cached frame over a star table pins the first read's file listing,
    * and GraftTool refresh/snapshot legitimately rewrites source dirs
    * in place; a stale WIDTH after a rewrite is merely suboptimal, a
    * stale LISTING is FAILED_READ_FILE). The PIPELINE corpora ride
    * their identity-shared loader (`cachedTbl`) exactly like the plain
    * `documents`/`embeddings` accessors, so a widened-corpus plan stays
    * canonicalized-stable across calls and the plan-keyed persist memos
    * downstream (doc_top_terms' tf frame) can hit — a fresh
    * HadoopFsRelation per call would defeat them by identity. */
  def widened(s: SparkSession, d: String, name: String): DataFrame = {
    val df =
      if (name == "documents" || name == "embeddings") cachedTbl(s, d, name)
      else tbl(s, d, name)
    widenMemo.getOrElseUpdate((s, d, name),
        widenTarget(df, WidenBytesPerPartition)) match {
      case Some(n) => df.repartition(n)
      case None => df
    }
  }

  /** Minimum estimated bytes per widened partition: widening a TINY
    * frame (a filtered 500-doc batch) to full core count pays ~32 task
    * launches for sub-millisecond work each — measured as a net loss on
    * the incremental-ingest key. Sizing the width by the optimizer's
    * byte estimate keeps small frames at a few tasks and lets genuinely
    * large serial scans reach full parallelism. */
  private val WidenBytesPerPartition = 64L * 1024

  /** frame-level variant for kernels fed arbitrary inputs (shingling,
    * quantization): same no-op-at-scale guard as `widened`, width scaled
    * to the frame's estimated size (never above default parallelism).
    * The decision is memoized per canonicalized plan: reading the
    * current partition count forces physical planning + RDD DAG
    * construction on the driver (ADVICE r21), which repeat callers
    * (shingling / quantization kernels over memoized loader frames)
    * would otherwise pay on every invocation. */
  private val frameWidenMemo = new graft.BoundedMemo[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long),
    Option[Int]](64)(_ => ())

  def widenFrame(df: DataFrame): DataFrame =
    frameWidenMemo.getOrElseUpdate(
      (df.queryExecution.analyzed.canonicalized, WidenBytesPerPartition),
      widenTarget(df, WidenBytesPerPartition)) match {
      case Some(n) => df.repartition(n)
      case None => df
    }

  /** Some(target) when the frame plans fewer partitions than its
    * byte-scaled target — the only case a round-robin widen pays. The
    * `target > 1` short-circuit skips the driver-side `.rdd` partition
    * count entirely for small frames (target 1 can never exceed a
    * positive partition count). */
  private def widenTarget(df: DataFrame,
                          bytesPerPartition: Long): Option[Int] = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // BigInt: join-heavy plans can estimate past Long.MaxValue
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = (est / bytesPerPartition)
      .min(BigInt(p)).max(BigInt(1)).toInt
    if (target > 1 && df.rdd.getNumPartitions < target) Some(target)
    else None
  }

  def lineitem(s: SparkSession, d: String): DataFrame = tbl(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = tbl(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = tbl(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = tbl(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = tbl(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = tbl(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = tbl(s, d, "region")
  /** events.parquet's `ts` arrives in whichever physical form the
    * generator's pyarrow picked: TIMESTAMP(NANOS) (surfaced as a long
    * under spark.sql.legacy.parquet.nanosAsLong, set in every session
    * builder here), TIMESTAMP(MICROS) without UTC adjustment (surfaced
    * as TIMESTAMP_NTZ by Spark 4's reader), or a UTC-adjusted
    * timestamp. Normalize at the loader so every query sees a plain
    * TimestampType `ts`:
    *  - nanos-long → integer `div` 1000 (nanos ≈ 1.7e18 overflows a
    *    double's 53-bit mantissa, so no floating-point division);
    *  - NTZ → cast to TimestampType — the session timezone is pinned
    *    UTC in every builder, so the instant equals the oracle's
    *    naive reading of the same file. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = tbl(s, d, "events")
    eventsTs(raw.schema("ts").dataType)
      .fold(raw)(e => raw.withColumn("ts", expr(e)))
  }
  /** the SQL that normalizes an on-disk events `ts` of type `t` (the
    * catalog events view renders it too); None when it is already a
    * plain timestamp */
  def eventsTs(t: DataType): Option[String] = t match {
    case LongType => Some("timestamp_micros(ts div 1000)")
    case TimestampNTZType => Some("CAST(ts AS TIMESTAMP)")
    case _ => None
  }
  /** a model table by name — the one loader declared cubes read
    * through (CubeJson.loadTable), so a declaration over `events` sees
    * the same normalized `ts` as the built-in events view */
  def modelTable(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else tbl(s, d, name)
  def documents(s: SparkSession, d: String): DataFrame =
    cachedTbl(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    cachedTbl(s, d, "embeddings")
}

/** Oracle-parity helpers.
  *
  * The driver hash-compares our parquet output against DuckDB running
  * the paired SQL. Double summation is not associative, so any
  * parallel sum over raw doubles is nondeterministic run-to-run; we
  * route money/quantity aggregates through DECIMAL (exact, order-
  * independent) and only cast back to double at the end — the final
  * decimal→double cast is deterministic and identical on both engines.
  */
object Exact {
  val D18: DecimalType = DecimalType(18, 2)
  val D4: DecimalType  = DecimalType(4, 2)
  /** exact decimal view of a 2-dp money/quantity double column */
  def dec(c: Column): Column = c.cast(D18)
  /** small-range 2-dp factor (discount/tax) */
  def dec4(c: Column): Column = c.cast(D4)
  /** order-independent SUM of a 2-dp double, returned as double */
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)
  /** exact average: decimal sum cast to double / count */
  def davg(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(c)
  /** l_extendedprice * (1 - l_discount), exact */
  def discPrice(ext: Column, disc: Column): Column =
    dec(ext) * (lit(1) - dec4(disc))
  /** l_extendedprice * (1 - l_discount) * (1 + l_tax), exact */
  def charge(ext: Column, disc: Column, tax: Column): Column =
    dec(ext) * (lit(1) - dec4(disc)) * (lit(1) + dec4(tax))
}
