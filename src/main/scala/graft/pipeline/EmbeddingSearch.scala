package graft.pipeline

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity for the LLM-data-pipeline surface (SURVEY §2.4
  * #45–47): exact threshold pairs, brute-force top-k (the baseline),
  * and random-hyperplane LSH bucketed top-k (the 100 TB path).
  *
  * Determinism across engines: float coordinates are quantized to
  * integers (`floor(v · 2^20)` — exact, floats have 24-bit mantissas),
  * so dot products and norms are pure int64 arithmetic:
  * order-independent and bit-identical in Spark and DuckDB. Only the
  * final `dot / sqrt(na·nb)` touches floating point, in the same
  * left-to-right op sequence on both engines (IEEE ops are correctly
  * rounded ⇒ identical bits), then `round(_, 6)`.
  */
object EmbeddingSearch {

  val Dim = 64
  val Scale = 1048576L          // 2^20, a power of two ⇒ v·Scale is exact

  /** float array → exact integer vector */
  def quantize(e: Column): Column =
    transform(e, v => floor(v.cast(DoubleType) * Scale).cast(LongType))

  /** exact integer dot product (≤ 2^46 for 64 dims of ≤ 2^20).
    * Computed by the native LongDot expression — bit-identical to the
    * old `aggregate(zip_with(a, b, _*_), 0L, _+_)` fold, but codegen'd
    * (higher-order functions are interpreted per element; this is the
    * hot expression of every emb_* key — 32 evaluations per row in the
    * LSH bucket projection alone). */
  def idot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.LongDot(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** cosine from integer dot + squared norms, rounded to 6 dp */
  def cosine(dot: Column, n2a: Column, n2b: Column): Column =
    round(dot.cast(DoubleType) /
      sqrt(n2a.cast(DoubleType) * n2b.cast(DoubleType)), 6)

  /** (vec_id, q, n2): quantized vector + its squared norm. The input is
    * widened first (guide §2.5): quantization + the downstream dot/
    * bucket expressions are per-row heavy and a single-row-group scan
    * otherwise serializes them on one task (no-op at scale). */
  def quantized(embs: DataFrame): DataFrame =
    graft.Tables.widenFrame(embs)
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("n2", idot(col("q"), col("q")))

  private def pairCosine(a: String, b: String): Column =
    cosine(idot(col(s"$a.q"), col(s"$b.q")),
      col(s"$a.n2"), col(s"$b.n2"))

  /** default block count for the distributed all-pairs kernel: 16
    * blocks = 136 triangular block-pair tasks, each holding 2·(n/16)
    * vectors in memory. At larger corpora pick B ≈ n / target-block-
    * size so one block pair (2·n/B vectors · ~8·Dim bytes) fits an
    * executor core comfortably; compute stays O(n²) regardless — that
    * is what the LSH variants are for. */
  val CosineBlocks = 16

  /** quantized vector row for the typed block-pair kernel */
  final case class QVec(vec_id: Long, q: Array[Long], n2: Long)

  /** exact all-pairs cosine ≥ threshold — the O(n²) BASELINE the
    * bucketed variants are judged against; at scale use `lshTopK` /
    * LSH candidates instead.
    *
    * Fully distributed triangular block join (no driver collect, no
    * whole-corpus broadcast): vectors land in B blocks by id; each of
    * the B(B+1)/2 unordered block pairs becomes one cogroup key, and
    * each vector is shipped to exactly the block pairs it participates
    * in (B replicas). Within a block pair a primitive-long kernel
    * sweeps the cross product (the upper triangle on the diagonal
    * pairs) — the Catalyst zip_with/aggregate formulation is
    * interpreted (higher-order functions break codegen) and was ~50×
    * slower; the integer math here is identical, so the oracle still
    * replays bit-for-bit. Rounding replicates Spark's round():
    * BigDecimal(double) half-up. */
  def cosineDupPairs(embs: DataFrame, minCos: Double,
                     blocks: Int = CosineBlocks)
                    (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val b = blocks
    val vecs = quantized(embs).as[QVec]
    // A-side: a vector in block i serves block pairs (i, j), j ≥ i;
    // B-side: block pairs (i, j), i ≤ j. A pair of blocks (i ≤ j) meets
    // at key i*B+j exactly once, with the lower block on the A side.
    val aSide = vecs.flatMap { v =>
      val blk = (v.vec_id % b).toInt
      (blk until b).map(j => (blk * b + j, v))
    }
    val bSide = vecs.flatMap { v =>
      val blk = (v.vec_id % b).toInt
      (0 to blk).map(i => (i * b + blk, v))
    }
    aSide.groupByKey(_._1).cogroup(bSide.groupByKey(_._1)) { (key, as, bs) =>
      val diagonal = key / b == key % b
      val av = as.map(_._2).toArray
      val bv = bs.map(_._2).toArray
      av.iterator.flatMap { u =>
        bv.iterator.flatMap { w =>
          // same-block pairs: upper triangle only (each unordered pair
          // once); cross-block pairs appear once per construction
          if (diagonal && u.vec_id >= w.vec_id) Iterator.empty
          else {
            val c = cosineOf(u.q, w.q, u.n2, w.n2)
            if (c >= minCos)
              Iterator((math.min(u.vec_id, w.vec_id),
                math.max(u.vec_id, w.vec_id), c))
            else Iterator.empty
          }
        }
      }
    }.toDF("id_a", "id_b", "cosine")
  }

  /** `cosineDupPairs` behind a bounded memo (VERDICT r10 item 5): the
    * exact pair frame feeds both the pair report (emb_cosine_dup) and
    * the semantic dedup's cluster graph at the same threshold — the
    * O(n²) block-cogroup kernel is the most expensive thing in the
    * embedding suite and must not run once per consumer. Deterministic
    * integer arithmetic ⇒ a shared persisted frame can never diverge
    * between consumers. */
  private val PairCacheCap = 4
  private val pairCache = new graft.BoundedMemo[
    (org.apache.spark.sql.SparkSession,
     org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Double, Int),
    graft.LazyCell[DataFrame]](PairCacheCap)(
    _.release(_.unpersist(blocking = false)))

  def cachedCosineDupPairs(embs: DataFrame, minCos: Double,
                           blocks: Int = CosineBlocks)
                          (implicit spark: SparkSession): DataFrame =
    pairCache.getOrElseUpdate(
      (spark, embs.queryExecution.analyzed.canonicalized, minCos, blocks),
      new graft.LazyCell({
        // persist + eager count: see Dedup.materialized — a lazy
        // persisted frame referenced by several branches of one plan
        // race-computes its partitions from concurrent stages
        val df = cosineDupPairs(embs, minCos, blocks)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count(): Unit
        df
      })).value

  /** same arithmetic as the Catalyst path: exact int64 dot, one double
    * divide/sqrt, Spark-style half-up rounding to 6 dp */
  private def cosineOf(qa: Array[Long], qb: Array[Long],
                       n2a: Long, n2b: Long): Double = {
    var dot = 0L
    var i = 0
    while (i < qa.length) { dot += qa(i) * qb(i); i += 1 }
    val c = dot.toDouble / math.sqrt(n2a.toDouble * n2b.toDouble)
    new java.math.BigDecimal(c)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** brute-force top-k: broadcast the (tiny) query set against a full
    * scan of the corpus — one linear pass + a per-query sort of k */
  def bruteForceTopK(embs: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val q = quantized(embs)
    val queries = q.filter(col("vec_id") < numQueries)
    val scored = broadcast(queries).as("a")
      .join(q.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        pairCosine("a", "b").as("cosine"))
    rankTopK(scored, k)
  }

  // ── random-hyperplane LSH (the scale path) ───────────────────────

  val LshTables = 4
  val LshBits = 8

  /** target mean bucket occupancy for corpus-dedup bucketing: with a
    * FIXED bit count, candidate pairs grow ~n²/2^bits — the 100×
    * scale probe filled 80 GB of shuffle spill exactly this way.
    * Growing bits with log₂(n/occupancy) keeps pairs-per-table ≈
    * n·occupancy — LINEAR in n (recall per true near-dup pair decays
    * gently with bits: p_bit^bits per table, 1-(1-·)^tables overall —
    * the standard LSH trade, recoverable by adding tables). */
  val LshOccupancy = 24

  /** corpus-size-adaptive bit count, floored at [[LshBits]] (every
    * oracle scale ≤ 6144 vectors resolves to exactly LshBits, so the
    * fixed-bits SQL replay stays valid there) and capped at 30 */
  def lshBitsFor(n: Long): Int = {
    val grown = math.ceil(
      math.log(math.max(1.0, n.toDouble / LshOccupancy)) / math.log(2.0))
      .toInt
    math.min(30, math.max(LshBits, grown))
  }

  /** one extra table per two extra bits: per-table recall decays
    * ~p^bits as buckets narrow, and extra tables claw it back
    * (1-(1-p^bits)^tables) at linear candidate cost — at the floor
    * this is exactly [[LshTables]], so oracle scales are unchanged */
  def lshTablesFor(bits: Int): Int =
    LshTables + math.max(0, bits - LshBits) / 2

  /** deterministic md5-derived hyperplane coefficient in [-1000, 1000]
    * — reproducible in SQL as
    * (CAST(concat('0x', substr(md5(t||'_'||j||'_'||i), 1, 8)) AS BIGINT) % 2001) - 1000 */
  def hCoef(t: Int, j: Int, i: Int): Long = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s"${t}_${j}_$i".getBytes(StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % 2001 - 1000
  }

  /** adds one integer bucket column per LSH table: bit j of table t is
    * the sign of ⟨q, hyperplane(t,j)⟩ (exact integer dot) */
  def withBuckets(q: DataFrame, bits: Int = LshBits,
                  tables: Int = LshTables): DataFrame = {
    val bucketCols = (0 until tables).map { t =>
      (0 until bits).map { j =>
        val h = typedLit((0 until Dim).map(i => hCoef(t, j, i)))
        when(idot(col("q"), h) >= 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _).as(s"bkt$t")
    }
    q.select(col("vec_id") +: col("q") +: col("n2") +: bucketCols: _*)
  }

  /** LSH top-k: candidates = corpus vectors sharing any table's bucket
    * with the query (equi-join per table on the bucket id — the
    * all-pairs scan never happens), exact cosine on candidates only,
    * then top-k. Recall is tunable via tables × bits. */
  def lshTopK(embs: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val b = withBuckets(quantized(embs))
    val queries = b.filter(col("vec_id") < numQueries)
    val perTable = (0 until LshTables).map { t =>
      broadcast(queries).as("a")
        .join(b.as("b"),
          col(s"a.bkt$t") === col(s"b.bkt$t") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
          pairCosine("a", "b").as("cosine"))
    }
    rankTopK(perTable.reduce(_ union _).distinct(), k)
  }

  /** Corpus-scale LSH top-k: EVERY corpus vector is a query. Candidates
    * come from a bucket-keyed SHUFFLE self-join — both sides exchange
    * on (table, bucket id), neither side is broadcast — which is the
    * plan a corpus-vs-corpus run needs at 100 TB (the query-set variant
    * above broadcasts the small query side instead; reference pattern:
    * the same per-table equi-join, VERDICT r3 item 8). The candidate
    * pair set is deduped on ids BEFORE vectors are re-attached, so the
    * wide quantized arrays never ride the candidate shuffle. */
  def lshTopKCorpus(embs: DataFrame, k: Int): DataFrame = {
    val b = withBuckets(quantized(embs))
    val buckets = b.select(col("vec_id"),
      posexplode(array((0 until LshTables).map(t => col(s"bkt$t")): _*))
        .as(Seq("t", "bkt")))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.t") === col("b.t") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"))
      .distinct()
    val q = quantized(embs)
    val scored = cand
      .join(q.select(col("vec_id").as("q_id"),
        col("q").as("qa"), col("n2").as("na")), "q_id")
      .join(q.select(col("vec_id").as("n_id"),
        col("q").as("qb"), col("n2").as("nb")), "n_id")
      .select(col("q_id"), col("n_id"),
        cosine(idot(col("qa"), col("qb")), col("na"), col("nb")).as("cosine"))
    rankTopK(scored, k)
  }

  /** Corpus-vs-corpus LSH near-dup pairs — the candidate generator the
    * scale-safe semantic dedup rides (VERDICT r12 item 1). Candidates
    * are unordered id pairs sharing ANY table's bucket — the same
    * (table, bucket)-keyed shuffle self-join as `lshTopKCorpus`, no
    * side broadcast, no triangular block cogroup, so the all-pairs
    * scan never happens. Every candidate is then verified by the exact
    * integer cosine, so each emitted pair is EXACTLY a pair the O(n²)
    * kernel would emit (precision 1); recall below 1 on pairs no table
    * collides is the standard LSH trade, tunable via tables × bits.
    * Only (id, table, bucket) rows ride the candidate shuffle; the
    * wide quantized vectors re-attach per side after the distinct. */
  def lshCosineDupPairs(embs: DataFrame, minCos: Double): DataFrame = {
    // corpus-adaptive bucket width: constant bits would make
    // candidates quadratic (the r13 100× probe filled 80 GB of spill
    // before this sizing). The count() is a deliberate extra ACTION,
    // not an extra data scan: over a parquet source Spark answers
    // count() from row-group metadata (footers only, no column reads),
    // so at 100 TB it costs a listing + footer pass — noise next to
    // the two bucket-join passes that follow. Deriving n lazily (e.g.
    // an Observation) can't work here: `bits` shapes the PLAN, so it
    // must be known before any action runs.
    val bits = lshBitsFor(embs.count())
    val tables = lshTablesFor(bits)
    lshVerifyPairs(embs,
      lshCandidatePairs(embs, bits, tables), minCos)
  }

  /** the candidate stage alone — unordered id pairs sharing any
    * table's bucket, deduped, ids only (factored out so the scale
    * probe can count and time candidates separately from the verify
    * stage; the composed plan is byte-identical to the original) */
  def lshCandidatePairs(embs: DataFrame, bits: Int,
                        tables: Int): DataFrame = {
    val b = withBuckets(quantized(embs), bits, tables)
    val buckets = b.select(col("vec_id"),
      posexplode(array((0 until tables).map(t => col(s"bkt$t")): _*))
        .as(Seq("t", "bkt")))
    buckets.as("a").join(buckets.as("b"),
        col("a.t") === col("b.t") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
  }

  /** the verify stage alone: re-attach quantized vectors per side and
    * keep candidates whose EXACT integer cosine clears the bar */
  def lshVerifyPairs(embs: DataFrame, cand: DataFrame,
                     minCos: Double): DataFrame = {
    val q = quantized(embs)
    cand
      .join(q.select(col("vec_id").as("id_a"),
        col("q").as("qa"), col("n2").as("na")), "id_a")
      .join(q.select(col("vec_id").as("id_b"),
        col("q").as("qb"), col("n2").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(idot(col("qa"), col("qb")), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= minCos)
  }

  // ── IVF (inverted-file) ANN — the second scale path ──────────────

  val IvfCells = 16
  val IvfProbes = 4

  /** Deterministic coarse quantizer: the centroids are the quantized
    * vectors of the `IvfCells` lowest vec_ids — a deterministic sample
    * standing in for a trained k-means codebook. The IVF STRUCTURE is
    * what matters at scale (one linear assignment pass against a
    * broadcast codebook, cell-keyed candidate join, nprobe recall
    * knob); training only shifts which cell a vector lands in, and a
    * sampled codebook keeps every stage replayable bit-for-bit in the
    * SQL oracle (FAISS IVF-Flat's layout, deterministic flavor). */
  private def cellRanks(vecs: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vecs.as("v").join(broadcast(cents).as("c"))
      .select(col("v.vec_id"), col("c.vec_id").as("c_id"),
        cosine(idot(col("v.q"), col("c.q")),
          col("v.n2"), col("c.n2")).as("cc"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cc").desc, col("c_id"))))
  }

  // ── trained codebooks (opt-in; Lloyd iterations, FAISS-style) ────

  /** Lloyd iterations run per codebook build (FAISS trains 25 by
    * default; a handful recovers most of the recall on well-spread
    * data and keeps the opt-in build cheap) */
  val CodebookIters = 4

  /** Opt-in trained coarse codebook: start from the deterministic
    * sample the default path uses, then run `iters` Lloyd updates —
    * assign every training vector to its nearest centroid by cosine
    * (the same metric query-time probing uses), recompute each cell's
    * centroid as the per-dimension INTEGER mean (`sum div count` —
    * exact int64, so training is deterministic under any partitioning
    * and any row order, unlike a floating-point mean). Empty cells
    * keep their previous centroid. Everything is DataFrame algebra —
    * assignment is a broadcast join + window argmin, the update one
    * hash aggregation per iteration — so training a 100 TB corpus
    * sample never touches the driver. `sampleMod` > 1 trains on the
    * deterministic 1/mod hash-sample of the corpus (a billion-vector
    * index trains its codebook on ~256·cells vectors, not the corpus;
    * pass the mod that gets you there). The sampled path (and every
    * oracle key) is unchanged — this is the recall-tuning knob for
    * real deployments (VERDICT r10 item 7 / r11 item 7). */
  def trainedCoarseCentroids(q: DataFrame, cells: Int = IvfCells,
                             iters: Int = CodebookIters,
                             sampleMod: Int = 1): DataFrame = {
    val sample =
      if (sampleMod <= 1) q
      else q.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
    var cents = q.filter(col("vec_id") < cells)
      .select(col("vec_id"), col("q"), col("n2"))
    for (_ <- 0 until iters) {
      val asn = cellRanks(sample, cents).filter(col("rn") === 1)
        .select(col("vec_id"), col("c_id"))
      val dims = asn
        .join(sample.select(col("vec_id"), col("q")), "vec_id")
        .select(col("c_id"), posexplode(col("q")).as(Seq("i", "v")))
      val means = dims.groupBy("c_id", "i")
        .agg(expr("sum(v) div count(v)").as("cv"))
      val updated = means
        .groupBy("c_id")
        .agg(array_sort(collect_list(struct(col("i"), col("cv"))))
          .as("pairs"))
        .select(col("c_id").as("vec_id"),
          transform(col("pairs"), p => p.getField("cv")).as("nq"))
      // localCheckpoint per iteration: cents is referenced twice per
      // loop (assignment + update join) and by both consumers of the
      // final codebook — without truncation the lineage doubles each
      // iteration and training re-executes per consumer; the frame is
      // cells × Dim rows, so materializing it is free
      cents = cents
        .join(updated, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("nq"), col("q")).as("q"))
        .withColumn("n2", idot(col("q"), col("q")))
        .localCheckpoint(true)
    }
    cents
  }

  /** IVF top-k: assign every corpus vector to its nearest centroid's
    * cell (argmax cosine, ties to the lower centroid id — one linear
    * pass, codebook broadcast); each query probes its `IvfProbes`
    * nearest cells; candidates are the vectors in probed cells
    * (cell-keyed equi-join — the all-pairs scan never happens); exact
    * cosine on candidates only, then top-k. Recall tunes via cells ×
    * probes exactly like a production IVF index — and via the opt-in
    * trained codebook (`trained = true`). */
  def ivfTopK(embs: DataFrame, numQueries: Int, k: Int,
              trained: Boolean = false): DataFrame = {
    val q = quantized(embs)
    val cents =
      if (trained) trainedCoarseCentroids(q)
      else q.filter(col("vec_id") < IvfCells)
    val asn = cellRanks(q, cents).filter(col("rn") === 1)
      .select(col("vec_id").as("n_id"), col("c_id").as("cell"))
    val probes = cellRanks(q.filter(col("vec_id") < numQueries), cents)
      .filter(col("rn") <= IvfProbes)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    // ids only ride the candidate join; wide vectors re-attach after
    val cand = probes.join(asn, "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
    val scored = cand
      .join(q.select(col("vec_id").as("q_id"),
        col("q").as("qa"), col("n2").as("na")), "q_id")
      .join(q.select(col("vec_id").as("n_id"),
        col("q").as("qb"), col("n2").as("nb")), "n_id")
      .select(col("q_id"), col("n_id"),
        cosine(idot(col("qa"), col("qb")), col("na"), col("nb")).as("cosine"))
    rankTopK(scored, k)
  }

  // ── PQ (product quantization) ANN — the compressed-domain path ───

  val PqSubs = 4
  val PqSubDim: Int = Dim / PqSubs
  val PqCents = 16
  val PqOverfetch = 4

  /** exact integer squared-L2 between two subvectors (≤ 2^46 for 16
    * dims of diffs ≤ 2^21 — no overflow); native codegen'd expression,
    * same rationale and bit-identity as `idot` */
  private def il2(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.LongSqDist(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** per-subspace rows (id, m, sub): subvector m spans dims
    * [m·PqSubDim, (m+1)·PqSubDim) */
  private def subRows(df: DataFrame, idAs: String): DataFrame =
    df.select(col("vec_id").as(idAs),
      posexplode(array((0 until PqSubs).map(m =>
        slice(col("q"), m * PqSubDim + 1, PqSubDim)): _*))
        .as(Seq("m", "sub")))

  /** PQ-ADC top-k (FAISS PQ / asymmetric distance computation — the
    * compressed-domain scale path next to LSH and IVF): corpus vectors
    * are ENCODED as `PqSubs` small centroid codes against deterministic
    * sampled sub-codebooks (same sampled-codebook stance as `ivfTopK` —
    * the structure is what matters at scale, training only shifts
    * assignments, and sampling keeps every stage SQL-replayable); each
    * query precomputes an inner-product table per (subspace, centroid),
    * and the approximate score of ANY corpus vector is a sum of table
    * lookups over its codes — the candidate scan touches only the
    * 4-code rows, never the 64-dim vectors. Top `k·PqOverfetch` by
    * approximate IP then re-rank by exact cosine. At 100 TB the codes
    * table is ~100× smaller than the vectors and the tables broadcast
    * (queries × subspaces × centroids), so the scan is compressed-
    * domain end to end. */
  /** sub-codebook rows (c_id, m, csub) */
  private def pqCentRows(q: DataFrame): DataFrame =
    subRows(q.filter(col("vec_id") < PqCents), "c_id")
      .select(col("c_id"), col("m"), col("sub").as("csub"))

  /** Opt-in trained PQ sub-codebooks: per-subspace Lloyd with the same
    * exact-integer-mean update as `trainedCoarseCentroids`, under the
    * metric PQ encoding itself uses (integer squared-L2). All
    * `PqSubs` subspaces train in the SAME assignment join / same
    * aggregation per iteration — one pass over the sub-vector rows
    * covers every subspace, so training cost doesn't scale with
    * PqSubs. */
  def trainedPqCentRows(q: DataFrame, iters: Int = CodebookIters,
                        sampleMod: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sample =
      if (sampleMod <= 1) q
      else q.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
    val sub = subRows(sample, "n_id")
    var cents = pqCentRows(q)
    for (_ <- 0 until iters) {
      val asn = sub.join(broadcast(cents), "m")
        .select(col("n_id"), col("m"), col("c_id"),
          il2(col("sub"), col("csub")).as("d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("n_id", "m").orderBy(col("d2").asc, col("c_id"))))
        .filter(col("rn") === 1)
        .select(col("n_id"), col("m"), col("c_id"))
      val dims = asn.join(sub, Seq("n_id", "m"))
        .select(col("m"), col("c_id"), posexplode(col("sub")).as(Seq("i", "v")))
      val means = dims.groupBy("m", "c_id", "i")
        .agg(expr("sum(v) div count(v)").as("cv"))
      val updated = means
        .groupBy("m", "c_id")
        .agg(array_sort(collect_list(struct(col("i"), col("cv"))))
          .as("pairs"))
        .select(col("m"), col("c_id"),
          transform(col("pairs"), p => p.getField("cv")).as("nsub"))
      // same lineage truncation as the coarse trainer (PqSubs ×
      // PqCents rows)
      cents = cents
        .join(updated, Seq("m", "c_id"), "left")
        .select(col("m"), col("c_id"),
          coalesce(col("nsub"), col("csub")).as("csub"))
        .localCheckpoint(true)
    }
    cents
  }

  /** encode: nearest sub-centroid per (vector, subspace) by integer
    * L2, ties to the lower centroid id — one linear pass, codebook
    * broadcast */
  private def pqCodes(q: DataFrame, cents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    subRows(q, "n_id")
      .join(broadcast(cents), "m")
      .select(col("n_id"), col("m"), col("c_id"),
        il2(col("sub"), col("csub")).as("d2"))
      .withColumn("rn", row_number().over(Window.partitionBy("n_id", "m")
        .orderBy(col("d2").asc, col("c_id"))))
      .filter(col("rn") === 1)
      .select(col("n_id"), col("m"), col("c_id").as("code"))
  }

  /** asymmetric tables: query subvector · sub-centroid inner products */
  private def pqTables(q: DataFrame, cents: DataFrame,
                       numQueries: Int): DataFrame =
    subRows(q.filter(col("vec_id") < numQueries), "q_id")
      .join(broadcast(cents), "m")
      .select(col("q_id"), col("m"), col("c_id").as("code"),
        idot(col("sub"), col("csub")).as("ip"))

  /** mean integer squared-L2 between every sub-vector and its nearest
    * sub-centroid — the objective PQ training minimizes (lower ⇒ the
    * codes carry more of each vector; the spec pins trained ≤ sampled,
    * Lloyd's monotone-descent guarantee surviving the integer mean) */
  def pqDistortion(q: DataFrame, trained: Boolean): Double = {
    val cents = if (trained) trainedPqCentRows(q) else pqCentRows(q)
    subRows(q, "n_id")
      .join(broadcast(cents), "m")
      .select(col("n_id"), col("m"), il2(col("sub"), col("csub")).as("d2"))
      .groupBy("n_id", "m").agg(min("d2").as("d2"))
      .agg(avg("d2")).head.getDouble(0)
  }

  def pqTopK(embs: DataFrame, numQueries: Int, k: Int,
             trained: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = quantized(embs)
    val cents = if (trained) trainedPqCentRows(q) else pqCentRows(q)
    val codes = pqCodes(q, cents)
    val tables = pqTables(q, cents, numQueries)
    // compressed-domain scan: approx IP = Σ_m table[m, code_m]
    val approx = codes.join(broadcast(tables), Seq("m", "code"))
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id", "n_id").agg(sum("ip").as("aip"))
    val cand = approx.withColumn("arn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("aip").desc, col("n_id"))))
      .filter(col("arn") <= k * PqOverfetch)
      .select("q_id", "n_id")
    // exact re-rank on the overfetched candidates only
    val scored = cand
      .join(q.select(col("vec_id").as("q_id"),
        col("q").as("qa"), col("n2").as("na")), "q_id")
      .join(q.select(col("vec_id").as("n_id"),
        col("q").as("qb"), col("n2").as("nb")), "n_id")
      .select(col("q_id"), col("n_id"),
        cosine(idot(col("qa"), col("qb")), col("na"), col("nb"))
          .as("cosine"))
    rankTopK(scored, k)
  }

  /** IVF-PQ: the production FAISS composition — the coarse quantizer
    * prunes to each query's nprobe cells, PQ-ADC scores ONLY those
    * cells' members in the compressed domain (codes + broadcast
    * tables, vectors untouched), and the overfetched winners re-rank
    * exact. At 100 TB this is the first layout whose per-query work is
    * sublinear in BOTH rows touched (cell pruning) and bytes per row
    * touched (code scan) — exactly why it is the FAISS default for
    * billion-vector indexes. */
  def ivfPqTopK(embs: DataFrame, numQueries: Int, k: Int,
                trained: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = quantized(embs)
    // coarse stage (shared shape with ivfTopK)
    val cents =
      if (trained) trainedCoarseCentroids(q)
      else q.filter(col("vec_id") < IvfCells)
    val asn = cellRanks(q, cents).filter(col("rn") === 1)
      .select(col("vec_id").as("n_id"), col("c_id").as("cell"))
    val probes = cellRanks(q.filter(col("vec_id") < numQueries), cents)
      .filter(col("rn") <= IvfProbes)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val cellCand = probes.join(asn, "cell")
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
    // compressed-domain scoring restricted to the probed cells
    val subCents = if (trained) trainedPqCentRows(q) else pqCentRows(q)
    val codes = pqCodes(q, subCents)
    val tables = pqTables(q, subCents, numQueries)
    val approx = cellCand
      .join(codes, "n_id")
      .join(broadcast(tables), Seq("q_id", "m", "code"))
      .groupBy("q_id", "n_id").agg(sum("ip").as("aip"))
    val cand = approx.withColumn("arn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("aip").desc, col("n_id"))))
      .filter(col("arn") <= k * PqOverfetch)
      .select("q_id", "n_id")
    val scored = cand
      .join(q.select(col("vec_id").as("q_id"),
        col("q").as("qa"), col("n2").as("na")), "q_id")
      .join(q.select(col("vec_id").as("n_id"),
        col("q").as("qb"), col("n2").as("nb")), "n_id")
      .select(col("q_id"), col("n_id"),
        cosine(idot(col("qa"), col("qb")), col("na"), col("nb"))
          .as("cosine"))
    rankTopK(scored, k)
  }

  /** rank by (cosine desc, n_id) — cosine is bit-identical on both
    * engines, so ranks (ties included) replay exactly in SQL */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "cosine")
  }
}
