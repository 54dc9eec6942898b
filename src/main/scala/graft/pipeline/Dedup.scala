package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection for the LLM-data-pipeline surface (SURVEY
  * §2.4 #42–44): MinHash+LSH banding, SimHash hamming buckets, and an
  * exact n-gram-Jaccard join. All candidate generation is
  * bucket-equi-join (shuffle on a band/chunk key) — never an all-pairs
  * cross join — so pair generation stays near-linear at 100 TB
  * (SURVEY §5.7). Exact verification runs only on candidates.
  *
  * Layout note: shingling emits (doc_id, shingle) ROWS via one
  * imperative flatMap kernel instead of per-doc array columns —
  * Catalyst's higher-order array functions (transform / array_distinct
  * / concat_ws-per-element) are interpreted, not codegen'd, and
  * projection collapse re-evaluates them per consumer; the row form
  * measured ~50× faster at sf0.1 and every downstream op is a plain
  * codegen'd join/agg.
  */
object Dedup {

  // ── shingling ────────────────────────────────────────────────────

  /** (doc_id, s): distinct 3-word shingles of the whitespace-normalized
    * text, one row per shingle. Matches the SQL oracle's
    * string_split(regexp_replace(lower(trim(text)),'\s+',' ','g'),' ')
    * tokenization exactly (ASCII data). */
  def shingleRows(docs: DataFrame, widen: Boolean = true)
                 (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // widen an unsplittable scan before the kernel (guide §2.5): the
    // flatMap + per-shingle hashing is the pipeline's heaviest per-row
    // sweep and otherwise runs on ONE task over single-row-group input
    // (measured 1.5 s serial at sf0.1); no-op when the input already
    // plans >= default parallelism (any at-scale corpus). Callers whose
    // downstream is a single light streaming pass (contamination's
    // corpus side) opt out — there the exchange costs more than the
    // parallelism returns (measured +0.3-0.6 s on doc_contamination).
    val base = docs.select(col("doc_id"), col("text"))
    // width stays at the GLOBAL 64 KB/partition target: an 8× finer
    // shingle-specific width was A/B'd in r22 (the persisted frame's 3
    // partitions feed downstream joins serially, so more width looked
    // attractive) and lost decisively — min-of-6 doc_ngram_jaccard
    // 1.56 → 3.04 s, doc_simhash 1.04 → 1.75 s, doc_incremental_dedup
    // 1.29 → 1.88 s: per-task fixed cost on the many small stages that
    // reread the cached frame swamps the kernel-parallelism gain.
    (if (widen) graft.Tables.widenFrame(base) else base)
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val ws = text.trim.toLowerCase.split("\\s+")
        if (ws.length < 3) Iterator.empty
        else {
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          var i = 0
          while (i <= ws.length - 3) {
            seen.add(ws(i) + " " + ws(i + 1) + " " + ws(i + 2))
            i += 1
          }
          seen.iterator.map(s => (id, s))
        }
      }
      .toDF("doc_id", "s")
  }

  /** (doc_id, n): shingle-set size per doc */
  def shingleSizes(rows: DataFrame): DataFrame =
    rows.groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** shingleRows persisted memory-and-disk: self-joins and multi-stage
    * fan-out otherwise re-run the shingling kernel once PER CONSUMER
    * (Catalyst duplicates the subtree; ReuseExchange only merges
    * identical exchanges). Memoized per CANONICALIZED source plan —
    * each shingleRows call closes over a fresh flatMap lambda, so two
    * calls over the same docs produce plans Spark's CacheManager can
    * NOT unify (function objects compare by reference); without the
    * memo every call would build and materialize its own cache copy. */
  private val ShingleCacheCap = 8
  private val shingleCache = new graft.BoundedMemo[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
    graft.LazyCell[DataFrame]](
    ShingleCacheCap)(_.release(_.unpersist(blocking = false)))

  private[graft] def shingleCacheSize: Int = shingleCache.size

  /** persist + EAGERLY materialize a memoized frame. Lazy persist left
    * the first action's multi-branch plan (guard stats + both self-join
    * sides + star branch reference the same memoized frame) to
    * race-compute every cached partition from several stages at once —
    * each racer serializing on the per-block compute lock (measured on
    * doc_simhash: three concurrent 32-task stages each charging the
    * full signature-agg time as blocked executor time). One count()
    * materializes the cache in a single pass; every downstream branch
    * then reads built blocks. */
  private[pipeline] def materialized(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count(): Unit
    df
  }

  def cachedShingleRows(docs: DataFrame)
                       (implicit spark: SparkSession): DataFrame =
    shingleCache.getOrElseUpdate(
      docs.queryExecution.analyzed.canonicalized,
      new graft.LazyCell(materialized(shingleRows(docs)))).value

  /** 60-bit hash of a string via md5's first 15 hex chars — the one
    * hash primitive both Spark and DuckDB compute identically. Computed
    * by the native Md5Long60 expression (same value as
    * conv(substring(md5(s),1,15),16,10), no hex-string round trip —
    * this runs once per shingle row, the dedup hot path). */
  def h60(s: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.Md5Long60(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(s)))

  // ── exact Jaccard on a pair set (shared verify step) ─────────────

  private def jaccardCol: Column =
    round(col("x").cast(DoubleType) / (col("n_a") + col("n_b") - col("x")), 4)

  /** exact Jaccard for the given candidate (id_a < id_b) pairs: the
    * intersection is counted per CANDIDATE PAIR, anchored on the pair
    * ids — attach id_a's shingles to each pair, then equi-join on
    * (id_b, s) — NOT via a shingle-keyed self-join of the candidate
    * docs' inverted index. The anchored shape costs
    * O(|cand| · doc size); the shingle-keyed one re-introduces the
    * hot-key blowup the candidate cap exists to prevent (a shingle
    * shared by a 10⁴-member clone cluster is one join key emitting
    * ~5·10⁷ rows even when the candidate LIST is star-capped —
    * VERDICT r19 item 1). */
  def pairJaccard(rows: DataFrame, cand: DataFrame): DataFrame = {
    val inter = cand
      .join(rows.select(col("doc_id").as("id_a"), col("s")), "id_a")
      .join(rows.select(col("doc_id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("x"))
    withJaccard(inter, rows)
  }

  private def withJaccard(inter: DataFrame, rows: DataFrame): DataFrame = {
    val sizes = shingleSizes(rows)
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccardCol.as("jaccard"))
  }

  // ── MinHash + LSH banding ────────────────────────────────────────

  val NumHashes = 64
  val BandRows = 4              // b=16 bands × r=4 rows
  val NumBands: Int = NumHashes / BandRows
  private val MersenneP = 2147483647L   // 2^31 − 1

  /** minhash signature columns mh0..mh63 from ONE native md5 per
    * shingle: h1/h2 are two slices of the 60-bit hash and
    * hash_j = (h1 + j·h2) mod p — the standard affine family; 64 mins
    * are then plain codegen'd aggregates, not 64 md5 passes. */
  def minhashSignatures(rows: DataFrame): DataFrame = {
    val hashed = rows.select(col("doc_id"), h60(col("s")).as("h"))
      .select(col("doc_id"),
        (shiftrightunsigned(col("h"), 28) % MersenneP).as("h1"),
        (col("h").bitwiseAND((1L << 28) - 1).bitwiseOR(1L)).as("h2"))
    val mins = (0 until NumHashes).map(j =>
      min((col("h1") + lit(j.toLong) * col("h2")) % MersenneP).as(s"mh$j"))
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, key) bucket rows from signature columns — the
    * unit both the self-join candidacy and the persisted signature
    * store share */
  def bandedBuckets(sig: DataFrame): DataFrame = {
    val bandKeys = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (b * BandRows until (b + 1) * BandRows)
          .map(j => col(s"mh$j")): _*).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
  }

  // ── hot-bucket-guarded pair generation (shared by MinHash/SimHash) ─

  /** Per-bucket membership caps for candidate-pair generation — the
    * bucket-join analogue of `NgramDfCap` (VERDICT r19 item 1). An
    * uncapped bucket self-join emits ~m²/2 pair rows through ONE
    * shuffle key; a boilerplate cluster of 10⁵ near-identical docs
    * (routine in web corpora even after exact dedup) collides in EVERY
    * band, i.e. ~10¹⁰ rows through one hot key at 100 TB. Buckets at
    * or under the cap emit all pairs — exactly the unguarded result;
    * an over-cap bucket emits a STAR (every member paired with the
    * bucket's min doc_id): O(m) rows spanning the same connected
    * component, so the transitive-cluster / keep-one / leak-proof-split
    * surfaces downstream are unchanged. What a star sacrifices is only
    * the non-spanning pair ROWS of a giant cluster in the pair report
    * (such pairs still appear when they co-hash in any small bucket).
    *
    * Cap sizing: MinHash band keys are high-entropy (4×~60-bit mins),
    * so bucket size tracks true-duplicate group size regardless of
    * corpus size — measured max 10 at sf0.1 — and over-cap ⇒ clone
    * cluster; 256 gives 25× headroom. SimHash chunk keys are COARSE
    * (6-bit values, ≤640 buckets total), so buckets grow ~n/640 with
    * corpus size — measured max 150 at sf0.1; 1024 clears that by ~7×
    * while still bounding the worst bucket at ~0.5M pairs. A corpus
    * big enough to push ordinary (non-clone) chunk buckets past the
    * cap (n ≳ 10⁶ per run) is past what a 60-bit/10-chunk fingerprint
    * meaningfully separates anyway — partition such corpora (or widen
    * the fingerprint) rather than raise the cap. */
  val MinhashBucketCap = 256
  val SimhashBucketCap = 1024

  /** All (id_a < id_b) co-bucketed pairs with per-bucket membership
    * capped at `cap` (over-cap buckets emit star pairs against the
    * bucket-min doc_id, see cap scaladoc). `payload` columns of the
    * bucket rows are carried onto both sides of each pair as
    * `<p>_a` / `<p>_b` (they must be functionally dependent on doc_id
    * so the final distinct stays pair-keyed). */
  private[graft] def guardedBucketPairs(buckets: DataFrame,
                                        keys: Seq[String], cap: Int,
                                        payload: Seq[String] = Nil)
      : DataFrame = {
    val stats = buckets.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("bsz"),
      min(struct(("doc_id" +: payload).map(col): _*)).as("bm"))
    val tagged = buckets.join(stats, keys)
    val small = tagged.filter(col("bsz") <= cap)
      .select((keys :+ "doc_id").map(col) ++ payload.map(col): _*)
    val smallPairs = small.as("a").join(small.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.doc_id") < col("b.doc_id"))
      .select(Seq(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")) ++
        payload.map(p => col(s"a.$p").as(s"${p}_a")) ++
        payload.map(p => col(s"b.$p").as(s"${p}_b")): _*)
    val starPairs = tagged
      .filter(col("bsz") > cap && col("doc_id") > col("bm.doc_id"))
      .select(Seq(col("bm.doc_id").as("id_a"), col("doc_id").as("id_b")) ++
        payload.map(p => col(s"bm.$p").as(s"${p}_a")) ++
        payload.map(p => col(p).as(s"${p}_b")): _*)
    smallPairs.union(starPairs).distinct()
  }

  /** minhash banded-bucket rows behind a bounded memo — same
    * four-branch-recompute rationale as the simhash bucket memo below:
    * unpersisted, `guardedBucketPairs` re-runs the 16-min signature
    * agg per guard branch (measured ~0.2 s back on doc_minhash_lsh at
    * sf0.1, and the win grows with the corpus). */
  private val BandCacheCap = 4
  private val bandCache = new graft.BoundedMemo[
    (SparkSession,
     org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    graft.LazyCell[DataFrame]](BandCacheCap)(
    _.release(_.unpersist(blocking = false)))

  private def cachedBandedBuckets(rows: DataFrame)
                                 (implicit spark: SparkSession): DataFrame =
    bandCache.getOrElseUpdate(
      (spark, rows.queryExecution.analyzed.canonicalized),
      new graft.LazyCell(
        materialized(bandedBuckets(minhashSignatures(rows))))).value

  /** candidate pairs from banded signatures: docs agreeing on all r
    * rows of any band share a bucket; the bucket join is an equi-join
    * on (band, key), hot-bucket-guarded at `MinhashBucketCap`.
    * P(candidate | J=0.9) ≈ 1 − 4e-8. */
  def minhashCandidates(rows: DataFrame)
                       (implicit spark: SparkSession): DataFrame =
    guardedBucketPairs(cachedBandedBuckets(rows),
      Seq("band", "key"), MinhashBucketCap)

  // ── Incremental near-dup vs a persisted signature store ──────────

  /** The production ingest shape of #42 (batch-vs-corpus instead of
    * corpus-vs-itself): the corpus's banded buckets, shingle sets, and
    * set sizes persist ONCE under `path`; each day's batch hashes only
    * itself — corpus text is never re-read, re-shingled, or re-hashed.
    * Store size is O(corpus shingles), the same order as the inverted
    * index #44 rebuilds per run; persisting shingle STRINGS keeps the
    * exact-verify oracle-identical (a production store can keep h60
    * hashes instead, trading a ~2⁻⁶¹ collision for ~8× less space).
    * `append = true` admits a verified batch, so tomorrow's ingest
    * dedups against it too. */
  def persistSignatureStore(docs: DataFrame, path: String,
                            append: Boolean = false)
                           (implicit spark: SparkSession): Unit = {
    val mode = if (append) "append" else "overwrite"
    val rows = cachedShingleRows(docs)
    bandedBuckets(minhashSignatures(rows))
      .write.mode(mode).parquet(s"$path/buckets")
    rows.write.mode(mode).parquet(s"$path/shingles")
    shingleSizes(rows).write.mode(mode).parquet(s"$path/sizes")
  }

  /** Near-dup pairs (store id_a, batch id_b) at `minJaccard`: the
    * batch's buckets BROADCAST against the store's bucket table (one
    * store scan, no corpus-sized shuffle), candidates exact-verified
    * by shingle intersection — store shingles joined to the broadcast
    * batch shingles. Wall cost scales with the batch; the corpus
    * contributes sequential scans only. */
  def incrementalDupPairs(batch: DataFrame, storePath: String,
                          minJaccard: Double)
                         (implicit spark: SparkSession): DataFrame = {
    val bRows = cachedShingleRows(batch)
    val bBuckets = bandedBuckets(minhashSignatures(bRows))
    val cand = spark.read.parquet(s"$storePath/buckets").as("c")
      .join(broadcast(bBuckets).as("n"),
        col("c.band") === col("n.band") && col("c.key") === col("n.key") &&
          col("c.doc_id") =!= col("n.doc_id"))
      .select(col("c.doc_id").as("id_a"), col("n.doc_id").as("id_b"))
      .distinct()
    val inter = spark.read.parquet(s"$storePath/shingles").as("a")
      .join(broadcast(bRows).as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("x"))
      .join(cand, Seq("id_a", "id_b"), "left_semi")
    inter
      .join(spark.read.parquet(s"$storePath/sizes")
        .select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(shingleSizes(bRows)
        .select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccardCol.as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** MinHash-LSH near-dup pairs, exact-verified at `minJaccard` */
  def minhashDupPairs(docs: DataFrame, minJaccard: Double)
                     (implicit spark: SparkSession): DataFrame = {
    val rows = cachedShingleRows(docs)
    pairJaccard(rows, minhashCandidates(rows))
      .filter(col("jaccard") >= minJaccard)
  }

  /** `minhashDupPairs` behind a bounded memo (VERDICT r10 item 2): the
    * pair frame is the shared input of three pipeline surfaces — the
    * pair report itself, the transitive clusters, and the keep-one
    * corpus — and each used to pay the full shingle→minhash→band→
    * verify cascade. One persisted frame serves all three (same
    * pattern as the shingle memo; the frame is deterministic, so two
    * consumers reading it can never diverge). */
  private val PairCacheCap = 4
  private val minhashPairCache = new graft.BoundedMemo[
    (SparkSession,
     org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Double),
    graft.LazyCell[DataFrame]](PairCacheCap)(
    _.release(_.unpersist(blocking = false)))

  def cachedMinhashDupPairs(docs: DataFrame, minJaccard: Double)
                           (implicit spark: SparkSession): DataFrame =
    minhashPairCache.getOrElseUpdate(
      (spark, docs.queryExecution.analyzed.canonicalized, minJaccard),
      new graft.LazyCell(
        materialized(minhashDupPairs(docs, minJaccard)))).value

  // ── SimHash ──────────────────────────────────────────────────────

  val SimBits = 60              // h60's width
  val ChunkBits = 6
  val NumChunks: Int = SimBits / ChunkBits   // 10 chunks ⇒ hamming ≤ 9
                                             // provably yields a chunk match
  /** One typed aggregator for all 60 simhash bit-sums. The previous
    * formulation built 60 SEPARATE sum(when(shiftright…)) aggregate
    * columns — 60 buffer slots updated through 60 generated expression
    * evaluations per shingle row, measured as the single heaviest
    * stage of doc_simhash (≈7 s executor time at sf0.1). This folds
    * the row into a primitive long[60] in one loop. Exact-equivalence
    * contract with the old algebra, including the null edge: the old
    * `when(bit === 1, 1).otherwise(-1)` sent a NULL hash to the
    * otherwise branch (−1 on every bit), so a null input decrements
    * all 60 counters here too (h60 over shingle rows never yields
    * null in practice). */
  private object SimhashAggregator
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, Array[Long], Long] {
    def zero: Array[Long] = new Array[Long](SimBits)
    def reduce(b: Array[Long], hv: java.lang.Long): Array[Long] = {
      var j = 0
      if (hv == null) while (j < SimBits) { b(j) -= 1; j += 1 }
      else {
        val v = hv.longValue()
        while (j < SimBits) { b(j) += (((v >>> j) & 1L) * 2 - 1); j += 1 }
      }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var j = 0
      while (j < SimBits) { x(j) += y(j); j += 1 }
      x
    }
    def finish(b: Array[Long]): Long = {
      var s = 0L
      var j = 0
      while (j < SimBits) { if (b(j) >= 0) s |= (1L << j); j += 1 }
      s
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  private lazy val simhashAgg = org.apache.spark.sql.functions.udaf(
    SimhashAggregator, org.apache.spark.sql.Encoders.LONG)

  /** per-doc 60-bit simhash: bit j set iff Σ over shingles of
    * (±1 by hash bit j) ≥ 0. One hash-agg over shingle rows. */
  def simhashSignatures(rows: DataFrame): DataFrame =
    rows.select(col("doc_id"), h60(col("s")).as("hv"))
      .groupBy("doc_id").agg(simhashAgg(col("hv")).as("s64"))

  /** simhash bucket rows behind a bounded memo: `guardedBucketPairs`
    * references its input in FOUR plan branches (bucket stats, both
    * self-join sides, the star branch), and Catalyst duplicates the
    * subtree per consumer — unpersisted, the 60-bit-sum signature agg
    * recomputes per branch (measured +1.0 s on doc_simhash at sf0.1
    * when the guard landed). Same pattern and rationale as the
    * shingle/minhash-pair memos above. */
  private val SimBucketCacheCap = 4
  private val simBucketCache = new graft.BoundedMemo[
    (SparkSession,
     org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    graft.LazyCell[DataFrame]](SimBucketCacheCap)(
    _.release(_.unpersist(blocking = false)))

  private def cachedSimhashBuckets(docs: DataFrame)
                                  (implicit spark: SparkSession): DataFrame =
    simBucketCache.getOrElseUpdate(
      (spark, docs.queryExecution.analyzed.canonicalized),
      new graft.LazyCell({
        val sig = simhashSignatures(cachedShingleRows(docs))
        val chunkCols = (0 until NumChunks).map(c =>
          shiftright(col("s64"), c * ChunkBits)
            .bitwiseAND((1 << ChunkBits) - 1))
        materialized(
          sig.select(col("doc_id"), col("s64"),
            posexplode(array(chunkCols: _*)).as(Seq("chunk", "cv"))))
      })).value

  /** SimHash near-dup pairs with hamming ≤ maxHamming. Candidates via
    * chunk banding: split the signature into NumChunks chunks; hamming
    * ≤ NumChunks−1 pairs MUST agree on some chunk (pigeonhole), so for
    * maxHamming ≤ 9 the bucket join is lossless below the hot-bucket
    * cap (`SimhashBucketCap`) — over-cap buckets degrade to spanning
    * star pairs, see `guardedBucketPairs`. The signature rides the
    * bucket rows as guard payload, so the hamming filter needs no
    * re-attach join. */
  def simhashDupPairs(docs: DataFrame, maxHamming: Int)
                     (implicit spark: SparkSession): DataFrame = {
    require(maxHamming < NumChunks, "banding only lossless below NumChunks")
    val ham = expr("bit_count(s64_a ^ s64_b)")
    guardedBucketPairs(cachedSimhashBuckets(docs), Seq("chunk", "cv"),
        SimhashBucketCap, payload = Seq("s64"))
      .select(col("id_a"), col("id_b"), ham.cast(IntegerType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ── exact n-gram Jaccard join ────────────────────────────────────

  /** Default document-frequency cap for the inverted-index join key: a
    * shingle appearing in more than this many documents is excluded
    * from CANDIDATE GENERATION (exact verification still counts it).
    * Without the cap one boilerplate shingle with df = 10⁶ yields 10¹²
    * join pairs — the quadratic blowup that kills the join on skewed
    * real text. 64 ≫ the max df of the test corpora (7 at sf0.01, 25
    * at sf0.1), so the capped result is provably identical there. */
  val NgramDfCap = 64

  /** Exact Jaccard over pairs sharing ≥1 RARE shingle (df ≤ dfCap),
    * via an inverted-index equi-join on the shingle — shuffle keyed by
    * shingle, worst-case bucket bounded by the df cap, so pair
    * generation stays near-linear on skewed corpora.
    *
    * ADAPTIVE: one cheap aggregate probes the max shingle df first —
    * over the MEMOIZED persisted shingle frame, so the probe no longer
    * pays a shingling pass (VERDICT r5: it cost a full corpus pass).
    * When nothing exceeds the cap (no boilerplate skew — the common
    * case on deduped-ish corpora) the single-pass direct join answers
    * with intersections counted inline — one self-join, no candidate
    * distinct, no second verify join. When the cap would prune,
    * candidate generation runs on the df-capped index and verification
    * is exact over the FULL shingle sets of candidate pairs (the
    * capped index is only the join key), so reported Jaccard values
    * are never approximated.
    *
    * Loss argument: a pair is missed only if EVERY shared shingle has
    * df > dfCap. A pair at J ≥ t shares ≥ t/(1+t) of its combined
    * shingles; for all of those to be df-capped boilerplate the
    * documents are boilerplate at that proportion, and such pairs sit
    * far below any useful dedup threshold on real text. The spec
    * (PipelineSpec) exercises a corpus where the cap actually prunes
    * and shows no pair at J ≥ 0.5 is lost. */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double,
                        dfCap: Int = NgramDfCap)
                       (implicit spark: SparkSession): DataFrame = {
    val rows = cachedShingleRows(docs)
    val dfs = rows.groupBy("s").agg(count(lit(1)).as("df"))
    val maxDf = dfs.agg(max(col("df"))).head().getLong(0)
    if (maxDf <= dfCap) {
      // no skew: one direct inverted-index join, intersections inline
      val inter = rows.as("a").join(rows.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("x"))
      withJaccard(inter, rows).filter(col("jaccard") >= minJaccard)
    } else {
      // skewed: candidates from the capped index, exact verify over
      // full shingle sets for candidate pairs only
      val rare = rows.join(dfs.filter(col("df") <= dfCap).select("s"), "s")
      val cand = rare.as("a").join(rare.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      pairJaccard(rows, cand).filter(col("jaccard") >= minJaccard)
    }
  }

  // ── benchmark contamination (train/eval n-gram overlap) ──────────

  /** Benchmark-contamination audit — the GPT-3-style n-gram overlap
    * check every LLM training pipeline runs before training: an eval
    * document whose shingles largely appear in the training corpus has
    * leaked, and benchmark scores on it are meaningless. Returns one
    * row per eval doc: distinct-shingle count, how many of those
    * shingles occur ANYWHERE in the corpus, and their ratio.
    *
    * Scale shape: the eval set is small by nature (benchmark suites),
    * so the corpus — the 100 TB side — is ONE scan semi-joined against
    * the broadcast eval shingle set; the distinct that follows runs
    * over leaked shingles only (bounded by the eval set). No
    * corpus-sized groupBy/distinct ever materializes, and no corpus
    * row survives past the semi-join. */
  def contamination(corpus: DataFrame, evalDocs: DataFrame)
                   (implicit spark: SparkSession): DataFrame = {
    // three consumers (sizes, the broadcast set, hits) — memoized
    // persist; the CORPUS shingles stay uncached on purpose: one
    // streaming pass, nothing corpus-sized may pin memory
    val evalRows = cachedShingleRows(evalDocs)
    val sizes = shingleSizes(evalRows)
    val evalShingles = evalRows.select("s").distinct()
    val leaked = shingleRows(corpus, widen = false)
      .join(broadcast(evalShingles), Seq("s"), "left_semi")
      .select("s").distinct()
    val hits = evalRows.join(leaked, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    sizes
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / col("n"), 4)
          .as("contamination"))
  }

  // ── transitive dup clusters (connected components) ───────────────

  /** Transitive duplicate clusters over a near-dup pair list: every
    * doc in a connected component labeled with the component's MIN
    * doc_id — the canonical keep-one representative a training
    * pipeline dedups against (near-dup is not transitive, so pairwise
    * removal alone either over- or under-deletes; clustering is the
    * standard resolution). Returns (doc_id, cluster_id) for every doc
    * that appears in a pair.
    *
    * Implementation: iterative min-label propagation — each round is
    * ONE shuffle (edges ⋈ labels, then a min-agg), lineage truncated
    * per round with localCheckpoint so the plan stays flat; rounds =
    * O(max component diameter), and dup components are shallow (a
    * handful of rounds even at web scale). The two-phase
    * large-star/small-star variant drops in behind the same contract
    * if a corpus ever produces deep chains. */
  /** The deduped corpus: one representative (the min doc_id) per
    * near-dup cluster survives, unique docs pass through. The drop
    * list is cluster members ≠ representative — a broadcast-or-shuffle
    * anti-join against the corpus, sized by duplicates (small), not by
    * the corpus. */
  def dedupKeepOne(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = dupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Scale-safe semantic dedup — the PRODUCTION default for
    * embedding-space corpus dedup (VERDICT r12 item 1): hyperplane-LSH
    * candidate pairs (`EmbeddingSearch.lshCosineDupPairs` — a
    * (table, bucket)-keyed shuffle self-join, never O(n²)) → exact
    * integer-cosine verify on candidates only → the same transitive
    * cluster / keep-one chain exact dedup uses. Every surviving pair
    * is exact (precision 1), so the output differs from the O(n²)
    * baseline only where no LSH table collides a true pair — the
    * standard recall trade, tunable via tables × bits. The exact
    * all-pairs kernel (`cachedCosineDupPairs`) remains as the oracle
    * baseline; at 100 TB this path is the one that survives (the
    * probe measured the exact kernel at 9.14× wall at 10× rows —
    * super-linear by construction; this one is candidate-bound). */
  def semanticDedupLsh(embs: DataFrame, minCos: Double): DataFrame = {
    val pairs = EmbeddingSearch.lshCosineDupPairs(embs, minCos)
      .select("id_a", "id_b")
    dedupKeepOne(embs.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"))
  }

  /** Cross-document repeated-PASSAGE removal (public method: Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — exact-substring dedup, here at
    * passage granularity): chunk every doc's whitespace-normalized
    * text into non-overlapping `words`-word passages, keep only each
    * distinct passage's FIRST corpus occurrence (min (doc_id, idx) —
    * later repeats are dropped even inside otherwise-unique docs), and
    * reassemble each doc's surviving passages in order. This removes
    * what doc-level dedup can't: boilerplate shared by distinct docs
    * (licenses, headers, templated intros) — the dominant residual
    * duplication in web corpora after a doc-level pass.
    *
    * Output: (doc_id, text) for EVERY input doc — a doc whose every
    * passage was a repeat survives with empty text (the caller's
    * length filter is the right place to drop it, not a silent row
    * loss here).
    *
    * Scale shape (100 TB): chunking is a per-row projection;
    * first-occurrence election is ONE hash-agg keyed by the passage —
    * a min-struct aggregate, NOT a window row_number, because the
    * motivating input is exactly the skewed one (a license header
    * shared by millions of docs): a window sorts every occurrence of
    * the hot passage in one task, while min() partial-aggregates
    * map-side so the hot key ships one row per input partition.
    * Reassembly is one groupBy doc_id; the final attach a doc_id
    * equi-join. All linear in corpus size — nothing pairs-shaped
    * anywhere. */
  def passageDedup(docs: DataFrame, words: Int): DataFrame = {
    require(words > 0, "passage width must be positive")
    // chunking is an imperative flatMap row kernel, same idiom (and
    // same reason) as shingleRows: Catalyst higher-order functions
    // (transform/sequence/slice) run interpreted, and this projection
    // is the hot loop of a 100 TB pass (VERDICT r13 wrong #1 measured
    // the HOF tax at ~50× on the shingle path). Null/whitespace-only
    // text normalizes to zero chunks — the same '' the reassembly
    // coalesce yields, so null and empty take one well-defined path
    // (ADVICE r13).
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = if (text == null) "" else text.trim
        if (t.isEmpty) Iterator.empty
        else {
          val ws = t.split("\\s+")
          val n = (ws.length + words - 1) / words
          (0 until n).iterator.map { i =>
            val from = i * words
            (id, i, ws.slice(from, math.min(from + words, ws.length))
              .mkString(" "))
          }
        }
      }
      .toDF("doc_id", "idx", "chunk")
    val surviving = chunks
      .groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("idx"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.idx").as("idx"),
        col("chunk"))
    val reassembled = surviving
      .groupBy("doc_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk")),
        " ").as("kept"))
    docs.select(col("doc_id"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("kept"), lit("")).as("text"))
  }

  /** Leak-proof train/valid/test split: a near-dup cluster straddling
    * train and eval leaks the eval set into training (the overlap
    * `contaminationScores` audits after the fact — this PREVENTS it by
    * construction). Every doc is bucketed by the deterministic
    * md5-derived hash (same engine-reproducible idiom as hash-mod
    * sampling) of its dup-cluster REPRESENTATIVE (the component's min
    * doc_id; uniques represent themselves), so a whole cluster always
    * lands in one split. `trainPct`/`validPct` of the 100 buckets go
    * to train/valid, the remainder to test. One broadcast-or-shuffle
    * join of the corpus against the (small, duplicate-sized) cluster
    * labels — the split itself adds no extra shuffle at 100 TB. */
  def leakproofSplit(docs: DataFrame, pairs: DataFrame,
                     trainPct: Int, validPct: Int): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      "percentages must partition the 100 hash buckets")
    docs.select(col("doc_id"))
      .join(dupClusters(pairs), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket",
        TextAnalysis.sampleHash(col("split_key"), "split") % 100)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + validPct, "valid")
          .otherwise("test"))
      .select("doc_id", "split_key", "bucket", "split")
  }

  /** Split assignments that are STABLE as the corpus grows (VERDICT
    * r12 item 6). `leakproofSplit` keys every cluster's split on its
    * representative (min doc_id) — but an appended batch that merges
    * two clusters re-elects the representative and would silently
    * migrate the losing cluster's docs across train/eval between runs:
    * contamination through time. Here the persisted assignment wins:
    *  - a doc already in the split store keeps its stored split
    *    VERBATIM — nothing a later batch does can move it;
    *  - a new doc that joins a cluster with stored members adopts the
    *    stored split of the cluster's min stored doc_id (deterministic
    *    across engines and runs);
    *  - a genuinely new cluster (or unique) hashes its representative,
    *    exactly as `leakproofSplit` does.
    * A merge that unites clusters previously assigned to DIFFERENT
    * splits is the one case coherence and stability cannot both hold;
    * stability wins (no assigned doc moves) and the row is flagged
    * `split_conflict` so the leak that ALREADY existed in the stored
    * assignment is auditable rather than silent.
    *
    * Scale shape: one doc_id shuffle join against the store (the
    * unavoidable lookup of a persisted assignment), one
    * duplicate-sized aggregate for cluster adoption — uniques never
    * enter the adoption shuffle. */
  def stableSplit(docs: DataFrame, pairs: DataFrame, storePath: String,
                  trainPct: Int, validPct: Int)
                 (implicit spark: SparkSession): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      "percentages must partition the 100 hash buckets")
    val stored = loadSplits(storePath)
      .select(col("doc_id"), col("split").as("stored_split"))
    val base = docs.select(col("doc_id"))
      .join(dupClusters(pairs), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .join(stored, Seq("doc_id"), "left")
    // per CLUSTER (uniques skip this shuffle): the stored split of the
    // min stored member, and whether the stored members disagree
    val adopted = base.filter(col("cluster_id").isNotNull)
      .groupBy("split_key")
      .agg(
        min(when(col("stored_split").isNotNull,
          struct(col("doc_id"), col("stored_split")))).as("m"),
        count_distinct(col("stored_split")).as("n_splits"))
      .select(col("split_key"),
        col("m.stored_split").as("adopted_split"),
        (col("n_splits") > 1).as("split_conflict"))
    base.join(adopted, Seq("split_key"), "left")
      .withColumn("bucket",
        TextAnalysis.sampleHash(col("split_key"), "split") % 100)
      .withColumn("hashed_split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + validPct, "valid")
          .otherwise("test"))
      .withColumn("split", coalesce(col("stored_split"),
        col("adopted_split"), col("hashed_split")))
      .withColumn("newly_assigned", col("stored_split").isNull)
      .withColumn("split_conflict",
        coalesce(col("split_conflict"), lit(false)))
      .select("doc_id", "split_key", "split", "newly_assigned",
        "split_conflict")
  }

  /** Persist the NEW assignments of a `stableSplit` result alongside
    * the signature store; already-stored docs are never rewritten (an
    * append can only add, so a stored split can never change). */
  def persistSplits(assignments: DataFrame, storePath: String)
                   (implicit spark: SparkSession): Unit = {
    val path = s"$storePath/splits"
    val fresh = assignments.filter(col("newly_assigned"))
      .select("doc_id", "split")
    val existing = loadSplits(storePath).select("doc_id")
    fresh.join(existing, Seq("doc_id"), "left_anti")
      .write.mode("append").parquet(path)
  }

  private def loadSplits(storePath: String)
                        (implicit spark: SparkSession): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$storePath/splits")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) spark.read.parquet(path.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("split",
          org.apache.spark.sql.types.StringType))))
  }

  /** clusters memoized per (session, canonicalized pair plan), same
    * pattern as the shingle frame: the label-propagation loop is
    * several driver-blocking jobs, and both cluster consumers
    * (doc_dup_clusters and the keep-one corpus) as well as repeated
    * runs share one pair graph — recomputing per caller would dominate
    * the suite. Entries are RELIABLE-checkpoint-backed (files under a
    * PER-ENTRY checkpoint dir): plan trees stay flat through the
    * iteration (the doubling self-join would otherwise nest the plan
    * exponentially) and blocks recover from the checkpoint files on
    * eviction or executor loss — the two failure modes localCheckpoint
    * and bare persist each get wrong. The memo is size-bounded
    * (VERDICT r8 item 6): eviction retires the entry's checkpoint dir,
    * so a long-lived session over many corpora keeps O(cap) checkpoint
    * trees on disk, and an evicted pair graph re-clusters on its next
    * request THROUGH `dupClusters`. Eviction is harsher here than the
    * shingle memo's unpersist (ADVICE r9): a checkpoint-truncated plan
    * cannot recompute once its files are gone, so deletion is deferred
    * one eviction generation — the evicted dir is only parked, and the
    * first eviction of a LATER update deletes it (evictions within the
    * same update park together: a multi-eviction burst must not eat
    * its own grace — ADVICE r10). A caller still holding an already-
    * evicted DataFrame thus keeps a full eviction cycle (cap newer
    * corpora, then one more) of grace; a frame held longer than that
    * fails on its next action and must be re-requested. Parks that
    * never see a later eviction are reclaimed by a JVM shutdown hook. */
  private final case class ClusterEntry(df: DataFrame, ckptDir: String,
                                        session: SparkSession)
  private val ClusterCacheCap = 4
  // all guarded by the memo's monitor: onEvict runs inside
  // getOrElseUpdate, and dupClusters synchronizes on the memo too.
  // Evicted entries PARK in a queue tagged with the update generation
  // that evicted them; a later generation's eviction deletes the older
  // parks. Deleting the previous park directly on each eviction would
  // collapse the grace whenever one update evicts several entries
  // (ADVICE r10): the second eviction of the burst would destroy the
  // first's checkpoint before any newer corpus had even been queried.
  private var updateGen = 0L
  private val retiredQueue =
    scala.collection.mutable.Queue.empty[(Long, ClusterEntry)]
  private def deleteEntry(e: ClusterEntry): Unit = {
    val p = new org.apache.hadoop.fs.Path(e.ckptDir)
    p.getFileSystem(e.session.sparkContext.hadoopConfiguration)
      .delete(p, true): Unit
  }
  private val clusterCache = new graft.BoundedMemo[
    (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    ClusterEntry](ClusterCacheCap)(e => {
    while (retiredQueue.nonEmpty && retiredQueue.head._1 < updateGen)
      deleteEntry(retiredQueue.dequeue()._2)
    retiredQueue.enqueue((updateGen, e))
  })
  // the last generation's parks are never deleted by a next eviction if
  // the JVM exits first — reclaim them on shutdown (best-effort; a dir
  // that survives a kill -9 is ordinary tmp residue)
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      clusterCache.synchronized {
        retiredQueue.foreach(t => scala.util.Try(deleteEntry(t._2)))
      }, "graft-dedup-ckpt-cleanup"))
  }

  private[graft] def clusterCacheSize: Int = clusterCache.size

  def dupClusters(pairs: DataFrame): DataFrame = clusterCache.synchronized {
    updateGen += 1
    clusterCache.getOrElseUpdate(
      (pairs.sparkSession, pairs.queryExecution.analyzed.canonicalized), {
        // per-entry SUBDIR of the deployment's own checkpoint dir when
        // one is set (on a real cluster that is shared storage —
        // executors can't read another node's local tmp), else a
        // local-tmp default for single-node runs
        val base = pairs.sparkSession.sparkContext.getCheckpointDir
          .getOrElse(
            s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-ckpt")
        val dir = s"$base/cluster-${java.util.UUID.randomUUID()}"
        ClusterEntry(dupClustersUncached(pairs, dir, base), dir,
          pairs.sparkSession)
      }).df
  }

  private def dupClustersUncached(pairs: DataFrame, ckptDir: String,
                                  base: String): DataFrame = {
    // reliable checkpoints need a dir — a per-entry one, so eviction
    // can reclaim exactly this computation's files. The context's
    // checkpoint dir is global state: set it for the loop, restore the
    // caller's own dir afterwards (ADVICE r8 — don't leak the side
    // effect), or the BASE when none was set — never the per-entry
    // subdir, which a later entry would nest under and eviction of
    // this one would then delete
    val sc = pairs.sparkSession.sparkContext
    val prevDir = sc.getCheckpointDir
    sc.setCheckpointDir(ckptDir)
    // Spark 4's checkpoint() PRESERVES the pre-checkpoint plan's size
    // statistics (LogicalRDD originStats). In this loop each round's
    // estimate is a join PRODUCT over the previous round's, so the
    // carried BigInt doubles its bit length per round and Catalyst's
    // stats visitor overflows BigInteger once the dup graph needs
    // ~25+ rounds-worth of compounding (first hit by the 10× scale
    // probe). Re-base every checkpoint to default stats — these frames
    // are duplicate-sized and their joins are shuffle joins at scale
    // anyway.
    def ckpt(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftbridge.StatsBridge
        .resetOriginStats(df.checkpoint())
    try {
    // materialize the edge list ONCE: it joins in every round, and its
    // upstream lineage (shingle → minhash → LSH for the usual caller)
    // must not re-execute per iteration
    val edges = ckpt(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = ckpt(edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id")))
    var converged = false
    while (!converged) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("src"),
          col("cluster_id").as("src_label")), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("src_label")).as("neighbor_label"))
      val merged = labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"),
            coalesce(col("neighbor_label"), col("cluster_id")))
            .as("cluster_id"))
      // pointer doubling: adopt the label's OWN label — the distance
      // to the component minimum halves every round, so a chain of
      // diameter d converges in O(log d) rounds instead of O(d)
      // (labels are always node ids within the component, so the
      // shortcut join stays inside it; at the fixed point the min
      // node's label is itself and doubling is the identity)
      val byLabel = merged.select(col("doc_id").as("pid"),
        col("cluster_id").as("plabel"))
      // checkpoint per round: the doubling self-join doubles the plan
      // tree, so without truncation the logical plan grows 2^rounds
      val next = ckpt(merged
        .join(byLabel, merged("cluster_id") === byLabel("pid"), "left")
        .select(merged("doc_id"),
          least(merged("cluster_id"),
            coalesce(col("plabel"), merged("cluster_id")))
            .as("cluster_id")))
      converged = next
        .join(labels.select(col("doc_id"),
          col("cluster_id").as("prev")), "doc_id")
        .filter(col("cluster_id") =!= col("prev"))
        .isEmpty
      labels = next
    }
    labels
    } finally sc.setCheckpointDir(prevDir.getOrElse(base))
  }
}
