package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._
import graft.pipeline.TextAnalysis._

/** SURVEY.md §2.4 text-analysis ops (#41, #48–51): exact dedup,
  * language ID, quality scoring, token counting, fingerprinting.
  * All pure column expressions over the `documents` table; each
  * oracle replays the identical computation in DuckDB SQL, so these
  * are hash-exact D checks, not rows-only.
  *
  * Scale: every query is scan → project → (hash-agg) with no joins;
  * at 100 TB they are embarrassingly parallel over parquet splits.
  */
object TextQueries extends QueryGroup {

  // SQL twins of TextAnalysis normalizations (DuckDB needs the 'g'
  // flag where Spark's regexp_replace is global by default)
  private val sqlNorm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
  private val sqlNormAlnum =
    "regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')"
  private val sqlWords = "regexp_split_to_array(trim(text), '\\s+')"

  /** engine-stable 4-dp truncation (see doc_quality comment) */
  private def f4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 10000) / 10000

  private def sqlStopHits(lang: String): String = {
    val lst = Stopwords.toMap.apply(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($sqlWords, w -> list_contains($lst, w)))"
  }

  /** doc_top_terms' persisted tf frame (one corpus explode serving both
    * the df aggregate and the join probe side) — bounded, eviction
    * unpersists; the LazyCell keeps the materializing job outside the
    * memo monitor (see Dedup's shingle cache for the pattern) */
  private val tfCache = new graft.BoundedMemo[
    (org.apache.spark.sql.SparkSession,
     org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    graft.LazyCell[org.apache.spark.sql.DataFrame]](4)(
    _.release(_.unpersist(blocking = false)))

  val queries: Seq[Q] = Seq(

    // 41 ──────────────── exact dedup: md5 of normalized text, keep the
    //     min doc_id per hash group (one shuffle keyed by the hash)
    Q("doc_exact_dedup",
      (s, d) => documents(s, d)
        .withColumn("h", md5(normText(col("text"))))
        .groupBy("h")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id"),
      Some(s"""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY md5($sqlNorm)
             |ORDER BY doc_id""".stripMargin)),

    // 41b ─────────────── within-doc repetition ratio (Gopher-style
    //     quality rule: fraction of duplicate 3-word windows — high
    //     repetition marks boilerplate/spam for filtering). total
    //     windows from the normalized text, distinct from the shingle
    //     kernel; scan → project → one join on doc_id.
    Q("doc_repetition",
      (s, d) => {
        implicit val spark = s
        val docs = documents(s, d)
        val windows = docs.select(col("doc_id"),
          shingleWindows(col("text")).as("n_windows"))
          .filter(col("n_windows") > 0)
        val distinctSh = graft.pipeline.Dedup.shingleSizes(
          graft.pipeline.Dedup.shingleRows(docs))
          .select(col("doc_id"), col("n").as("n_distinct"))
        windows.join(distinctSh, "doc_id")
          .select(col("doc_id"), col("n_windows"), col("n_distinct"),
            f4(lit(1.0) -
              col("n_distinct").cast(DoubleType) / col("n_windows"))
              .as("rep_ratio"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (
             |  SELECT doc_id, string_split($sqlNorm, ' ') AS ws
             |  FROM documents),
             |t AS (
             |  SELECT doc_id, CAST(len(ws) - 2 AS BIGINT) AS n_windows,
             |    CAST(len(list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]
             |                            for i in range(1, len(ws)-1)]))
             |         AS BIGINT) AS n_distinct
             |  FROM w WHERE len(ws) >= 3)
             |SELECT doc_id, n_windows, n_distinct,
             |  FLOOR((1.0 - CAST(n_distinct AS DOUBLE) / n_windows) * 10000)
             |    / 10000 AS rep_ratio
             |FROM t ORDER BY doc_id""".stripMargin)),

    // 41c ─────────────── deterministic hash-mod sampling: the corpus
    //     sampling primitive at 100 TB — reproducible across runs and
    //     engines (no rand()), uniform across strata, evaluated inside
    //     the scan (a plain filter). ~20% sample via h60 % 5.
    Q("doc_sample_hash",
      (s, d) => documents(s, d)
        .filter(sampleHash(col("doc_id"), "graft") % 5 === 0)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE CAST(concat('0x',
             |    substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15))
             |  AS BIGINT) % 5 = 0
             |ORDER BY doc_id""".stripMargin)),

    // 41f ─────────────── mixture-weighted sampling: APPLY a per-
    //     stratum mix decision (the step downstream of doc_mixture's
    //     accounting) — each language keeps a different hash-mod
    //     fraction, deterministic across runs/engines, evaluated
    //     inside the scan. Here: downweight the over-represented
    //     language (en 2/5) and keep the rest at 4/5 (zh 3/5).
    Q("doc_sample_mix",
      (s, d) => {
        val rates = Seq("en" -> 2, "de" -> 4, "es" -> 4,
          "fr" -> 4, "zh" -> 3)
        val rate = coalesce(
          (rates.map { case (lg, r) =>
            when(col("lang") === lg, lit(r))
          } :+ lit(5)): _*)
        documents(s, d)
          .filter(sampleHash(col("doc_id"), "mix") % 5 < rate)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang FROM documents
             |WHERE CAST(concat('0x',
             |    substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))
             |  AS BIGINT) % 5 <
             |  CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 4
             |    WHEN 'es' THEN 4 WHEN 'fr' THEN 4 WHEN 'zh' THEN 3
             |    ELSE 5 END
             |ORDER BY doc_id""".stripMargin)),

    // 41e ─────────────── corpus mixture report: doc and word totals
    //     per (lang, source) stratum — the accounting a training-mix
    //     decision (and every sampling-weight change) reads first.
    //     One scan, one hash-agg; embarrassingly parallel at 100 TB.
    Q("doc_mixture",
      (s, d) => documents(s, d)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(words(col("text"))).cast(LongType)).as("n_words"))
        .orderBy("lang", "source"),
      Some(s"""SELECT lang, source, COUNT(*) AS n_docs,
             |  CAST(SUM(len($sqlWords)) AS BIGINT) AS n_words
             |FROM documents GROUP BY lang, source
             |ORDER BY lang, source""".stripMargin)),

    // 58 ─────────────── end-to-end corpus prep: the whole minimal
    //     pipeline as ONE deterministic chain — quality gate (length)
    //     → exact dedup (md5 keep-min) → per-language doc/token
    //     accounting. One scan + one hash-shuffle (dedup) + one
    //     hash-agg; hash-exact across engines, so the full prep run
    //     is reproducible end to end, not just its stages.
    Q("doc_prep_pipeline",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val kept = documents(s, d)
          .filter(size(words(col("text"))) >= 20)
          .withColumn("h", md5(normText(col("text"))))
          .withColumn("rk", row_number().over(
            Window.partitionBy("h").orderBy("doc_id")))
          .filter(col("rk") === 1)
        kept.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(words(col("text"))).cast(LongType)).as("n_tokens"))
          .orderBy("lang")
      },
      Some(s"""WITH q AS (
             |  SELECT doc_id, lang, text FROM documents
             |  WHERE len($sqlWords) >= 20),
             |k AS (
             |  SELECT *, row_number() OVER (PARTITION BY md5($sqlNorm)
             |    ORDER BY doc_id) AS rk
             |  FROM q)
             |SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(len($sqlWords)) AS BIGINT) AS n_tokens
             |FROM k WHERE rk = 1 GROUP BY lang ORDER BY lang""".stripMargin)),

    // 53 ─────────────── corpus vocabulary top-k: token frequencies,
    //     the accounting behind tokenizer training and vocab-coverage
    //     checks. explode → hash-agg (map-side partial sums shrink the
    //     shuffle to vocab size) → global top-k; ties broken on the
    //     token so the cutoff row is engine-deterministic.
    Q("doc_vocab_topk",
      (s, d) => documents(s, d)
        .select(explode(words(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20),
      Some(s"""SELECT token, COUNT(*) AS n
             |FROM (SELECT unnest($sqlWords) AS token FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    // 54 ─────────────── per-source document cap: keep the k
    //     longest-by-tokens docs per source (per-domain caps are how a
    //     crawl corpus stops one site from dominating the mix). Skew-
    //     safe two-stage top-k: a row outside its input partition's
    //     top-k cannot be in the source's global top-k, so stage 1
    //     prefilters per (source, partition) and the final per-source
    //     window sees ≤ k·partitions rows — a hot source never funnels
    //     its full row set through one reducer.
    Q("doc_source_cap",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = documents(s, d).select(col("source"), col("doc_id"),
          size(words(col("text"))).cast(LongType).as("n_words"))
        val order = Seq(col("n_words").desc, col("doc_id").asc)
        val byPart = Window.partitionBy(col("source"), col("_pid"))
          .orderBy(order: _*)
        val cand = docs.withColumn("_pid", spark_partition_id())
          .withColumn("_lrk", row_number().over(byPart))
          .filter(col("_lrk") <= 3).drop("_pid", "_lrk")
        val bySource = Window.partitionBy("source").orderBy(order: _*)
        cand.withColumn("rk", row_number().over(bySource).cast(LongType))
          .filter(col("rk") <= 3)
          .select("source", "doc_id", "n_words", "rk")
          .orderBy("source", "doc_id")
      },
      Some(s"""SELECT source, doc_id, n_words, rk FROM (
             |  SELECT source, doc_id,
             |    CAST(len($sqlWords) AS BIGINT) AS n_words,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY len($sqlWords) DESC, doc_id) AS BIGINT) AS rk
             |  FROM documents)
             |WHERE rk <= 3 ORDER BY source, doc_id""".stripMargin)),

    // 56 ─────────────── per-doc characteristic terms: rank each doc's
    //     tokens by tf/df (term frequency over corpus doc-frequency —
    //     keyword extraction for corpus exploration/labeling). The df
    //     side is vocab-sized (AQE broadcast-joins it when small); the
    //     per-doc window partitions are one doc's distinct tokens, so
    //     no skewed reducer. score = tf/df is one IEEE division —
    //     correctly rounded in both engines, hash-exact.
    //     The tf frame (explode + per-doc aggregate — the expensive
    //     corpus pass) is EXPLICITLY persisted behind a bounded memo so
    //     both consumers (the df aggregate and the join's probe side)
    //     read one materialization. Replaces r21's
    //     `count(when(tf >= 1, 1))` formulation, which kept the two
    //     subtrees byte-identical only because Catalyst failed to prune
    //     the predicate's tf reference — runtime exchange reuse by
    //     optimizer blind spot (VERDICT r21 wrong #4: any smarter
    //     pruning would silently double the corpus explode again). The
    //     explicit memo is the same declared engine pattern as the
    //     dedup shingle cache.
    Q("doc_top_terms",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tfRaw = widened(s, d, "documents")
          .select(col("doc_id"), explode(words(col("text"))).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val tf = tfCache.getOrElseUpdate(
          (s, tfRaw.queryExecution.analyzed.canonicalized),
          new graft.LazyCell({
            tfRaw.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            tfRaw.count(): Unit // eager: see Dedup.materialized
            tfRaw
          })).value
        // df counts tf ROWS (distinct per doc), so count(*) IS the
        // document frequency
        val dfreq = tf.groupBy("token")
          .agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("token"))
        tf.join(dfreq, "token")
          .withColumn("score", col("tf").cast(DoubleType) / col("df"))
          .withColumn("rk", row_number().over(w).cast(LongType))
          .filter(col("rk") <= 3)
          .select("doc_id", "token", "tf", "df", "score", "rk")
          .orderBy("doc_id", "rk")
      },
      Some(s"""WITH tf AS (
             |  SELECT doc_id, token, COUNT(*) AS tf FROM (
             |    SELECT doc_id, unnest($sqlWords) AS token
             |    FROM documents) GROUP BY doc_id, token),
             |dfreq AS (SELECT token, COUNT(*) AS df FROM tf
             |  GROUP BY token),
             |r AS (SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
             |    CAST(tf.tf AS DOUBLE) / dfreq.df AS score,
             |    CAST(row_number() OVER (PARTITION BY tf.doc_id
             |      ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df DESC,
             |        tf.token) AS BIGINT) AS rk
             |  FROM tf JOIN dfreq USING (token))
             |SELECT doc_id, token, tf, df, score, rk FROM r
             |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // 55 ─────────────── sequence packing (concat-then-chunk): each
    //     doc's chunk range in the 256-token windows of the
    //     doc_id-ordered concatenation — what a dataloader needs to
    //     slice a packed corpus. The global running offset comes from
    //     Packing's two-phase scan (parallel per-range cumsum + tiny
    //     broadcast prefix), NOT a single-reducer global window.
    Q("doc_pack_chunks",
      (s, d) => {
        val toks = documents(s, d).select(col("doc_id"),
          size(words(col("text"))).cast(LongType).as("n_tokens"))
        graft.pipeline.Packing.packChunks(toks, 256)
          .select("doc_id", "n_tokens", "start_off",
            "chunk_first", "chunk_last", "n_chunks")
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id,
             |    CAST(len($sqlWords) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, n_tokens,
             |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS BIGINT) AS start_off
             |  FROM t)
             |SELECT doc_id, n_tokens, start_off,
             |  CAST(floor(start_off / 256.0) AS BIGINT) AS chunk_first,
             |  CAST(floor((start_off + n_tokens - 1) / 256.0) AS BIGINT)
             |    AS chunk_last,
             |  CAST(floor((start_off + n_tokens - 1) / 256.0) AS BIGINT)
             |    - CAST(floor(start_off / 256.0) AS BIGINT) + 1 AS n_chunks
             |FROM c ORDER BY doc_id""".stripMargin)),

    // 48 ──────────────── language ID: stopword-hit scores per language,
    //     argmax with a fixed tie order (en > de > es > fr > und)
    Q("doc_lang_id",
      (s, d) => {
        val ws = words(col("text"))
        val scored = widened(s, d, "documents").select(
          col("doc_id") +: Stopwords.map { case (l, _) =>
            stopHits(ws, l).as(s"s_$l") }: _*)
        val Seq(en, de, es, fr) = Stopwords.map(p => col(s"s_${p._1}"))
        scored.select(col("doc_id"),
            when(en >= de && en >= es && en >= fr && en > 0, "en")
              .when(de >= es && de >= fr && de > 0, "de")
              .when(es >= fr && es > 0, "es")
              .when(fr > 0, "fr")
              .otherwise("und").as("pred_lang"),
            en.as("s_en"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
             |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
             |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
             |       WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
             |       WHEN s_fr > 0 THEN 'fr'
             |       ELSE 'und' END AS pred_lang,
             |  s_en
             |FROM (SELECT doc_id,
             |        CAST(${sqlStopHits("en")} AS INT) AS s_en,
             |        CAST(${sqlStopHits("de")} AS INT) AS s_de,
             |        CAST(${sqlStopHits("es")} AS INT) AS s_es,
             |        CAST(${sqlStopHits("fr")} AS INT) AS s_fr
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // 49 ──────────────── quality scoring: length, punctuation ratio,
    //     stopword ratio, composite score — identical arithmetic (and
    //     rounding) on both engines
    Q("doc_quality",
      (s, d) => {
        val ws = words(col("text"))
        widened(s, d, "documents").select(
            col("doc_id"),
            length(col("text")).cast(LongType).as("len_chars"),
            size(ws).cast(LongType).as("n_words"),
            size(filter(ws, w => w.rlike("^[a-z]+$"))).cast(LongType)
              .as("n_alpha_words"),
            stopHits(ws, "en").cast(LongType).as("n_stop"))
        .select(col("doc_id"), col("len_chars"), col("n_words"),
            // floor(x·10⁴)/10⁴ instead of round(x, 4): ROUND half-up on
            // a value that lands exactly on a .5 boundary diverges
            // between engines (Spark rounds the binary double via
            // BigDecimal, DuckDB scales first); multiply+floor are
            // single IEEE ops, bit-identical everywhere
            f4(col("n_alpha_words").cast(DoubleType) / col("n_words"))
              .as("alpha_ratio"),
            f4(col("n_stop").cast(DoubleType) / col("n_words"))
              .as("stop_ratio"),
            f4(least(col("n_words").cast(DoubleType) / 100.0, lit(1.0)) * 0.5
                + (col("n_alpha_words").cast(DoubleType) / col("n_words")) * 0.3
                + least(col("n_stop").cast(DoubleType) / col("n_words") * 5.0,
                    lit(1.0)) * 0.2).as("quality"))
        .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, len_chars, n_words,
             |  floor((CAST(n_alpha_words AS DOUBLE) / n_words) * 10000) / 10000 AS alpha_ratio,
             |  floor((CAST(n_stop AS DOUBLE) / n_words) * 10000) / 10000 AS stop_ratio,
             |  floor((LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
             |    + (CAST(n_alpha_words AS DOUBLE) / n_words) * 0.3
             |    + LEAST(CAST(n_stop AS DOUBLE) / n_words * 5.0, 1.0) * 0.2)
             |    * 10000) / 10000 AS quality
             |FROM (SELECT doc_id,
             |        CAST(length(text) AS BIGINT) AS len_chars,
             |        CAST(len($sqlWords) AS BIGINT) AS n_words,
             |        CAST(len(list_filter($sqlWords, w -> regexp_full_match(w, '[a-z]+'))) AS BIGINT) AS n_alpha_words,
             |        CAST(${sqlStopHits("en")} AS BIGINT) AS n_stop
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // 49b ─────────────── language-aware quality: the stopword signal
    //     uses each doc's OWN language's list (a monolingual list
    //     under-scores every other language — this is the multilingual
    //     corpus form of #49). Languages without a curated list (zh
    //     here) get has_stops=false and a length-only score, which the
    //     mix weighting downstream must know rather than silently
    //     reading a zero stop ratio as "low quality".
    Q("doc_quality_lang",
      (s, d) => {
        val ws = words(col("text"))
        val ownHits = coalesce(
          (Stopwords.map { case (lg, _) =>
            when(col("lang") === lg, stopHits(ws, lg))
          } :+ lit(0)): _*).cast(LongType)
        val known = Stopwords.map(_._1)
          .map(col("lang") === _).reduce(_ || _)
        widened(s, d, "documents").select(col("doc_id"), col("lang"),
            size(ws).cast(LongType).as("n_words"),
            ownHits.as("n_stop_own"), known.as("has_stops"))
          .select(col("doc_id"), col("lang"), col("n_words"),
            col("n_stop_own"), col("has_stops"),
            f4(col("n_stop_own").cast(DoubleType) / col("n_words"))
              .as("stop_ratio"),
            f4(least(col("n_words").cast(DoubleType) / 100.0, lit(1.0))
                * 0.5 +
              when(col("has_stops"),
                least(col("n_stop_own").cast(DoubleType) / col("n_words")
                  * 5.0, lit(1.0)) * 0.5)
                .otherwise(0.5)).as("quality_own"))
          .orderBy("doc_id")
      },
      Some {
        val cases = Stopwords.map { case (lg, _) =>
          s"WHEN '$lg' THEN ${sqlStopHits(lg)}"
        }.mkString(" ")
        val langs = Stopwords.map(w => s"'${w._1}'").mkString(", ")
        s"""WITH b AS (
           |  SELECT doc_id, lang,
           |    CAST(len($sqlWords) AS BIGINT) AS n_words,
           |    CAST(CASE lang $cases ELSE 0 END AS BIGINT) AS n_stop_own,
           |    lang IN ($langs) AS has_stops
           |  FROM documents)
           |SELECT doc_id, lang, n_words, n_stop_own, has_stops,
           |  floor((CAST(n_stop_own AS DOUBLE) / n_words) * 10000)
           |    / 10000 AS stop_ratio,
           |  floor((LEAST(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5 +
           |    CASE WHEN has_stops THEN
           |      LEAST(CAST(n_stop_own AS DOUBLE) / n_words * 5.0, 1.0)
           |        * 0.5
           |    ELSE 0.5 END) * 10000) / 10000 AS quality_own
           |FROM b ORDER BY doc_id""".stripMargin
      }),

    // 50 ──────────────── token counting: whitespace tokens + BPE-ish
    //     regex tokens (letter runs / digit runs / single symbols)
    Q("doc_token_count",
      (s, d) => documents(s, d).select(
          col("doc_id"),
          size(words(col("text"))).cast(LongType).as("n_ws_tokens"),
          size(tokens(col("text"))).cast(LongType).as("n_sub_tokens"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  CAST(len($sqlWords) AS BIGINT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(lower(text), '$TokenPattern')) AS BIGINT) AS n_sub_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // 51 ──────────────── document fingerprint: 64-bit content hash of
    //     the alnum-normalized text (md5-derived → engine-independent)
    Q("doc_fingerprint",
      (s, d) => documents(s, d).select(
          col("doc_id"),
          substring(md5(normAlnum(col("text"))), 1, 16).as("fp_hex"),
          fingerprint64(col("text")).as("fp64"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
             |  substr(md5($sqlNormAlnum), 1, 16) AS fp_hex,
             |  CAST(concat('0x', substr(md5($sqlNormAlnum), 1, 15)) AS BIGINT) AS fp64
             |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
