package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.DataFrame

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Methodology (VERDICT r1 items 3/4):
  *  - results are MATERIALIZED via a noop-format V2 write, so sorts and
  *    projections are paid (a bare `count()` lets Catalyst eliminate the
  *    global ORDER BY and prune every projected column);
  *  - fixed alphabetical query order + one untimed warmup query so JVM /
  *    codegen warmup doesn't land on a random query; two timed passes,
  *    min per query, so one GC pause can't masquerade as a regression;
  *  - the cube is built once, untimed, before the query loop (Kylin
  *    builds offline too) and reported separately as `cube_build_sec`;
  *  - a failing query aborts the run loudly (exit 1) instead of being
  *    recorded as a plausible timing.
  *
  * `--keys k1,k2` times only those keys and prints each one's warm
  * jobs and costliest stages; `--plans dir` also dumps every timed
  * key's `explain("formatted")` to `dir/<key>.txt` (the before/after
  * plan record of an optimization).
  */
object Bench {
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** the 36 queries of the pinned round-2 baseline (BASELINE.md:
    * "compare per-query times for the 36 baseline keys") — the compact
    * stdout record reports exactly these so the round-over-round
    * comparison survives the driver's 2000-char stdout tail */
  val BaselineKeys: Seq[String] = Seq(
    "cube_bitmap_distinct", "cube_exact_match", "cube_flat_table",
    "cube_hll_distinct", "cube_percentile", "cube_pushdown_fallback",
    "cube_raw_measure", "cube_reagg", "cube_segment_merge",
    "cube_segment_prune", "cube_topn_measure",
    "q01_scan_filter", "q02_agg_pricing", "q03_join_revenue",
    "q04_exists_semijoin", "q05_star_join", "q06_selective_filter",
    "q07_topn_per_group", "q08_rollup", "q09_grouping_sets",
    "q10_count_distinct", "q11_window_running", "q12_percentile",
    "q13_having", "q14_case_when", "q15_string_funcs", "q16_date_funcs",
    "q17_in_subquery", "q18_anti_join", "q19_union", "q20_order_limit",
    "q21_avg_ratio", "q22_distinct", "q23_left_join",
    "q24_scalar_subquery", "q25_approx_distinct")

  /** ADDITIONS-ONLY extension of the compact record (VERDICT r21 next
    * #2): the 36 baseline keys are all relational/cube, so none of the
    * pipeline-side optimizations (doc/emb/ev) were ever
    * driver-visible. These are the 16 heaviest doc/emb/ev/src keys of
    * the r22 baseline run (BENCH_local_r22_before.json), pinned as a
    * FIXED set so later rounds compare like with like. Existing keys
    * are untouched — the compact line stays ~1.5 KB, inside the
    * driver's ~2 KB stdout tail. */
  val PipelineKeys: Seq[String] = Seq(
    "doc_contamination", "doc_fingerprint", "doc_incremental_dedup",
    "doc_ngram_jaccard", "doc_passage_dedup", "doc_simhash",
    "doc_top_terms", "emb_topk_corpus", "emb_topk_ivf", "emb_topk_ivfpq",
    "emb_topk_lsh", "emb_topk_pq", "ev_session_window", "ev_sessionize",
    "src_jdbc_roundtrip", "src_orc_roundtrip")

  /** the load gate's ceiling: ambient 1-min load per processor */
  val MaxLoadRatio = 0.15

  private val Usage = "Bench [--keys k1,k2] [--plans dir]"

  /** job property naming the `pass:key` that submitted a job */
  private val KeyProp = "graft.bench.key"

  /** Per-stage attribution for `--keys` runs: a short query's fixed
    * cost is its jobs and stages (Dremel, VLDB 2020), so they print
    * next to its wall time. Every job carries the [[KeyProp]] of the
    * pass that submitted it, so a listener event delivered late is
    * still charged to its own key and pass. */
  private final class StageLog extends SparkListener {
    private val stageKey = mutable.Map.empty[Int, String]
    private val stages = mutable.Map.empty[String, Vector[StageInfo]]
    private val jobs = mutable.Map.empty[String, Int]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      Option(j.properties).flatMap(p => Option(p.getProperty(KeyProp)))
        .foreach { k =>
          jobs(k) = jobs.getOrElse(k, 0) + 1
          j.stageIds.foreach(stageKey(_) = k)
        }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stageKey.remove(s.stageInfo.stageId).foreach { k =>
          stages(k) = stages.getOrElse(k, Vector.empty) :+ s.stageInfo
        }
      }

    /** the key's pass-2 (warm) jobs and its 12 costliest stages */
    def report(key: String, cold: Double, warm: Double): Unit = {
      val (ss, nj) = synchronized {
        (stages.getOrElse(s"2:$key", Vector.empty),
          jobs.getOrElse(s"2:$key", 0))
      }
      def run(s: StageInfo) = s.taskMetrics.executorRunTime / 1e3
      println(f"== $key  cold=$cold%.3f s  warm=$warm%.3f s  jobs=$nj  " +
        f"stages=${ss.size}  execRunSum=${ss.map(run).sum}%.2f s")
      ss.sortBy(-run(_)).take(12).foreach { s =>
        val (m, sh) = (s.taskMetrics, s.taskMetrics.shuffleReadMetrics)
        println(f"   stage ${s.stageId}%4d run=${run(s)}%7.3f s  " +
          f"cpu=${m.executorCpuTime / 1e9}%7.3f s  gc=${m.jvmGCTime / 1e3}%6.3f s  " +
          f"fw=${sh.fetchWaitTime / 1e3}%6.3f s  tasks=${s.numTasks}%3d  " +
          f"shR=${sh.totalBytesRead / 1024}%8d KB  " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1024}%8d KB")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = GraftSession.flags(args.toSeq, Set("--keys", "--plans"), Usage)
    val keyed = opts.get("--keys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    keyed.toSeq.flatten.filterNot(SparkEntry.queries.contains)
      .foreach(k => GraftSession.refuse(s"unknown key: $k", Usage))
    val sfDir = GraftSession.sfDir
    // Load GATE (VERDICT r16 wrong #2): a bench taken on a loaded
    // machine is a wrong artifact even when the code is right. Ambient
    // load is sampled at process entry, before the bench's own cube
    // build pushes the loadavg up, and normalized by the MACHINE's
    // processors, not SPARK_GRAFT_CPUS (loadavg is machine-wide; -1
    // where unsupported, which passes visibly). A failing gate still
    // prints both lines, carrying `load_gate`, but never persists
    // target/bench.json — and neither does a `--keys` subset.
    val gateStartLoad = GraftSession.loadAvg()
    val gateRatio =
      gateStartLoad / Runtime.getRuntime.availableProcessors()
    val gatePassed = gateRatio <= MaxLoadRatio
    if (!gatePassed && keyed.isEmpty) {
      System.err.println(f"[bench] LOAD GATE FAILED: ambient 1-min " +
        f"load $gateStartLoad%.2f / " +
        f"${Runtime.getRuntime.availableProcessors()} processors = " +
        f"$gateRatio%.3f > $MaxLoadRatio%.2f — timings will print but " +
        "target/bench.json will NOT be persisted; rerun idle")
      // a stale previous record would read passed:true while the
      // CURRENT machine state is gated — remove it, loudly on failure
      scala.util.Try(java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get("target/bench.json")))
        .failed.foreach(e => System.err.println(
          s"[bench] could not remove the stale target/bench.json: $e " +
            "— that record predates this gated run; do not commit it"))
    }
    val spark = GraftSession.local()

    // Untimed warmup: spins up executors, codegen, parquet footer caches.
    materialize(SparkEntry.queries("q02_agg_pricing")(spark, sfDir))

    // Untimed cube build + segment merge (offline in Kylin's model);
    // timed separately so query latencies are pure query cost.
    val cubeBuildSec = GraftSession.sec {
      cube.CubeManager.ensureBuilt(spark, sfDir)
      cube.CubeManager.ensureMerged(spark, sfDir)
    }._2

    val names = keyed.getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val stageLog = keyed.map { _ =>
      val l = new StageLog
      spark.sparkContext.addSparkListener(l)
      l
    }
    def timeOne(name: String, pass: Int): Double = {
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setLocalProperty(KeyProp, s"$pass:$name")
      GraftSession.sec {
        try materialize(fn(spark, sfDir))
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            spark.stop()
            sys.exit(1)
        }
      }._2
    }
    def timeAll(pass: Int): Seq[(String, Double)] =
      names.map(n => n -> timeOne(n, pass))
    // contention tripwire (VERDICT r11 item 2): the load around each
    // pass rides the JSON as validity evidence, and any key whose two
    // passes disagree by >2x (a noisy neighbor, not GC) is re-measured
    val loadBefore = GraftSession.loadAvg()
    // two timed passes, min per query: a single pass is exposed to GC /
    // compilation jitter (observed ±8s spikes on individual queries)
    val p1 = timeAll(1).toMap
    val loadMid = GraftSession.loadAvg()
    val p2 = timeAll(2)
    val loadAfter = GraftSession.loadAvg()
    val retried = p2.collect { case (n, t)
        if math.max(t, p1(n)) > 2 * math.min(t, p1(n)) &&
           math.max(t, p1(n)) > 0.5 => n }
    val p3 = retried.map(n => n -> timeOne(n, 3)).toMap
    // the retry pass needs its own load bracket: its timings replace
    // published numbers, so they must carry validity evidence too
    val loadRetry = GraftSession.loadAvg()
    spark.sparkContext.setLocalProperty(KeyProp, null)
    val results = p2.map { case (n, t) =>
      n -> math.min(math.min(t, p1(n)), p3.getOrElse(n, Double.MaxValue)) }
    stageLog.foreach { log =>
      Thread.sleep(500) // let the listener bus drain
      p2.foreach { case (n, t) => log.report(n, p1(n), t) }
    }
    opts.get("--plans").foreach { dir =>
      val planDir = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(planDir)
      names.foreach { n =>
        val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(planDir.resolve(s"$n.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // pass-1 times verbatim: several dedup/ANN keys share memoized
    // candidate frames (production-realistic reuse), so their min-time
    // measures memo replay — the first pass is the standalone cost of
    // whichever key built the frame (VERDICT r11 item 9)
    val qsFirst = names.map(n => s"\"" + n + "\":" + p1(n))
      .mkString("{", ",", "}")
    val loadJson = f"""{"before":$loadBefore%.2f,"mid":$loadMid%.2f,""" +
      f""""after":$loadAfter%.2f,"after_retry":$loadRetry%.2f,""" +
      s""""cpus":${Runtime.getRuntime.availableProcessors()}}"""
    val gateJson = f"""{"ambient_load":$gateStartLoad%.2f,""" +
      f""""ratio":$gateRatio%.3f,"max_ratio":$MaxLoadRatio%.2f,""" +
      s""""passed":$gatePassed}"""
    val retriedJson = retried.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // per-phase build breakdown (snapshots/dictionary/flat-write/
    // cuboid/merge) so a build regression names its phase
    val phases = cube.CubeBuilder.phaseTotals.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_first_pass":$qsFirst,"load_avg":$loadJson,"load_gate":$gateJson,"retried":$retriedJson,"cube_build_sec":$cubeBuildSec,"build_phases":$phases,"sf":"$sfDir"}"""
    println(json)
    // A final COMPACT line that fits a ~2000-char stdout tail whole
    // (the full record above, ~10 KB, never did): the 36 pinned
    // baseline keys (BASELINE.md's comparison rule) + 16 pipeline keys
    // at 3 decimals, plus suite-level summary. The full per-query map
    // stays in target/bench.json.
    val resMap = results.toMap
    val qsCompact = (BaselineKeys ++ PipelineKeys).filter(resMap.contains)
      .map(k => "\"" + k + "\":" + f"${resMap(k)}%.3f")
      .mkString("{", ",", "}")
    val baselineTotal = BaselineKeys.flatMap(resMap.get).sum
    println(
      s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec",""" +
      s""""queries":$qsCompact,""" +
      s""""queries_note":"36 baseline + 16 pipeline keys; full ${resMap.size}-key map ${if (keyed.isEmpty) "in target/bench.json" else "on the line above"}",""" +
      f""""baseline_total_sec":$baselineTotal%.2f,""" +
      s""""n_queries":${resMap.size},""" +
      f""""mean_sec":${total / resMap.size}%.3f,""" +
      f""""cube_build_sec":$cubeBuildSec%.2f,""" +
      s""""gate_passed":$gatePassed,"sf":"$sfDir"}""")
    // also persist the full map: the driver's stdout tail truncated in
    // round 5 and lost the fast keys from round-over-round comparison
    if (gatePassed && keyed.isEmpty)
      GraftSession.writeJson("target/bench.json", json)
    spark.stop()
  }
}
