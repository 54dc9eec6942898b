package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.cube.{CubeBuilder, CubeJson, CubeManager, GraftSql, GraftTool,
  QueryService}
import graft.pipeline.{Dedup, EmbeddingSearch}

/** The benchmark's engine side: runs one workload inside one JVM on
  * `local[cpus]` and writes `result.json` into the run directory. It
  * reaches the engine only through public entry points
  * (`QueryService.run`, `GraftSql.sqlCached`, `CubeManager.ensureBuilt`
  * / `ensureDeclared`, `GraftTool.run`, `Dedup`, `EmbeddingSearch`) and
  * reads nothing but the inputs `gen.py` wrote. It records raw samples
  * only; `run.py` turns them into metrics and checks the answers.
  *
  * Usage: perfbench.Main --workload w --run-dir d --sf dir
  *   --warm-sf dir --seconds s --trace 0|1 --cpus n
  */
object Main {

  final case class Conf(workload: String, runDir: String, sf: String,
      warmSf: String, seconds: Double, trace: Boolean, cpus: Int)

  implicit val formats: Formats = DefaultFormats

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val conf = Conf(a("workload"), a("run-dir"), a("sf"), a("warm-sf"),
      a("seconds").toDouble, a("trace") == "1", a("cpus").toInt)
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName(s"graft-bench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.runDir}/tmp")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = epochMs
    val rec = new Recorder(spark, conf.trace)
    val body = conf.workload match {
      case "serve_adhoc" => serve(spark, rec, conf)
      case "lifecycle" => lifecycle(spark, rec, conf)
      case "prepare" => // the star cube serve runs load
        CubeManager.ensureBuilt(spark, conf.sf)
        JObject("ready_epoch_ms" -> JLong(epochMs))
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    rec.drain()
    val sparkConf = JObject(spark.sparkContext.getConf.getAll.toList
      .sortBy(_._1).map { case (k, v) => k -> JString(v) })
    val out = body merge JObject(
      "trace" -> rec.toJson,
      "jvm_start_epoch_ms" -> JLong(java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime),
      "session_epoch_ms" -> JLong(sessionReady),
      "peak_rss_mb" -> JDouble(peakRssMb()),
      "jvm_max_heap_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_master" -> JString(spark.sparkContext.master),
      "spark_conf" -> sparkConf)
    write(Paths.get(conf.runDir, "result.json"), compact(render(out)))
    spark.stop()
  }

  // ── shared helpers ───────────────────────────────────────────────

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  private def write(p: Path, s: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** the JVM's resident-set high-water mark (Linux /proc) */
  private def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)).getOrElse(0.0)

  private def epochMs: Long = System.currentTimeMillis()

  private def jvalue(v: Any): JValue = v match {
    case null => JNull
    case s: String => JString(s)
    case l: java.lang.Long => JLong(l)
    case i: java.lang.Integer => JLong(i.longValue)
    case d: java.lang.Double => JDouble(d)
    case f: java.lang.Float => JDouble(f.doubleValue)
    case b: java.math.BigDecimal => JDouble(b.doubleValue)
    case b: java.lang.Boolean => JBool(b)
    case t: java.sql.Timestamp => JString(t.toString)
    case s: scala.collection.Seq[_] => JArray(s.map(jvalue).toList)
    case other => JString(other.toString)
  }

  /** (column names, rows as JSON, order-insensitive canonical form) */
  private def encode(rows: Array[Row]): (List[String], JArray, String) = {
    val cols = rows.headOption.flatMap(r => Option(r.schema))
      .map(_.fieldNames.toList).getOrElse(Nil)
    val js = rows.toList.map(r => JArray(r.toSeq.map(jvalue).toList))
    (cols, JArray(js), js.map(j => compact(render(j))).sorted.mkString("\n"))
  }

  /** one served query as the client saw it */
  private final case class Sample(client: Int, seq: Int, text: Int,
      start: Double, end: Double, ok: Boolean, error: String,
      routed: Boolean, via: String, fromCache: Boolean, scanRows: Long,
      scanBytes: Long, rows: Int, front: Option[GraftSql.SqlResult],
      frontMs: Double, phase: String) {
    def toJson: JValue = JObject(
      "client" -> JLong(client), "seq" -> JLong(seq), "text" -> JLong(text),
      "start" -> JDouble(start), "end" -> JDouble(end), "ok" -> JBool(ok),
      "error" -> JString(error), "routed" -> JBool(routed),
      "via" -> JString(via), "from_cache" -> JBool(fromCache),
      "scan_rows" -> JLong(scanRows), "scan_bytes" -> JLong(scanBytes),
      "rows" -> JLong(rows), "phase" -> JString(phase),
      "front_ms" -> JDouble(frontMs),
      "front_routed" -> front.map(f => JBool(f.routed): JValue).getOrElse(JNull),
      "front_hit" -> front.map(f => JBool(f.fromCache): JValue).getOrElse(JNull),
      "est_rows" -> front.flatMap(_.estRows).map(JLong(_): JValue)
        .getOrElse(JNull))
  }

  /** first answer per text; every later answer to the same text must
    * equal it (a cache hit or a refreshed cube may not change it) */
  private final class Answers {
    private val first = new java.util.concurrent.ConcurrentHashMap[
      Int, (List[String], JArray, String)]()
    def check(text: Int, rows: Array[Row]): Option[String] = {
      val e = encode(rows)
      val prev = first.putIfAbsent(text, e)
      if (prev == null || prev._3 == e._3) None
      else Some(s"answer to text $text changed between two serves")
    }
    def toJson: JValue = JObject(first.asScala.toList.sortBy(_._1).map {
      case (k, (cols, rows, _)) => k.toString -> JObject(
        "columns" -> JArray(cols.map(JString(_))), "rows" -> rows)
    })
  }

  /** serve one query through QueryService.run; in a traced run the
    * front end (analysis, cache probe, route) is first timed on its own
    * through GraftSql.sqlCached, which returns before execution */
  private def serveOne(spark: SparkSession, rec: Recorder, sf: String,
      text: String, qid: String, client: Int, seq: Int, ti: Int,
      answers: Answers, phase: String): Sample =
    rec.span("serve.query", qid) { sid =>
      val t0 = rec.nowMs
      try {
        val (front, frontMs) =
          if (!rec.on) (None, 0.0)
          else rec.span("sql.front", qid, sid) { _ =>
            val f0 = rec.nowMs
            spark.sparkContext.setJobGroup(s"bench-front-$qid", qid)
            val r = try GraftSql.sqlCached(spark, sf, text)
              finally spark.sparkContext.clearJobGroup()
            (Some(r), rec.nowMs - f0)
          }
        val s = rec.span("exec.serve", qid, sid)(_ =>
          QueryService.run(spark, sf, text, qid))
        val t1 = rec.nowMs
        val bad = answers.check(ti, s.rows)
        Sample(client, seq, ti, t0, t1, bad.isEmpty, bad.getOrElse(""),
          s.routed, s.via, s.fromCache, s.scanRows, s.scanBytes,
          s.rows.length, front, frontMs, phase)
      } catch {
        case e: Throwable =>
          Sample(client, seq, ti, t0, rec.nowMs, ok = false,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500),
            routed = false, "error", fromCache = false, 0L, 0L, 0, None,
            0.0, phase)
      }
    }

  private def texts(q: JValue): Vector[String] =
    (q \ "texts").extract[List[JValue]].map(t => (t \ "sql").extract[String])
      .toVector

  // ── serve_adhoc ──────────────────────────────────────────────────

  def serve(spark: SparkSession, rec: Recorder, conf: Conf): JObject = {
    val q = parse(read(s"${conf.runDir}/queries.json"))
    val ts = texts(q)
    val sequence = (q \ "sequence").extract[List[Int]].toVector
    val warm = (q \ "warmup").extract[List[Int]].toVector
    // set-up: load (or, first time for this engine build, build) the
    // star cube, then warm every code path the window will use
    val t0 = rec.nowMs
    val inst = CubeManager.ensureBuilt(spark, conf.sf)
    val cubeMs = rec.nowMs - t0
    val answers = new Answers
    runClients(spark, rec, conf, ts, warm, answers, Double.MaxValue,
      "warmup"): Unit
    val (h0, m0, e0) = GraftSql.resultCacheStats
    val ready = epochMs
    val samples = runClients(spark, rec, conf, ts, sequence, answers,
      rec.nowMs + conf.seconds * 1000, "window")
    val (h1, m1, e1) = GraftSql.resultCacheStats
    JObject(
      "ready_epoch_ms" -> JLong(ready),
      "cube_load_ms" -> JDouble(cubeMs),
      "cube_dir" -> JString(s"${inst.root}/${inst.cube.name}"),
      "cache" -> JObject("hits" -> JLong(h1 - h0),
        "misses" -> JLong(m1 - m0), "evictions" -> JLong(e1 - e0)),
      "samples" -> JArray(samples.map(_.toJson).toList),
      "answers" -> answers.toJson)
  }

  /** two closed-loop clients over a shared query sequence until the
    * deadline; each sends its next query only after the last one
    * returned */
  private def runClients(spark: SparkSession, rec: Recorder, conf: Conf,
      ts: Vector[String], sequence: Vector[Int], answers: Answers,
      deadline: Double, phase: String): Seq[Sample] = {
    val next = new AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[Sample]()
    val threads = (0 until 2).map { c =>
      new Thread(() => {
        var k = next.getAndIncrement()
        while (rec.nowMs < deadline && k < sequence.size) {
          val ti = sequence(k)
          out.add(serveOne(spark, rec, conf.sf, ts(ti),
            s"$phase-c$c-$k", c, k, ti, answers, phase))
          k = next.getAndIncrement()
        }
      }, s"bench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(_.seq)
  }

  // ── lifecycle ────────────────────────────────────────────────────

  /** (cuboid dir, last-modified) under a cube's segment dirs */
  private def cuboidDirs(cubeDir: String): Map[String, Long] = {
    val base = Paths.get(cubeDir)
    if (!Files.isDirectory(base)) return Map.empty
    val segs = Files.list(base).iterator().asScala.filter(Files.isDirectory(_))
      .toList
    segs.flatMap { s =>
      Files.list(s).iterator().asScala.filter(Files.isDirectory(_)).toList
        .map(c => base.relativize(c).toString ->
          Files.getLastModifiedTime(c).toMillis)
    }.toMap
  }

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  /** The write side, as one run: a cube lifecycle writer, a pipeline
    * ingest writer and a cached dashboard reader over the cube's view,
    * side by side on one engine. */
  def lifecycle(spark: SparkSession, rec: Recorder, conf: Conf): JObject = {
    implicit val s: SparkSession = spark
    val dir = conf.runDir
    val docPath = s"$dir/cube.json"
    val spec = CubeJson.parse(read(docPath))
    val q = parse(read(s"$dir/queries.json"))
    val ts = texts(q)
    val order = (q \ "refresh_order").extract[List[String]].toVector
    val bursts = (q \ "bursts").extract[List[List[Int]]].toVector
    val cfg = parse(read(s"$dir/ingest.json"))
    val batchFiles = (cfg \ "batches").extract[List[String]].toVector
    val minJ = (cfg \ "min_jaccard").extract[Double]
    val nq = (cfg \ "ann_queries").extract[Int]
    val k = (cfg \ "ann_k").extract[Int]
    def docs(f: String): DataFrame =
      spark.read.schema("doc_id BIGINT, text STRING").json(s"$dir/$f")
    val store = s"$dir/store"
    val log = new StringBuilder
    def tool(args: String*): Int =
      GraftTool.run(spark, args, s => log.synchronized {
        log.append(s).append('\n'); ()
      })

    // set-up, both writers at once: build the same cube document at the
    // warm-up scale (it loads and compiles the build path the window
    // times); convert the embeddings, build the initial signature store
    // and push one warm-up batch through every ingest step
    val embsDir = s"$dir/in/embeddings"
    val warmIngest = background("bench-warm-ingest") {
      spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .json(s"$dir/embeddings.jsonl")
        .write.mode("overwrite").parquet(embsDir)
      Dedup.persistSignatureStore(docs("store.jsonl"), store)
      ingestBatch(spark, rec, docs("warm.jsonl"), store, minJ, "warm",
        spark.read.parquet(embsDir), nq, k, append = false): Unit
    }
    // (under its own name, so the window's build always starts from an
    // empty root even when the warm-up scale is the measured one)
    val warmSpec = spec.copy(name = spec.name + "_warm")
    CubeJson.register(warmSpec): Unit
    CubeManager.ensureDeclared(spark, conf.warmSf, warmSpec): Unit
    CubeJson.register(spec): Unit
    warmIngest.join()
    val embs = spark.read.parquet(embsDir)
    val ready = epochMs

    // both writers run a fixed schedule, whatever their speed: the cube
    // writer builds, refreshes each of the seed's segments once and
    // auto-merges; the ingest writer takes every batch once. The window
    // lasts at least until the deadline
    val windowStart = rec.nowMs
    val deadline = windowStart + conf.seconds * 1000
    val batches = scala.collection.mutable.ArrayBuffer.empty[JValue]
    val ingest = background("bench-ingest") {
      batchFiles.zipWithIndex.foreach { case (f, b) =>
        batches += ingestBatch(spark, rec, docs(f), store, minJ,
          s"b$b", embs, nq, k, append = true)
          .merge(JObject("batch" -> JLong(b)))
      }
    }

    val ops = scala.collection.mutable.ArrayBuffer.empty[JValue]
    def op[T](kind: String, detail: String)(body: => T): (T, Double, Double) =
      rec.span(s"cube.$kind", s"$kind-${ops.size}") { _ =>
        val t0 = rec.nowMs
        spark.sparkContext.setJobGroup(s"bench-$kind-${ops.size}", detail)
        val r = try body finally spark.sparkContext.clearJobGroup()
        (r, t0, rec.nowMs)
      }
    val phases0 = CubeBuilder.phaseTotals
    val (inst, b0, b1) = op("build", "fresh build")(
      CubeManager.ensureDeclared(spark, conf.sf, spec))
    val cubeDir = s"${inst.root}/${spec.name}"
    ops += JObject("kind" -> JString("build"), "start" -> JDouble(b0),
      "end" -> JDouble(b1), "code" -> JLong(0),
      "rows_written" -> JLong(inst.rows.values.sum),
      "bytes_written" -> JLong(dirBytes(cubeDir)),
      "phases" -> phaseDelta(phases0, CubeBuilder.phaseTotals))

    // the dashboard reader, one closed loop through the result cache,
    // reads every text once after every commit: each read recomputes
    // against the new layout (and must give the answer it gave
    // before); and once more when both writers are idle, all hits (the
    // fixed per-query serving cost). It does not read while a refresh
    // or the merge runs: the engine can fail a read that overlaps a
    // segment swap with a missing cuboid file
    // (FAILED_READ_FILE.FILE_NOT_EXIST) even after QueryService's one
    // swap-window retry, an open engine defect.
    val answers = new Answers
    val reads = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val readBursts = scala.collection.mutable.ArrayBuffer.empty[JValue]
    def burst(after: String, phase: String = "reader"): Unit = {
      val t0 = rec.nowMs
      bursts(readBursts.size).foreach { ti =>
        val i = reads.size
        reads += serveOne(spark, rec, conf.sf, ts(ti), s"r-$i", 0, i, ti,
          answers, phase)
      }
      readBursts += JObject("after" -> JString(after),
        "start" -> JDouble(t0), "end" -> JDouble(rec.nowMs))
    }
    // its answers after the build are the ones every later read must
    // give. This first pass is not timed: it makes the cube's cold first
    // reads beside the ingest writer's first batch
    burst("build", "reference")
    order.foreach { seg =>
      val before = cuboidDirs(cubeDir)
      val p0 = CubeBuilder.phaseTotals
      val (code, r0, r1) = op("refresh", seg)(
        tool("refresh", conf.sf, "--def", docPath, "--segment", seg))
      val after = cuboidDirs(cubeDir)
      ops += JObject("kind" -> JString("refresh"), "segment" -> JString(seg),
        "start" -> JDouble(r0), "end" -> JDouble(r1), "code" -> JLong(code),
        "cuboid_dirs" -> JLong(after.size),
        "rewritten" -> JLong(after.count { case (d, m) =>
          !before.get(d).contains(m) }),
        "phases" -> phaseDelta(p0, CubeBuilder.phaseTotals))
      burst(s"refresh $seg")
    }
    val pm = CubeBuilder.phaseTotals
    val (mcode, m0, m1) = op("merge", "auto-merge")(
      tool("policies", conf.sf, "--def", docPath))
    ops += JObject("kind" -> JString("merge"), "start" -> JDouble(m0),
      "end" -> JDouble(m1), "code" -> JLong(mcode),
      "phases" -> phaseDelta(pm, CubeBuilder.phaseTotals))
    burst("merge")
    ingest.join()
    while (rec.nowMs < deadline) Thread.sleep(10)
    // a last burst once both writers are done: the idle hit path
    burst("idle")
    JObject(
      "ready_epoch_ms" -> JLong(ready),
      "window" -> JObject("start" -> JDouble(windowStart),
        "end" -> JDouble(rec.nowMs)),
      "bursts" -> JArray(readBursts.toList),
      "ops" -> JArray(ops.toList),
      "cube_dir" -> JString(cubeDir),
      "stored_bytes" -> JLong(dirBytes(cubeDir)),
      "tool_log" -> JString(log.toString.take(20000)),
      "samples" -> JArray(reads.map(_.toJson).toList),
      "answers" -> answers.toJson,
      "batches" -> JArray(batches.toList),
      "store_bytes" -> JLong(dirBytes(store)))
  }

  /** run `body` on its own thread; join() rethrows its failure */
  private final class Background(name: String, body: () => Unit) {
    @volatile private var failure: Throwable = null
    private val t = new Thread(() => {
      try body() catch { case e: Throwable => failure = e }
    }, name)
    t.start()
    def join(): Unit = {
      t.join()
      if (failure != null) throw failure
    }
  }
  private def background(name: String)(body: => Unit): Background =
    new Background(name, () => body)

  private def phaseDelta(a: Map[String, Double],
                         b: Map[String, Double]): JValue =
    JObject(b.toList.sortBy(_._1).map { case (k, v) =>
      k -> JDouble(v - a.getOrElse(k, 0.0)) })

  /** one ingest batch: dedup against the store, dedup within, append
    * the kept documents to the store, then one seeded ANN top-k query
    * set per method (the warm-up batch appends nothing) */
  private def ingestBatch(spark: SparkSession, rec: Recorder,
      batch: DataFrame, store: String, minJ: Double, tag: String,
      embs: DataFrame, nq: Int, k: Int, append: Boolean): JObject = {
    implicit val s: SparkSession = spark
    import spark.implicits._
    rec.span("ingest.batch", tag) { sid =>
      val steps = scala.collection.mutable.LinkedHashMap.empty[String, JValue]
      def step[T](name: String)(body: => T): T =
        rec.span(name, tag, sid) { _ =>
          val t0 = rec.nowMs
          spark.sparkContext.setJobGroup(
            s"bench-${name.replace('.', '-')}-$tag", name)
          val r = try body finally spark.sparkContext.clearJobGroup()
          steps(name) = JObject("start" -> JDouble(t0),
            "end" -> JDouble(rec.nowMs))
          r
        }
      val t0 = rec.nowMs
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, JValue]
      if (rec.on) {
        // the traced run splits the MinHash path to count its work
        val rows = step("dedup.shingle")(
          Dedup.cachedShingleRows(batch))
        val cand = step("dedup.candidates")(
          Dedup.minhashCandidates(rows).count())
        val verified = step("dedup.verify")(
          Dedup.pairJaccard(rows, Dedup.minhashCandidates(rows))
            .filter(col("jaccard") >= minJ).count())
        counts("candidate_pairs") = JLong(cand)
        counts("verified_pairs") = JLong(verified)
      }
      val cross = step("dedup.incremental")(
        Dedup.incrementalDupPairs(batch, store, minJ)
          .select("id_a", "id_b").as[(Long, Long)].collect())
      val withinDf = Dedup.minhashDupPairs(batch, minJ).cache()
      val within = step("dedup.minhash")(
        withinDf.select("id_a", "id_b").as[(Long, Long)].collect())
      val dropStore = cross.map(_._2).distinct.toSeq.toDF("doc_id")
      val (kept, keptN) = step("dedup.keepone") {
        val kp = Dedup.dedupKeepOne(batch, withinDf)
          .join(dropStore, Seq("doc_id"), "left_anti").cache()
        (kp, kp.count())
      }
      if (append)
        step("dedup.store_append")(
          Dedup.persistSignatureStore(kept, store, append = true))
      // under a group of its own, so no ungrouped job can be taken for
      // a concurrent cube op's (see analyze.cube_jobs)
      spark.sparkContext.setJobGroup(s"bench-dedup-count-$tag", "count")
      val docsN = try batch.count() finally spark.sparkContext.clearJobGroup()
      kept.unpersist(): Unit
      withinDf.unpersist(): Unit
      val dedupEnd = rec.nowMs
      val ann = List("lsh", "ivf").map { m =>
        val (_, rows, _) = step(s"ann.$m")(encode(
          (if (m == "lsh") EmbeddingSearch.lshTopK(embs, nq, k)
           else EmbeddingSearch.ivfTopK(embs, nq, k)).collect()))
        m -> rows
      }
      JObject(
        "docs" -> JLong(docsN), "kept" -> JLong(keptN),
        "start" -> JDouble(t0), "dedup_end" -> JDouble(dedupEnd),
        "end" -> JDouble(rec.nowMs),
        "cross_pairs" -> JArray(cross.toList.map { case (a, b) =>
          JArray(List(JLong(a), JLong(b))) }),
        "within_pairs" -> JArray(within.toList.map { case (a, b) =>
          JArray(List(JLong(a), JLong(b))) }),
        "ann" -> JObject(ann),
        "steps" -> JObject(steps.toList),
        "counts" -> JObject(counts.toList))
    }
  }
}
