package graft

import org.apache.spark.sql.SparkSession

import graft.cube.{CubeManager, GraftSql}
import graft.functions.GraftFunctions

/** One-call setup for a session switching from the reference: SQL
  * functions registered, the star view exposed, both cubes built —
  * after this, `spark.sql` + `GraftSql.sql` + the `graft_*` functions
  * give the full engine surface.
  *
  * Also the one local-session factory every main (Bench, Verify,
  * Probe) builds its session with — the same conf the gated benchmark
  * (perfbench) runs — plus the helpers those mains share. */
object GraftSession {
  def init(spark: SparkSession, sfDir: String): Unit = {
    GraftFunctions.register(spark)
    GraftSql.registerView(spark, sfDir)
    CubeManager.ensureBuilt(spark, sfDir)
    CubeManager.ensureEventsBuilt(spark, sfDir)
  }

  /** deployment settings: the dataset dir and the local thread count
    * (default: every processor of the machine) */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the default generated-class cache (100 entries, JVM-wide)
      // thrashes on a 134-key workload: a replayed key recompiles its
      // evicted classes (+0.7 s on the typed-cogroup key alone)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // acceleration rule available (off unless spark.graft.accelerate);
      // the disabled rule's cost at sf0.1 is within run-to-run noise
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** (result, wall seconds) of `body` */
  def sec[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** the machine-wide 1-min load average (-1 where unsupported) */
  def loadAvg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** Write-then-ATOMIC_MOVE: a reader — or a crash — mid-write sees
    * the previous complete record or the new one, never a
    * parseable-looking fragment. Best effort: an unwritable target
    * leaves the stdout line as the only record. */
  def writeJson(path: String, json: String): Unit = try {
    val dst = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Paths.get(s"$path.tmp")
    java.nio.file.Files.write(tmp,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, dst,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  } catch { case _: java.io.IOException => () }

  /** `--name value` flags for the mains: any flag outside `allowed`,
    * a flag without its value, or a stray positional is refused — a
    * mistyped option must never run the defaults. */
  def flags(args: Seq[String], allowed: Set[String],
            usage: String): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if allowed(k) && !v.startsWith("--") => k -> v
      case k +: _ if allowed(k) => refuse(s"missing value for $k", usage)
      case k +: _ => refuse(s"unknown argument: $k", usage)
    }.toMap

  /** a main's refusal of its command line: one line, usage, exit 2 */
  def refuse(why: String, usage: String): Nothing = {
    System.err.println(s"$why\nusage: $usage")
    sys.exit(2)
  }
}
