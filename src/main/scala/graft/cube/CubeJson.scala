package graft.cube

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.Exact.dec
import graft.functions.Measures

/** Declarative cube metadata: a cube/model definition as a plain JSON
  * document an OPERATOR can author and deploy at runtime — no Scala
  * definition, no recompile (reference: core-cube/src/main/java/org/
  * apache/kylin/cube/model/CubeDesc.java:99, a `RootPersistentEntity`
  * serialized as JSON and loaded through CachedCrudAssist; measures are
  * declared as FunctionDesc name + parameter, not code).
  *
  * The dims/segments/cuboids/agg-groups/derived/extended parts of
  * [[CubeDef]] were already plain data; the piece that made a cube
  * "compiled Scala" was the closure-bearing [[Measure]]. [[JsonMeasure]]
  * closes that gap: a measure SPEC (family + input column(s) + optional
  * answers/expression strings) from which [[CubeJson.measure]]
  * CONSTRUCTS the Measure through the [[Measures]] builders and
  * `sum(dec(...))`. The built-in cubes are documents too
  * ([[BuiltinCubes]]), so there is one declaration path.
  *
  * Registration is one call: [[CubeJson.register]] parses + validates
  * the document, wires a [[GraftSql.Binding]] (view + flat-table
  * builder + stamp-aware instance supplier), after which the declared
  * cube builds on first touch, routes SQL aggregates, and accelerates
  * through the extensions rule exactly like a built-in cube.
  */
object CubeJson {

  // ── the JSON document model (pure data) ───────────────────────────

  /** TopN sketch shape: `dims` are the sketch's literal columns,
    * `valueColumn` the pre-scaled long the build aggregates,
    * `sumOf`/`scale` the user-SQL column and its fixed-point scale
    * (reference: TopNMeasureType function parameters). */
  final case class JsonTopN(dims: Seq[String], valueColumn: String,
                            sumOf: String, scale: Long)

  /** One measure spec. `family` ∈ sum | count | min | max |
    * dim_distinct | bitmap | hll | kll | raw | topn — the reference's
    * measure families (basic, dim-distinct, bitmap, hllc, percentile,
    * raw, topn) by declarative name.
    *
    *  - `column`: the input flat-table column (unused for count/topn)
    *  - `decimal`: wrap the input in the exact-decimal cast (sums over
    *    2-dp money/quantity doubles)
    *  - `presentDouble`: present the state cast to double (decimal sums)
    *  - `answers`: the user-SQL aggregate this measure answers —
    *    "sum:c" | "countAll" | "countDistinct:c" | "min:c" | "max:c" |
    *    "approxDistinct:c" | "percentile:c" | "none"; absent → the
    *    family's natural default over `column`
    *  - `answersSumExpr`: SQL text of a composite expression whose
    *    SUM this measure answers (FunctionDesc parameter matching)
    */
  final case class JsonMeasure(
      name: String,
      family: String,
      column: Option[String] = None,
      decimal: Boolean = false,
      presentDouble: Boolean = false,
      answers: Option[String] = None,
      answersSumExpr: Option[String] = None,
      topn: Option[JsonTopN] = None)

  final case class JsonSegment(name: String, start: String, end: String)

  /** granularity ∈ month | day (the two boundary-expressible
    * granularities [[TimeDim]] ships) */
  final case class JsonTimeDim(name: String, granularity: String)

  final case class JsonDerived(name: String, host: String, lookup: String)

  final case class JsonExtended(name: String, host: String, measure: String)

  final case class JsonAggGroup(includes: Seq[String],
      mandatory: Seq[String] = Nil,
      hierarchies: Seq[Seq[String]] = Nil,
      joints: Seq[Seq[String]] = Nil)

  final case class JsonModelEdge(lookup: String, via: String,
      lookupKey: String, foreignKey: String, joinType: String = "inner")

  /** Kafka connection of a declared streaming source (reference:
    * stream-source-kafka KafkaConfig — broker/topic as cube metadata,
    * not code) */
  final case class JsonKafka(bootstrapServers: String, topic: String,
                             startingOffsets: String = "earliest")

  /** The STREAMING section of a cube document (VERDICT r15 item 3;
    * reference: the real-time cubes are the same CubeDesc document
    * family — stream-core's StreamingSourceConfig rides the cube
    * metadata). Declares the speed layer the engine deploys over
    * today's [[graft.streaming.EventStream]] wiring: a pluggable
    * source (`file` = the events file stream, `kafka` = the connector
    * source), a tumbling window + watermark lateness, and whether the
    * in-watermark HOT TAIL is served. The batch part of the document
    * (dims/measures/segments) remains the historical layer — exactly
    * the lambda split the built-in events cube uses. */
  final case class JsonStreaming(
      source: String = "file",
      window: String = "6 hours",
      lateness: String = "1 hour",
      hotTail: Boolean = true,
      kafka: Option[JsonKafka] = None)

  /** Day-zero lattice planning (VERDICT r15 item 5; reference:
    * core-cube/cuboid/algorithm CuboidStats + BPUSCalculator — the
    * cube planner's phase 1, picking an initial lattice from build
    * statistics alone under a space budget). When declared, the
    * document's cuboids/aggGroups become the CANDIDATE space rather
    * than the materialized set: first build estimates candidate rows
    * in one pass and materializes the best benefit-per-row subset
    * whose total planned rows (base included) fit `rowBudget`. The
    * picked lattice rides `extraCuboids` metadata — outside the
    * fingerprint, like post-build optimize evolution — so restarts
    * load it instead of reading it as def drift.
    *
    * The budget comes in two forms (exactly one): `rowBudget` caps
    * total planned rows absolutely; `expansionRate` caps them at
    * rate × the OBSERVED base cuboid rows — the reference's form
    * (AbstractRecommendAlgorithm.java:50 `spaceLimit =
    * baseCuboidSize * expansionRate`, conf default 15.0), and the
    * scale-correct knob: an absolute row count cannot be guessed for
    * a 100 TB corpus, a rate relative to the measured base holds at
    * any scale. */
  final case class JsonInitialLattice(rowBudget: Option[Long] = None,
                                      expansionRate: Option[Double] = None)

  /** star model: fact + edges (+ optional model filter as SQL text);
    * `broadcast` lists the bounded-cardinality lookups to
    * broadcast-hint in the flat join */
  final case class JsonModel(fact: String, edges: Seq[JsonModelEdge] = Nil,
      filterExpr: Option[String] = None, broadcast: Seq[String] = Nil) {
    /** the fact, then each lookup in edge order */
    def tables: Seq[String] = (fact +: edges.map(_.lookup)).distinct
  }

  /** one flat-table output column: a passthrough (`expr` absent) or a
    * computed column (`expr` = SQL text, aliased to `name`) */
  final case class JsonFlatCol(name: String, expr: Option[String] = None)

  /** Where one model table LIVES (reference: the datasource-sdk seam
    * behind source-hive `HiveSource.java` and source-jdbc
    * `JdbcSource.java` — a model names TABLES, the deployment names
    * each table's source). Keyed by model-table name in the cube
    * document's `sources` map; a table with no entry reads the default
    * convention `<sfDir>/<table>.parquet` ([[graft.Tables.tbl]]).
    *
    *  - `parquet|orc|csv|json`: `path` (file/dir URI; the literal
    *    `${dir}` expands to the runtime sf dir), optional `schema`
    *    (DDL — csv/json need declared types for exactness), `options`
    *    passed to the reader (e.g. header=true);
    *  - `catalog`: `table` = the catalog-qualified name
    *    (`spark.table`) — the metastore path, resolution/pushdown by
    *    the session catalog;
    *  - `jdbc`: `url` + `table` (dbtable; defaults to the model-table
    *    name), `options` merged (driver, partitionColumn/num
    *    partitions for parallel reads at scale). */
  final case class JsonSource(format: String,
      path: Option[String] = None,
      table: Option[String] = None,
      url: Option[String] = None,
      schema: Option[String] = None,
      options: Map[String, String] = Map.empty)

  private val sourceFormats =
    Set("parquet", "orc", "csv", "json", "jdbc", "catalog")

  /** resolve one declared source to a DataFrame (validation has
    * already guaranteed the per-format required fields) */
  private def readSource(s: SparkSession, dir: String, tableName: String,
                         src: JsonSource): DataFrame = src.format match {
    case "catalog" => s.table(src.table.get)
    case "jdbc" =>
      s.read.format("jdbc").options(src.options)
        .option("url", src.url.get)
        .option("dbtable", src.table.getOrElse(tableName))
        .load()
    case fmt =>
      val r0 = s.read.format(fmt).options(src.options)
      src.schema.fold(r0)(r0.schema)
        .load(src.path.get.replace("${dir}", dir))
  }

  /** The whole cube document. `cuboids` (literal dim-name lists) and
    * `aggGroups` (rule-expanded) may both be present; the base cuboid
    * is implied. `dictColumns` are string columns dictionary-encoded
    * before the build (each adds `<col>_id` to the flat table).
    * `view` defaults to `graft_<name>`. */
  final case class JsonCube(
      name: String,
      model: JsonModel,
      dims: Seq[String],
      measures: Seq[JsonMeasure],
      segmentCol: String,
      segments: Seq[JsonSegment],
      flatColumns: Seq[JsonFlatCol] = Nil,
      cuboids: Seq[Seq[String]] = Nil,
      aggGroups: Seq[JsonAggGroup] = Nil,
      timeDim: Option[JsonTimeDim] = None,
      shardBy: Option[String] = None,
      derived: Seq[JsonDerived] = Nil,
      notNull: Seq[String] = Nil,
      extended: Seq[JsonExtended] = Nil,
      segDayGranular: Boolean = false,
      dictColumns: Seq[String] = Nil,
      view: Option[String] = None,
      /** lifecycle POLICIES as data (reference: CubeDesc.java
        * retention_range + auto_merge_time_ranges — both plain fields
        * of the persisted cube document, applied by scheduled jobs).
        * Policies shape the segment LIST over time, not the layout, so
        * they are outside the fingerprint; [[CubeJson.applyPolicies]]
        * is the scheduled-job entry that enforces them. */
      retentionDays: Option[Int] = None,
      autoMergeMaxSegments: Option[Int] = None,
      /** tiered time-threshold auto-merge in DAYS (the reference's
        * auto_merge_time_ranges, CubeDesc.java:179 — e.g. [7, 28]
        * compacts dailies into weeklies, weeklies into monthlies);
        * applied by [[applyPolicies]] one merge per run, largest
        * threshold first */
      autoMergeDays: Seq[Int] = Nil,
      /** lattice REPLAN policy (cube planner phase 2 as data —
        * reference: the optimize-cube job CuboidRecommender feeds):
        * each policies run re-picks the lattice from the persisted
        * query log (`spark.graft.querylog.dir`; silently skipped when
        * no log is configured) under this total-planned-rows budget,
        * materializing only additions. Outside the fingerprint: the
        * picked cuboids ride extraCuboids metadata, like
        * initialLattice and post-build optimize evolution. Exactly
        * one form: `replanRowBudget` (absolute planned rows) or
        * `replanExpansionRate` (× the observed base cuboid rows —
        * the reference's expansion-threshold form, the knob that
        * still means something at 100 TB). */
      replanRowBudget: Option[Long] = None,
      replanExpansionRate: Option[Double] = None,
      /** replan BENEFIT POLICY (reference: the BenefitPolicy family —
        * BPUSCalculator / PBPUSCalculator / SPBPUSCalculator under
        * core-cube/cuboid/algorithm, a deployment config choice
        * there): `"pbpus"` (default) prices every shape by estimated
        * cuboid rows; `"spbpus"` additionally floors each shape's
        * cost at the scan_rows the query log MEASURED for it, so
        * shapes the live lattice already serves cheaply (pruning an
        * estimate can't see) draw no budget. Outside the fingerprint
        * like the budget itself — policy shapes future additions,
        * never the committed layout. */
      replanPolicy: Option[String] = None,
      /** optional speed layer (see [[JsonStreaming]]): outside the
        * fingerprint — it shapes the STREAMING cuboid dirs under the
        * JVM tmp root, never the batch segment layout */
      streaming: Option[JsonStreaming] = None,
      /** optional day-zero lattice budget (see [[JsonInitialLattice]]) */
      initialLattice: Option[JsonInitialLattice] = None,
      /** optional per-table batch SOURCES (see [[JsonSource]]): where
        * each model table lives — warehouse catalog, JDBC, or a file
        * path/format — instead of the `<sfDir>/<table>.parquet`
        * convention. Outside the fingerprint like the reference: a
        * source location names the same logical table; moving it is a
        * data event (refresh territory), not a layout change. */
      sources: Map[String, JsonSource] = Map.empty,
      /** Optional shared STORAGE-ROOT scope: this cube's root becomes
        * `<cubeRoot>/<sf>-<rootScope>` instead of `…-<name>`, so
        * several declarations share ONE multi-cube root (each cube
        * still owns its `<root>/<name>/` subtree; the root-level
        * `dict/` and `snapshots/` trees are COMMON — the layout
        * CubeMigrator documents for multi-cube destinations). The one
        * semantic this buys: dictionaries under a shared root are one
        * append-stable id space, so dict-encoded bitmap states from
        * the scoped cubes MERGE soundly — the requirement for a
        * hybrid's members to serve exact string-keyed distincts
        * across the cutover (validateRealization enforces equal
        * scopes there). Outside the fingerprint: the root PATH
        * changes with the scope, so a re-scoped declaration builds
        * fresh — stale cross-reads are impossible by construction. */
      rootScope: Option[String] = None) {
    def viewName: String = view.getOrElse(s"graft_$name")
  }

  private implicit val fmts: DefaultFormats = DefaultFormats

  /** parse a cube document (throws IllegalArgumentException with the
    * offending part named — an operator-facing deploy error, not a
    * stack trace from deep inside the build) */
  def parse(json: String): JsonCube = {
    val j =
      try Serialization.read[JsonCube](json)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"unparseable cube document: ${e.getMessage}", e)
      }
    validate(j)
    j
  }

  def render(spec: JsonCube): String = Serialization.writePretty(spec)

  private val families = Set("sum", "count", "min", "max", "dim_distinct",
    "bitmap", "hll", "kll", "raw", "topn")

  private def validate(j: JsonCube): Unit = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"cube '${j.name}': $msg")
    if (j.name.isEmpty) fail("empty name")
    // no dash: the name feeds the default VIEW name (`graft_<name>`),
    // and an unquoted '-' is a ParseException at view registration —
    // thrown OUTSIDE registerDir's per-file handler, which would
    // poison every later query in the process over one dropped file
    if (!j.name.matches("[A-Za-z0-9_]+"))
      fail(s"name '${j.name}' must be alphanumeric/underscore only " +
        "(it becomes a storage directory and a SQL view identifier)")
    // the cube's dir lives BESIDE the root-level shared trees: a cube
    // named like one would merge its segment layout into the dict/
    // snapshot/backup tree (and its '_building' lease file is the
    // same path the root-level tree leases use — a nested acquire
    // self-deadlocks, BuildLease is not reentrant)
    if (Set("dict", "snapshots", "_backups")(j.name))
      fail(s"name '${j.name}' is a reserved root-level directory name")
    j.view.foreach(v =>
      if (!v.matches("[A-Za-z0-9_]+"))
        fail(s"view '$v' must be a plain SQL identifier"))
    j.rootScope.foreach(sc =>
      if (!sc.matches("[A-Za-z0-9_]+"))
        fail(s"rootScope '$sc' must be alphanumeric/underscore only " +
          "(it becomes a storage directory)"))
    if (j.dims.isEmpty) fail("no dims")
    if (j.dims.distinct.size != j.dims.size) fail("duplicate dims")
    if (j.segments.isEmpty) fail("no segments")
    j.segments.foreach { sg =>
      Seq(sg.start, sg.end).foreach(d =>
        if (d.length != 10 ||
            scala.util.Try(java.time.LocalDate.parse(d)).isFailure)
          fail(s"segment '${sg.name}': boundary '$d' must be a " +
            "yyyy-MM-dd day"))
      if (sg.start >= sg.end)
        fail(s"segment '${sg.name}': start must precede end")
    }
    if (j.segments.map(_.name).distinct.size != j.segments.size)
      fail("duplicate segment names")
    // the declared segment list must TILE its span (ADVICE r15):
    // overlapping segments build the shared rows into BOTH and the
    // router sums every overlapping segment — double-counted
    // aggregates; a gap inside the span silently drops its rows from
    // every cuboid (the builder's coverage check is only a global
    // min/max). Operator-authored JSON is exactly the input this
    // deploy-time validation exists for.
    j.segments.sortBy(_.start).sliding(2).foreach {
      case Seq(a, b) =>
        if (b.start < a.end)
          fail(s"segments '${a.name}' [${a.start},${a.end}) and " +
            s"'${b.name}' [${b.start},${b.end}) overlap — shared rows " +
            "would build into both and double-count aggregates")
        if (b.start > a.end)
          fail(s"gap between segment '${a.name}' (ends ${a.end}) and " +
            s"'${b.name}' (starts ${b.start}) — rows in the gap would " +
            "silently vanish from every cuboid")
      case _ => ()
    }
    j.measures.foreach { m =>
      if (!families(m.family))
        fail(s"measure '${m.name}': unknown family '${m.family}' " +
          s"(expected one of ${families.toSeq.sorted.mkString(", ")})")
      if (m.family == "topn" && m.topn.isEmpty)
        fail(s"measure '${m.name}': topn family needs a topn shape")
      if (m.column.isEmpty && !Set("count", "topn").contains(m.family))
        fail(s"measure '${m.name}': family '${m.family}' needs a column")
      m.answers.foreach(a => parseAnswers(m, Some(a)): Unit)
    }
    if (j.measures.map(_.name).distinct.size != j.measures.size)
      fail("duplicate measure names")
    j.timeDim.foreach(t =>
      if (t.granularity != "month" && t.granularity != "day")
        fail(s"timeDim granularity must be month|day, got ${t.granularity}"))
    j.retentionDays.foreach(d =>
      if (d <= 0) fail(s"retentionDays must be positive, got $d"))
    j.initialLattice.foreach { il =>
      il.rowBudget.foreach(b => if (b <= 0)
        fail(s"initialLattice rowBudget must be positive, got $b"))
      il.expansionRate.foreach(r => if (r <= 0)
        fail(s"initialLattice expansionRate must be positive, got $r"))
      if (il.rowBudget.isDefined == il.expansionRate.isDefined)
        fail("initialLattice needs exactly ONE budget form: rowBudget " +
          "(absolute planned rows) or expansionRate (x observed base " +
          "rows)")
    }
    j.autoMergeMaxSegments.foreach(n =>
      if (n < 2) fail(s"autoMergeMaxSegments must be >= 2, got $n"))
    j.autoMergeDays.foreach(d =>
      if (d <= 0) fail(s"autoMergeDays must be positive, got $d"))
    if (j.autoMergeDays.distinct.size != j.autoMergeDays.size)
      fail(s"autoMergeDays must be distinct, got ${j.autoMergeDays}")
    j.replanRowBudget.foreach(b =>
      if (b <= 0) fail(s"replanRowBudget must be positive, got $b"))
    j.replanExpansionRate.foreach(r =>
      if (r <= 0) fail(s"replanExpansionRate must be positive, got $r"))
    if (j.replanRowBudget.isDefined && j.replanExpansionRate.isDefined)
      fail("pick ONE replan budget form: replanRowBudget (absolute " +
        "planned rows) or replanExpansionRate (x observed base rows)")
    // NOTE: replanPolicy WITHOUT a replan budget is legitimate — the
    // CLI `advise` honors the policy with its own --budget/--rate
    // flags (default expansion threshold 15.0) while replans stay
    // manual, so only the NAME is validated here
    j.replanPolicy.foreach(pol =>
      if (!Set("pbpus", "spbpus")(pol))
        fail(s"unknown replanPolicy '$pol' (pbpus or spbpus)"))
    j.derived.foreach(d =>
      if (j.model.edges.forall(_.lookup != d.lookup) &&
          j.model.fact != d.lookup)
        fail(s"derived '${d.name}': lookup '${d.lookup}' not in the model"))
    j.streaming.foreach { st =>
      if (st.source != "file" && st.source != "kafka")
        fail(s"streaming source must be file|kafka, got '${st.source}'")
      if (st.source == "kafka" && st.kafka.isEmpty)
        fail("streaming source 'kafka' needs a kafka section " +
          "(bootstrapServers, topic)")
      Seq("window" -> st.window, "lateness" -> st.lateness).foreach {
        case (what, v) =>
          if (scala.util.Try(
              org.apache.spark.sql.catalyst.util.IntervalUtils
                .stringToInterval(
                  org.apache.spark.unsafe.types.UTF8String.fromString(v)))
              .isFailure)
            fail(s"streaming $what '$v' is not a valid interval " +
              "(e.g. '6 hours')")
      }
    }
    // declared batch sources: every entry must name a MODEL table and
    // carry its format's required field — a bad source must refuse at
    // deploy, not fail deep inside the first build (VERDICT r16
    // missing #1; reference: datasource-sdk behind HiveSource.java /
    // JdbcSource.java)
    val modelTables = j.model.tables.toSet
    j.sources.foreach { case (t, src) =>
      if (!modelTables(t))
        fail(s"sources: '$t' is not a model table (model tables: " +
          s"${modelTables.toSeq.sorted.mkString(", ")})")
      if (!sourceFormats(src.format))
        fail(s"sources.$t: unknown format '${src.format}' (expected " +
          s"one of ${sourceFormats.toSeq.sorted.mkString(", ")})")
      // each format's required fields AND a refusal of fields the
      // format does not consume — accepting (say) a `schema` on a
      // jdbc source would imply the declared types apply when
      // readSource never reads them: the deployment would silently
      // behave differently than declared
      def refuse(field: String, present: Boolean): Unit =
        if (present) fail(s"sources.$t: format '${src.format}' does " +
          s"not consume `$field` — remove it (a declared field that " +
          "does nothing hides a wrong deployment)")
      src.format match {
        case "catalog" =>
          if (src.table.isEmpty)
            fail(s"sources.$t: format 'catalog' needs `table` (the " +
              "catalog-qualified name)")
          refuse("path", src.path.nonEmpty)
          refuse("url", src.url.nonEmpty)
          refuse("schema", src.schema.nonEmpty)
          refuse("options", src.options.nonEmpty)
        case "jdbc" =>
          if (src.url.isEmpty)
            fail(s"sources.$t: format 'jdbc' needs `url`")
          refuse("path", src.path.nonEmpty)
          refuse("schema", src.schema.nonEmpty)
        case _ =>
          if (src.path.isEmpty)
            fail(s"sources.$t: format '${src.format}' needs `path`")
          refuse("url", src.url.nonEmpty)
          refuse("table", src.table.nonEmpty)
      }
      src.schema.foreach(ddl =>
        if (scala.util.Try(
            org.apache.spark.sql.types.StructType.fromDDL(ddl)).isFailure)
          fail(s"sources.$t: unparseable schema DDL '$ddl'"))
    }
    // cuboid/agg-group dim references checked by CubeDef/AggGroup's own
    // requires when constructed (they name the offending dim)
  }

  // ── measure spec → Measure (the closure constructor) ──────────────

  private def parseAnswers(m: JsonMeasure,
                           s: Option[String]): Option[SqlAgg] = s match {
    case None => // family default over the input column
      m.family match {
        case "sum"          => m.column.map(SqlAgg.SumOf)
        case "count"        => Some(SqlAgg.CountAll)
        case "min"          => m.column.map(SqlAgg.MinOf)
        case "max"          => m.column.map(SqlAgg.MaxOf)
        case "dim_distinct" => m.column.map(SqlAgg.CountDistinctOf)
        case "bitmap"       => m.column.map(SqlAgg.CountDistinctOf)
        case "hll"          => m.column.map(SqlAgg.ApproxDistinctOf)
        case "kll"          => m.column.map(SqlAgg.PercentileOf)
        case _              => None
      }
    case Some("none")     => None
    case Some("countAll") => Some(SqlAgg.CountAll)
    case Some(spec) => spec.split(":", 2) match {
      case Array("sum", c)            => Some(SqlAgg.SumOf(c))
      case Array("min", c)            => Some(SqlAgg.MinOf(c))
      case Array("max", c)            => Some(SqlAgg.MaxOf(c))
      case Array("countDistinct", c)  => Some(SqlAgg.CountDistinctOf(c))
      case Array("approxDistinct", c) => Some(SqlAgg.ApproxDistinctOf(c))
      case Array("percentile", c)     => Some(SqlAgg.PercentileOf(c))
      case _ => throw new IllegalArgumentException(
        s"measure '${m.name}': unparseable answers spec '$spec'")
    }
  }

  /** Construct the closure-bearing [[Measure]] from its spec: one
    * fixed builder per family, so equal specs give equal fromRaw trees
    * and therefore equal persisted fingerprints. */
  def measure(j: JsonMeasure): Measure = {
    def c: Column = col(j.column.getOrElse(
      throw new IllegalArgumentException(s"measure ${j.name}: no column")))
    val answers = parseAnswers(j, j.answers)
    val present: Column => Column =
      if (j.presentDouble) _.cast(DoubleType) else identity
    val sumOf = j.answersSumExpr.map(expr)
    j.family match {
      case "sum" =>
        val in = if (j.decimal) dec(c) else c
        Measure(j.name, sum(in), s => sum(col(s)), present, answers,
          answersSumOf = sumOf)
      case "count" =>
        Measure(j.name, count(lit(1)), s => sum(col(s)), present, answers)
      case "min" =>
        Measure(j.name, min(c), s => min(col(s)), present, answers)
      case "max" =>
        Measure(j.name, max(c), s => max(col(s)), present, answers)
      case "dim_distinct" =>
        Measure(j.name, collect_set(c),
          s => array_distinct(flatten(collect_list(col(s)))),
          st => size(st).cast(LongType), answers)
      case "bitmap" =>
        Measure(j.name, Measures.bitmapAgg(c),
          s => Measures.bitmapUnion(col(s)),
          Measures.bitmapCount(_), answers)
      case "hll" =>
        Measure(j.name, Measures.hllAgg(c),
          s => Measures.hllUnion(col(s)),
          Measures.hllEstimate(_), answers, heavyState = true)
      case "kll" =>
        Measure(j.name, Measures.kllAgg(c),
          s => Measures.kllUnion(col(s)),
          Measures.kllQuantile(_, lit(0.5)), answers)
      case "raw" =>
        Measure(j.name, collect_list(c),
          s => flatten(collect_list(col(s))), present, answers)
      case "topn" =>
        val t = j.topn.get
        val agg =
          if (t.dims.size == 1) Measures.topnAgg(col(t.dims.head),
            col(t.valueColumn))
          else Measures.topnAggMulti(t.dims.map(col), col(t.valueColumn))
        Measure(j.name, agg, s => Measures.topnUnion(col(s)),
          topnShape = Some(TopNShape(t.dims, t.sumOf, t.scale)))
      case other => throw new IllegalArgumentException(
        s"measure ${j.name}: unknown family $other")
    }
  }

  // ── document → CubeDef / ModelDef ─────────────────────────────────

  def toModel(m: JsonModel): ModelDef =
    ModelDef(m.fact,
      m.edges.map(e => ModelEdge(e.lookup, e.via, e.lookupKey,
        e.foreignKey, e.joinType)),
      m.filterExpr.map(expr))

  private def toTimeDim(t: JsonTimeDim): TimeDim = t.granularity match {
    case "month" => TimeDim.month(t.name)
    case "day"   => TimeDim(t.name, d => Some(d.substring(0, 10)))
    case g => throw new IllegalArgumentException(
      s"timeDim ${t.name}: granularity must be month|day, got $g")
  }

  /** the rule-expanded cuboid space of a document: literal lists +
    * agg-group expansion + the implied base */
  private[graft] def candidateCuboids(j: JsonCube): Seq[Set[String]] = {
    val groups = j.aggGroups.map(g => AggGroup(g.includes,
      g.mandatory.toSet, g.hierarchies, g.joints.map(_.toSet)))
    val literal = j.cuboids.map(_.toSet)
    // base cuboid implied: an operator lists the lattice SUBSET, the
    // engine guarantees the rebuild-everything base (AggGroup.cuboids
    // does the same for rule-declared lattices)
    (literal ++ (if (groups.nonEmpty) AggGroup.cuboids(j.dims, groups)
                 else Seq(j.dims.toSet)) :+ j.dims.toSet).distinct
  }

  def toCubeDef(j: JsonCube): CubeDef = {
    // under an initialLattice budget the document's cuboid space is a
    // CANDIDATE set the planner prunes at build time — the declared
    // def carries only the mandatory base, and the picked lattice
    // rides extraCuboids metadata outside the fingerprint (so the
    // planner's choice can never read as def drift on a reload)
    val cuboids =
      if (j.initialLattice.isDefined) Seq(j.dims.toSet)
      else candidateCuboids(j)
    CubeDef(j.name, j.dims, j.measures.map(measure), j.segmentCol,
      j.segments.map(s => Segment(s.name, s.start, s.end)),
      cuboids,
      timeDim = j.timeDim.map(toTimeDim),
      shardBy = j.shardBy,
      derived = j.derived.map(d => DerivedDim(d.name, d.host, d.lookup)),
      notNull = j.notNull.toSet,
      extended = j.extended.map(e =>
        ExtendedColumn(e.name, e.host, e.measure)),
      segDayGranular = j.segDayGranular,
      dictColumns = j.dictColumns.toSet,
      sharedDictRoot = j.rootScope.isDefined)
  }

  // ── flat-table builder ────────────────────────────────────────────

  /** the LIVE frame of one model table, through its declared source
    * when the document binds one — every reader of a model table (the
    * flat builder, the CLI snapshot rebuild) must resolve through the
    * same truth, or a source-bound lookup would silently re-freeze
    * from the parquet convention */
  def loadTable(s: SparkSession, dir: String, j: JsonCube,
                n: String): DataFrame =
    j.sources.get(n).map(src => readSource(s, dir, n, src))
      .getOrElse(graft.Tables.modelTable(s, dir, n))

  /** The declared flat table over live source tables (the registered
    * view / pushdown fallback). With `snapshotRoot` set (the BUILD
    * path), lookups referenced by derived dims read through write-once
    * snapshots under the cube root, so segment rebuilds join the
    * dimension rows the cube was built with (DFSnapshotBuilder).
    * Tables with a declared SOURCE ([[JsonSource]]) read from it —
    * catalog, JDBC, or a file path/format — instead of the
    * `<sfDir>/<table>.parquet` convention; builds AND the pushdown
    * fallback both resolve through here, so the two read one truth. */
  def flatBuilder(j: JsonCube, snapshotRoot: Option[String] = None)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val snapLookups: Set[String] =
      if (snapshotRoot.isDefined) j.derived.map(_.lookup).toSet
      else Set.empty
    def construct(): DataFrame = flatOf(j, n => {
      val live = loadTable(s, dir, j, n)
      snapshotRoot match {
        case Some(root) if snapLookups(n) => Snapshot.ensure(s, live, root, n)
        case _ => live
      }
    })
    // Snapshot.ensure is check-then-overwrite: on a SHARED root
    // (rootScope) two member builds hold different cube leases and
    // could both see !isCommitted for the same lookup and overwrite
    // each other's write mid-flight — a corrupted freeze served
    // forever. Same posture as CubeManager.dictEncode: the root-level
    // tree gets its own root-level lease, unconditionally (scope-ness
    // is a document property, not a root property).
    if (snapLookups.nonEmpty)
      BuildLease.withLease(s, snapshotRoot.get, "snapshots")(
        Option.empty[DataFrame])(construct())
    else construct()
  }

  /** The flat core over given model-table frames: the model's joins
    * (each edge's declared type), its broadcast hints, then the
    * declared flat columns. [[flatBuilder]] and the star's flat tables
    * and build pipeline (CubeManager.flatTableFrom) all build here. */
  private[graft] def flatOf(j: JsonCube,
                            frame: String => DataFrame): DataFrame = {
    val base = toModel(j.model).flatten(n =>
      if (j.model.broadcast.contains(n)) broadcast(frame(n)) else frame(n))
    if (j.flatColumns.isEmpty) base
    else base.select(j.flatColumns.map(fc =>
      fc.expr.map(e => expr(e).as(fc.name)).getOrElse(col(fc.name))): _*)
  }

  // ── runtime registration ──────────────────────────────────────────

  /** Register a declared cube with the SQL front-end: wires a
    * [[GraftSql.Binding]] whose view is the declared flat table, whose
    * instance supplier is the stamp-aware
    * [[CubeManager.ensureDeclared]] (first touch builds under
    * `<cubeRoot>/<sf>-<name>`, later touches load/serve the committed
    * meta), and whose model (when it has edges) lets user-written
    * joins route too. Returns the view name. Re-registering the same
    * name replaces the prior declaration (GraftSql drops cached
    * results via its bindings version). */
  /** every view name registered through a declaration this process
    * has seen — the fleet cache's eligibility set: declared cubes
    * build under the cube root, so the disk-derived stamp enumeration
    * covers them (extension bindings registered straight through
    * GraftSql may not be) */
  private val declaredViewNames =
    scala.collection.concurrent.TrieMap.empty[String, Unit]
  private[graft] def declaredViews: Set[String] =
    declaredViewNames.keySet.toSet

  /** view (lowercased) → joined member fingerprints. The fleet-cache
    * key folds this in for the views a query touches (ADVICE r15):
    * redeploying a CHANGED declaration bumps only the process-local
    * bindings version — disk stamps move when the REBUILD commits, and
    * an L2 hit bypasses sqlVia entirely, so without the fingerprint in
    * the shared key the fleet would keep serving the old declaration's
    * answers to hot queries indefinitely after a deploy. */
  private val declaredViewFp =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def declaredViewFingerprint(viewLower: String)
      : Option[String] = declaredViewFp.get(viewLower)

  /** cube name → (fingerprint, owning views): the declared-root
    * collision guard (ADVICE r15). Declared roots are
    * `<cubeRoot>/<sf>-<name>`, so two documents declaring the same
    * cube NAME under different views share a storage root; with
    * differing fingerprints each side's load reads the other's commit
    * as def drift and they ping-pong full rebuilds on every touch —
    * the same failure [[guardBuiltinCollision]] documents for the
    * built-in roots. Registration is refused up front. A view
    * re-registering releases its prior names first, so a legitimate
    * redeploy (same view, changed fingerprint) stays allowed. */
  private val declaredNames =
    scala.collection.mutable.HashMap.empty[String, (String, Set[String])]

  /** the registry key is the cube's STORAGE identity — root key
    * (rootScope or name) + cube dir — because the ping-pong hazard is
    * two declarations owning the same meta path with different
    * fingerprints; a same-named cube under a DIFFERENT scope lives in
    * a disjoint root and is a legal deployment */
  private def storageKey(m: JsonCube): String =
    s"${m.rootScope.getOrElse(m.name)}/${m.name}"

  private def recordDeclaredNames(view: String,
      members: Seq[(JsonCube, String)]): Unit = declaredNames.synchronized {
    // judge conflicts against the registry AS IF this view's prior
    // claims were released (a redeploy replaces them) — but WITHOUT
    // mutating anything yet: a refused deploy leaves the OLD
    // registration live and serving, so erasing its claims before the
    // check could throw would let a later conflicting view slip past
    // the guard while the old binding still owns the storage root
    val without: Map[String, (String, Set[String])] =
      declaredNames.toMap.flatMap { case (n, (fp, views)) =>
        val rest = views - view
        if (rest.isEmpty) None else Some(n -> (fp, rest))
      }
    members.foreach { case (m, fp) =>
      without.get(storageKey(m)).foreach { case (ofp, views) =>
        if (ofp != fp)
          throw new IllegalArgumentException(
            s"cube '${m.name}': already declared with a different " +
              s"fingerprint by view(s) ${views.toSeq.sorted.mkString(", ")}" +
              " — both would share the storage root and ping-pong " +
              "rebuilds on every touch; rename one declaration")
      }
    }
    // commit atomically: release + record only after every member
    // passed (a rejected deploy must not leave half its members
    // registered either)
    declaredNames.clear()
    without.foreach { case (n, v) => declaredNames.put(n, v): Unit }
    members.foreach { case (m, fp) =>
      val views =
        declaredNames.get(storageKey(m)).map(_._2).getOrElse(Set.empty)
      declaredNames.put(storageKey(m), (fp, views + view)): Unit
    }
  }

  /** Built-in collision guard, one check against the built-in
    * documents that live on declared roots ([[BuiltinCubes]]
    * .onDeclaredRoots; the star's bare `<sf>` root is unreachable from
    * a declaration). A declaration on a built-in's storage root may
    * take the committed layout over only when it fingerprints
    * identically: a differing one would ping-pong — each side's load
    * reads the other's commit as def drift and rebuilds, forever. A
    * `rootScope` onto a built-in's root is refused outright: it would
    * co-root with a cube that takes none of the shared-tree leases
    * into account. */
  private def guardBuiltinCollision(spec: JsonCube): Unit = {
    def rootKey(j: JsonCube) = j.rootScope.getOrElse(j.name)
    BuiltinCubes.onDeclaredRoots.filter(b => rootKey(b) == rootKey(spec))
      .foreach { b =>
        def refuse(why: String) =
          throw new IllegalArgumentException(s"cube '${spec.name}': $why")
        if (spec.rootScope.isDefined)
          refuse(s"rootScope '${rootKey(spec)}' is the storage root of " +
            s"the built-in '${b.name}' cube; pick another scope")
        if (CubeMeta.fingerprint(toCubeDef(spec)) !=
            CubeMeta.fingerprint(toCubeDef(b)))
          refuse(s"collides with the built-in '${b.name}' cube at the " +
            "same storage root — an identical fingerprint may take it " +
            "over, but a differing one would ping-pong rebuilds on " +
            "every touch; rename the declaration")
      }
  }

  /** Serializes the check → bind → memo-put of register /
    * registerRealization: concurrent registers of DIFFERENT documents
    * for one view could otherwise leave the memo claiming doc A while
    * doc B's binding serves — later identical-doc-A registers would
    * then short-circuit on a lie. Registration is rare; a global lock
    * costs nothing. */
  private val registerLock = new Object

  def register(spec: JsonCube): String = {
    validate(spec)
    registerLock.synchronized {
    // Identical re-deploys are process-wide NO-OPS (the CLI registers
    // its document on EVERY subcommand; a routed query fn may register
    // per call): re-binding an unchanged declaration would drop every
    // cached result and force a full view re-registration pass for
    // nothing. A raw registerBinding for the same view INVALIDATES
    // this memo (GraftSql.registerBinding → invalidateRegisteredSpec),
    // so a foreign re-bind is never masked by the skip.
    val canon = render(spec)
    if (registeredSpecs.get(spec.viewName).contains(canon))
      return spec.viewName
    val fp = CubeMeta.fingerprint(toCubeDef(spec)) // fail fast on
    // lattice/dim errors, at deploy time
    guardBuiltinCollision(spec)
    recordDeclaredNames(spec.viewName, Seq(spec -> fp))
    declaredViewFp.put(
      spec.viewName.toLowerCase(java.util.Locale.ROOT), fp): Unit
    declaredViewNames.put(spec.viewName, ()): Unit
    GraftSql.registerBinding(GraftSql.Binding(spec.viewName,
      flatBuilder(spec),
      (s, d) => CubeManager.ensureDeclared(s, d, spec),
      model = Some(spec.model).filter(_.edges.nonEmpty).map(toModel),
      rawTables =
        if (spec.model.edges.nonEmpty) spec.model.tables else Nil,
      rawLoaders = sourceLoaders(spec)))
    registeredSpecs.put(spec.viewName, canon): Unit
    spec.viewName
    }
  }

  /** per-table loaders for the spec's declared sources (the binding's
    * raw-table resolution must read the SOURCE, not the parquet
    * convention — a source-bound table may have no parquet at all) */
  private def sourceLoaders(spec: JsonCube)
      : Map[String, (SparkSession, String) => DataFrame] =
    spec.sources.map { case (t, src) =>
      t -> ((s: SparkSession, d: String) => readSource(s, d, t, src))
    }

  /** parse + register in one step (the operator deploy call) */
  def registerJson(json: String): String = register(parse(json))

  // ── realization GROUPS: alternates + hybrid splices as data ───────

  /** a declared schema evolution: the retired design serves history
    * before `cutover`, the redesigned cube serves from it forward
    * (HybridInstance.java's dateRange partition, as a document). A
    * member whose SOURCE spans beyond its own era must scope it with
    * its model's `filterExpr` (e.g. `o_orderdate < TIMESTAMP
    * '1999-01-01'`) — exactly the state a real evolution leaves: the
    * retired cube was never built past its cutover, and the build
    * refuses out-of-segment rows rather than dropping them. */
  final case class JsonHybrid(name: String, cutover: String,
                              oldCube: JsonCube, newCube: JsonCube)

  /** One VIEW with its full realization set (reference: a Kylin model
    * holds many cubes and RealizationChooser picks per query; a
    * HybridInstance outranks its member cubes): `primary` backs the
    * view's flat table and is the default realization, `alternates`
    * are additional cubes the front-end may choose when cheaper, and
    * `hybrid` is an optional time-spliced pair tried first. */
  final case class JsonRealization(view: String, primary: JsonCube,
      alternates: Seq[JsonCube] = Nil, hybrid: Option[JsonHybrid] = None)

  /** THE document-kind dispatch, shared by every store/CLI consumer:
    * two kinds live in the declaration store — plain cubes and
    * realization GROUPS — distinguished by the `primary` field. */
  def parseDoc(json: String): Either[JsonCube, JsonRealization] =
    if ((org.json4s.jackson.JsonMethods.parse(json) \ "primary")
        == org.json4s.JNothing) Left(parse(json))
    else Right(parseRealization(json))

  def parseRealization(json: String): JsonRealization = {
    val r =
      try Serialization.read[JsonRealization](json)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"unparseable realization document: ${e.getMessage}", e)
      }
    validateRealization(r)
    r
  }

  def renderRealization(r: JsonRealization): String =
    Serialization.writePretty(r)

  private def validateRealization(r: JsonRealization): Unit = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"realization '${r.view}': $msg")
    if (r.view.isEmpty) fail("empty view")
    if (!r.view.matches("[A-Za-z0-9_]+"))
      fail(s"view '${r.view}' must be a plain SQL identifier")
    val members = Seq(r.primary) ++ r.alternates ++
      r.hybrid.toSeq.flatMap(h => Seq(h.oldCube, h.newCube))
    members.foreach(validate)
    if (members.map(_.name).distinct.size != members.size)
      fail("member cube names must be distinct (each owns a root)")
    r.hybrid.foreach { h =>
      if (!h.oldCube.segments.forall(_.end <= h.cutover))
        fail(s"hybrid '${h.name}': every old-cube segment must end " +
          s"at or before the cutover ${h.cutover}")
      if (!h.newCube.segments.forall(_.start >= h.cutover))
        fail(s"hybrid '${h.name}': every new-cube segment must start " +
          s"at or after the cutover ${h.cutover}")
      // Dictionary-encoded measures can only splice when the members
      // share ONE dictionary id space: by default each member cube
      // owns its own append-ordered dict tree (Dictionary.scala — ids
      // are assigned by THAT root's append order), so two members' id
      // spaces are incompatible by construction — the exact hazard
      // CubeMigrator refuses on dict-column collisions; a splice
      // would bitmap_union unrelated ids across the cutover into
      // silently wrong exact-distinct counts (reference:
      // HybridInstance.java:53 members share a model, and
      // core-dictionary AppendTrieDictionary.java:66's consistency
      // contract is per-dictionary). The SOUND form: both members
      // declare the same `rootScope` — they then share one multi-cube
      // root whose root-level dict tree is one append-stable id
      // space, and the splice merges exactly. Anything else refuses
      // at deploy.
      if (Seq(h.oldCube, h.newCube).exists(_.dictColumns.nonEmpty)) {
        val scopes = Seq(h.oldCube, h.newCube).map(_.rootScope)
        if (scopes.exists(_.isEmpty) || scopes.distinct.size != 1) {
          val m = Seq(h.oldCube, h.newCube)
            .find(_.dictColumns.nonEmpty).get
          fail(s"hybrid '${h.name}': member '${m.name}' declares " +
            s"dictColumns [${m.dictColumns.mkString(", ")}] but the " +
            "members do not share a rootScope — per-member dictionary " +
            "id spaces cannot merge across the splice (bitmap_union " +
            "over unrelated ids would silently return wrong " +
            "exact-distinct counts). Declare the SAME `rootScope` on " +
            "both members (one shared append-stable dictionary), or " +
            "use an 'hll' measure / a bitmap over an integer key")
        }
      }
    }
  }

  /** the two hybrid members as one spliced realization — each member
    * load-or-builds through the stamp-aware declared path, so the
    * wrapper is cheap to reconstruct per call */
  private[graft] def ensureDeclaredHybrid(spark: SparkSession,
      sfDir: String, h: JsonHybrid): HybridInstance =
    HybridInstance(h.name, Seq(
      HybridSlice(CubeManager.ensureDeclared(spark, sfDir, h.oldCube),
        QueryRouter.MinDay, h.cutover),
      HybridSlice(CubeManager.ensureDeclared(spark, sfDir, h.newCube),
        h.cutover, QueryRouter.MaxDay)))

  /** Register a realization group: one view, every member realization
    * wired the same way the built-in bindings are — the hybrid tried
    * first, then the cheapest covering of primary + alternates per
    * query (RealizationChooser semantics, already implemented by the
    * front-end; this just declares the set). Returns the view name. */
  def registerRealization(r: JsonRealization): String = {
    validateRealization(r)
    registerLock.synchronized {
    // identical re-deploys are no-ops, like register (see there)
    val canon = renderRealization(r)
    if (registeredSpecs.get(r.view).contains(canon)) return r.view
    (Seq(r.primary) ++ r.alternates).foreach(toCubeDef)
    val members = Seq(r.primary) ++ r.alternates ++
      r.hybrid.toSeq.flatMap(h => Seq(h.oldCube, h.newCube))
    members.foreach(guardBuiltinCollision)
    val memberFps =
      members.map(m => m -> CubeMeta.fingerprint(toCubeDef(m)))
    recordDeclaredNames(r.view, memberFps)
    declaredViewFp.put(r.view.toLowerCase(java.util.Locale.ROOT),
      memberFps.map { case (m, fp) => s"${m.name}=$fp" }
        .sorted.mkString(";")): Unit
    declaredViewNames.put(r.view, ()): Unit
    GraftSql.registerBinding(GraftSql.Binding(r.view,
      flatBuilder(r.primary),
      (s, d) => CubeManager.ensureDeclared(s, d, r.primary),
      model = Some(r.primary.model).filter(_.edges.nonEmpty).map(toModel),
      rawTables =
        if (r.primary.model.edges.nonEmpty) r.primary.model.tables else Nil,
      rawLoaders = sourceLoaders(r.primary),
      alternates = r.alternates.map(a =>
        (s: SparkSession, d: String) => CubeManager.ensureDeclared(s, d, a)),
      hybrids = r.hybrid.toSeq.map(h =>
        (s: SparkSession, d: String) => ensureDeclaredHybrid(s, d, h))))
    registeredSpecs.put(r.view, canon): Unit
    r.view
    }
  }

  /** Enforce the declaration's lifecycle POLICIES on the built
    * instance — the scheduled-job entry the reference runs for
    * retention_range and auto_merge_time_ranges (CubeDesc fields;
    * RetentionPolicy/MergePolicy jobs):
    *
    *  - `retentionDays`: drop whole segments ending more than that
    *    many days before the NEWEST committed segment's end (relative
    *    to the data, not the wall clock — reference semantics);
    *  - `autoMergeMaxSegments`: merge the oldest run down so at most
    *    that many segments remain (count-based trigger over
    *    [[CubeBuilder.autoMerge]]);
    *  - `autoMergeDays`: the reference's tiered time thresholds
    *    proper (auto_merge_time_ranges — e.g. [7, 28]): one
    *    [[CubeBuilder.autoMergeByDays]] step per run, largest
    *    threshold first, converging dailies → weeklies → monthlies
    *    across scheduled runs.
    *
    * Each policy is a normal metadata commit, so every stamp-aware
    * process (this one included — the final ensure below reloads
    * through the drifted stamp) picks the shrunken/merged state up
    * without restarts. CONVERGENT over repeated runs, not one-shot
    * idempotent: autoMergeDays deliberately takes one merge step per
    * run (the reference scheduler's cadence), reaching a fixed point
    * once every tier is filled — from there further runs change
    * nothing and commit nothing. */
  def applyPolicies(spark: SparkSession, sfDir: String,
                    spec: JsonCube): CubeInstance = {
    val root = CubeManager.ensureDeclared(spark, sfDir, spec).root
    // Every policy step below is a read-modify-write COMMIT of the
    // primary meta, so each serializes under the cube's DEFAULT
    // '_building' lease — the same file appends, replans, and
    // first-touch/drift rebuilds take — and re-reads the COMMITTED
    // meta under it (load-only, like append: never through
    // ensureDeclared, whose miss-path build would re-acquire the very
    // lease we hold). A step acting on a pre-lease instance would
    // last-writer-win over a concurrent append's commit, silently
    // dropping its segment: the parquet orphans, the rows stop
    // serving.
    // streaming-bearing documents PROMOTE first (reference: the
    // streaming coordinator's segment build runs on the same
    // scheduler cadence as retention/merge): newly promoted history
    // then participates in this very run's retention and merge steps.
    // promoteStream serializes under the cube's own lease and is
    // idempotent — a run with no new whole sealed day commits nothing.
    // ISOLATED like the replan step below: a speed-layer outage (the
    // broker down at the scheduled run) must not abort the batch
    // lifecycle — retention/merge/heal still run, promotion retries
    // next cadence
    spec.streaming.foreach { _ =>
      try promoteStream(spark, sfDir, spec): Unit
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft-policies] stream promotion for " +
            s"'${spec.name}' failed (${e.getMessage}) — batch " +
            "policies proceed; promotion retries next run")
      }
    }
    spec.retentionDays.foreach { days =>
      BuildLease.withLease(spark, root,
          spec.name)(Option.empty[CubeInstance]) {
        val cur = reloadCommitted(spark, spec, root, "retention")
        // retention is relative to the DATA (the newest committed
        // segment's end), not the wall clock — reference semantics
        val latest = cur.cube.segments.map(_.end).max
        val cutoff = java.time.LocalDate.parse(latest.take(10))
          .minusDays(days.toLong).toString
        CubeBuilder.applyRetention(spark, cur, cutoff)
      }: Unit
    }
    spec.autoMergeMaxSegments.foreach { n =>
      mergePolicyStep(spark, root, spec, "auto-merge")(
        CubeBuilder.autoMerge(spark, _, n))
    }
    if (spec.autoMergeDays.nonEmpty)
      // tiered TIME-threshold auto-merge (the reference's actual
      // auto_merge_time_ranges semantics, beside graft's count form
      // above) — one merge step per policies run
      mergePolicyStep(spark, root, spec, "auto-merge-days")(
        CubeBuilder.autoMergeByDays(spark, _, spec.autoMergeDays))
    if (spec.replanRowBudget.isDefined ||
        spec.replanExpansionRate.isDefined) {
      // phase-2 replan as a policy: only when this process has a
      // query history configured — a scheduler without the log dir
      // set has no evidence to spend budget on, and an absent log
      // must not fail the retention/merge policies that already ran
      QueryLog.configuredDir(spark).foreach { logDir =>
        applyReplan(spark, sfDir, spec, spec.replanRowBudget,
          spec.replanExpansionRate, logDir): Unit
      }
    }
    // dim-range self-healing (undeclared on purpose — observed data
    // facts, not policy): segments without collected ranges never
    // prune on non-time filters (pre-feature builds, restores), so
    // the scheduled run backfills exactly the MISSING ones — closing
    // the loop the health audit's missing_dim_ranges finding opens.
    // Quiet best-effort, never destructive: merge-only, each
    // segment's scanned base-cuboid count must match the committed
    // stats (a damaged dir's ranges could wrongly prune — skip it,
    // the audit keeps flagging), and full coverage short-circuits
    // before the lease (no buildId churn on the steady-state run —
    // collect with no eligible dims runs only 1-task schema-inference
    // jobs and scans no rows, so an all-float cube retries harmlessly).
    {
      val cur0 = CubeMeta.load(spark, toCubeDef(spec), root).map(_.inst)
      val missing0 = cur0.toSeq.flatMap { c =>
        val covered = c.dimRanges.keySet.map(_._1)
        c.cube.segments.filterNot(s => covered(s.name))
      }
      // the eligibility probe (one 1-task schema-inference job, no
      // scan, no lease) keeps a cube that can NEVER reach coverage —
      // every dim float/double/binary — from acquiring the build
      // lease on every scheduled run forever
      if (missing0.nonEmpty &&
          cur0.exists(c => DimRanges.anyEligible(spark, c))) {
        BuildLease.withLease(spark, root,
            spec.name)(Option.empty[CubeInstance]) {
          val cur = reloadCommitted(spark, spec, root, "ranges-heal")
          val covered = cur.dimRanges.keySet.map(_._1)
          val missing = cur.cube.segments.filterNot(s => covered(s.name))
          if (missing.isEmpty) cur
          else {
            val (collected, counts) =
              DimRanges.collectWithCounts(spark, cur, missing)
            // the same soundness check the CLI refuses on — here the
            // torn segments are skipped quietly (the audit keeps
            // flagging them) and the verified rest still heals
            val (ok, _) =
              DimRanges.verifyAgainstStats(cur, collected, counts)
            if (ok.isEmpty) cur
            else {
              val next = cur.copy(dimRanges = cur.dimRanges ++ ok)
              CubeMeta.save(spark, next): Unit
              next
            }
          }
        }: Unit
      }
    }
    // route through the stamp-aware path: the policy commits changed
    // the buildId, so this reload pairs (instance, stamp) atomically
    CubeManager.ensureDeclared(spark, sfDir, spec)
  }

  /** One merge-policy step under the full lease discipline, shared by
    * the count-based and tiered forms (the subtle parts must not fork):
    * the MERGE lease nests INSIDE the default lease — always this
    * order, '_building' then '_building-merged'; ensureMerged holds
    * only the latter and never acquires the former, so no cycle — the
    * merge job's attempt state (_job-merge.json) and cuboid writes are
    * shared with ensureMerged's full-merge job and must serialize with
    * it, while the meta.json commit must serialize with appends/
    * replans/rebuilds under '_building'. The step's merged cuboids are
    * written by the callee; here the merged list IS the primary truth,
    * committed only when the step actually changed the instance. */
  private def mergePolicyStep(spark: SparkSession, root: String,
      spec: JsonCube, tag: String)(
      step: CubeInstance => CubeInstance): Unit =
    BuildLease.withLease(spark, root,
        spec.name)(Option.empty[CubeInstance]) {
      BuildLease.withLease(spark, root, spec.name,
          "_building-merged")(Option.empty[CubeInstance]) {
        val cur = reloadCommitted(spark, spec, root, tag)
        val merged = step(cur)
        if (merged ne cur) CubeMeta.save(spark, merged): Unit
        merged
      }
    }: Unit

  /** Load-only re-read of the committed meta under a HELD lease: every
    * lifecycle step mutates the winner's committed state, never a
    * stale pre-lease instance. A miss under the held lease means a
    * foreign process drifted/uncommitted the meta mid-operation —
    * refuse loudly rather than act on a base that no longer exists. */
  private def reloadCommitted(spark: SparkSession, spec: JsonCube,
                              root: String, op: String): CubeInstance =
    CubeMeta.load(spark, toCubeDef(spec), root).map(_.inst).getOrElse(
      throw new IllegalStateException(
        s"$op refused: the committed meta for '${spec.name}' " +
          "disappeared or drifted while the build lease was held — " +
          "rebuild the cube (any query or 'policies' run) and retry"))

  /** Cube planner PHASE 2 as one lifecycle operation (shared by
    * [[applyPolicies]]' `replanRowBudget` policy and the CLI's
    * `replan` subcommand): re-pick the lattice from the persisted
    * query log's hit probabilities under a total-planned-rows budget
    * and materialize only the ADDITIONS onto the live segments
    * (optimizeCuboids — existing dirs untouched, queries keep
    * serving, the widened lattice rides extraCuboids outside the
    * fingerprint). Serialized under the cube's DEFAULT build lease —
    * the same discipline as append: optimizeCuboids commits meta, and
    * unserialized, a racing append/rebuild could orphan the widened
    * lattice or vice versa. The base is re-read LOAD-ONLY under the
    * lease (a waiter replans the winner's committed state; a load
    * miss means a foreign process drifted the meta mid-replan —
    * refuse loudly). Returns (instance, cuboids added). */
  def applyReplan(spark: SparkSession, sfDir: String, spec: JsonCube,
                  budget: Long, logDir: String): (CubeInstance, Int) =
    applyReplan(spark, sfDir, spec, Some(budget), None, logDir)

  /** Resolve a two-form lattice budget (exactly one): absolute
    * planned rows, or the reference's expansion-rate form — rate ×
    * the OBSERVED base cuboid rows (`AbstractRecommendAlgorithm
    * .java:50` spaceLimit = baseCuboidSize × expansionRate). ONE
    * helper so the doc-policy, CLI, initial-lattice, and replan paths
    * can never drift on the math; `observedBase` is by-name — the
    * absolute form never evaluates it. */
  private[graft] def resolveBudget(rowBudget: Option[Long],
      expansionRate: Option[Double], observedBase: => Long,
      what: String): Long = {
    require(rowBudget.isDefined != expansionRate.isDefined,
      s"$what needs exactly ONE budget form: an absolute row budget " +
        "or an expansion rate")
    rowBudget.foreach(b => require(b > 0,
      s"$what row budget must be positive, got $b"))
    expansionRate.foreach(r => require(r > 0,
      s"$what expansion rate must be positive, got $r"))
    rowBudget.getOrElse(math.ceil(expansionRate.get * observedBase).toLong)
  }

  /** Budget in either form — exactly one of `rowBudget` (absolute
    * planned rows) or `expansionRate` (× the OBSERVED base cuboid
    * rows, resolved under the lease from the committed meta — the
    * reference's expansion-threshold semantics,
    * AbstractRecommendAlgorithm.java:50). */
  def applyReplan(spark: SparkSession, sfDir: String, spec: JsonCube,
                  rowBudget: Option[Long], expansionRate: Option[Double],
                  logDir: String): (CubeInstance, Int) = {
    // fail fast on the budget SHAPE before any work (observedBase is
    // by-name — the probe value is never used); the rate RESOLVES
    // later, under the lease, against the committed base's counts
    resolveBudget(rowBudget, expansionRate, observedBase = 1L,
      "replan"): Unit
    val inst = CubeManager.ensureDeclared(spark, sfDir, spec)
    // cheap pre-check OUTSIDE the lease: with no usable history for
    // this cube the replan is a no-op — don't serialize against real
    // appends or open any parquet for it (a fleet-wide querylog conf
    // makes this the common path for every quiet cube on the store)
    val hasHistory = QueryLog.dimSets(spark, logDir, spec.name)
      .exists(s => s.nonEmpty && s.subsetOf(spec.dims.toSet))
    if (!hasHistory) return (inst, 0)
    BuildLease.withLease(spark, inst.root,
        spec.name)(Option.empty[(CubeInstance, Int)]) {
      val fresh = reloadCommitted(spark, spec, inst.root, "replan")
      // ONE log read feeds both the distribution and the SPBPUS costs
      val samples = QueryLog.routedSamples(spark, logDir, spec.name)
      val (existing, picked, _) = replanPick(spark, fresh,
        rowBudget, expansionRate, samples.map(_._1),
        observed = replanObserved(spec, samples))
      val next = CubeBuilder.optimizeCuboids(spark, fresh,
        picked.filterNot(existing.contains))
      // the added count diffs against the LEASE-SCOPED committed
      // state: a waiter whose winner already widened the lattice
      // reports its own additions (zero), not the winner's
      (next, next.cube.cuboids.size - fresh.cube.cuboids.size)
    }
  }

  /** The replan PICK core shared by [[applyReplan]] (mutating, under
    * the lease) and the CLI's read-only `advise` — ONE implementation,
    * so the proposal operators preview can never drift from what a
    * real replan would materialize. Existing cuboids enter at their
    * OBSERVED (summed-across-segments) row counts — the budget
    * baseline is what is actually on disk, not an estimate — and the
    * rate form resolves against the observed base; candidate
    * estimation opens one frame PER SEGMENT (additions materialize
    * one dir per segment, so the planned-rows unit is the per-segment
    * sum), lazily — an unusable log opens no parquet at all. Returns
    * (existing with observed rows, the picked materialized set, the
    * resolved budget). */
  private[cube] def replanPick(spark: SparkSession,
      inst: CubeInstance, rowBudget: Option[Long],
      expansionRate: Option[Double], log: Seq[Set[String]],
      what: String = "replan",
      observed: Map[Set[String], Double] = Map.empty)
      : (Map[Set[String], Long], Seq[Set[String]], Long) = {
    val base = inst.cube.dims.toSet
    val existing = inst.cube.cuboids.map(c => c ->
      inst.cube.segments.map(s => inst.rows.getOrElse(
        (s.name, inst.cube.cuboidId(c)), 0L)).sum).toMap
    val budget =
      resolveBudget(rowBudget, expansionRate, existing(base), what)
    def baseSegs = inst.cube.segments.map(s => spark.read.parquet(
      inst.cuboidPath(s.name, inst.cube.cuboidId(base))))
    val picked = CuboidPlanner.replanFromLog(baseSegs, base, log,
      budget, existing, observed)
    (existing, picked, budget)
  }

  /** The SPBPUS cost baseline for a replan/advise of `spec`: measured
    * per-shape scan costs (over the one routed-sample read the caller
    * already made) when the document declares the policy, the empty
    * map (≡ PBPUS pricing) otherwise — ONE helper so the policies run
    * and the CLI preview can never disagree on which policy a
    * document gets. */
  private[cube] def replanObserved(spec: JsonCube,
      samples: Seq[(Set[String], Long)]): Map[Set[String], Double] =
    if (spec.replanPolicy.contains("spbpus")) QueryLog.shapeCosts(samples)
    else Map.empty

  // ── declared STREAMING cubes (the speed layer as data) ────────────

  /** one streaming build per declared cube per sf per JVM — the same
    * memo discipline as EventStream.ensureLambda (an AvailableNow run
    * pays ~2 s of state-store setup) */
  private val declaredStreams = scala.collection.concurrent
    .TrieMap.empty[String, (String, Option[String])]

  /** Deploy the document's `streaming` section over today's
    * EventStream wiring: resolve the source SPI by NAME, run the
    * tumbling append (sealed windows) and, when declared, the hot-tail
    * update layer — zero compiled definition. Returns (closedPath,
    * hotPath?). */
  def ensureDeclaredStream(spark: SparkSession, sfDir: String,
      spec: JsonCube): (String, Option[String]) = {
    val st = spec.streaming.getOrElse(throw new IllegalArgumentException(
      s"cube '${spec.name}' declares no streaming section"))
    // the memo key FOLDS IN the streaming section: a redeployed
    // document with a changed window/lateness/source must rebuild at
    // the new cadence, not keep serving the retracted declaration's
    // stream for the JVM's lifetime (the batch side gets the same
    // property from the fingerprint)
    declaredStreams.getOrElseUpdate(s"${spec.name}|$sfDir|$st", {
      val sfName = sfDir.replaceAll("/+$", "").split('/').last
      // 'graft-streamdecl-' is a namespace the compiled path
      // ('graft-stream-<sfName>') can never generate, and the hash
      // suffix covers BOTH the sf dir (declared cubes whose
      // (sfName, name) concatenation would otherwise collide — names
      // are dash-free but sf dir names are not) AND the streaming
      // section: buildStreamingCube recursively DELETES its output
      // dir, so a changed-cadence redeploy building into the OLD
      // config's dir would destroy the still-serving stream's sealed
      // cuboid under live readers — each config gets its own dir and
      // the superseded one simply ages in tmp
      val out = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}" +
        s"/graft-streamdecl-$sfName-${spec.name}-" +
        Integer.toHexString((sfDir, st).hashCode)
      val source: graft.streaming.StreamSource = st.source match {
        case "kafka" =>
          val k = st.kafka.get // validated at parse time
          graft.streaming.KafkaEventSource(k.bootstrapServers, k.topic,
            k.startingOffsets)
        case _ =>
          graft.streaming.FileEventSource(sfDir, s"$out/src")
      }
      graft.streaming.EventStream.buildLambdaCube(spark, source, out,
        st.window, st.lateness, st.hotTail)
    })
  }

  /** The declared cube's LAMBDA read: every sealed window plus (when
    * the document declares the hot tail) the freshest in-watermark
    * rows — the stream-core real-time query union, driven entirely
    * from the document. */
  def declaredLambda(spark: SparkSession, sfDir: String,
                     spec: JsonCube): org.apache.spark.sql.DataFrame = {
    val (closed, hot) = ensureDeclaredStream(spark, sfDir, spec)
    hot.map(graft.streaming.EventStream.lambdaWindows(spark, closed, _))
      .getOrElse(spark.read.parquet(closed))
  }

  /** The declared cube's FRESH TAIL: the lambda read restricted to
    * windows at or past the committed BATCH horizon — the serving
    * composition [[promoteStream]] leaves behind (reference: the
    * stream-core query path unions HISTORICAL segments with receiver
    * fragments, never both for one window). Promotion does not rewrite
    * the speed layer's sealed cuboid, so a reader unioning the batch
    * route with the raw [[declaredLambda]] would double-count every
    * promoted window; this read is the safe other half: history routes
    * through the batch segments (cuboid choice, pruning, mergeable
    * measures), only the unpromoted tail reads the speed layer. */
  def declaredTail(spark: SparkSession, sfDir: String,
                   spec: JsonCube): org.apache.spark.sql.DataFrame = {
    val inst = CubeManager.ensureDeclared(spark, sfDir, spec)
    val horizon = inst.cube.segments.map(_.end).max
    declaredLambda(spark, sfDir, spec)
      .filter(col("w_start") >= lit(horizon).cast("timestamp"))
  }

  /** STREAMING → BATCH segment promotion (reference: kylin
    * stream-core's coordinator turns receiver fragments into ordinary
    * HISTORICAL segments once their windows seal — StreamingSegment
    * build; history is then served by batch segments and the speed
    * layer only by the fresh tail). Every fully-sealed whole DAY
    * beyond the committed batch horizon becomes ONE appended segment
    * through the ordinary append path: the flat rows come from the
    * SOURCE (the batch truth — late rows the watermark dropped from
    * the stream are included, exactly the reference's historical
    * build semantics), dictionary encoding mirrors the initial build,
    * and `CubeBuilder.appendSegment` collects the segment's dim
    * ranges at commit — a promoted segment never scans blind on
    * non-time filters while waiting for a policies heal (VERDICT r16
    * item 6). Serialized under the cube's DEFAULT build lease with a
    * LOAD-ONLY re-read, like every lifecycle commit. Idempotent: no
    * new whole sealed day ⇒ no commit, `None`. */
  def promoteStream(spark: SparkSession, sfDir: String,
                    spec: JsonCube): (CubeInstance, Option[Segment]) = {
    val st = spec.streaming.getOrElse(throw new IllegalArgumentException(
      s"cube '${spec.name}' declares no streaming section"))
    val (closed, _) = ensureDeclaredStream(spark, sfDir, spec)
    // newest SEALED window's end: append mode emits a window only when
    // the watermark passes its end, and the watermark is monotone, so
    // every window ending at or below this instant is sealed
    val maxStart = spark.read.parquet(closed)
      .agg(org.apache.spark.sql.functions.max(col("w_start")))
      .head().getTimestamp(0)
    if (maxStart == null) return (
      CubeManager.ensureDeclared(spark, sfDir, spec), None)
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(st.window))
    require(iv.months == 0,
      s"streaming window '${st.window}' must be a fixed duration")
    val sealedEnd = maxStart.toInstant
      .plus(java.time.Duration.ofDays(iv.days))
      .plus(java.time.Duration.of(iv.microseconds,
        java.time.temporal.ChronoUnit.MICROS))
    // Promote only WHOLE days (segments are day-bounded) — floored in
    // the SESSION timezone: the segment filter below casts the day
    // string through the session zone, so a UTC floor under a
    // non-UTC session would commit a segment spanning hours of event
    // time the watermark has NOT sealed (late rows arriving for that
    // tail would be silently frozen out).
    val sessionZone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    // The horizon must ALSO be a window boundary: Spark's tumbling
    // windows are epoch-aligned instants, and a window STRADDLING the
    // horizon cannot be split between the batch segment (ts <
    // horizon) and the tail read (w_start >= horizon) — its
    // post-horizon rows would be served by NEITHER half. Walk the
    // candidate day back until the day-boundary instant is
    // window-aligned; a session zone whose day boundaries never align
    // with the window (e.g. +05:30 with 12h windows) legitimately
    // never promotes rather than silently losing rows.
    val winMicros = iv.days * 86400000000L + iv.microseconds
    def aligned(day: java.time.LocalDate): Boolean = {
      val us = day.atStartOfDay(sessionZone).toInstant.toEpochMilli * 1000L
      winMicros > 0 && us % winMicros == 0
    }
    var horizonDay = sealedEnd.atZone(sessionZone).toLocalDate
    var walked = 0
    while (!aligned(horizonDay) && walked < 366) {
      horizonDay = horizonDay.minusDays(1); walked += 1
    }
    if (!aligned(horizonDay)) return (
      CubeManager.ensureDeclared(spark, sfDir, spec), None)
    val horizon = horizonDay.toString
    val inst = CubeManager.ensureDeclared(spark, sfDir, spec)
    val root = inst.root
    BuildLease.withLease(spark, root,
        spec.name)(Option.empty[(CubeInstance, Option[Segment])]) {
      val fresh = reloadCommitted(spark, spec, root, "stream-promote")
      val curEnd = fresh.cube.segments.map(_.end).max
      if (horizon <= curEnd) (fresh, None)
      else {
        val seg = Segment(s"sp_${curEnd.replace("-", "")}", curEnd, horizon)
        val flat0 = flatBuilder(spec, Some(root))(spark, sfDir)
          .filter(col(spec.segmentCol) >=
              lit(seg.start).cast("timestamp") &&
            col(spec.segmentCol) < lit(seg.end).cast("timestamp"))
        val flat = CubeManager.dictEncode(spark, spec, flat0, root)
        if (flat.isEmpty) (fresh, None) // an empty day: nothing to commit
        else (CubeBuilder.appendSegment(spark, fresh, flat, seg), Some(seg))
      }
    }
  }

  // ── store-resident declarations (the ResourceStore analog) ────────

  /** view → rendered spec, to make re-registration of an UNCHANGED
    * declaration a no-op (re-registering would drop the SQL result
    * cache on every scan pass) */
  /** a raw registerBinding replaced this view's binding outside the
    * declaration path — the unchanged-doc skip in register /
    * registerRealization must not mask it */
  private[cube] def invalidateRegisteredSpec(view: String): Unit = {
    registeredSpecs.remove(view): Unit
  }

  private val registeredSpecs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** dir → per-file (mtime, len) signature of the last completed scan:
    * the cheap change detector behind the TTL rescan (VERDICT r15
    * item 2). A rescan whose listing signature is unchanged returns
    * without OPENING any file — one listStatus per window is the whole
    * steady-state cost; only files whose signature moved (or are new)
    * are read and parsed. A same-signature content rewrite (same byte
    * length inside one mtime granule) is the documented blind spot,
    * the same store-granularity contract MetaStamp documents — the
    * canon memo above still catches it on the next BINDING change. */
  private val dirSigs = scala.collection.concurrent
    .TrieMap.empty[String, Map[String, (Long, Long)]]

  /** Register every `*.json` cube declaration under `dir` — the
    * CachedCrudAssist/ResourceStore analog (reference:
    * core-common ResourceStore + CachedCrudAssist load all persisted
    * CubeDescs at server start): the DECLARATIONS themselves live in
    * the shared store, so a fresh serving process discovers
    * operator-deployed cubes with no code change and no per-process
    * register call — deployment is "drop a JSON file in the dir".
    * Unchanged declarations are no-ops; changed/new ones (re)register
    * (which drops cached results via the bindings version). A file
    * that fails to parse is reported and skipped — one bad deploy
    * must not take down the rest of the store. Returns the view names
    * registered or refreshed this call.
    *
    * Pickup semantics: `GraftSql.registerViews` scans the dir named by
    * `spark.graft.cubeDefDir` whenever it (re)binds views — serving
    * startup and any binding change; an operator wanting an IMMEDIATE
    * pickup mid-flight calls this directly. */
  def registerDir(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .sortBy(_.getPath.getName)
    val sig = files.map(st =>
      st.getPath.getName -> (st.getModificationTime, st.getLen)).toMap
    val prev = dirSigs.get(dir)
    if (prev.contains(sig)) return Nil // nothing moved: zero file reads
    val failed = scala.collection.mutable.Set.empty[String]
    val out = files
      .filter(st => prev.forall(_.get(st.getPath.getName) !=
        Some((st.getModificationTime, st.getLen))))
      .flatMap { st =>
        try {
          val in = fs.open(st.getPath)
          val text =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val (viewName, canon, doRegister) = parseDoc(text) match {
            case Left(spec) =>
              (spec.viewName, render(spec), () => register(spec))
            case Right(r) =>
              (r.view, renderRealization(r),
                () => registerRealization(r))
          }
          if (registeredSpecs.get(viewName).contains(canon)) None
          else {
            // register()/registerRealization() maintain the memo
            // themselves (one owner — a second put here would fork
            // the bookkeeping the skip depends on)
            doRegister()
            Some(viewName)
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft-cube-def] skipping " +
              s"${st.getPath.getName}: ${e.getMessage}")
            failed += st.getPath.getName
            None
        }
      }
    // commit the listing signature MINUS the files that failed this
    // pass: a declaration hit by a transient open/register error must
    // be retried on the next window, not silently never deploy until
    // the operator happens to rewrite it. The cost is that a
    // permanently-unparseable drop logs once per window instead of
    // once — the safer noise.
    dirSigs.put(dir, sig -- failed): Unit
    out
  }
}
