package graft.cube

/** The built-in cubes as [[CubeJson]] documents — the one declaration
  * every consumer derives from: the star's CubeDef, model, flat table
  * and catalog view SQL; the events cube's declared build; the hybrid
  * members. The documents are string constants here, not resource
  * files, so they ship wherever the engine's Scala sources compile.
  * Each is parsed once; the CubeDefs built from them are not cached
  * (their Column trees are built per call, never shared across
  * queries).
  */
object BuiltinCubes {

  /** The default cube (the TPC-H-ish star model of SURVEY §4): lineitem
    * fact, each lookup joined through its PK-FK edge; 7 dims, 14
    * measures covering every reference measure family, 2-year segments
    * over o_orderdate, and a 7-cuboid materialized lattice subset
    * (agg-group-pruned, like the reference's aggregation groups).
    *
    *  - o_month LEADS the dim (rowkey) order: writeCuboid sorts rows by
    *    this sequence, so the time dim first makes row-group min/max
    *    stats on it disjoint ordered slices — residual month filters
    *    (partially-overlapped segments) prune row groups at the scan.
    *    Matches the reference's rowkey-design guidance of placing the
    *    partition date column at the head of the rowkey (RowKeyColDesc
    *    order in core-cube; Repartitioner.java:156-161 sorts by that
    *    order on write).
    *  - Only the BOUNDED lookups are broadcast-hinted: nation/region
    *    have fixed real-world cardinality (25/5 rows at any SF), but
    *    supplier and part GROW with the fact table — the cube-path 100×
    *    probe caught the old unconditional hint turning the flat write
    *    super-linear (a 2M-row forced broadcast; at 100 TB it would be
    *    billions of rows and an OOM). Size-based auto-broadcast + AQE
    *    still broadcast them whenever they are actually small, so the
    *    plan is unchanged at bench scale and correct at every scale
    *    (r19 100× fix, pinned by CubeSpec).
    *  - The part edge is declared LEFT (the common production choice,
    *    JoinDesc.java:35-40): fact rows keep flowing even if a part row
    *    is missing, and only user-written LEFT JOIN part queries match.
    *  - The raw l_discount rides the flat table so user SQL can spell
    *    the revenue algebra literally (SUM(l_extendedprice*(1-l_discount)))
    *    and still match `revenue` through its answersSumExpr.
    *  - o_year is an extended column: functionally determined by
    *    o_month, so max() IS the value and o_year stays out of the
    *    cuboid dims (ExtendedColumnMeasureType).
    *  - nation attributes are derived dims, answered by joining the
    *    nation snapshot on n_name (CubeDesc derivedToHostMap).
    *  - notNull is the TPC-H NOT NULL contract that gates the AVG →
    *    SUM/COUNT(*) rewrite; segDayGranular holds because TPC-H order
    *    dates are calendar days stored at midnight.
    *  - The build dictionary-encodes c_name (→ c_name_id, feeding
    *    cname_bitmap) through this root's append-stable tree.
    */
  val StarJson: String =
    """{
      |  "name": "star",
      |  "model": {
      |    "fact": "lineitem",
      |    "edges": [
      |      {"lookup": "orders", "via": "lineitem",
      |       "lookupKey": "o_orderkey", "foreignKey": "l_orderkey"},
      |      {"lookup": "customer", "via": "orders",
      |       "lookupKey": "c_custkey", "foreignKey": "o_custkey"},
      |      {"lookup": "nation", "via": "customer",
      |       "lookupKey": "n_nationkey", "foreignKey": "c_nationkey"},
      |      {"lookup": "region", "via": "nation",
      |       "lookupKey": "r_regionkey", "foreignKey": "n_regionkey"},
      |      {"lookup": "supplier", "via": "lineitem",
      |       "lookupKey": "s_suppkey", "foreignKey": "l_suppkey"},
      |      {"lookup": "part", "via": "lineitem",
      |       "lookupKey": "p_partkey", "foreignKey": "l_partkey",
      |       "joinType": "left"}
      |    ],
      |    "broadcast": ["nation", "region"]
      |  },
      |  "flatColumns": [
      |    {"name": "l_orderkey"}, {"name": "l_linenumber"},
      |    {"name": "r_name"}, {"name": "n_name"}, {"name": "c_mktsegment"},
      |    {"name": "o_orderstatus"}, {"name": "o_orderpriority"},
      |    {"name": "l_returnflag"}, {"name": "p_brand"},
      |    {"name": "o_month", "expr": "date_format(o_orderdate, 'yyyy-MM')"},
      |    {"name": "o_year", "expr": "date_format(o_orderdate, 'yyyy')"},
      |    {"name": "o_orderdate"},
      |    {"name": "l_quantity"}, {"name": "o_custkey"},
      |    {"name": "l_extendedprice"}, {"name": "l_discount"},
      |    {"name": "disc_price",
      |     "expr": "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"},
      |    {"name": "disc_price_micros",
      |     "expr": "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)"},
      |    {"name": "raw_hi_price",
      |     "expr": "CASE WHEN l_quantity >= 49.5D THEN l_extendedprice END"},
      |    {"name": "c_name"}
      |  ],
      |  "dims": ["o_month", "r_name", "n_name", "c_mktsegment",
      |           "o_orderstatus", "l_returnflag", "p_brand"],
      |  "measures": [
      |    {"name": "revenue", "family": "sum", "column": "disc_price",
      |     "presentDouble": true,
      |     "answersSumExpr": "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"},
      |    {"name": "qty", "family": "sum", "column": "l_quantity",
      |     "decimal": true, "presentDouble": true},
      |    {"name": "nrows", "family": "count"},
      |    {"name": "qty_min", "family": "min", "column": "l_quantity"},
      |    {"name": "price_max", "family": "max", "column": "l_extendedprice"},
      |    {"name": "prio_set", "family": "dim_distinct",
      |     "column": "o_orderpriority"},
      |    {"name": "o_year_ext", "family": "max", "column": "o_year",
      |     "answers": "none"},
      |    {"name": "cust_bitmap", "family": "bitmap", "column": "o_custkey"},
      |    {"name": "cust_hll", "family": "hll", "column": "o_custkey"},
      |    {"name": "brand_topn", "family": "topn",
      |     "topn": {"dims": ["p_brand"], "valueColumn": "disc_price_micros",
      |              "sumOf": "disc_price", "scale": 10000}},
      |    {"name": "brandseg_topn", "family": "topn",
      |     "topn": {"dims": ["p_brand", "c_mktsegment"],
      |              "valueColumn": "disc_price_micros",
      |              "sumOf": "disc_price", "scale": 10000}},
      |    {"name": "qty_kll", "family": "kll", "column": "l_quantity"},
      |    {"name": "raw_hi", "family": "raw", "column": "raw_hi_price",
      |     "answers": "none"},
      |    {"name": "cname_bitmap", "family": "bitmap", "column": "c_name_id",
      |     "answers": "none"}
      |  ],
      |  "segmentCol": "o_orderdate",
      |  "segments": [
      |    {"name": "s1995", "start": "1995-01-01", "end": "1997-01-01"},
      |    {"name": "s1997", "start": "1997-01-01", "end": "1999-01-01"},
      |    {"name": "s1999", "start": "1999-01-01", "end": "2001-01-01"},
      |    {"name": "s2001", "start": "2001-01-01", "end": "2003-01-01"}
      |  ],
      |  "cuboids": [
      |    ["o_month", "r_name", "n_name", "c_mktsegment", "o_orderstatus",
      |     "l_returnflag", "p_brand"],
      |    ["r_name", "n_name", "o_orderstatus", "l_returnflag", "o_month"],
      |    ["o_orderstatus", "l_returnflag", "p_brand"],
      |    ["o_orderstatus", "l_returnflag"],
      |    ["r_name", "n_name"],
      |    ["c_mktsegment", "o_month"],
      |    ["o_month"]
      |  ],
      |  "timeDim": {"name": "o_month", "granularity": "month"},
      |  "shardBy": "r_name",
      |  "derived": [
      |    {"name": "n_nationkey", "host": "n_name", "lookup": "nation"},
      |    {"name": "n_regionkey", "host": "n_name", "lookup": "nation"}
      |  ],
      |  "notNull": ["disc_price", "l_quantity", "l_extendedprice",
      |              "l_discount"],
      |  "extended": [
      |    {"name": "o_year", "host": "o_month", "measure": "o_year_ext"}
      |  ],
      |  "segDayGranular": true,
      |  "dictColumns": ["c_name"]
      |}""".stripMargin

  /** A second cube over the events stream table (the engine is
    * multi-cube generic — Kylin projects hold many cubes): day-granular
    * segments and residual pruning on ev_day. The base cuboid is listed
    * first so the lattice order matches the materialized layout. */
  val EventsJson: String =
    """{
      |  "name": "events",
      |  "model": {"fact": "events"},
      |  "flatColumns": [
      |    {"name": "ts"},
      |    {"name": "ev_day", "expr": "date_format(ts, 'yyyy-MM-dd')"},
      |    {"name": "event_type"},
      |    {"name": "user_id"},
      |    {"name": "value"}
      |  ],
      |  "dims": ["ev_day", "event_type"],
      |  "measures": [
      |    {"name": "n_events", "family": "count"},
      |    {"name": "value_sum", "family": "sum", "column": "value",
      |     "decimal": true, "presentDouble": true},
      |    {"name": "user_bitmap", "family": "bitmap", "column": "user_id"}
      |  ],
      |  "segmentCol": "ts",
      |  "segments": [{"name": "s2024m1", "start": "2024-01-01",
      |                "end": "2024-02-01"}],
      |  "cuboids": [["ev_day", "event_type"], ["ev_day"], ["event_type"]],
      |  "timeDim": {"name": "ev_day", "granularity": "day"},
      |  "notNull": ["value"]
      |}""".stripMargin

  lazy val star: CubeJson.JsonCube = CubeJson.parse(StarJson)
  lazy val events: CubeJson.JsonCube = CubeJson.parse(EventsJson)

  /** the schema-evolution cutover the hybrid splices at: the "old"
    * design serves history before this day, the "new" design from it
    * forward (HybridInstance.java's dateRange partition) */
  private val Cutover = "1999-01-01"

  /** A NARROW hybrid member derived from the star (3 dims incl. the
    * month time-dim, which leads for the same sorted-layout reason):
    * members model the retired/redesigned cube pair, and keeping them
    * small keeps the extra build a fraction of the star build's cost.
    * The time dim lets a query range that cuts INTO a slice route with
    * a per-slice residual month filter instead of falling back. The
    * members declare the SKETCH family too (hll/kll/bitmap/topn):
    * after a real evolution there is no wide fallback cube, so the
    * hybrid must serve every measure type its members carry
    * (HybridStorageQuery unions tuple iterators for ALL member
    * measures). The dict-encoded cname_bitmap is NOT carried:
    * dictionary id spaces are per-root and cannot merge across the
    * splice. Every other field (model, flat columns, notNull,
    * segDayGranular) is the star's. */
  private def member(name: String,
                     segments: Seq[CubeJson.JsonSegment]): CubeJson.JsonCube = {
    val dims = Seq("o_month", "o_orderstatus", "n_name")
    val carried = Set("revenue", "qty", "nrows", "cust_hll", "qty_kll",
      "cust_bitmap", "brand_topn")
    star.copy(name = name, dims = dims,
      measures = star.measures.filter(m => carried(m.name)),
      segments = segments,
      cuboids = Seq(dims, Seq("o_orderstatus", "o_month")),
      shardBy = None, derived = Nil, extended = Nil, dictColumns = Nil)
  }

  lazy val starOld: CubeJson.JsonCube = member("star_old", Seq(
    CubeJson.JsonSegment("s1995", "1995-01-01", "1997-01-01"),
    CubeJson.JsonSegment("s1997", "1997-01-01", Cutover)))
  lazy val starNew: CubeJson.JsonCube = member("star_new", Seq(
    CubeJson.JsonSegment("s1999", Cutover, "2001-01-01"),
    CubeJson.JsonSegment("s2001", "2001-01-01", "2003-01-01")))

  /** the old/new pair spliced at the cutover behind graft_star_hybrid;
    * each member builds from the flat rows of ITS OWN era — exactly
    * the state a real evolution leaves behind */
  lazy val hybrid: CubeJson.JsonHybrid =
    CubeJson.JsonHybrid("star-hybrid", Cutover, starOld, starNew)

  /** the built-ins that live on declared roots (`<sf>-<name>`) — the
    * ones a runtime declaration could collide with; the star keeps the
    * bare `<sf>` root and its own build pipeline */
  lazy val onDeclaredRoots: Seq[CubeJson.JsonCube] =
    Seq(events, starOld, starNew)
}
