"""Seeded input generation for the graft benchmark.

Every input the engine sees is produced here from (workload, seed, sf
dir, smoke) and written into the run directory: SQL texts and their
DuckDB oracle twins, the query order, the declared refresh cube, the
document batches with injected near-duplicate pairs, and the seeded
embedding corpus whose first ids are the ANN queries. The same
arguments always give byte-identical files (sorted JSON keys, fixed
float formatting), which the benchmark's own tests check.
"""
import json
import os
import random

import duckdb

DIMS = ["o_month", "r_name", "n_name", "c_mktsegment", "o_orderstatus",
        "l_returnflag", "p_brand"]
# dims whose cardinality keeps result sets small enough to collect
SMALL_DIMS = ["r_name", "c_mktsegment", "o_orderstatus", "l_returnflag"]
MID_DIMS = ["n_name", "p_brand", "o_month"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
FLAGS = ["A", "N", "R"]
FAMILIES = ["scalar", "bitmap", "hll", "kll", "topn", "gsets", "fallback"]
# serve_adhoc cycles through this fixed slot order so every run (any
# seed) has the same family mix: 10% fallbacks, the rest routed
ADHOC_CYCLE = ["scalar", "bitmap", "scalar", "hll", "kll", "scalar",
               "topn", "gsets", "bitmap", "fallback"]

# DuckDB twin of graft's star flat table (CubeManager.flatTableFrom):
# same joins as the star model, same derived columns, exact decimals
DUCK_FLAT = """
CREATE TABLE graft_star AS
SELECT r_name, n_name, n_nationkey, c_mktsegment, o_orderstatus,
  o_orderpriority, l_returnflag, p_brand,
  strftime(o_orderdate, '%Y-%m') AS o_month, o_orderdate, l_quantity,
  o_custkey, l_extendedprice, l_discount,
  CAST(l_extendedprice AS DECIMAL(18,2))
    * (1 - CAST(l_discount AS DECIMAL(4,2))) AS disc_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
LEFT JOIN part ON l_partkey = p_partkey
"""

MONTHS = ["%04d-%02d" % (y, m) for y in range(1995, 2002)
          for m in range(1, 13)][:80]   # 1995-01 .. 2001-08


def _q(v):
    return "'" + v.replace("'", "''") + "'"


class Query:
    """one served text: engine SQL, oracle SQL, per-column check kind"""

    def __init__(self, family, sql, duck, checks, ordered=False):
        self.family = family
        self.sql = " ".join(sql.split())
        self.duck = " ".join(duck.split())
        self.checks = checks
        self.ordered = ordered

    def to_json(self):
        return {"family": self.family, "sql": self.sql, "duck": self.duck,
                "checks": self.checks, "ordered": self.ordered}


def _filters(shape, rng, allow_time=True):
    """predicates over dims and time: `shape` picks how many and on
    what, `rng` the literals"""
    preds = []
    k = shape.choice([0, 1, 1, 2])
    kinds = shape.sample(["region", "segment", "status", "flag", "month",
                          "date"] if allow_time else
                         ["region", "segment", "status", "flag"], k)
    for kind in kinds:
        if kind == "region":
            vals = sorted(rng.sample(REGIONS, shape.choice([1, 2])))
            p = "r_name IN (%s)" % ", ".join(map(_q, vals))
        elif kind == "segment":
            p = "c_mktsegment = %s" % _q(rng.choice(SEGMENTS))
        elif kind == "status":
            p = "o_orderstatus IN (%s)" % ", ".join(
                map(_q, sorted(rng.sample(STATUSES, 2))))
        elif kind == "flag":
            p = "l_returnflag = %s" % _q(rng.choice(FLAGS))
        else:
            # the shape sets the range's width, the seed where it starts
            width = shape.randrange(1, len(MONTHS))
            a = rng.randrange(len(MONTHS) - width)
            lo, hi = MONTHS[a], MONTHS[a + width]
            p = ("o_month >= %s AND o_month < %s" % (_q(lo), _q(hi))
                 if kind == "month" else
                 "o_orderdate >= TIMESTAMP %s AND o_orderdate < TIMESTAMP %s"
                 % (_q(lo + "-01"), _q(hi + "-01")))
        preds.append(p)
    return preds


def _where(preds):
    return (" WHERE " + " AND ".join(preds)) if preds else ""


def _group_dims(rng, lo=1, hi=2):
    n = rng.randint(lo, hi)
    dims = rng.sample(SMALL_DIMS, n)
    if rng.random() < 0.5:
        dims = dims[:max(1, n - 1)] + [rng.choice(MID_DIMS)]
    return sorted(set(dims), key=DIMS.index)


def make_query(shape, rng, family):
    """one text of `family`: `shape` draws its structure (dims, filter
    kinds, measures), `rng` its literals"""
    if family == "scalar" and shape.random() < 0.25:
        return _derived_query(shape, rng)
    if family in ("scalar", "bitmap", "hll", "kll", "fallback"):
        dims = _group_dims(shape)
        preds = _filters(shape, rng)
        g = ", ".join(dims)
        checks = {d: "exact" for d in dims}
        if family == "scalar":
            pick = shape.choice(["sum", "avg", "minmax", "qty"])
            if pick == "sum":
                sel, dsel = ("sum(disc_price) AS revenue, count(*) AS n_rows",
                             "CAST(SUM(disc_price) AS DOUBLE) AS revenue, "
                             "COUNT(*) AS n_rows")
                checks.update(revenue="exact", n_rows="exact")
            elif pick == "avg":
                sel, dsel = ("avg(l_quantity) AS avg_qty, count(*) AS n_rows",
                             "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS "
                             "DOUBLE) / COUNT(*) AS avg_qty, COUNT(*) AS n_rows")
                checks.update(avg_qty="exact", n_rows="exact")
            elif pick == "minmax":
                sel, dsel = ("min(l_quantity) AS min_qty, "
                             "max(l_extendedprice) AS max_price",
                             "MIN(l_quantity) AS min_qty, "
                             "MAX(l_extendedprice) AS max_price")
                checks.update(min_qty="exact", max_price="exact")
            else:
                sel, dsel = ("sum(l_quantity) AS sum_qty, count(*) AS n_rows",
                             "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS "
                             "DOUBLE) AS sum_qty, COUNT(*) AS n_rows")
                checks.update(sum_qty="exact", n_rows="exact")
        elif family == "bitmap":
            sel = "count(distinct o_custkey) AS n_cust, count(*) AS n_rows"
            dsel = "COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_rows"
            checks.update(n_cust="exact", n_rows="exact")
        elif family == "hll":
            sel = "approx_count_distinct(o_custkey) AS hll_cust"
            dsel = "COUNT(DISTINCT o_custkey) AS hll_cust"
            checks.update(hll_cust="hll")
        elif family == "kll":
            p = rng.choice([0.1, 0.25, 0.5, 0.75, 0.9])
            sel = "percentile_approx(l_quantity, %s) AS q_qty" % p
            dsel = "histogram(l_quantity) AS q_qty"
            checks.update(q_qty="kll:%s" % p)
        else:
            # o_orderpriority is no cube dim, so no realization covers it
            dims = ["o_orderpriority"] + dims[:1]
            g = ", ".join(dims)
            checks = {d: "exact" for d in dims}
            sel = "min(l_quantity) AS min_qty, count(*) AS n_rows"
            dsel = "MIN(l_quantity) AS min_qty, COUNT(*) AS n_rows"
            checks.update(min_qty="exact", n_rows="exact")
        sql = "SELECT %s, %s FROM graft_star%s GROUP BY %s" % (
            g, sel, _where(preds), g)
        duck = "SELECT %s, %s FROM graft_star%s GROUP BY %s" % (
            g, dsel, _where(preds), g)
        return Query(family, sql, duck, checks)
    if family == "topn":
        n = rng.choice([3, 5, 8, 10])
        preds = _filters(shape, rng)
        sql = ("SELECT p_brand, sum(disc_price) AS revenue FROM graft_star%s "
               "GROUP BY p_brand ORDER BY revenue DESC, p_brand LIMIT %d"
               % (_where(preds), n))
        duck = ("SELECT p_brand, CAST(SUM(disc_price) AS DOUBLE) AS revenue "
                "FROM graft_star%s GROUP BY p_brand "
                "ORDER BY revenue DESC, p_brand LIMIT %d" % (_where(preds), n))
        return Query(family, sql, duck, {"p_brand": "exact",
                                         "revenue": "exact"}, ordered=True)
    if family == "gsets":
        a, b = shape.sample(SMALL_DIMS, 2)
        preds = _filters(shape, rng)
        if shape.random() < 0.5:
            grp = "ROLLUP(%s, %s)" % (a, b)
        else:
            grp = "GROUPING SETS ((%s, %s), (%s), ())" % (a, b, b)
        sql = ("SELECT %s, %s, sum(l_quantity) AS sum_qty, count(*) AS n_rows "
               "FROM graft_star%s GROUP BY %s" % (a, b, _where(preds), grp))
        # Spark returns no grand-total row over an empty input, where
        # DuckDB returns one with count 0; HAVING keeps Spark's semantics
        duck = ("SELECT %s, %s, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS "
                "DOUBLE) AS sum_qty, COUNT(*) AS n_rows FROM graft_star%s "
                "GROUP BY %s HAVING COUNT(*) > 0" % (a, b, _where(preds), grp))
        return Query(family, sql, duck, {a: "exact", b: "exact",
                                         "sum_qty": "exact",
                                         "n_rows": "exact"})
    raise ValueError(family)


def _derived_query(shape, rng):
    """derived-dim filter over the model join: n_nationkey is answered
    through the nation snapshot on the n_name host dim"""
    g = shape.choice(["o_orderstatus", "l_returnflag", "n_name"])
    k = rng.randint(3, 20)
    join = ("FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey")
    sql = ("SELECT %s, sum(l_quantity) AS sum_qty, count(*) AS n_rows %s "
           "WHERE n_nationkey < %d GROUP BY %s" % (g, join, k, g))
    duck = ("SELECT %s, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
            " AS sum_qty, COUNT(*) AS n_rows %s WHERE n_nationkey < %d "
            "GROUP BY %s" % (g, join, k, g))
    return Query("scalar", sql, duck, {g: "exact", "sum_qty": "exact",
                                       "n_rows": "exact"})


def unique_queries(rng, families, seen, tag):
    """one distinct text per slot of `families`. A slot's shape comes
    from a stream fixed by (tag, slot), so every seed serves the same
    mix of shapes in the same order and the seed moves only the
    literals; a text that repeats an earlier one is redrawn"""
    out = []
    for slot, fam in enumerate(families):
        for attempt in range(1000):
            shape = random.Random("%s/%d/%d" % (tag, slot, attempt))
            q = make_query(shape, rng, fam)
            if q.sql not in seen:
                seen.add(q.sql)
                out.append(q)
                break
        else:
            raise RuntimeError("query space exhausted for " + fam)
    return out


def _dump(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))
        f.write("\n")


# ── serve ──────────────────────────────────────────────────────────

def gen_serve_adhoc(rng, out, sizes):
    seen = set()
    warm = unique_queries(rng, FAMILIES, seen, "warmup")
    pool = unique_queries(
        rng, [ADHOC_CYCLE[i % len(ADHOC_CYCLE)]
              for i in range(sizes["adhoc_pool"])], seen, "pool")
    texts = warm + pool
    _dump(os.path.join(out, "queries.json"), {
        "texts": [q.to_json() for q in texts],
        "sequence": list(range(len(warm), len(texts))),
        "warmup": list(range(len(warm))),
    })


# ── cube lifecycle ─────────────────────────────────────────────────

REFRESH_SEGMENTS = [("s1995", "1995-01-01", "1996-09-01"),
                    ("s1996", "1996-09-01", "1998-05-01"),
                    ("s1998", "1998-05-01", "2000-01-01"),
                    ("s2000", "2000-01-01", "2003-01-01")]


def refresh_cube_doc():
    """the benchmark-owned cube: the star model, narrow dims, one
    measure of every family CubeJson declares"""
    edge = lambda lk, via, k, fk, jt="inner": {
        "lookup": lk, "via": via, "lookupKey": k, "foreignKey": fk,
        "joinType": jt}
    return {
        "name": "bench_refresh",
        "model": {"fact": "lineitem", "edges": [
            edge("orders", "lineitem", "o_orderkey", "l_orderkey"),
            edge("customer", "orders", "c_custkey", "o_custkey"),
            edge("nation", "customer", "n_nationkey", "c_nationkey"),
            edge("region", "nation", "r_regionkey", "n_regionkey"),
            edge("part", "lineitem", "p_partkey", "l_partkey", "left")],
            "broadcast": ["nation", "region"]},
        "flatColumns": [
            {"name": "o_month", "expr": "date_format(o_orderdate, 'yyyy-MM')"},
            {"name": "r_name"}, {"name": "o_orderstatus"},
            {"name": "l_returnflag"}, {"name": "o_orderdate"},
            {"name": "o_orderpriority"}, {"name": "p_brand"},
            {"name": "l_quantity"}, {"name": "l_extendedprice"},
            {"name": "o_custkey"},
            {"name": "price_micros",
             "expr": "CAST(l_extendedprice * 100 AS BIGINT)"},
            {"name": "hi_price",
             "expr": "CASE WHEN l_quantity >= 49.5 THEN l_extendedprice END"}],
        "dims": ["o_month", "r_name", "o_orderstatus", "l_returnflag"],
        "measures": [
            {"name": "qty", "family": "sum", "column": "l_quantity",
             "decimal": True, "presentDouble": True},
            {"name": "nrows", "family": "count"},
            {"name": "qty_min", "family": "min", "column": "l_quantity"},
            {"name": "price_max", "family": "max", "column": "l_extendedprice"},
            {"name": "prio_set", "family": "dim_distinct",
             "column": "o_orderpriority"},
            {"name": "cust_bitmap", "family": "bitmap", "column": "o_custkey"},
            {"name": "cust_hll", "family": "hll", "column": "o_custkey"},
            {"name": "qty_kll", "family": "kll", "column": "l_quantity"},
            {"name": "hi_raw", "family": "raw", "column": "hi_price"},
            {"name": "brand_topn", "family": "topn", "topn": {
                "dims": ["p_brand"], "valueColumn": "price_micros",
                "sumOf": "l_extendedprice", "scale": 100}}],
        "segmentCol": "o_orderdate",
        "segments": [{"name": n, "start": a, "end": b}
                     for n, a, b in REFRESH_SEGMENTS],
        "cuboids": [["o_month", "r_name"], ["o_orderstatus", "l_returnflag"],
                    ["r_name"]],
        "timeDim": {"name": "o_month", "granularity": "month"},
        "segDayGranular": True,
        "autoMergeMaxSegments": 3,
    }


# every reader text comes unfiltered and under each of these filters on
# cube dims, so a burst of distinct texts (each a recompute after a
# commit) is long enough to time
READER_FILTERS = ["", "WHERE o_orderstatus IN ('F', 'O')",
                  "WHERE r_name <> 'AFRICA'"]


def refresh_reader_queries():
    """the reader's texts over the cube's view: exact measures only, so
    the before/after equality check is strict"""
    v = "graft_bench_refresh"
    specs = [
        ("r_name", "sum(l_quantity) AS sum_qty, count(*) AS n_rows",
         "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
         "COUNT(*) AS n_rows", {"sum_qty": "exact", "n_rows": "exact"}),
        ("o_orderstatus, l_returnflag",
         "count(distinct o_custkey) AS n_cust, min(l_quantity) AS min_qty",
         "COUNT(DISTINCT o_custkey) AS n_cust, MIN(l_quantity) AS min_qty",
         {"n_cust": "exact", "min_qty": "exact"}),
        ("o_month", "max(l_extendedprice) AS max_price, count(*) AS n_rows",
         "MAX(l_extendedprice) AS max_price, COUNT(*) AS n_rows",
         {"max_price": "exact", "n_rows": "exact"}),
        ("r_name, o_orderstatus", "count(*) AS n_rows",
         "COUNT(*) AS n_rows", {"n_rows": "exact"}),
        ("o_month, r_name", "sum(l_quantity) AS sum_qty",
         "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty",
         {"sum_qty": "exact"}),
        ("l_returnflag", "min(l_quantity) AS min_qty, "
         "max(l_extendedprice) AS max_price",
         "MIN(l_quantity) AS min_qty, MAX(l_extendedprice) AS max_price",
         {"min_qty": "exact", "max_price": "exact"}),
        ("o_orderstatus", "count(distinct o_custkey) AS n_cust",
         "COUNT(DISTINCT o_custkey) AS n_cust", {"n_cust": "exact"}),
        ("r_name, l_returnflag", "count(*) AS n_rows, "
         "sum(l_quantity) AS sum_qty",
         "COUNT(*) AS n_rows, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) "
         "AS DOUBLE) AS sum_qty", {"n_rows": "exact", "sum_qty": "exact"}),
    ]
    out = []
    for where in READER_FILTERS:
        for g, sel, dsel, checks in specs:
            c = {d.strip(): "exact" for d in g.split(",")}
            c.update(checks)
            out.append(Query(
                "scalar" if "distinct" not in sel else "bitmap",
                "SELECT %s, %s FROM %s %s GROUP BY %s" % (g, sel, v, where, g),
                "SELECT %s, %s FROM bench_flat %s GROUP BY %s" % (
                    g, dsel, where, g), c))
    return out


def gen_lifecycle(rng, out, sizes, sf_dir):
    gen_cube_side(rng, out)
    gen_ingest_side(rng, out, sizes, sf_dir)


# the segments the lifecycle refreshes, one refresh each in a seeded
# order: the two that hold most of the data, so every seed refreshes
# the same rows
REFRESHED = ["s1995", "s1996"]


def gen_cube_side(rng, out):
    order = list(REFRESHED)
    rng.shuffle(order)
    _dump(os.path.join(out, "cube.json"), refresh_cube_doc())
    texts = refresh_reader_queries()
    # the reader reads every text once per burst, in a seeded order: one
    # burst after the build, one after each refresh, one after the
    # merge (all recomputes: each commit moves the cache stamps), and
    # one once both writers are idle (all cache hits)
    bursts = []
    for _ in range(len(order) + 3):
        perm = list(range(len(texts)))
        rng.shuffle(perm)
        bursts.append(perm)
    _dump(os.path.join(out, "queries.json"), {
        "texts": [q.to_json() for q in texts],
        "refresh_order": order,
        "bursts": bursts,
    })


# ── pipeline ingest ────────────────────────────────────────────────

def _mutate(rng, text, vocab):
    ws = text.split()
    i = rng.randrange(len(ws))
    ws[i] = rng.choice([w for w in vocab if w != ws[i]])
    return " ".join(ws)


def gen_ingest_side(rng, out, sizes, sf_dir):
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM read_parquet(?) ORDER BY doc_id",
        [sf_dir + "/documents.parquet"]).fetchall()
    embs = con.execute(
        "SELECT vec_id, embedding FROM read_parquet(?) ORDER BY vec_id",
        [sf_dir + "/embeddings.parquet"]).fetchall()
    vocab = sorted({w for _, t in docs for w in t.split()})
    order = list(range(len(docs)))
    rng.shuffle(order)
    n_store, n_batch, per = (sizes["store_docs"], sizes["batches"],
                             sizes["batch_docs"])
    store = [docs[i] for i in order[:n_store]]
    rest = [docs[i] for i in order[n_store:]]
    long_ok = lambda t: len(t.split()) >= 40
    pairs = []
    next_id = 10_000_000
    seen_store = [d for d in store if long_ok(d[1])]
    batches = []
    pos = 0
    for b in range(n_batch):
        fresh = rest[pos:pos + per]
        pos += per
        batch = list(fresh)
        n_dup = sizes["dups_per_batch"]
        # half the injected copies duplicate the store, half the batch
        for j in range(n_dup):
            pool = seen_store if j % 2 == 0 else [d for d in fresh
                                                  if long_ok(d[1])]
            src = rng.choice(pool)
            dup = (next_id, _mutate(rng, src[1], vocab))
            next_id += 1
            batch.append(dup)
            pairs.append([src[0], dup[0], b])
        rng.shuffle(batch)
        batches.append(batch)
        seen_store += [d for d in fresh if long_ok(d[1])]
    def write_docs(name, rows):
        with open(os.path.join(out, name), "w") as f:
            for i, t in rows:
                f.write(json.dumps({"doc_id": i, "text": t},
                                   sort_keys=True) + "\n")
    warm = rest[pos:pos + per // 3]
    warm += [(next_id + j, _mutate(rng, d[1], vocab))
             for j, d in enumerate([d for d in warm if long_ok(d[1])][:2])]
    write_docs("warm.jsonl", warm)
    write_docs("store.jsonl", store)
    for b, rows in enumerate(batches):
        write_docs("batch_%03d.jsonl" % b, rows)
    perm = list(range(len(embs)))
    rng.shuffle(perm)
    with open(os.path.join(out, "embeddings.jsonl"), "w") as f:
        for new_id, old in enumerate(perm):
            vec = ["%.9g" % x for x in embs[old][1]]
            f.write('{"embedding":[%s],"src_id":%d,"vec_id":%d}\n'
                    % (",".join(vec), embs[old][0], new_id))
    _dump(os.path.join(out, "ingest.json"), {
        "batches": ["batch_%03d.jsonl" % b for b in range(n_batch)],
        "pairs": pairs,
        "min_jaccard": 0.8,
        "ann_queries": sizes["ann_queries"],
        "ann_k": 10,
    })


SIZES = {
    "full": {"adhoc_pool": 1200,
             "store_docs": 800, "batches": 3, "batch_docs": 140,
             "dups_per_batch": 10, "ann_queries": 16},
    "smoke": {"adhoc_pool": 120,
              "store_docs": 150, "batches": 3, "batch_docs": 40,
              "dups_per_batch": 4, "ann_queries": 4},
}

WORKLOADS = ["serve_adhoc", "lifecycle"]


def generate(workload, seed, sf_dir, out, smoke=False):
    """write every input of one run into `out`; returns the file list"""
    os.makedirs(out, exist_ok=True)
    rng = random.Random("%s/%d" % (workload, seed))
    sizes = SIZES["smoke" if smoke else "full"]
    if workload == "serve_adhoc":
        gen_serve_adhoc(rng, out, sizes)
    elif workload == "lifecycle":
        gen_lifecycle(rng, out, sizes, sf_dir)
    else:
        raise ValueError("unknown workload " + workload)
    return sorted(os.listdir(out))
