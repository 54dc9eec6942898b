"""Turns one run's raw samples (result.json) into checked metrics.

Correctness is judged here, outside the timed window:
  - every distinct served SQL text is run once in DuckDB over the same
    parquet (results cached per text and data dir) and compared: exact
    measures must match (doubles to 1e-9 relative, which only absorbs
    the final decimal-to-double and sum/count rounding), an HLL count
    must lie within 5% of the exact count (about three standard errors
    at the sketch's lgK=12) and a KLL percentile must sit within 0.05
    of the requested rank in the exact value histogram;
  - the JVM already failed any answer that changed between two serves
    of one text (cache hits, refreshes and merges may not move it);
  - lifecycle operations must exit 0, and injected near-duplicate
    recall and each ANN method's recall@10 must stay above their floors.
A wrong answer counts as a failed request.
"""
import hashlib
import json
import math
import os

import gen

ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem"]
STAR_SOURCES = ORACLE_TABLES
REFRESH_SOURCES = ["region", "nation", "customer", "part", "orders",
                   "lineitem"]
KLL_RANK_EPS = 0.05
# recall floors sit well under what the engine reaches at the seed
# (dup recall 1.0; ANN recall@10 ~0.07 LSH and ~0.99 IVF at sf0.1,
# ~0.15 and ~0.8 at sf0.001): they catch a broken index, the per-layer
# metrics track the values
DUP_RECALL_FLOOR = 0.9
ANN_RECALL_FLOOR = {"lsh": 0.02, "ivf": 0.6}

BENCH_FLAT = """
CREATE VIEW bench_flat AS
SELECT strftime(o_orderdate, '%Y-%m') AS o_month, r_name, o_orderstatus,
  l_returnflag, o_custkey, l_quantity, l_extendedprice
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
LEFT JOIN part ON l_partkey = p_partkey
"""


# ── small statistics helpers ───────────────────────────────────────

def pct(xs, p):
    """linear-interpolated percentile, p in [0, 100]"""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(xs):
    return pct(xs, 50)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def union_ms(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def file_bytes(paths):
    return sum(os.path.getsize(p) for p in paths if os.path.exists(p))


# ── oracle ─────────────────────────────────────────────────────────

def _norm(v):
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)
    if isinstance(v, dict):   # a DuckDB histogram: value -> count
        ks, vs = ((v["key"], v["value"]) if "key" in v
                  else (list(v.keys()), list(v.values())))
        return sorted([float(k), int(c)] for k, c in zip(ks, vs))
    return v


def _same(a, b, kind):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    if kind.startswith("kll:"):
        # rank check against the exact value histogram: the sketch's
        # answer must sit within KLL_RANK_EPS of the requested rank
        p = float(kind[4:])
        n = sum(c for _, c in b)
        below = sum(c for v, c in b if v < a) / n
        upto = sum(c for v, c in b if v <= a) / n
        return below <= p + KLL_RANK_EPS and upto >= p - KLL_RANK_EPS
    a, b = float(a), float(b)
    if kind == "hll":
        return abs(a - b) <= max(0.05 * abs(b), 2.0)
    return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))


def compare(q, got, want_cols, want_rows):
    cols = got["columns"]
    rows = got["rows"]
    if not rows and not want_rows:
        return None
    if len(rows) != len(want_rows):
        return "rows %d != oracle %d" % (len(rows), len(want_rows))
    if sorted(cols) != sorted(want_cols):
        return "columns %s != oracle %s" % (cols, want_cols)
    idx = [want_cols.index(c) for c in cols]
    want = [[r[i] for i in idx] for r in want_rows]
    kinds = [q["checks"].get(c, "exact") for c in cols]
    if not q["ordered"]:
        key = lambda r: [("" if k != "exact" else
                          repr(v) if v is None or isinstance(v, str) else
                          repr(round(float(v), 6)))
                         for v, k in zip(r, kinds)]
        rows = sorted(rows, key=key)
        want = sorted(want, key=key)
    for r, w in zip(rows, want):
        for c, a, b, k in zip(cols, r, w, kinds):
            if not _same(a, b, k):
                return "column %s: %r vs oracle %r" % (c, a, b)
    return None


class Oracle:
    def __init__(self, sf, cache_dir):
        self.sf = sf
        self.cache_dir = cache_dir
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connect(self):
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads = 2")
        for t in ORACLE_TABLES:
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, os.path.join(self.sf, t + ".parquet")))
        con.execute(BENCH_FLAT)
        self.flat_made = False
        return con

    def answer(self, duck_sql):
        key = hashlib.sha256((self.sf + "\0" + duck_sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key[:24] + ".json")
        if os.path.exists(path):
            with open(path) as f:
                c = json.load(f)
            return c["columns"], c["rows"]
        if self.con is None:
            self.con = self._connect()
        if "graft_star" in duck_sql and not self.flat_made:
            self.con.execute(gen.DUCK_FLAT)
            self.flat_made = True
        cur = self.con.execute(duck_sql)
        cols = [d[0] for d in cur.description]
        rows = [[_norm(v) for v in r] for r in cur.fetchall()]
        tmp = path + ".tmp%d" % os.getpid()
        with open(tmp, "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
        os.replace(tmp, path)
        return cols, rows


def check_texts(texts, answers, oracle):
    """text id -> failure message, for every served text that is wrong"""
    bad = {}
    for tid, got in answers.items():
        q = texts[int(tid)]
        cols, rows = oracle.answer(q["duck"])
        why = compare(q, got, cols, rows)
        if why:
            bad[int(tid)] = "%s [%s]: %s" % (q["family"], q["sql"][:160], why)
    return bad


# ── per-layer helpers over the trace ───────────────────────────────

def jobs_by_group(trace):
    out = {}
    for j in (trace or {}).get("jobs", []):
        out.setdefault(j["group"], []).append(j)
    return out


OTHER_GROUPS = ("graft-query-", "bench-front-", "bench-dedup-", "bench-ann-")


def cube_jobs(trace, t0, t1):
    """Spark jobs of a cube lifecycle op: the build runs its segments on
    a shared thread pool that does not carry the caller's job group, so
    they are the jobs started inside the op's interval that no other
    actor (reader, ingest writer) labelled"""
    return [j for j in (trace or {}).get("jobs", [])
            if t0 <= j["start"] <= t1 and not j["group"].startswith(
                OTHER_GROUPS)]


def jsum(jobs, key):
    return sum(j[key] for j in jobs)


def serve_layers(samples, texts, trace, res, layers, counts):
    """GraftSql front end, QueryService and Spark work per query"""
    groups = jobs_by_group(trace)
    spans = {}
    for s in (trace or {}).get("spans", []):
        if s["name"] == "exec.serve":
            spans[s["req"]] = s
    qid = lambda s: ("window-c%d-%d" % (s["client"], s["seq"])
                     if s["phase"] == "window" else "r-%d" % s["seq"])
    front = [s["front_ms"] for s in samples if s["front_hit"] is not None]
    layers["sql.route_ms"] = (median(front), "ms")
    counts["sql.route_ms"] = len(front)
    layers["sql.routed_frac"] = (mean([1.0 if s["routed"] else 0.0
                                       for s in samples]), "ratio")
    hits = [1.0 if s["front_hit"] else 0.0 for s in samples
            if s["front_hit"] is not None]
    layers["cache.hit_ratio"] = (mean(hits), "ratio")
    counts["cache.hit_ratio"] = len(hits)
    layers["cache.evictions"] = (float(res.get("cache", {})
                                       .get("evictions", 0)), "count")
    driver, collect, jobs_n, tasks, cpu, sched, shuffle = ([] for _ in range(7))
    scan_rows = scan_bytes = result_rows = 0
    ratios = []
    for s in samples:
        js = groups.get("graft-query-" + qid(s), [])
        sp = spans.get(qid(s))
        inside = union_ms([(j["start"], j["end"]) for j in js])
        if sp:
            driver.append(max(0.0, sp["end"] - sp["start"] - inside))
        collect.append(inside)
        jobs_n.append(len(js))
        tasks.append(jsum(js, "tasks"))
        cpu.append(jsum(js, "cpu_ns") / 1e6)
        sched.append(jsum(js, "sched_delay_ms"))
        shuffle.append(jsum(js, "shuffle_read") + jsum(js, "shuffle_write"))
        recs = jsum(js, "input_records")
        scan_rows += recs
        scan_bytes += jsum(js, "input_bytes")
        result_rows += s["rows"]
        if s["est_rows"] and recs and not s["front_hit"]:
            ratios.append(s["est_rows"] / recs)
    n = len(samples)
    layers["exec.driver_ms"] = (median(driver), "ms")
    counts["exec.driver_ms"] = len(driver)
    layers["exec.collect_ms"] = (median(collect), "ms")
    counts["exec.collect_ms"] = len(collect)
    layers["exec.jobs_per_query"] = (mean(jobs_n), "count")
    layers["exec.tasks_per_query"] = (mean(tasks), "count")
    layers["exec.scan_rows_per_result_row"] = (
        scan_rows / result_rows if result_rows else 0.0, "ratio")
    layers["exec.scan_bytes_per_query"] = (scan_bytes / n if n else 0.0,
                                           "bytes")
    layers["exec.cpu_ms_per_query"] = (mean(cpu), "ms")
    layers["exec.scheduler_delay_ms_per_query"] = (mean(sched), "ms")
    layers["exec.shuffle_bytes_per_query"] = (mean(shuffle), "bytes")
    layers["sql.est_rows_ratio"] = (median(ratios), "ratio")
    counts["sql.est_rows_ratio"] = len(ratios)
    for fam in gen.FAMILIES:
        xs = [s["end"] - s["start"] for s in samples
              if texts[s["text"]]["family"] == fam]
        layers["family.%s.p50_ms" % fam] = (median(xs), "ms")
        counts["family.%s.p50_ms" % fam] = len(xs)


# ── per workload ───────────────────────────────────────────────────

def exact_topk(path, nq, k):
    import numpy as np
    ids, vecs = [], []
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            ids.append(r["vec_id"])
            vecs.append(r["embedding"])
    v = np.asarray(vecs, dtype=np.float32).astype(np.float64)
    ids = np.asarray(ids)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for q in range(nq):
        row = int(np.where(ids == q)[0][0])
        cos = v @ v[row]
        cos[row] = -math.inf
        top = np.argsort(-cos, kind="stable")[:k]
        out[q] = {int(ids[i]) for i in top}
    return out


def segment_rows(oracle, cube_doc):
    """lineitem rows per segment of the cube document: the source rows
    a one-segment refresh reads (a fresh build reads every segment)"""
    sel = ", ".join(
        "COUNT(*) FILTER (WHERE o_orderdate >= DATE '%s' AND "
        "o_orderdate < DATE '%s') AS %s" % (s["start"], s["end"], s["name"])
        for s in cube_doc["segments"])
    cols, rows = oracle.answer(
        "SELECT %s FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
        % sel)
    return dict(zip(cols, rows[0]))


def cube_side(res, trace, layers, counts, samples, sf_file, seg_rows):
    """the cube lifecycle writer: ops, phases, rewrites, reader stalls;
    also its work (source rows the build and refreshes read) and busy
    seconds for the lifecycle's work_per_s"""
    failures = []
    ops = res["ops"]
    for o in ops:
        if o["code"] != 0:
            failures.append("%s %s exited %d" % (
                o["kind"], o.get("segment", ""), o["code"]))
    dur = lambda o: (o["end"] - o["start"]) / 1000.0
    build = [o for o in ops if o["kind"] == "build"][0]
    refreshes = [o for o in ops if o["kind"] == "refresh"]
    merge = [o for o in ops if o["kind"] == "merge"][0]
    src = file_bytes([sf_file(t) for t in REFRESH_SOURCES])
    layers["cube.build_s"] = (dur(build), "s")
    layers["cube.refresh_s"] = (median([dur(o) for o in refreshes]), "s")
    counts["cube.refresh_s"] = len(refreshes)
    layers["cube.merge_s"] = (dur(merge), "s")
    for ph in ["snapshots", "dictionary", "flat-write", "cuboid"]:
        layers["build.phase_s." + ph] = (build["phases"].get(ph, 0.0), "s")
    layers["build.phase_s.merge"] = (merge["phases"].get("merge", 0.0), "s")
    layers["build.busy_to_wall"] = (
        sum(build["phases"].values()) / dur(build), "ratio")
    bj = cube_jobs(trace, build["start"], build["end"])
    layers["build.cpu_s"] = (jsum(bj, "cpu_ns") / 1e9, "s")
    layers["build.gc_s"] = (jsum(bj, "gc_ms") / 1e3, "s")
    layers["build.shuffle_write_bytes"] = (float(jsum(bj, "shuffle_write")),
                                           "bytes")
    layers["build.spill_bytes"] = (float(jsum(bj, "spill")), "bytes")
    layers["build.rows_written"] = (float(build["rows_written"]), "count")
    layers["build.bytes_written"] = (float(build["bytes_written"]), "bytes")
    layers["refresh.rewritten_frac"] = (mean(
        [o["rewritten"] / o["cuboid_dirs"] for o in refreshes
         if o["cuboid_dirs"]]), "ratio")
    # the reader reads every text once per burst, between the cube ops
    # (see Main.lifecycle): right after a commit each read recomputes,
    # in the idle burst each is a cache hit
    def burst_reads(kinds):
        spans = [(b["start"], b["end"]) for b in res["bursts"]
                 if b["after"].split()[0] in kinds]
        return [s["end"] - s["start"] for s in samples
                if any(t0 <= s["start"] <= t1 for t0, t1 in spans)]
    after = burst_reads(("refresh", "merge"))
    quiet = burst_reads(("idle",))
    layers["refresh.reader_stall_ms"] = (median(after) - median(quiet),
                                         "ms")
    counts["refresh.reader_stall_ms"] = min(len(after), len(quiet))
    rows = (sum(seg_rows.values()) +
            sum(seg_rows[o["segment"]] for o in refreshes))
    return (failures, len(ops), (res["stored_bytes"] / src, "ratio"),
            rows, sum(dur(o) for o in ops))


def ingest_side(res, run_dir, layers, counts):
    """the ingest writer: throughput, recall, per-step times"""
    failures = []
    with open(os.path.join(run_dir, "ingest.json")) as f:
        cfg = json.load(f)
    batches = res["batches"]
    docs = sum(b["docs"] for b in batches)
    busy = sum((b["end"] - b["start"]) / 1000.0 for b in batches)
    rate = (docs / busy, "1/s")
    layers["ingest.docs_per_s"] = rate
    found = set()
    for b in batches:
        for a, c in b["cross_pairs"] + b["within_pairs"]:
            found.add((min(a, c), max(a, c)))
    done = len(batches)
    truth = [(min(a, c), max(a, c)) for a, c, bi in cfg["pairs"] if bi < done]
    recall = (sum(1 for p in truth if p in found) / len(truth)
              if truth else 1.0)
    layers["ingest.dup_recall"] = (recall, "ratio")
    counts["ingest.dup_recall"] = len(truth)
    if recall < DUP_RECALL_FLOOR:
        failures.append("dup_recall %.3f < %.2f over %d injected pairs"
                        % (recall, DUP_RECALL_FLOOR, len(truth)))
    exact = exact_topk(os.path.join(run_dir, "embeddings.jsonl"),
                       cfg["ann_queries"], cfg["ann_k"])
    recalls = []
    for method in ("lsh", "ivf"):
        answers = [json.dumps(b["ann"][method], sort_keys=True)
                   for b in batches]
        if len(set(answers)) > 1:
            failures.append("ann %s answer changed between batches" % method)
        got = {}
        for q, rank, n, cos in (batches[0]["ann"][method] if batches else []):
            got.setdefault(q, set()).add(n)
        r = (sum(len(got.get(q, set()) & exact[q]) for q in exact)
             / (cfg["ann_k"] * len(exact)))
        recalls.append(r)
        if r < ANN_RECALL_FLOOR[method]:
            failures.append("ann %s recall@10 %.3f < %.2f"
                            % (method, r, ANN_RECALL_FLOOR[method]))
        layers["ann.%s_recall_at10" % method] = (r, "ratio")
        counts["ann.%s_recall_at10" % method] = len(exact)
        xs = [(b["steps"]["ann." + method]["end"] -
               b["steps"]["ann." + method]["start"]) / 1e3 for b in batches]
        layers["ann.%s_s" % method] = (median(xs), "s")
        counts["ann.%s_s" % method] = len(xs)
    layers["ann.recall_at10"] = (mean(recalls), "ratio")
    counts["ann.recall_at10"] = 2 * len(exact)
    for step in ("shingle", "incremental", "minhash", "keepone",
                 "store_append"):
        xs = [(b["steps"]["dedup." + step]["end"] -
               b["steps"]["dedup." + step]["start"]) / 1e3
              for b in batches if "dedup." + step in b["steps"]]
        layers["dedup.%s_s" % step] = (mean(xs), "s")
        counts["dedup.%s_s" % step] = len(xs)
    layers["dedup.store_bytes"] = (float(res["store_bytes"]), "bytes")
    cand = [b["counts"].get("candidate_pairs", 0) for b in batches]
    ver = [b["counts"].get("verified_pairs", 0) for b in batches]
    layers["dedup.candidate_pairs"] = (mean(cand), "count")
    layers["dedup.verified_pairs"] = (mean(ver), "count")
    layers["dedup.verify_yield"] = (sum(ver) / sum(cand) if sum(cand)
                                    else 0.0, "ratio")
    return failures, len(batches), docs, busy


def analyze(res, ctx, setup_s):
    w = ctx["workload"]
    run_dir = ctx["run_dir"]
    trace = res.get("trace")
    failures = []
    attempted = 0
    failed = 0
    e2e, layers, counts = {}, {}, {}
    oracle = Oracle(ctx["sf"], os.path.join(ctx["root"], ".bench_build",
                                            "oracle"))
    sf_file = lambda t: os.path.join(ctx["sf"], t + ".parquet")
    with open(os.path.join(run_dir, "queries.json")) as f:
        texts = json.load(f)["texts"]
    samples = res["samples"]
    bad = check_texts(texts, res["answers"], oracle)
    for tid, why in sorted(bad.items()):
        failures.append("wrong answer: " + why)
    for s in samples:
        if not s["ok"]:
            failures.append("%s #%d: %s" % (s["phase"], s["seq"], s["error"]))
    attempted += len(samples)
    failed += sum(1 for s in samples if not s["ok"] or s["text"] in bad)
    # (the lifecycle reader's first pass takes the reference answers
    # and is not timed)
    lat = [s["end"] - s["start"] for s in samples
           if s["ok"] and s["phase"] != "reference"]
    span_s = ((max(s["end"] for s in samples) -
               min(s["start"] for s in samples)) / 1000.0 if samples else 0.0)
    e2e["query_p50_ms"] = (median(lat), "ms")
    e2e["query_p95_ms"] = (pct(lat, 95), "ms")
    counts["query_p50_ms"] = counts["query_p95_ms"] = len(lat)
    if w == "lifecycle":
        # the reader reads only in its bursts
        span_s = sum(b["end"] - b["start"] for b in res["bursts"]
                     if b["after"] != "build") / 1000.0
    e2e["throughput_qps"] = (len(lat) / span_s if span_s else 0.0, "1/s")
    serve_layers(samples, texts, trace, res, layers, counts)
    if w == "serve_adhoc":
        e2e["work_per_s"] = e2e["throughput_qps"]
        src = file_bytes([sf_file(t) for t in STAR_SOURCES])
        e2e["stored_bytes_ratio"] = (dir_bytes(res["cube_dir"]) / src,
                                     "ratio")
    else:
        with open(os.path.join(run_dir, "cube.json")) as f:
            seg_rows = segment_rows(oracle, json.load(f))
        f, a_, c_, rows, cube_busy = cube_side(
            res, trace, layers, counts, samples, sf_file, seg_rows)
        failures += f
        attempted += a_
        failed += len(f)
        e2e["stored_bytes_ratio"] = c_
        f, a_, docs, ingest_busy = ingest_side(res, run_dir, layers, counts)
        failures += f
        attempted += a_
        failed += len(f)
        # both writers run a fixed schedule, so this falls as the summed
        # busy time of the build, refreshes, merge and ingest batches grows
        e2e["work_per_s"] = ((rows + docs) / (cube_busy + ingest_busy),
                             "1/s")
    e2e["setup_s"] = (setup_s, "s")
    e2e["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    jobs = (trace or {}).get("jobs", [])
    layers["spark.jobs"] = (float(len(jobs)), "count")
    layers["spark.tasks"] = (float(jsum(jobs, "tasks")), "count")
    layers["spark.executor_cpu_s"] = (jsum(jobs, "cpu_ns") / 1e9, "s")
    layers["spark.gc_s"] = (jsum(jobs, "gc_ms") / 1e3, "s")
    layers["spark.spill_bytes"] = (float(jsum(jobs, "spill")), "bytes")
    layers["run.failed_frac"] = (failed / attempted if attempted else 0.0,
                                 "ratio")
    with open(os.path.join(ctx["root"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    fill = lambda key, got: {
        m["name"]: {"value": float(got[m["name"]][0])
                    if m["name"] in got else 0.0, "unit": m["unit"]}
        for m in bench[key]}
    return {
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "failures": failures,
        "end_to_end": fill("end_to_end", e2e),
        "per_layer": fill("per_layer", layers),
        "samples": counts,
    }
