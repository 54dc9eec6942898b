#!/usr/bin/env python3
"""graft benchmark: one run of one workload, end to end.

    python3 perfbench/run.py --workload serve_adhoc --seed 1 --seconds 20 \\
        --trace 0 [--smoke]

Run from the repository root. The script compiles the engine sources
and the benchmark's Scala side with the Scala compiler that ships in
the Spark distribution (no build tool, output under .bench_build/),
writes the seeded inputs for the run, runs the workload in one JVM on
local[nproc], checks every answer (DuckDB oracle, answer stability,
recall floors) outside the timed window, stamps a run record under
.bench_build/records/, and prints the metrics: human-readable lines
first, then one JSON object as the last line of stdout. With --trace 1
the JVM also records spans and Spark listener counts and the metrics
are the per-layer ones (see perfbench/metrics.json).

Data and toolchain come from the project's own declarations: the sf0.1
(with --smoke sf0.001) and the sf0.001 warm-up dirs from the table in
TESTDATA.md, the Spark jars from build.sbt's unmanagedBase. Overrides:
SPARK_GRAFT_SF_DIR, GRAFT_BENCH_WARM_SF_DIR, SPARK_HOME. The engine JVM
always runs with a fixed 3g heap.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import analyze  # noqa: E402

BUILD = ".bench_build"
RUN_LIMIT_S = 170          # every run must end within the contract's 180 s
FIRST_RUN_LIMIT_S = 880    # ... except the one that compiles and builds
HEAP = "3g"                # -Xms = -Xmx: every run measures one heap size


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def fingerprint(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars():
    """$SPARK_HOME/jars, else the jar dir build.sbt compiles against"""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else ""


def testdata_dir(sf):
    """the data dir TESTDATA.md lists for scale factor `sf`"""
    try:
        with open("TESTDATA.md") as f:
            for line in f:
                cells = [c.strip(" `") for c in line.split("|")]
                if len(cells) > 2 and cells[1] == sf:
                    return cells[2]
    except OSError:
        pass
    return ""


def compile_all(root, files, jar):
    """scalac from the Spark distribution into one jar (a jar, not a
    class directory, so the JVM can map it into a class-data archive)"""
    tmp = jar + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=600)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compile failed:\n" + p.stdout[-4000:], 3)
    with zipfile.ZipFile(jar + ".part", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                full = os.path.join(d, n)
                z.write(full, os.path.relpath(full, tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    os.replace(jar + ".part", jar)


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def git_stamp(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return {"commit": None, "dirty": None}
    try:
        c = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                           capture_output=True, timeout=20).stdout.strip()
        d = subprocess.run(["git", "status", "--porcelain"], cwd=root,
                           text=True, capture_output=True,
                           timeout=20).stdout.strip()
        return {"commit": c or None, "dirty": bool(d)}
    except (OSError, subprocess.SubprocessError):
        return {"commit": None, "dirty": None}


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 inputs, small sizes: all workloads in "
                         "seconds (the benchmark's own tests use it)")
    args = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C, so the engine JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    launched = time.time()
    root = os.getcwd()
    files = sources(root)
    if not os.path.isdir(os.path.join(root, "src/main/scala")) or not files:
        die("run from the root of a graft checkout (no src/main/scala here)")
    sf = os.path.abspath(os.environ.get("SPARK_GRAFT_SF_DIR") or
                         testdata_dir("0.001" if args.smoke else "0.1"))
    warm_sf = os.path.abspath(os.environ.get("GRAFT_BENCH_WARM_SF_DIR") or
                              testdata_dir("0.001"))
    for d in (sf, warm_sf):
        if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
            die("no test data at " + d)
    if not os.path.isdir(spark_jars()):
        die("no Spark distribution at " + spark_jars())

    build = os.path.join(root, BUILD)
    os.makedirs(build, exist_ok=True)
    fp = fingerprint(root, files)
    jar = os.path.join(build, "graft-%s.jar" % fp)
    compiled_now = not os.path.isfile(jar)
    if compiled_now:
        compile_all(root, files, jar)
    # serve runs share one star cube per engine build (the engine
    # sources' fingerprint names it, so no run reads a cube that other
    # engine code built), and every run maps one JVM class-data archive
    # per build, which takes most of the JVM and Spark start-up out of
    # set-up. A prepare step makes both before the first measured run
    # of a build, whatever its workload, so no measured set-up includes
    # the cube build or runs without the archive.
    engine_fp = fingerprint(root, [f for f in files if "/src/main/" in f])
    star_root = os.path.join(build, "cubes", engine_fp)
    star_ready = "%s-%s.ready" % (star_root, os.path.basename(sf))
    archive = os.path.join(build, "cds-%s.jsa" % fp)
    prepare = not (os.path.isfile(star_ready) and os.path.isfile(archive))
    limit = FIRST_RUN_LIMIT_S if compiled_now or prepare else RUN_LIMIT_S

    run_dir = os.path.join(build, "runs", "%s-s%d-t%d-%d" % (
        args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_start = loadavg()
    g0 = time.time()
    inputs = gen.generate(args.workload, args.seed, sf, run_dir, args.smoke)
    gen_s = time.time() - g0

    cpus = os.cpu_count() or 1
    jars = sorted(os.path.join(spark_jars(), j)
                  for j in os.listdir(spark_jars()) if j.endswith(".jar"))

    def jvm(workload, cube_root, extra):
        """run perfbench.Main in its own JVM within the run's time limit"""
        env = dict(os.environ, GRAFT_CUBE_ROOT=cube_root)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m",
                "-Djava.io.tmpdir=" + tmp] + extra
               + [x for o in JDK_OPENS
                  for x in ("--add-opens", o + "=ALL-UNNAMED")]
               + ["-cp", os.pathsep.join([jar] + jars),
                  "perfbench.Main", "--workload", workload,
                  "--run-dir", run_dir, "--sf", sf, "--warm-sf", warm_sf,
                  "--seconds", repr(args.seconds), "--trace",
                  str(args.trace), "--cpus", str(cpus)])
        log_path = os.path.join(run_dir, "jvm-%s.log" % workload)
        remaining = limit - (time.time() - launched)
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=root, env=env, stdout=log,
                                 stderr=subprocess.STDOUT)
            try:
                code = p.wait(timeout=max(10.0, remaining))
            except subprocess.TimeoutExpired:
                die("%s did not finish within %.0f s (log: %s)"
                    % (workload, remaining, log_path), 4)
            finally:
                # on every way out (time limit, SIGTERM, Ctrl-C) the
                # engine JVM ends with this script
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if code != 0:
            with open(log_path) as f:
                tail = f.read()[-3000:]
            die("engine run failed (exit %d):\n%s" % (code, tail), 5)

    quiet_cds = ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    if prepare:
        if os.path.exists(archive):
            os.remove(archive)
        jvm("prepare", star_root,
            ["-XX:ArchiveClassesAtExit=" + archive] + quiet_cds)
        open(star_ready, "w").close()
    j0 = time.time()
    # the lifecycle owns every cube it touches
    jvm(args.workload, star_root if args.workload.startswith("serve_")
        else os.path.join(run_dir, "cubes"),
        ["-XX:SharedArchiveFile=" + archive] + quiet_cds)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    # set-up: input generation, then JVM launch to the end of warm-up
    setup_s = gen_s + (res["ready_epoch_ms"] / 1000.0 - j0)

    ctx = {"workload": args.workload, "seed": args.seed, "sf": sf,
           "warm_sf": warm_sf, "run_dir": run_dir, "root": root,
           "smoke": args.smoke, "trace": bool(args.trace)}
    out = analyze.analyze(res, ctx, setup_s)
    record = {
        "stamp": dict(git_stamp(root), source_fingerprint=fp, nproc=cpus,
                      loadavg_1m_start=load_start, loadavg_1m_end=loadavg(),
                      jvm_heap=HEAP,
                      jvm_max_heap_mb=res.get("jvm_max_heap_mb"),
                      spark_master=res.get("spark_master"),
                      spark_conf=res.get("spark_conf"), seed=args.seed,
                      sf_dir=sf, warm_sf_dir=warm_sf, seconds=args.seconds,
                      trace=args.trace, smoke=args.smoke,
                      compiled_in_this_run=compiled_now,
                      inputs=inputs),
        "correct": out["correct"], "attempted": out["attempted"],
        "failed": out["failed"], "failures": out["failures"][:50],
        "end_to_end": out["end_to_end"], "per_layer": out["per_layer"],
        "samples": out["samples"],
    }
    rec_dir = os.path.join(build, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, "%s-seed%d-trace%d%s.json" % (
        args.workload, args.seed, args.trace, "-smoke" if args.smoke else ""))
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    # keep the inputs, the raw result and the JVM logs; drop the data
    for d in os.listdir(run_dir):
        if d not in inputs and d != "result.json" and \
                not d.startswith("jvm-"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    if args.trace:
        with open(os.path.join(run_dir, "result.json")) as f:
            spans = json.load(f).get("trace")
        with open(os.path.join(rec_dir, os.path.basename(rec_path)
                               .replace(".json", ".spans.json")), "w") as f:
            json.dump(spans, f)

    print("setup: inputs %.2fs, jvm start %.2fs, spark session %.2fs, "
          "load + warm-up %.2fs" % (
              gen_s, res["jvm_start_epoch_ms"] / 1e3 - j0,
              (res["session_epoch_ms"] - res["jvm_start_epoch_ms"]) / 1e3,
              (res["ready_epoch_ms"] - res["session_epoch_ms"]) / 1e3))
    metrics = out["per_layer"] if args.trace else out["end_to_end"]
    for name in sorted(metrics):
        m = metrics[name]
        n = out["samples"].get(name)
        print("%-40s %14.4f %-8s%s" % (name, m["value"], m["unit"],
                                      "" if n is None else "  n=%d" % n))
    for f in out["failures"][:10]:
        print("FAILED: " + f)
    print("record: " + os.path.relpath(rec_path, root))
    print(json.dumps({"correct": out["correct"],
                      "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics},
                     sort_keys=True))


if __name__ == "__main__":
    main()
