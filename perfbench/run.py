#!/usr/bin/env python3
"""The lake benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload registry|scan|churn --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. The first run compiles the
engine together with the harness in perfbench/ (sbt, offline); later
runs reuse the build while the sources are unchanged. The harness runs
the workload in one JVM (Spark `local[nproc]`, one client thread) and
writes raw timings; this script turns them into metrics, checks the
outputs, and prints a detail line and then the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Spans of a traced run are written to
perfbench/.work/trace-<workload>-<seed>.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("registry", "scan", "churn")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run, which builds, within 900 s

# the op kinds that answer one user query, per workload
QUERY_KINDS = {
    "registry": {"query"},
    "scan": {"knn"},
    "churn": {"knn"},
}
# op kinds whose units are result rows
RESULT_KINDS = {"query", "knn", "exact_knn", "changes"}
LAKE_OPS = {"ingest": ["ingest"], "seal": ["seal"], "delete": ["delete"],
            "upsert": ["upsert"], "compact": ["compact"], "changes": ["changes"],
            "read": ["count"], "topk": ["knn"]}
FS_REQUESTS = ("list", "open", "create", "stat", "delete", "rename")
KERNELS = ("dot", "cosine", "l2", "lsh", "shingle", "minhash", "simhash")
# layers with spans inside a pass; kernels run inside `exec` spans
LAYERS = ("queries", "plan", "exec", "lake", "operators")
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def steal_s():
    """CPU time the host took from this machine so far (Linux), or None."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return 0.0
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "-Dsbt.server.autostart=false", "compile"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
    if rc != 0:
        fail(f"build failed (sbt exit {rc}); see {os.path.join(WORK, 'build.log')}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return time.time() - t0


def run_harness(args, work, out, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), work, out])
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness ran past the time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited {rc}")
    shutil.copy(out, os.path.join(WORK, f"raw-{args.workload}.json"))
    with open(out) as fh:
        return json.load(fh)


def registry_checks(raw, data_dir):
    """DuckDB oracle compare of each query's setup-pass result, plus the
    row count of every timed run against it. Returns (attempted, errors)."""
    import duckdb
    facts = raw["facts"]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    errors = []
    for name in facts["queries"]:
        res = os.path.join(facts["result_dir"], name)
        if not glob.glob(os.path.join(res, "*.parquet")):
            errors.append(f"{name}: no result")
            continue
        got = con.execute(f"SELECT * FROM '{res}/*.parquet'").fetchdf()
        timed = facts["timed_rows"].get(name)
        if timed is not None and timed != len(got):
            errors.append(f"{name}: timed runs returned {timed} rows, checked result {len(got)}")
        sql = facts["oracle"].get(name)
        if sql is None:
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            errors.append(f"{name}: oracle error {e}")
            continue
        want, got = want[sorted(want.columns)], got[sorted(got.columns)]
        if list(want.columns) != list(got.columns):
            errors.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(want) != len(got):
            errors.append(f"{name}: {len(got)} rows, oracle {len(want)}")
        else:
            for c in want.columns:
                if want[c].tolist() != got[c].tolist():
                    errors.append(f"{name}: column {c} differs from the oracle")
                    break
    return len(facts["queries"]), errors


def op_table(ops):
    """Every timed op by kind and name: sample count and median seconds."""
    by = {}
    for o in ops:
        if o["ok"]:
            by.setdefault(f"{o['kind']}:{o['name']}", []).append(o["s"])
    return {k: [len(v), round(stats.median(v), 6)] for k, v in sorted(by.items())}


def end_to_end(raw, workload, extra_setup_s):
    timed = [o for o in raw["ops"] if o["phase"] == "timed" and not o["traced"]]
    samples = [o["s"] for o in timed if o["kind"] in QUERY_KINDS[workload] and o["ok"]]
    passes = [p for p in raw["passes"] if not p["traced"]]
    tail, q, n = stats.tail(samples)
    metrics = {
        "setup_s": (raw["setup_s"] + extra_setup_s, "s"),
        "wall_s": (stats.median([p["s"] for p in passes]), "s"),
        "query_p50_s": (stats.median(samples), "s"),
    }
    detail = {"passes": len(passes), "query_samples": n,
              f"query_p{round(q * 100)}_s": tail,
              "task_s": stats.median([p["task_s"] for p in passes]),
              "ops": op_table(timed)}
    return metrics, detail


def per_layer(raw, workload):
    cores = raw["cores"]
    traced_passes = [p["pass"] for p in raw["passes"] if p["traced"]]
    n_pass = max(1, len(traced_passes))
    ops = [o for o in raw["ops"] if o.get("traced")]
    timed = [o for o in ops if o["phase"] == "timed"]
    timed_ids = {i for i, o in enumerate(raw["ops"]) if o.get("traced") and o["phase"] == "timed"}
    spans = [s for s in raw["spans"] if s is not None]
    timed_spans = [s for s in spans if s["op"] in timed_ids]
    # lake ops of the traced passes; scan's lake is written only in setup,
    # so its ingest and seal are taken from there
    lake_phases = {"setup", "timed"} if workload == "scan" else {"timed"}
    lake_ops = [o for o in ops if o["phase"] in lake_phases and o["ok"]]

    def c(o, k):
        return o["counters"].get(k, 0.0)

    def per_pass(vals):
        return sum(vals) / n_pass

    def span_s(name):
        return per_pass(stats.duration(s) for s in timed_spans if s["name"] == name)

    def spark(name, k):
        return per_pass(s["spark"][k] for s in timed_spans if s["name"] == name)

    m = {}
    m["queries.build_s"] = (span_s("queries"), "s")
    m["plan.plan_s"] = (span_s("plan"), "s")
    m["plan.codegen_s"] = (per_pass(c(o, "codegen_s") for o in timed), "s")
    m["plan.codegen_n"] = (per_pass(c(o, "codegen_n") for o in timed), "count")
    # Spark work inside `exec` spans; task time inside other layers' spans
    # and outside their `exec` children is reported under those layers
    exec_s = span_s("exec")
    task_s = spark("exec", "task_s")
    m["exec.exec_s"] = (exec_s, "s")
    m["exec.task_s"] = (task_s, "s")
    m["exec.parallelism"] = (stats.ratio(task_s, exec_s * cores), "ratio")
    for k in ("jobs", "tasks"):
        m[f"exec.{k}"] = (spark("exec", k), "count")
    for k in ("shuffle_bytes", "input_bytes"):
        m[f"exec.{k}"] = (spark("exec", k), "B")
    m["exec.files_read"] = (per_pass(c(o, "fs.open") for o in timed), "count")
    m["exec.rows_per_result"] = (stats.ratio(spark("exec", "input_rows"),
                                             per_pass(o["units"] for o in timed
                                                      if o["kind"] in RESULT_KINDS)),
                                 "ratio")
    self_task = stats.self_times(timed_spans, lambda s: s["spark"]["task_s"])
    for layer in ("lake", "operators"):
        m[f"{layer}.task_s"] = (per_pass([self_task.get(layer, 0.0)]), "s")
    for op, kinds in LAKE_OPS.items():
        sel = [o for o in lake_ops if o["kind"] in kinds]
        m[f"lake.{op}_s"] = (stats.median([o["s"] for o in sel]) if sel else 0.0, "s")
        for r in FS_REQUESTS:
            m[f"lake.{op}.{r}"] = (stats.median([c(o, f"fs.{r}") for o in sel]) if sel else 0.0,
                                   "count")
    gauges = {}
    for g in raw["gauges"]:
        gauges.setdefault(g["name"], []).append(g["value"])

    def gauge(name):
        return stats.median(gauges[name]) if name in gauges else 0.0

    m["lake.sidecar_bytes"] = (gauge("lake.sidecar_bytes"), "B")
    m["lake.live_files"] = (gauge("lake.live_files"), "count")
    m["lake.space_amp"] = (gauge("lake.space_amp"), "ratio")
    ingests = [o for o in lake_ops if o["kind"] == "ingest"]
    m["lake.ingest_rows_per_s"] = (stats.ratio(sum(o["units"] for o in ingests),
                                               sum(o["s"] for o in ingests)), "rows/s")
    exact = [o["s"] for o in timed if o["kind"] == "exact_knn" and o["ok"]]
    m["lake.topk_exact_s"] = (stats.median(exact) if exact else 0.0, "s")
    batch = [o for o in timed if o["kind"] == "batch_knn" and o["ok"]]
    m["lake.topk_batch_qps"] = (stats.ratio(sum(o["units"] for o in batch),
                                            sum(o["s"] for o in batch)), "1/s")
    state = [o["s"] for o in lake_ops if o["kind"] == "state_read"]
    m["lake.state_read_s"] = (stats.median(state) if state else 0.0, "s")
    m["lake.recall_at_10"] = (raw["facts"].get("recall_at_10", 0.0), "ratio")
    for k in KERNELS:
        rates = [o["units"] / o["s"] for o in raw["ops"] if o["kind"] == "kernel"
                 and o["name"] == k and o["ok"]]
        m[f"kernels.{k}_rows_per_s"] = (stats.median(rates) if rates else 0.0, "rows/s")
    for kind in ("near_dup", "minhash_dedup"):
        sel = [o["s"] for o in timed if o["kind"] == kind and o["ok"]]
        m[f"operators.{kind}_s"] = (stats.median(sel) if sel else 0.0, "s")
    dedup = [o for o in timed if o["kind"] == "minhash_dedup" and o["ok"]]
    m["operators.dedup_docs_per_s"] = (stats.ratio(sum(o["units"] for o in dedup),
                                                   sum(o["s"] for o in dedup)), "1/s")
    cands, verified = gauge("operators.candidates"), gauge("operators.verified")
    m["operators.candidates"] = (cands, "count")
    m["operators.verified"] = (verified, "count")
    m["operators.verify_yield"] = (stats.ratio(verified, cands), "ratio")
    selfs = stats.self_times(timed_spans)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (per_pass([selfs.get(layer, 0.0)]), "s")
    # op time outside every layer span is the benchmark's own
    covered = {}
    for s in timed_spans:
        if s["parent"] == -1:
            covered[s["op"]] = covered.get(s["op"], 0.0) + s["end"] - s["start"]
    m["self.bench_s"] = (per_pass(max(0.0, raw["ops"][i]["s"] - covered.get(i, 0.0))
                                  for i in timed_ids), "s")
    # the first pass of a traced run warms up and is left out
    untraced = [p["s"] for p in raw["passes"] if not p["traced"] and p["pass"] > 0]
    traced = [p["s"] for p in raw["passes"] if p["traced"]]
    m["trace.overhead"] = (stats.ratio(stats.median(traced), stats.median(untraced))
                           if traced and untraced else 0.0, "ratio")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {ENGINE_SRC}: run from a source checkout")
    build_s = build()
    deadline = t_start + build_s + RUN_LIMIT_S

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load0, steal0 = os.getloadavg()[0], steal_s()
    extra_setup_s = 0.0
    try:
        data_dir = os.path.join(work, "registry-data")
        if args.workload == "registry":
            import registry_data
            t0 = time.time()
            registry_data.write(args.seed, data_dir)
            extra_setup_s = time.time() - t0
        out = os.path.join(work, "raw.json")
        t0 = time.time()
        raw = run_harness(args, work, out, deadline)
        harness_s = time.time() - t0
        attempted = len(raw["ops"])
        errors = [f"{o['kind']} {o['name']}: {o['err']}" for o in raw["ops"] if not o["ok"]]
        t0 = time.time()
        if args.workload == "registry":
            n, errs = registry_checks(raw, data_dir)
            attempted += n
            errors += errs
        oracle_s = time.time() - t0
        if args.trace:
            metrics = per_layer(raw, args.workload)
            detail = {}
            spans = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            with open(spans, "w") as fh:
                json.dump({"spans": [s for s in raw["spans"] if s is not None],
                           "ops": raw["ops"]}, fh)
            detail["spans_file"] = os.path.relpath(spans, ROOT)
        else:
            metrics, detail = end_to_end(raw, args.workload, extra_setup_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "cores": raw["cores"], "spark": raw["spark"],
        "jvm": raw["jvm"], "loadavg": [load0, os.getloadavg()[0]],
        "steal_s": None if steal0 is None else steal_s() - steal0,
        "build_s": build_s, "harness_s": harness_s, "check_s": raw["check_s"],
        "oracle_s": oracle_s, "facts": {
            k: v for k, v in raw["facts"].items()
            if k not in ("oracle", "timed_rows", "result_dir")},
        "errors": errors[:20]})
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
