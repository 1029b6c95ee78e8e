#!/usr/bin/env python3
"""The repo benchmark: the paper's ingest -> train -> serve pipeline with
its API under open-loop load, and the query registry.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline|registry \
        --seed N --seconds S --trace 0|1

The first run compiles the engine and the harness (perfbench/build.sh).
Each run generates its inputs from the seed, starts one JVM for the
system under test, checks every output, prints a report with every
metric by name and unit, and ends with one JSON line: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. It exits
non-zero when any output is wrong.
"""

import argparse
import json
import math
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import load  # noqa: E402

# Rows through the pipeline; the serving artifacts are built from them.
PIPELINE_ROWS = 20000
BATCH_ROWS = 2000

# Serving load: a warm-up at the reference rate (checked, not measured),
# then the reference rate (below saturation) for --seconds less the
# ladder steps, then the ladder steps.
WARM_S = 2.0
REF_RATE = 8.0
LADDER = [24.0, 48.0]
STEP_S = 1.5
LATENCY_LIMIT_MS = 500.0
TAIL = 0.99

# Registry: a fixed cross-section of the registry, one or two query
# shapes per engine module, over seeded tables of the sf0.01 size. The
# queries run in this fixed order: in a fresh JVM the order moves JIT
# and first-use costs from query to query, and a seed-shuffled order
# doubled the run-to-run spread of the total (0.10 against 0.06 of the
# median, five seeds each).
REGISTRY_LINEITEMS = 60000
REGISTRY_QUERIES = [
    "q01_pricing_summary", "q13_join_revenue_by_nation",  # Queries
    "q33_json_extract",                                   # ScalarQueries
    "q66_asof_join",                                      # AnalyticQueries
    "q183_multi_exists",                                  # StatQueries
    "q174_grouped_topk_agg",                              # TemporalGraphQueries
    "q190_hll_sketch",                                    # SketchQueries
    "q44_stream_batchwriter", "q157_stream_session",      # StreamQueries
    "q82_minhash_aggregator",                             # DedupQueries
    "q53_cosine_knn",                                     # SimilarityQueries
]

JVM_DEADLINE_S = 160
BENCH_DIR = ".bench_build"

END_TO_END = [("setup_s", "s"), ("work_s", "s"), ("op_ms", "ms"),
              ("peak_heap_gb", "GB")]
PER_LAYER = [
    ("batchwriter_s", "s"), ("batchwriter_rows_per_s", "rows/s"),
    ("batch_files", "count"), ("microbatches", "count"),
    ("ingest_read_s", "s"), ("ingest_fallback", "count"),
    ("train_s", "s"), ("train_jobs", "count"), ("train_gap_s", "s"),
    ("train_busy_s", "s"), ("train_tasks", "count"),
    ("train_shuffle_bytes", "bytes"), ("api_load_s", "s"),
] + [(f"route_{r}_{q}_ms", "ms") for r in gen.ROUTES for q in ("p50", "p99")] + [
    ("http_overhead_ms", "ms"), ("gen_late_ms", "ms"),
    ("inflight_max", "count"), ("local_score_us", "us"),
    ("recommend_ms", "ms"), ("lookup_jobs", "count"),
    ("lookup_tasks", "count"),
    ("build_s", "s"), ("planning_s", "s"), ("jobs", "count"),
    ("ms_per_job", "ms"), ("driver_gap_s", "s"), ("executor_run_s", "s"),
    ("executor_cpu_s", "s"), ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def report(name, value, unit, note=""):
    print(f"  {name:<28} {value:>14.4f} {unit}{('  ' + note) if note else ''}")


# --------------------------------------------------------------------
# build and JVM
# --------------------------------------------------------------------

def build(root):
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=root)
    if r.returncode != 0:
        raise BenchError("build failed")


class Jvm:
    """One harness JVM; the same options as tools/run_direct.sh."""

    def __init__(self, root, work, workload, cpus, trace, log):
        bench = os.path.join(root, BENCH_DIR)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(bench, "classes", ".jars")) as fh:
            spark_jars = fh.read().strip()
        cmd = ["java"]
        for p in JDK_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
                "-XX:+UnlockDiagnosticVMOptions",
                "-XX:GCLockerRetryAllocationCount=64",
                # keep every file this run writes inside the checkout:
                # no hsperfdata in the system temp directory, and temp
                # files under .bench_build
                "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}",
                "-cp", f"{bench}/classes:{spark_jars}/*",
                "perfbench.Harness", "--workload", workload, "--dir", work,
                "--cpus", str(cpus), "--trace", str(trace)]
        self.log = open(log, "ab")
        self.deadline = time.monotonic() + JVM_DEADLINE_S
        self.proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log)
        self.lines = queue.Queue()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.proc.stdout:
            self.lines.put(line.decode())
        self.lines.put(None)

    def expect(self, kind):
        """Next `@pb <kind>` payload from the harness."""
        while True:
            try:
                line = self.lines.get(
                    timeout=max(self.deadline - time.monotonic(), 0))
            except queue.Empty:
                raise BenchError(f"harness timed out waiting for {kind}")
            if line is None:
                raise BenchError(f"harness exited before {kind} "
                                 f"(code {self.proc.wait()})")
            if line.startswith(f"@pb {kind} "):
                return json.loads(line[len(kind) + 5:])

    def send(self, line):
        self.proc.stdin.write((line + "\n").encode())
        self.proc.stdin.flush()

    def close(self):
        try:
            self.proc.wait(timeout=max(self.deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            pass
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.reader.join()
        self.log.close()


def harness(ctx, workload, fn=None):
    jvm = Jvm(ctx.root, ctx.work, workload, ctx.cpus, ctx.trace, ctx.log)
    try:
        if fn is not None:
            fn(jvm)
        res = jvm.expect("result")
    finally:
        jvm.close()
    if jvm.proc.returncode != 0:
        raise BenchError(f"harness exited with code {jvm.proc.returncode}")
    return res


# --------------------------------------------------------------------
# checks
# --------------------------------------------------------------------

class Checks:
    def __init__(self):
        self.attempted = self.failed = 0
        self.first = []

    def add(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.first) < 10:
                self.first.append(what)


def check_pipeline_run(run, n, checks):
    batches = os.path.join(run["out"], "batches")
    counts = []
    for d, _, files in os.walk(batches):
        if "_checkpoint" in d:
            continue
        for f in files:
            if f.endswith(".csv"):
                with open(os.path.join(d, f)) as fh:
                    counts.append(sum(1 for _ in fh) - 1)
    checks.add(len(counts) == math.ceil(n / BATCH_ROWS),
               f"{len(counts)} batch files for {n} rows")
    checks.add(all(c <= BATCH_ROWS for c in counts) and sum(counts) == n,
               f"batch rows {sorted(counts)} do not sum to {n}")
    for k in range(1, gen.NUM_MODELS + 1):
        got = run["trained"].get(str(k))
        checks.add(got == gen.slice_bound(n, k),
                   f"model {k} trained on {got} rows")
    checks.add(run["healthy"] is True, "/health not healthy")
    return len(counts)


def response_ok(n):
    """Checks a serve response against what the request asked for."""
    def check(req, status, data):
        route, _, path, _, k = req[:5]
        if status != 200:
            return False
        try:
            body = json.loads(data)
        except ValueError:
            return False
        if route in ("predict1", "predict2"):
            return body.get("model_type") == "clustering" and \
                body.get("prediction") in range(gen.NUM_MODELS)
        if route == "predict3":
            recs = body.get("recommendations", [])
            d = [r["cosine_distance"] for r in recs]
            return len(recs) == 5 and d == sorted(d)
        if route == "predict4":
            return isinstance(body.get("predicted_energy_kcal"), (int, float))
        if route == "predict5":
            return isinstance(body.get("is_high_protein"), bool) and \
                0.0 <= body.get("probability", -1) <= 1.0
        if route == "stats":
            return body.get("total_records") == gen.slice_bound(n, k)
        if route == "health":
            return body.get("overall_status") == "healthy"
        if route == "find_allergen":
            term = path.rsplit("=", 1)[1]
            m = body.get("matches", [])
            return body.get("count") == len(m) and all(
                term in x["description"].lower() and
                x["id"] < gen.slice_bound(n, k) for x in m)
        if route == "food_details":
            return body.get("id") == int(path.rsplit("/", 1)[1]) and \
                set(gen.NUTRIENTS + ["description"]) <= set(body.get("details", {}))
        return False
    return check


# --------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------

def ms(x):
    return x * 1000.0


def engine_layer(windows, build_s=0.0):
    jobs = sum(w["jobs"] for w in windows)
    return {
        "build_s": build_s,
        "planning_s": sum(w["planning_ms"] for w in windows) / 1e3,
        "jobs": jobs,
        "ms_per_job": sum(w["job_ms"] for w in windows) / jobs if jobs else 0.0,
        "driver_gap_s": sum(w["gap_ms"] for w in windows) / 1e3,
        "executor_run_s": sum(w["run_ms"] for w in windows) / 1e3,
        "executor_cpu_s": sum(w["cpu_ns"] for w in windows) / 1e9,
        "shuffle_bytes": sum(w["shuffle_bytes"] for w in windows),
        "spill_bytes": sum(w["spill_bytes"] for w in windows),
    }


def summarize_step(outs, rate):
    lat = [ms(o.latency) for o in outs]
    tail = load.pick(lat, TAIL)
    grew = load.backlog_grew(outs)
    bad = sum(1 for o in outs if not o.ok)
    meets = tail[1] <= LATENCY_LIMIT_MS and not grew and bad == 0
    print(f"  step {rate:5.1f} req/s: n={len(outs)} p50={statistics.median(lat):.1f} ms "
          f"p{tail[0] * 100:.1f}={tail[1]:.1f} ms failed={bad} "
          f"backlog={'growing' if grew else 'steady'}, "
          f"{'meets' if meets else 'misses'} the {LATENCY_LIMIT_MS:g} ms limit")
    return meets


def pipeline_layer(run):
    stages, tw = run["stages"], run["train_engine"]
    return {
        "batchwriter_s": stages["batchwriter"],
        "batchwriter_rows_per_s": PIPELINE_ROWS / stages["batchwriter"],
        "batch_files": run["batch_files"],
        "microbatches": run["microbatches"],
        "ingest_read_s": stages["ingest"],
        "ingest_fallback": int(run["fallback"]),
        "train_s": stages["train"],
        "train_jobs": tw["jobs"], "train_tasks": tw["tasks"],
        "train_busy_s": tw["busy_ms"] / 1e3, "train_gap_s": tw["gap_ms"] / 1e3,
        "train_shuffle_bytes": tw["shuffle_bytes"],
        **engine_layer([run["engine"]]),
    }


def run_pipeline(ctx, checks):
    gen.write_food_messages(ctx.seed, PIPELINE_ROWS, os.path.join(ctx.work, "input"))
    ref_s = max(ctx.seconds - STEP_S * len(LADDER), 4.0)
    plan = [("warm-up", REF_RATE, WARM_S), ("reference", REF_RATE, ref_s)] + \
        [("ladder", r, STEP_S) for r in LADDER]
    total = sum(int(rate * secs) for _, rate, secs in plan)
    reqs = [(route, method, path,
             json.dumps(body).encode() if body is not None else None, k)
            for route, method, path, body, k in
            gen.requests(ctx.seed, PIPELINE_ROWS, total)]
    payloads = [json.loads(r[3]) for r in reqs if r[0] in ("predict1", "predict2")][:50]
    with open(os.path.join(ctx.work, "payloads.json"), "w") as fh:
        json.dump(payloads, fh)
    check = response_ok(PIPELINE_ROWS)
    steps, state = [], {}

    def drive(jvm):
        state["run"] = jvm.expect("pipeline")
        port = jvm.expect("ready")["port"]
        at = 0
        for name, rate, secs in plan:
            due = load.schedule(rate, secs, time.perf_counter() + 0.05)
            outs, inflight = load.open_loop(port, reqs[at:at + len(due)], due,
                                            ctx.cpus, check)
            at += len(due)
            steps.append((name, rate, outs, inflight))
        jvm.send("done")

    res = harness(ctx, "pipeline", drive)
    run = {**state["run"], **res}
    run["batch_files"] = check_pipeline_run(run, PIPELINE_ROWS, checks)
    for _, _, outs, _ in steps:
        for o in outs:
            checks.add(o.ok, f"{o.req[2]} -> {o.status}")
    print(f"pipeline: {PIPELINE_ROWS} rows through a JSON-lines file stream "
          "standing in for Kafka (the Kafka connector is not on the classpath)")
    report("pipeline_s", run["pipeline_s"], "s",
           "rows handed to the source -> /health healthy, in a fresh JVM")
    for stage in ("batchwriter", "ingest", "train", "api_load", "health"):
        report(f"  {stage}_s", run["stages"][stage], "s")
    print(f"serving: open loop from {ctx.cpus} threads; {WARM_S:g} s warm-up, "
          f"{REF_RATE:g} req/s (reference) for {ref_s:.1f} s, then "
          f"{', '.join(f'{r:g}' for r in LADDER)} req/s for {STEP_S:g} s each")
    max_rps = 0.0
    for name, rate, outs, _ in steps[1:]:
        if summarize_step(outs, rate) and rate > max_rps:
            max_rps = rate
    ref = steps[1][2]
    score = [ms(o.latency) for o in ref if o.req[0] in gen.SCORE_ROUTES]
    lookup = [ms(o.latency) for o in ref if o.req[0] in gen.LOOKUP_ROUTES]
    for cls, lat in (("score", score), ("lookup", lookup)):
        tail = load.pick(lat, TAIL)
        report(f"{cls}_p50_ms", statistics.median(lat), "ms", f"n={len(lat)}")
        report(f"{cls}_p99_ms", tail[1], "ms",
               f"reported at p{tail[0] * 100:.1f}, n={tail[2]}")
    report("max_rps", max_rps, "req/s",
           f"highest rate with p{TAIL * 100:g} <= {LATENCY_LIMIT_MS:g} ms, "
           "no failure and a steady backlog")
    # the mean of the per-route medians: each route's median is steady
    # where a median or mean over the mixed routes is not
    op_ms = statistics.fmean(
        statistics.median(ms(o.latency) for o in ref if o.req[0] == r)
        for r in gen.ROUTES)
    report("op_ms", op_ms, "ms", "mean of the per-route medians")
    e2e = {"work_s": run["pipeline_s"], "op_ms": op_ms}
    layer = {}
    if ctx.trace:
        layer.update(pipeline_layer(run))
        for r in gen.ROUTES:
            rl = [ms(o.latency) for o in ref if o.req[0] == r]
            layer[f"route_{r}_p50_ms"] = load.pick(rl, 0.5)[1]
            layer[f"route_{r}_p99_ms"] = load.pick(rl, TAIL)[1]
        n_lookup = sum(1 for _, _, outs, _ in steps for o in outs
                       if o.req[0] in gen.LOOKUP_ROUTES)
        eng = res["load_engine"]
        layer.update({
            "api_load_s": run["stages"]["api_load"],
            "local_score_us": res["local_score_us"],
            "recommend_ms": res["recommend_ms"],
            "http_overhead_ms": statistics.median(score) - res["local_score_us"] / 1e3,
            "gen_late_ms": ms(max(o.late for o in ref)),
            "inflight_max": max(s[3] for s in steps),
            "lookup_jobs": eng["jobs"] / n_lookup,
            "lookup_tasks": eng["tasks"] / n_lookup,
        })
        spans = [{"name": f"http.{o.req[0]}", "step": name, "path": o.req[2],
                  "due": o.due, "sent": o.sent, "done": o.done, "status": o.status}
                 for name, _, outs, _ in steps for o in outs]
        with open(os.path.join(ctx.work, "spans-client.json"), "w") as fh:
            json.dump(spans, fh)
    return res, e2e, layer


def duckdb_counts(data, oracle):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")
    return {name: con.execute(f"SELECT COUNT(*) FROM ({sql}) AS q").fetchone()[0]
            for name, sql in oracle.items()}


def run_registry(ctx, checks):
    data = os.path.join(ctx.work, "data")
    gen.registry_tables(ctx.seed, data, REGISTRY_LINEITEMS)
    names = list(REGISTRY_QUERIES)
    with open(os.path.join(ctx.work, "queries.txt"), "w") as fh:
        fh.write("\n".join(names) + "\n")
    res = harness(ctx, "registry")
    expected = duckdb_counts(data, res["oracle"])
    for q in res["queries"]:
        checks.add(q["error"] == "" and q["count"] == expected.get(q["name"]),
                   f"{q['name']}: count {q['count']} vs oracle "
                   f"{expected.get(q['name'])} {q['error']}")
    times = [q["wall_s"] for q in res["queries"]]
    tail = load.pick(times, 0.9)
    for q in res["queries"]:
        report(f"  {q['name']}", q["wall_s"], "s", f"count {q['count']}")
    print(f"registry: {len(names)} queries over {REGISTRY_LINEITEMS} lineitems, "
          "in a fixed order, each timed to count()")
    report("registry_s", sum(times), "s")
    report("query_p50_s", statistics.median(times), "s", f"n={len(times)}")
    report("query_p90_s", tail[1], "s", f"reported at p{tail[0] * 100:.1f}, n={tail[2]}")
    report("op_ms", ms(statistics.median(times)), "ms", "query_p50_s in ms")
    e2e = {"work_s": sum(times), "op_ms": ms(statistics.median(times))}
    layer = {}
    if ctx.trace:
        layer.update(engine_layer([q["engine"] for q in res["queries"]],
                                  sum(q["build_s"] for q in res["queries"])))
    return res, e2e, layer


WORKLOADS = {"pipeline": run_pipeline, "registry": run_registry}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    bench = os.path.join(root, BENCH_DIR)
    work = os.path.join(bench, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(bench, "logs"), exist_ok=True)
    ctx = types.SimpleNamespace(root=root, work=work, seed=args.seed, seconds=args.seconds,
              trace=args.trace, cpus=len(os.sched_getaffinity(0)),
              log=os.path.join(bench, "logs", f"{args.workload}.log"))
    try:
        build(root)
        checks = Checks()
        print(f"== {args.workload} seed={args.seed} seconds={args.seconds:g} "
              f"trace={args.trace} cpus={ctx.cpus}")
        res, e2e, layer = WORKLOADS[args.workload](ctx, checks)
    except BenchError as e:
        print(f"benchmark error: {e} (harness log: {ctx.log})", file=sys.stderr)
        return 2
    e2e["setup_s"] = statistics.median(res["setup_s"])
    e2e["peak_heap_gb"] = res["peak_heap_gb"]
    report("setup_s", e2e["setup_s"], "s", "median of the set-up rounds "
           + ", ".join(f"{s:.3f}" for s in res["setup_s"]))
    report("cold_setup_s", res["setup_s"][0], "s",
           "round 1: JVM start to a warm session (not gated)")
    report("peak_heap_gb", e2e["peak_heap_gb"], "GB",
           "largest heap left after any collection during the work")
    report("failed_ratio", checks.failed / max(checks.attempted, 1), "failed/attempted",
           f"{checks.failed} of {checks.attempted}")
    for what in checks.first:
        print(f"  MISMATCH {what}")
    if args.trace:
        traces = os.path.join(bench, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in ("spans-jvm.json", "spans-client.json"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), os.path.join(
                    traces, f"{args.workload}-seed{args.seed}-{f}"))
        overhead(bench, args.workload, e2e)
        metrics = {n: {"value": layer.get(n, 0), "unit": u} for n, u in PER_LAYER}
        for n, u in PER_LAYER:
            report(n, layer.get(n, 0), u)
    else:
        with open(os.path.join(bench, f"untraced-{args.workload}.json"), "w") as fh:
            json.dump(e2e, fh)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": checks.failed == 0, "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}))
    return 0 if checks.failed == 0 else 1


def overhead(bench, workload, traced):
    """Tracing overhead: this traced run against the last untraced run
    of the same workload in this checkout."""
    path = os.path.join(bench, f"untraced-{workload}.json")
    if not os.path.exists(path):
        print("  tracing overhead: no untraced run of this workload to compare")
        return
    with open(path) as fh:
        base = json.load(fh)
    for n, u in END_TO_END:
        if n not in base:
            continue
        d = traced[n] - base[n]
        print(f"  tracing overhead {n:<14} {d:+.4f} {u} "
              f"({100 * d / base[n]:+.1f}% vs the last untraced run)")


if __name__ == "__main__":
    sys.exit(main())
