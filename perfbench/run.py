#!/usr/bin/env python3
"""graft benchmark: one command per workload, outputs checked, metrics printed.

Usage, from the repository root:

    python3 perfbench/run.py --workload fixture_mix --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists):

* ``fixture_mix``: t97 plus a fixed, family-spread, cost-stratified sample
  of the registered queries, in a seeded order, on a half-sf0.1 corpus,
  fixtures cached before timing as ``graft.Bench`` does; one cold pass,
  then warm passes.
* ``scan_scale``: the eight Bench anchor queries plus a seeded sample of
  scan-rooted queries on a multi-file corpus ``--scan-factor`` times larger
  than sf0.1, read from parquet with no fixture cache.
* ``lake_dml``: one lake table created through ``GraftCatalog`` from seeded
  rows, then a seeded stream of INSERT / MERGE INTO / UPDATE / DELETE
  commits, an OPTIMIZE ... COMPACT after every four, and a filtered scan
  after every commit.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same plan
with the tracing listeners attached and prints the per-layer metrics. The
last line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The full record of a run
(environment, per-item samples, failures, trace accounting, spans) goes to
``perfbench/.work/results/``; ``perfbench/compare.py`` summarizes records.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import lakemodel  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(WORK, "results")
CORPUS_VERSION = "1"  # bump when Corpus.scala changes what it writes
SCAN_FACTOR = 20      # scan_scale corpus size, as a multiple of sf0.1

JVM_HEAP = "4g"
# set-ups per run, setup_s being their median: lake_dml's takes about 1 s,
# so it affords more for a steadier median than fixture_mix's 4-5 s
SETUP_REPS = {"fixture_mix": 3, "lake_dml": 5, "scan_scale": 3}
MIN_WARM_PASSES = 3
ITEM_DEADLINE_S = 40.0
# Wall limit of a run once the build and the corpus exist (scan_scale is
# not gated and may run longer). The harness JVM gets what is left of it
# less POST_S, the time kept for the checks after it; items still due when
# its budget is spent fail as `not run`.
RUN_LIMIT_S = {"fixture_mix": 170.0, "lake_dml": 170.0, "scan_scale": 880.0}
POST_S = 20.0
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# graft.Bench's session conf. Every run records the keys whose effective
# value differs; None means "differs by design" (per-run directories).
BENCH_CONF = {
    "spark.sql.shuffle.partitions": "<cores>",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.sql.extensions": "graft.functions.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.cteRecursionRowLimit": "32000000",
    "spark.sql.sources.v2.bucketing.enabled": "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled": "true",
    "spark.graft.checkpoint.dir": None,
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}

ANCHORS = ["q1_pricing_summary", "q3_join3_revenue_top10",
           "q21_window_topk_per_customer", "q43_tumbling_1h",
           "q11_count_distinct", "t49_token_counts", "t51_exact_dedup_stats",
           "v61_cosine_topk"]
# fixture_mix: t97, the cheapest of the six iterative queries (q213, t71,
# t63, v68, t97, v93), plus one query from each of eight cost strata of
# pool.tsv's non-iterative queries no slower than 0.8 s warm (the three
# queries nearest each evenly spaced cost rank), each from a different
# operator module. The sample is fixed, so the spread between seeds
# measures the run, not which queries a seed drew; the seed sets their
# order.
FIXTURE_ITEMS = [
    "t97_token_pagerank",            # Text, iterative
    "q91_regex_family",              # FunctionTours3
    "q102_group_mode",               # Aggregates
    "q24_window_lag_diff",           # Windows
    "v80_norm_outliers",             # Vectors
    "q108_concat_by_name",           # SortsSets
    "q205_not_in_subquery",          # Subqueries
    "q248_lake_widen",               # LakeOps
    "t66_repetition_filter",         # Text
]
FIXTURE_SCALE = 0.5   # fixture_mix corpus size, as a multiple of sf0.1
SCAN_EXTRA = 2        # scan_scale: seeded scan-rooted queries beside the anchors
STRATUM_WIDTH = 3

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
PER_LAYER = [
    "catalyst.actions", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "catalyst.aqe_replans",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.job_s", "scheduler.driver_gap_s",
    "operators.build_s", "operators.persisted_rdds", "operators.ckpt_mb",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.busy_frac",
    "executor.shuffle_write_mb", "executor.shuffle_write_s",
    "executor.fetch_wait_s", "executor.spill_mb", "executor.peak_mem_mb",
    "storage.input_mb", "storage.input_rows", "storage.cache_mb",
    "storage.output_mb",
    "lake.append_s", "lake.merge_s", "lake.update_s", "lake.delete_s",
    "lake.optimize_s", "lake.files_written", "lake.bytes_written",
    "lake.files_live", "lake.files_planned",
    "latency_p50_s", "latency_p90_s", "input_mb_per_s", "peak_rss_mb",
    "commit_p50_s", "read_after_write_p50_s", "write_amp", "space_amp",
    "failed_frac", "trace.warm_s", "trace.accounting_fail", "trace.planning_bound",
    "trace.scheduling_bound", "trace.executor_bound",
]
MAX_LAYERS = {"executor.peak_mem_mb", "operators.persisted_rdds", "operators.ckpt_mb"}
LAKE_KIND_LAYER = {"insert": "lake.append_s", "merge": "lake.merge_s",
                   "update": "lake.update_s", "delete": "lake.delete_s",
                   "optimize": "lake.optimize_s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def box(n):
    """What two runs must share to be compared: cores, memory, CPU model."""
    with open("/proc/meminfo") as f:
        mem = next(int(l.split()[1]) // 1048576 for l in f if l.startswith("MemTotal:"))
    with open("/proc/cpuinfo") as f:
        model = next((l.split(":", 1)[1].strip() for l in f
                      if l.startswith("model name")), "")
    return {"nproc": n, "mem_gb": mem, "cpu": model}


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None  # a plain checkout: the source digest identifies it
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, timeout=10,
                              capture_output=True, text=True).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ------------------------------------------------------------ query plans

def read_pool():
    """perfbench/pool.tsv: the registered queries the benchmark samples,
    with their family (operator module), warm time on the reference box
    and whether they are scan-rooted."""
    pool = []
    with open(os.path.join(HERE, "pool.tsv")) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            name, family, warm, scan_rooted = line.rstrip("\n").split("\t")[:4]
            pool.append({"name": name, "family": family, "warm": float(warm),
                         "scan_rooted": scan_rooted == "1"})
    return pool


def strata(queries, k, width):
    """``k`` narrow cost strata: the ``width`` queries nearest each evenly
    spaced rank of the queries ordered by warm time."""
    queries = sorted(queries, key=lambda q: (q["warm"], q["name"]))
    for i in range(k):
        c = int((i + 0.5) * len(queries) / k)
        yield queries[max(0, c - width // 2):c - width // 2 + width]


def strata_sample(rng, queries, k, width):
    """One draw from each cost stratum, preferring a family not drawn yet,
    so every seed gets a sample of nearly the same cost spread over
    different operator modules."""
    picked, families = [], set()
    for stratum in strata(queries, k, width):
        fresh = [q for q in stratum if q["family"] not in families] or stratum
        q = rng.choice(fresh)
        picked.append(q["name"])
        families.add(q["family"])
    return picked


def query_items(workload, rng, named):
    if named:
        items = list(named)
    elif workload == "fixture_mix":
        items = list(FIXTURE_ITEMS)
    else:
        scan_pool = [q for q in read_pool() if q["scan_rooted"] and q["name"] not in ANCHORS]
        items = ANCHORS + strata_sample(rng, scan_pool, SCAN_EXTRA, STRATUM_WIDTH)
    rng.shuffle(items)
    return items


# ----------------------------------------------------------------- corpus

def corpus_spec(workload, factor):
    if workload == "fixture_mix":
        return {"name": f"fixture_x{FIXTURE_SCALE:g}", "scale": FIXTURE_SCALE, "files": 1}
    return {"name": f"scan_x{factor:g}", "scale": float(factor), "files": 64}


def ensure_corpus(spec, classes, run_dir, n):
    """Generates the corpus once per checkout; corpora are seed-independent
    (the seed picks the order, and scan_scale's sample). Returns the corpus
    path and the generation time, or None when the corpus already existed."""
    path = os.path.join(WORK, "corpus", spec["name"])
    ready = os.path.join(path, "_READY_" + CORPUS_VERSION)
    if os.path.exists(ready):
        return path, None
    shutil.rmtree(path, ignore_errors=True)
    log(f"generating corpus {spec['name']}")
    plan = {"mode": "prep", "cores": n, "work": run_dir,
            "corpora": [{"dir": path, "scale": spec["scale"], "files": spec["files"]}]}
    took = jvm(classes, run_dir, plan, timeout=600)["prep_s"][path]
    open(ready, "w").close()
    return path, took


def jvm(classes, run_dir, plan, timeout):
    for d in ("tmp", "local", "ckpt"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "raw.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    if os.path.exists(out_path):
        os.remove(out_path)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.spark_jars(os.getcwd()),
            "perfbench.Main", plan_path, out_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "ab") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=logf)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"harness JVM failed ({code}); log tail:\n{tail}")
    with open(out_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p
    lo = int(k)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (k - lo)


def fail(e, reason):
    if e["ok"]:
        e["ok"], e["reason"] = False, reason


def check_queries(raw, corpus):
    """Marks wrong executions: a result hash that differs between passes,
    or a DuckDB oracle mismatch (which marks every execution of the query)."""
    by_item = {}
    for e in raw["execs"]:
        by_item.setdefault(e["item"], []).append(e)
    for es in by_item.values():
        hashes = sorted({e["hash"] for e in es if e["ok"]})
        if len(hashes) > 1:
            for e in es:
                fail(e, f"result hash differs between passes: {hashes}")
    wrong = oracle.check(corpus, os.path.join(raw["run_dir"], "out"), raw["checks"])
    for item, reason in wrong.items():
        for e in by_item.get(item, []):
            fail(e, f"oracle: {reason}")
    return []


def check_lake(raw, plan):
    """Marks scans whose result differs from the replay and returns the
    final-table failure, if any."""
    lake = raw["lake"]
    expect = {}
    model = lakemodel.LakeModel.replay(plan, lake["ops_done"], expect.__setitem__)
    for i, e in enumerate(raw["execs"]):
        if i in expect and e["ok"]:
            got = [int(v or 0) for v in e["result"][0]]
            if got != expect[i]:
                fail(e, f"scan {got} != replay {expect[i]}")
    final = [int(v or 0) for v in lake["final"]]
    if final != model.checksum():
        return [{"item": "final", "reason": f"table {final} != replay {model.checksum()}"}]
    return []


def warm_groups(raw, lake):
    """Item -> its warm executions. Query workloads: passes after the first.
    lake_dml: every execution of an operation kind after its first."""
    groups, cold, seen = {}, [], set()
    for e in raw["execs"]:
        if not e["ok"]:
            continue
        is_cold = e["item"] not in seen if lake else e["pass"] == 0
        seen.add(e["item"])
        (cold.append(e) if is_cold else groups.setdefault(e["item"], []).append(e))
    return cold, groups


def end_to_end(raw, cold, groups, lake, model_bytes=None):
    warm = [e for es in groups.values() for e in es]
    lat = [e["sec"] for e in warm]
    reads = [e for e in warm if e["item"] == "scan"] if lake else warm
    m = {
        "setup_s": median(raw["setup_s"]),
        "cold_s": sum(e["sec"] for e in cold),
        "warm_s": sum(median([e["sec"] for e in es]) for es in groups.values()),
        "latency_p50_s": median(lat),
        "latency_p90_s": percentile(lat, 0.9),
        "input_mb_per_s": sum(e["input_mb"] for e in reads)
        / max(1e-9, sum(e["sec"] for e in reads)),
        "peak_rss_mb": raw["peak_rss_mb"],
        "warm_executions": len(lat),
    }
    if lake:
        lk = raw["lake"]
        m["commit_p50_s"] = median([e["sec"] for e in warm if e["item"] != "scan"])
        m["read_after_write_p50_s"] = median([e["sec"] for e in reads])
        m["write_amp"] = sum(e["bytes_written"] for e in raw["execs"]) / max(1, model_bytes)
        m["space_amp"] = lk["dir_bytes"] / max(1, lk["snapshot_bytes"])
    return m


def layer_metrics(raw, groups, n, lake):
    """Per-layer metrics of a traced run: for each item the median over
    its warm executions, summed over items (the maximum, for peak
    metrics); busy_frac is recomputed from the sums."""
    out = {k: 0.0 for k in PER_LAYER}
    for item, es in groups.items():
        recs = []
        for e in es:
            layers = {k: v for k, v in e["layers"].items() if k != "accounting"}
            layers["operators.build_s"] = e.get("build_s", 0.0)
            layers["lake.files_written"] = e.get("files_written", 0)
            layers["lake.bytes_written"] = e.get("bytes_written", 0)
            if item in LAKE_KIND_LAYER:
                layers[LAKE_KIND_LAYER[item]] = e["sec"]
            recs.append(layers)
        for k in recs[0]:
            v = median([r[k] for r in recs])
            out[k] = max(out[k], v) if k in MAX_LAYERS else out[k] + v
    if out["scheduler.job_s"] > 0:
        out["executor.busy_frac"] = out["executor.run_s"] / (n * out["scheduler.job_s"])
    out["storage.cache_mb"] = raw["cache_mb"]
    if lake:
        planned = [e["files_planned"] for e in raw["execs"] if e["item"] == "scan"]
        out["lake.files_planned"] = sum(planned) / max(1, len(planned))
        out["lake.files_live"] = float(raw["lake"]["files_live"])
    return out


def accounting(raw, groups):
    """Per item: the layer split of its median-wall warm execution, its
    bound label, and whether the accounting held on every execution."""
    every = {}
    for e in raw["execs"]:
        every.setdefault(e["item"], []).append(e["layers"]["accounting"]["ok"])
    rows = {}
    for item, es in groups.items():
        e = sorted(es, key=lambda x: x["sec"])[len(es) // 2]
        rows[item] = dict(e["layers"]["accounting"], all_ok=all(every[item]))
    return rows


def conf_drift(conf, n):
    drift = {}
    for k, want in BENCH_CONF.items():
        want = str(n) if want == "<cores>" else want
        if conf.get(k) is None or (want is not None and conf[k] != want):
            drift[k] = {"bench": want, "here": conf.get(k)}
    return drift


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see module docstring)")
    ap.add_argument("--workload", required=True,
                    choices=["fixture_mix", "scan_scale", "lake_dml"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scan-factor", type=float, default=SCAN_FACTOR,
                    help="scan_scale corpus size as a multiple of sf0.1")
    ap.add_argument("--items", nargs="+", default=[],
                    help="run these registered queries instead of the seeded sample")
    args = ap.parse_args()

    started = time.time()
    root = os.getcwd()
    load_start = loadavg()
    n = len(os.sched_getaffinity(0))
    lake = args.workload == "lake_dml"
    classes, digest, compile_s = build.build(root)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    rng = random.Random(args.seed)
    plan = {"mode": "run", "workload": args.workload, "cores": n, "work": run_dir,
            "seconds": args.seconds, "trace": args.trace, "deadline_s": ITEM_DEADLINE_S,
            "min_warm": MIN_WARM_PASSES, "setup_reps": SETUP_REPS[args.workload], "corpus": ""}
    prep_s = None
    if lake:
        plan.update(lakemodel.plan(rng, os.path.join(run_dir, "lake")))
    else:
        spec = corpus_spec(args.workload, args.scan_factor)
        plan["corpus"], prep_s = ensure_corpus(spec, classes, run_dir, n)
        plan["items"] = query_items(args.workload, rng, args.items)
    # the run's clock starts once the build and the corpus exist
    plan["budget_s"] = RUN_LIMIT_S[args.workload] - POST_S
    raw = jvm(classes, run_dir, plan, timeout=plan["budget_s"] + POST_S / 2)
    raw["run_dir"] = run_dir

    failures = check_lake(raw, plan) if lake else check_queries(raw, plan["corpus"])
    failures += [{"item": e["item"], "pass": e["pass"], "reason": e["reason"]}
                 for e in raw["execs"] if not e["ok"]]
    attempted = len(raw["execs"]) + (1 if lake else 0)
    cold, groups = warm_groups(raw, lake)
    model_bytes = (lakemodel.LakeModel.replay(plan, raw["lake"]["ops_done"]).user_bytes
                   if lake else None)
    m = end_to_end(raw, cold, groups, lake, model_bytes)
    m["failed_frac"] = len(failures) / attempted

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": n, "box": box(n),
        "load_start": load_start, "load_end": loadavg(),
        "commit": source_commit(root), "source_digest": digest,
        "corpus": plan["corpus"], "scan_factor": args.scan_factor,
        "jvm": {k: raw["env"][k] for k in ("spark_version", "java_version", "java_vm")},
        "conf": raw["env"]["conf"], "conf_drift_from_bench": conf_drift(raw["env"]["conf"], n),
        "compile_s": compile_s, "corpus_prep_s": prep_s, "setup_runs_s": raw["setup_s"],
        "measured_s": raw["measured_s"], "wall_s": None, "metrics": m,
        "failures": failures, "items": plan.get("items"), "execs": raw["execs"],
    }
    if args.trace:
        layers = layer_metrics(raw, groups, n, lake)
        acc = accounting(raw, groups)
        layers["trace.warm_s"] = m["warm_s"]
        layers["trace.accounting_fail"] = float(sum(not r["all_ok"] for r in acc.values()))
        for b in ("planning", "scheduling", "executor"):
            layers[f"trace.{b}_bound"] = float(sum(r["bound"] == b for r in acc.values()))
        for k in ("latency_p50_s", "latency_p90_s", "input_mb_per_s", "peak_rss_mb",
                  "commit_p50_s", "read_after_write_p50_s", "write_amp", "space_amp",
                  "failed_frac"):
            layers[k] = float(m.get(k, 0.0))
        record["layers"], record["accounting"] = layers, acc
        metrics = {k: {"value": layers[k], "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}

    os.makedirs(RESULTS, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(started * 1000)}"
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(RESULTS, tag + ".spans.jsonl"))
    record["wall_s"] = time.time() - started
    with open(os.path.join(RESULTS, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for fl in failures[:10]:
        log(f"FAILED {fl}")
    log(f"{args.workload} seed={args.seed} trace={args.trace} "
        f"wall={record['wall_s']:.1f}s: " + ", ".join(f"{k}={v:.4g}" for k, v in m.items()))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


def layer_unit(name):
    for suffix, unit in (("_mb_per_s", "MB/s"), ("_s", "s"), ("_mb", "MB"),
                         ("_frac", "ratio"), ("_amp", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
