#!/usr/bin/env python3
"""Repo benchmark: runs one workload in one JVM, checks its outputs, and
prints the metrics as the last stdout line (one JSON object).

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
The first run in a checkout builds the program and the harness into
.bench_build/ and computes the DuckDB oracle answers once; later runs
reuse both. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data")
# a run must end within 180 s; leave room for checking and reporting
JVM_TIMEOUT_S = 165
HEAP = "2g"
# C1 only: the JIT finishes its work within the cold iteration instead of
# compiling on every core through the timed ones (with tiered C2, a warm
# retail iteration on 4 cores spent 35 s of CPU, 14 s of it in program
# threads). C1's default 48 MB code cache fills with Spark's generated
# classes, after which new code runs interpreted; tiered's 240 MB does not.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]

# workload → the scale-factor directory under perfbench/data it reads
WORKLOADS = {"retail_dag": "sf0.01", "operator_queries": "sf0.001"}
QUERY_WORKLOADS = {"operator_queries"}
# source tables the retail DAG extracts (graft.sources.Tables)
RETAIL_INPUTS = ["lineitem", "orders", "customer", "nation", "part", "supplier"]

END_TO_END = {
    "setup_s": "s", "first_iter_s": "s", "iter_s": "s", "query_gmean_s": "s",
    "heap_peak_mb": "MB",
}
LAYERS = ["sources", "sinks", "Pipeline", "TrainingDataPipeline"] + [
    "operators." + m for m in ("Silver", "DataQuality", "Gold", "Athena", "Dedup",
                               "TextAnalysis", "Curation", "Graph", "Similarity",
                               "Clustering", "Multimodal")] + ["other"]
LAYER_COUNTERS = {"jobs": "count", "job_s": "s", "task_s": "s", "shuffle_write_mb": "MB"}
SPARK_METRICS = {
    "construct_s": "s", "jobs_at_build": "count", "catalyst_s": "s", "exec_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count", "task_s": "s", "gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "core_util": "frac", "driver_gap_s": "s", "sched_delay_s": "s",
    "failed_tasks": "count",
}
PER_LAYER = dict(
    [(f"{l}.{c}", u) for l in LAYERS for c, u in LAYER_COUNTERS.items()]
    + [("sources.input_mb", "MB"), ("sinks.bytes_written_mb", "MB"),
       ("sinks.files_written", "count"),
       ("operators.ArtifactCache.builds", "count"),
       ("operators.ArtifactCache.build_s", "s"),
       ("lake.bytes_per_input_byte", "ratio"),
       ("trace.iter_s", "s")]
    + [(f"spark.{k}", u) for k, u in SPARK_METRICS.items()])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_jars():
    """The jars directory build.sbt compiles against (its `unmanagedBase`)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase jars directory")
    return m.group(1)


def build():
    """Compile the program and the harness (make skips it when up to date)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala: run from the repo root")
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}")
    r = subprocess.run(["make", "-s", "-C", BENCH, f"OUT={BUILD}", f"SPARK_JARS={jars}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    return jars


def java(jars, args, work, timeout):
    opens = [f"java.base/{p}" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(BUILD, "classes") + os.pathsep +
            os.path.join(jars, "*"), "perfbench.Harness"] + args
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded {timeout:.0f} s; log: {logf}")
    if rc != 0:
        with open(logf) as lf:
            tail = lf.read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")


# ---------------------------------------------------------------- oracles

def oracle_answers(jars, workload, work):
    """DuckDB answers of the workload's keys, computed once per (scale
    factor, SQL text) and cached under .bench_build/oracle."""
    sf = WORKLOADS[workload]
    import duckdb
    spec = os.path.join(BUILD, "oracle_sql.json")
    built = os.path.join(BUILD, "classes", ".built")
    if not os.path.exists(spec) or os.path.getmtime(spec) < os.path.getmtime(built):
        java(jars, ["--oracles", spec + ".tmp"], work, JVM_TIMEOUT_S)
        os.replace(spec + ".tmp", spec)
    with open(spec) as f:
        entries = [e for e in json.load(f) if e["workload"] == workload]
    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)
    answers, con = {}, None
    for e in entries:
        digest = hashlib.sha256((sf + "\0" + e["sql"]).encode()).hexdigest()[:24]
        path = os.path.join(cache, f"{e['key']}-{digest}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                sf_dir = os.path.join(DATA, sf)
                for name in sorted(os.listdir(sf_dir)):
                    con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS SELECT * "
                                f"FROM read_parquet('{os.path.join(sf_dir, name)}')")
            con.execute(e["sql"]).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        answers[e["key"]] = path
    return answers


# ----------------------------------------------------------------- checks

def load_compare():
    """The comparison rule of the repo's DuckDB correctness gate
    (tools/localverify.py)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import localverify
    return localverify.compare, localverify.norm


def frame_digest(df, norm):
    df = norm(df.copy())
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def check_queries(res, answers):
    """(iteration, key) → failure message for every query execution whose
    output differs from its DuckDB oracle, in every pass, cold and warm."""
    import pandas as pd
    compare, _ = load_compare()
    dirs = {it["index"]: it["check"].get("check_dir") for it in res["iterations"]}
    oracles, bad = {}, {}
    for op in res["ops"]:
        key = op["name"]
        if op["error"] or key == "TrainingDataPipeline.run":
            continue
        if key not in answers:
            bad[(op["iter"], key)] = "no oracle SQL for this key"
            continue
        if key not in oracles:
            oracles[key] = pd.read_pickle(answers[key])
        try:
            ok, msg = compare(pd.read_parquet(os.path.join(dirs[op["iter"]], key)),
                              oracles[key])
        except Exception as e:  # unreadable output is a failed check
            ok, msg = False, f"{type(e).__name__}: {e}"
        if not ok:
            bad[(op["iter"], key)] = msg
    return bad


def check_curation(check):
    """Failure message for the curation run's outputs, or None. Stage
    counts never increase, the DQ verdict holds, and the manifest holds
    exactly the last stage's documents, each once, in shuffle-key order,
    with the source table's language."""
    import pandas as pd
    if "manifest" not in check:
        return "the curation run returned no result"
    if check["curation_dq_passed"] != "true":
        return "curation DQ verdict is false"
    counts = [int(kv.split("=")[1]) for kv in check["stage_counts"].split(",")]
    if any(b > a for a, b in zip(counts, counts[1:])):
        return f"stage counts increase: {check['stage_counts']}"
    try:
        m = pd.read_parquet(check["manifest"])
    except Exception as e:  # unreadable output is a failed check
        return f"manifest unreadable: {type(e).__name__}: {e}"
    if len(m) != counts[-1]:
        return f"manifest has {len(m)} rows, last stage count is {counts[-1]}"
    if m["doc_id"].duplicated().any():
        return "manifest doc_ids are not distinct"
    keys = list(zip(m["shuffle_key"], m["doc_id"]))
    if keys != sorted(keys):
        return "manifest is not in (shuffle_key, doc_id) order"
    docs = pd.read_parquet(os.path.join(DATA, WORKLOADS["operator_queries"],
                                        "documents.parquet"), columns=["doc_id", "lang"])
    joined = m[["doc_id", "lang"]].merge(docs, on="doc_id", how="left",
                                         suffixes=("", "_src"))
    if (joined["lang"] != joined["lang_src"]).any():
        return "manifest rows do not match the documents table"
    return None


def lake_files(lake):
    files = []
    for d, _, names in os.walk(lake):
        files += [os.path.join(d, n) for n in names if not n.startswith((".", "_"))]
    return files


def check_retail(res):
    """Iteration → failure message. Every iteration must pass the DQ gate,
    read the same answer each time it reads an analytics result, and
    reproduce the first iteration's gold tables, analytics and file
    count."""
    import pandas as pd
    _, norm = load_compare()
    bad, first = {}, None
    for it in res["iterations"]:
        c = it["check"]
        if c.get("dq_passed") != "true":
            bad[it["index"]] = "DQ gate did not pass"
            continue
        gold = os.path.join(c["lake"], "gold")
        reads = {}
        for k, v in c.items():
            if k.startswith("analytics."):
                reads.setdefault(k.rsplit(".", 1)[0], set()).add(v)
        unstable = sorted(k for k, v in reads.items() if len(v) > 1)
        if unstable:
            bad[it["index"]] = f"repeated reads disagree: {unstable}"
            continue
        state = {k: v.pop() for k, v in reads.items()}
        state["lake_files"] = len(lake_files(c["lake"]))
        for t in sorted(os.listdir(gold)):
            state["gold." + t] = frame_digest(pd.read_parquet(os.path.join(gold, t)), norm)
        if first is None:
            first = state
        elif state != first:
            diff = sorted(k for k in set(state) | set(first) if state.get(k) != first.get(k))
            bad[it["index"]] = f"output differs from the first iteration: {diff}"
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_s(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def end_to_end(res):
    warm = {it["index"]: it["seconds"] for it in res["iterations"] if it["kind"] == "warm"}
    # queries: the warm ops of a query workload, the analytics reads of the DAG
    queries = {}
    for o in res["ops"]:
        if o["iter"] in warm and not o["name"].startswith("Pipeline."):
            queries.setdefault(o["name"], []).append(o["seconds"])
    # the geometric mean weighs every query alike, however long it takes;
    # a median over all executions would sit between a fast and a slow
    # group of queries and jump with either
    gmean = math.exp(statistics.fmean(math.log(median(v)) for v in queries.values()))
    return {
        "setup_s": res["setup_s"],
        "first_iter_s": res["iterations"][0]["seconds"],
        "iter_s": median(list(warm.values())),
        "query_gmean_s": gmean,
        "heap_peak_mb": res["heap_peak_mb"],
    }, sum(len(v) for v in queries.values())


def untraced_iter_s(workload, source_digest):
    """Median warm-iteration time of the untraced runs of this workload on
    the same program sources recorded so far in this checkout, or None."""
    results = os.path.join(BUILD, "results")
    vals = []
    for name in os.listdir(results) if os.path.isdir(results) else []:
        if name.startswith(workload + "-") and name.endswith("-trace0.json"):
            with open(os.path.join(results, name)) as f:
                r = json.load(f)
            if r["host"]["source_digest"] == source_digest:
                vals.append(r["end_to_end"]["iter_s"])
    return median(vals) if vals else None


def per_layer(res, workload):
    """Per-layer metrics of a traced run for one cold plus one mean warm
    iteration, plus the curation run where there is one: the cold and
    curation iterations count once, each of the n warm ones 1/n. The cold
    iteration is where artifact builds land; the warm ones are the steady
    state."""
    its = res["iterations"]
    n_warm = sum(1 for it in its if it["kind"] == "warm")
    weight = {it["index"]: 1.0 / n_warm if it["kind"] == "warm" else 1.0 for it in its}
    cores = res["host"]["nproc"]
    jobs = [j for j in res["jobs"] if j["iter"] in weight]
    counters = {}
    for c in res["counters"]:
        if c["iter"] in weight:
            tot = counters.setdefault(c["layer"], {})
            for k, v in c.items():
                if k not in ("iter", "layer"):
                    tot[k] = tot.get(k, 0.0) + v * weight[c["iter"]]

    def busy_s(it, layer=None):
        """Time within iteration `it` during which a job (of `layer`) ran."""
        inside = [(max(j["start_ms"], it["start_ms"]), min(j["end_ms"], it["end_ms"]))
                  for j in jobs if j["iter"] == it["index"]
                  and (layer is None or j["layer"] == layer)]
        return union_s([iv for iv in inside if iv[1] > iv[0]])

    def per_run(f):
        return sum(weight[it["index"]] * f(it) for it in its)

    m = {}
    for layer in LAYERS:
        ctr = counters.get(layer, {})
        m[f"{layer}.jobs"] = sum(weight[j["iter"]] for j in jobs if j["layer"] == layer)
        m[f"{layer}.job_s"] = per_run(lambda it: busy_s(it, layer))
        m[f"{layer}.task_s"] = ctr.get("task_s", 0.0)
        m[f"{layer}.shuffle_write_mb"] = ctr.get("shuffle_write_mb", 0.0)

    def total(k):
        return sum(c.get(k, 0.0) for c in counters.values())

    def span_s(name):
        return sum(weight[s["trace"]] * (s["end_ns"] - s["start_ns"]) / 1e9
                   for s in res["spans"] if s["name"] == name and s["trace"] in weight)

    wall = per_run(lambda it: it["seconds"])
    input_bytes = sum(os.path.getsize(os.path.join(DATA, WORKLOADS[workload], t + ".parquet"))
                      for t in RETAIL_INPUTS)

    def lake(it, f):
        return sum(f(p) for p in lake_files(it["check"]["lake"])) if "lake" in it["check"] else 0

    m.update({
        "sources.input_mb": total("input_mb"),
        "sinks.bytes_written_mb": total("output_mb"),
        "sinks.files_written": per_run(lambda it: lake(it, lambda p: 1)),
        "operators.ArtifactCache.builds": per_run(lambda it: it["artifact_builds"]),
        "operators.ArtifactCache.build_s": per_run(lambda it: it["artifact_build_s"]),
        "lake.bytes_per_input_byte": per_run(lambda it: lake(it, os.path.getsize)) / input_bytes,
        "trace.iter_s": median([it["seconds"] for it in its if it["kind"] == "warm"]),
        "spark.construct_s": span_s("construct"),
        "spark.jobs_at_build": sum(weight[j["iter"]] for j in jobs if j["phase"] == "construct"),
        "spark.catalyst_s": span_s("catalyst"),
        "spark.exec_s": wall - span_s("construct") - span_s("catalyst"),
        "spark.jobs": sum(weight[j["iter"]] for j in jobs),
        "spark.core_util": total("task_s") / (wall * cores),
        "spark.driver_gap_s": wall - per_run(busy_s),
    })
    for k in ("stages", "tasks", "task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "sched_delay_s", "failed_tasks"):
        m[f"spark.{k}"] = total(k)
    accounted = (sum(m[f"{l}.job_s"] for l in LAYERS) + m["spark.driver_gap_s"]) / wall
    return m, accounted


def self_times(spans):
    """Span name → summed self time (duration minus its children's)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        own = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        key = s["name"] if s["name"] in ("iteration", "construct", "catalyst", "exec") \
            else "op"
        out[key] = out.get(key, 0.0) + own / 1e9
    return out


def host_block(res, args):
    commit = ""
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                    capture_output=True).stdout.strip()
        except OSError:
            pass
    h = hashlib.sha256()
    for src in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(src)):
            for name in sorted(names):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + b"\0" + f.read())
    return dict(res["host"], heap_flag=HEAP, seed=args.seed, workload=args.workload,
                seconds=args.seconds, trace=args.trace,
                data_dir=os.path.join("perfbench", "data", WORKLOADS[args.workload]),
                git_commit=commit or "unknown (not a git checkout)",
                source_digest=h.hexdigest()[:16])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    jars = build()
    # the first run in a checkout may spend long building; the run's own
    # deadline starts after it
    t_start = time.monotonic()
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        answers = (oracle_answers(jars, args.workload, work)
                   if args.workload in QUERY_WORKLOADS else {})
        out = os.path.join(work, "result.json")
        remaining = JVM_TIMEOUT_S - (time.monotonic() - t_start)
        java(jars, ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", os.path.join(DATA, WORKLOADS[args.workload]), "--work", work, "--out", out], work, remaining)
        with open(out) as f:
            res = json.load(f)

        if args.workload in QUERY_WORKLOADS:
            bad = check_queries(res, answers)
            if args.trace:
                cur = [it for it in res["iterations"] if it["kind"] == "curation"]
                msg = check_curation(cur[0]["check"]) if cur else "no curation run"
                if msg:
                    bad[(cur[0]["index"] if cur else -1, "TrainingDataPipeline.run")] = msg
            failed_ops = [o for o in res["ops"] if o["error"] or (o["iter"], o["name"]) in bad]
            problems = {f"iteration {i} {k}": v for (i, k), v in bad.items()}
        else:
            bad_iters = check_retail(res)
            failed_ops = [o for o in res["ops"] if o["error"] or o["iter"] in bad_iters]
            problems = {f"iteration {k}": v for k, v in bad_iters.items()}
        for o in res["ops"]:
            if o["error"]:
                problems.setdefault(o["name"], o["error"])
        for k, v in sorted(problems.items())[:20]:
            log(f"FAILED {k}: {v}")

        e2e, n_ops = end_to_end(res)
        host = host_block(res, args)
        detail = {"host": host, "end_to_end": e2e, "warm_ops": n_ops,
                  "failed_frac": len(failed_ops) / len(res["ops"]),
                  "iterations": [{k: it[k] for k in ("index", "kind", "seconds")}
                                 for it in res["iterations"]],
                  "problems": problems, "ops": res["ops"]}
        if args.trace:
            metrics, accounted = per_layer(res, args.workload)
            untraced = untraced_iter_s(args.workload, host["source_digest"])
            overhead = metrics["trace.iter_s"] / untraced - 1 if untraced else None
            detail.update(per_layer=metrics, layer_accounted_frac=accounted,
                          trace_overhead_frac=overhead,
                          span_self_s=self_times(res["spans"]), spans=res["spans"])
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        detail_path = os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)

        print(f"# host: {json.dumps(host, sort_keys=True)}")
        print(f"# ops: attempted {len(res['ops'])}, failed {len(failed_ops)}, "
              f"warm samples {n_ops}; detail: {os.path.relpath(detail_path, ROOT)}")
        if args.trace:
            print(f"# layer job_s + driver_gap_s = {accounted:.3f} of the traced wall")
            print("# trace overhead: " + (
                f"{overhead:+.1%} of iter_s against {untraced:.3f} s, the median of the "
                "untraced runs of these sources" if overhead is not None else
                "no untraced baseline (no untraced run of these sources recorded yet)"))
        for k in units:
            print(f"# {k} = {metrics[k]:.6g} {units[k]}")
        print(json.dumps({
            "correct": not failed_ops,
            "attempted": len(res["ops"]),
            "failed": len(failed_ops),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
