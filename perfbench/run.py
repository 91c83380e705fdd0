"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

It builds the program and the harness from source (build.py), prepares
the workload's input data, runs the workload in a fresh JVM, checks every
query execution's output against the references in perfbench/refs, and
prints one JSON object as its last line: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the
per-layer metrics of a traced run with --trace 1). See NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import build

BENCH = os.path.dirname(os.path.abspath(__file__))
DEFAULT_DATA = os.path.join(BENCH, "data", "sf0.01")
CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 150
LAUNCH_NS = "<launch-ns>"  # jvm() replaces this argument with the launch time

# Query subsets of the registry; NOTES.md says why these.
WORKLOADS = {
    "iterative": dict(scale=1, queries=["q_page_rank", "q_label_prop"]),
    "corpus_3x": dict(scale=3, queries=[
        "q_ann_ivf", "q_dedup_near", "q_pii_redact", "q_embed_project"]),
}

# graft.ops module each query's registry entry calls into.
MODULE = {
    "q_page_rank": "Graph", "q_label_prop": "Graph",
    "q_ann_ivf": "Similarity", "q_dedup_near": "Dedup", "q_pii_redact": "TextAnalysis",
    "q_embed_project": "Quant",
}
MODULES = sorted(set(MODULE.values()))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_fingerprint(path):
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(path)):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def jvm(classes, scratch, main, args, timeout=JVM_TIMEOUT_S):
    """Runs `main` in a fresh JVM whose temp and Spark local dirs sit in
    `scratch`. Returns (exit code, wall s)."""
    tmp, local = os.path.join(scratch, "tmp"), os.path.join(scratch, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}", main]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, TMPDIR=tmp)
    launch = time.time_ns()
    cmd += [str(launch) if x == LAUNCH_NS else x for x in args]
    with open(os.path.join(scratch, "jvm.log"), "ab") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                cwd=scratch)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    return code, (time.time_ns() - launch) / 1e9


def prepare_data(root, classes, base, scale):
    """The workload's input directory. Scale 1 is the base fixture; a
    larger scale is made once by graft.tools.ScaleGen and cached under
    .bench_data, keyed by the base directory's fingerprint."""
    fp = dir_fingerprint(base)
    name = os.path.basename(os.path.normpath(base)) + (f"x{scale}" if scale > 1 else "")
    if scale == 1:
        return base, name, fp, 0.0
    cache = os.path.join(root, ".bench_data", f"{name}-{fp}")
    meta = os.path.join(cache, "perfbench_meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(cache, ignore_errors=True)
        shutil.rmtree(cache + ".tmp", ignore_errors=True)
        scratch = os.path.join(root, ".bench_run", f"scalegen-{os.getpid()}")
        try:
            code, wall = jvm(classes, scratch, "graft.tools.ScaleGen",
                             [os.path.abspath(base), cache + ".tmp", str(scale)])
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        if code != 0:
            raise RuntimeError(f"ScaleGen failed with exit code {code}")
        os.rename(cache + ".tmp", cache)
        with open(meta, "w") as fh:
            json.dump({"gen_s": wall}, fh)
        log(f"generated {name} in {wall:.1f} s")
    with open(meta) as fh:
        return cache, name, fp, json.load(fh)["gen_s"]


def load_refs(dataset, base_fp):
    path = os.path.join(BENCH, "refs", f"{dataset}.json")
    if not os.path.exists(path):
        return path, {}
    with open(path) as fh:
        refs = json.load(fh)
    if refs["base_fingerprint"] != base_fp:
        raise RuntimeError(f"{path} was recorded on other input data")
    return path, refs["queries"]


def p90(values):
    """90th percentile, interpolated between the pooled samples."""
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def self_times(spans):
    """Per layer: span duration minus the part its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], end), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end_ms"] - s["start_ms"] - covered)
    return out


def latency_ms(e):
    return e["construct_ms"] + e["plan_ms"] + e["execute_ms"]


def end_to_end(res, warm):
    """Warm figures come from the untraced measured passes. A pass's wall
    is the sum of each query's median latency; the throughput takes the
    mean latency instead, so slow outliers show in it. The p50 is the
    median over queries of each query's median latency: pooled, the
    median of a few queries of very different cost falls in the gap
    between them."""
    lat = [latency_ms(e) / 1000 for e in warm]
    by_query = {}
    for e in warm:
        by_query.setdefault(e["q"], []).append(latency_ms(e) / 1000)
    medians = [statistics.median(v) for v in by_query.values()]
    tail_s = p90(lat)
    log(f"latency_tail_s is p90 of {len(lat)} warm query latencies, "
        f"{sum(x > tail_s for x in lat)} beyond it")
    return {
        "setup_s": (res["setup_s"], "s"),
        "first_pass_s": (res["first_pass_s"], "s"),
        "wall_s": (sum(medians), "s"),
        "latency_p50_s": (statistics.median(medians), "s"),
        "latency_tail_s": (tail_s, "s"),
        "throughput_qpm": (60.0 / statistics.mean(lat), "1/min"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }


def per_layer(res, warm, per_pass, artifacts, gen_s):
    """Per-layer figures of the traced warm passes, per pass."""
    traced = [e for e in res["execs"] if e["traced"]]
    n = len(traced) / per_pass
    counters = res["counters"]

    def count(e, phase, field):
        c = counters.get(str(e["spans"][phase]))
        return c[field] if c else 0

    def total(field, phases=(0, 1, 2), es=traced):
        return sum(count(e, i, field) for e in es for i in phases) / n

    def mean_by_query(es):
        by = {}
        for e in es:
            by.setdefault(e["q"], []).append(latency_ms(e))
        return {q: statistics.mean(v) for q, v in by.items()}

    exec_ms = sum(e["execute_ms"] for e in traced)
    t_mean, u_mean = mean_by_query(traced), mean_by_query(warm)
    m = {
        "Queries.construct_ms": (sum(e["construct_ms"] for e in traced) / n, "ms"),
        "Queries.construct_jobs": (total("jobs", (0,)), "count"),
        "driver.job_latency_ms": (res["job_latency_ms"], "ms"),
        "driver.job_floor_share": (total("jobs") * n * res["job_latency_ms"]
                                   / sum(latency_ms(e) for e in traced), "ratio"),
        "catalyst.plan_ms": (sum(e["plan_ms"] for e in traced) / n, "ms"),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (sum(e["phases"].get(phase, 0) for e in traced) / n, "ms")
    m.update({
        "execute.ms": (exec_ms / n, "ms"),
        "execute.jobs": (total("jobs", (2,)), "count"),
        "execute.stages": (total("stages", (2,)), "count"),
        "execute.tasks": (total("tasks", (2,)), "count"),
        "executor.run_ms": (total("run_ms"), "ms"),
        "executor.cpu_ms": (total("cpu_ns") / 1e6, "ms"),
        "executor.gc_ms": (total("gc_ms"), "ms"),
        "executor.parallelism": (total("run_ms", (2,)) * n / (exec_ms * res["cores"]), "ratio"),
        "shuffle.read_bytes": (total("shuffle_read_bytes"), "B"),
        "shuffle.write_bytes": (total("shuffle_write_bytes"), "B"),
        "shuffle.spill_bytes": (total("spill_bytes"), "B"),
        "scan.input_bytes": (total("input_bytes"), "B"),
        "result.rows": (sum(e["rows"] for e in traced) / n, "count"),
        "IndexCache.artifacts": (artifacts[0], "count"),
        "IndexCache.disk_mb": (artifacts[1] / 1048576, "MB"),
        "session.dropped_rdds": (sum(e["held_rdds"] for e in warm) * per_pass / len(warm),
                                 "count"),
        "session.dropped_mb": (sum(e["held_bytes"] for e in warm) * per_pass / len(warm)
                               / 1048576, "MB"),
        "session.conf_drift": (sum(e["drift"] for e in warm) * per_pass / len(warm), "count"),
        "trace.overhead_frac": (sum(t_mean.values()) / sum(u_mean[q] for q in t_mean) - 1,
                                "ratio"),
        "data.gen_s": (gen_s, "s"),
    })
    for mod in MODULES:
        es = [e for e in traced if MODULE[e["q"]] == mod]
        m[f"ops.{mod}.wall_ms"] = (sum(latency_ms(e) for e in es) / n, "ms")
        m[f"ops.{mod}.jobs"] = (total("jobs", es=es), "count")
    # A query span is exactly its three phases, and the run span is not
    # per pass; neither has self time worth reporting.
    for layer, ms in sorted(self_times(res["spans"]).items()):
        if layer not in ("run", "query"):
            m[f"self.{layer}_ms"] = (ms / n, "ms")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA,
                    help="base fixture directory (default: the committed sf0.01 copy)")
    ap.add_argument("--record", action="store_true",
                    help="write the run's outputs as the references instead of checking them")
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    root = os.getcwd()

    classes = build.build(root)
    data, dataset, base_fp, gen_s = prepare_data(root, classes, a.data, wl["scale"])
    refs_path, refs = load_refs(dataset, base_fp)
    unknown = [q for q in wl["queries"] if q not in refs]
    if unknown and not a.record:
        raise RuntimeError(f"no reference output for {unknown} in {refs_path}")

    scratch = os.path.join(root, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    out = os.path.join(scratch, "result.json")
    try:
        code, _ = jvm(classes, scratch, "perfbench.Harness", [
            "--launch-ns", LAUNCH_NS, "--data", os.path.abspath(data),
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(CORES), "--queries", ",".join(wl["queries"]), "--out", out,
            "--local-dir", os.path.join(scratch, "local")])
        if code != 0:
            with open(os.path.join(scratch, "jvm.log"), errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise RuntimeError(f"harness JVM exited with code {code}")
        with open(out) as fh:
            res = json.load(fh)
        if a.trace:
            with open(out + ".spans.jsonl") as fh:
                res["spans"] = [json.loads(line) for line in fh]
            os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
            shutil.copy(out + ".spans.jsonl", os.path.join(
                root, ".bench_out", f"spans-{a.workload}-{a.seed}.jsonl"))
        tmp = os.path.join(scratch, "tmp")
        made = [d for d in os.listdir(tmp) if d.startswith("graft")]
        artifacts = (len(made), sum(dir_bytes(os.path.join(tmp, d)) for d in made))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    execs = res["execs"]
    if a.record:
        outputs = {}
        for e in execs:
            if e["error"]:
                raise RuntimeError(f"{e['q']} failed: {e['error'][:300]}")
            outputs.setdefault(e["q"], set()).add((e["rows"], e["fp"]))
        unstable = sorted(q for q, seen in outputs.items() if len(seen) > 1)
        if unstable:
            raise RuntimeError(f"outputs differ between executions of {unstable}")
        refs = dict(refs, **{q: {"rows": r, "fp": f} for q, ((r, f),) in outputs.items()})
        os.makedirs(os.path.dirname(refs_path), exist_ok=True)
        with open(refs_path, "w") as fh:
            json.dump({"base_fingerprint": base_fp, "queries": dict(sorted(refs.items()))},
                      fh, indent=1)
            fh.write("\n")
        log(f"recorded {len(outputs)} references in {refs_path}")

    bad = [e for e in execs if e["error"]
           or refs.get(e["q"]) != {"rows": e["rows"], "fp": e["fp"]}]
    for e in bad[:5]:
        log(f"wrong output: {e['q']} pass {e['pass']}: rows {e['rows']} fp {e['fp']} "
            f"expected {refs.get(e['q'])} {e['error'][:300]}")
    warm = [e for e in execs if e["pass"] > 1 and not e["traced"]]
    per_pass = len(wl["queries"])
    metrics = (per_layer(res, warm, per_pass, artifacts, gen_s) if a.trace
               else end_to_end(res, warm))
    log(f"failed_frac {len(bad) / len(execs):.4f} ({len(bad)} of {len(execs)} executions)")
    print(json.dumps({
        "correct": not bad,
        "attempted": len(execs),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    # SIGTERM unwinds like an error, so the JVM started last is stopped too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        main()
    except (RuntimeError, OSError) as e:
        log(f"error: {e}")
        sys.exit(1)
