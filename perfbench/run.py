#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness (and
graft with it) from source with sbt; later runs reuse the build while the
sources are unchanged. Inputs are generated from the seed and cached;
generation, build and output checks are outside every timing.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer numbers of
a traced run. A fuller record, with sample counts, per-table input sizes
and the spans, goes to .bench_build/perfbench/results/.
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

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ["activity-dense", "ingest-stream"]
END_TO_END = {"setup_s": "s", "wall_s": "s", "batch_p50_s": "s", "docs_per_s": "1/s"}
HEAP = "2g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def run_proc(cmd, limit_s, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed and reaped. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit("perfbench: %s timed out after %d s" % (cmd[0], limit_s))
    return proc.returncode, out


def source_digest(root):
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src/main"]:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compiles graft and the harness; returns the runtime classpath."""
    cp_file = os.path.join(state, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    log("building with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    code, out = run_proc(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"], BUILD_LIMIT_S,
        cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    log("built in %.1f s" % (time.time() - t0))
    with open(cp_file, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def cpu_ticks():
    """The host's cumulative CPU ticks: (all, stolen by the hypervisor)."""
    with open("/proc/stat") as f:
        ticks = [int(t) for t in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def run_jvm(classpath, workload, inputs, work, seconds, trace):
    result = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [a for p in JDK17_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-cp", classpath, "perfbench.Main", "--workload", workload,
              "--inputs", inputs, "--work", work, "--seconds", str(seconds),
              "--trace", str(trace), "--result", result])
    os.makedirs(os.path.join(work, "tmp"))
    code = run_proc(cmd, RUN_LIMIT_S, stdout=sys.stderr)[0]
    if code != 0:
        raise SystemExit("perfbench: harness exited with %d" % code)
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks


def compare(got, want, tol):
    """First difference between two frames with the same row order, or None."""
    if len(got) != len(want):
        return "rows %d vs %d" % (len(got), len(want))
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind in "fiu" and b.dtype.kind in "fiu":
            a, b = a.astype("float64"), b.astype("float64")
            diff = ((a - b).abs() > tol + 1e-9 * b.abs()) & ~(a.isna() & b.isna())
        else:
            diff = a.astype(str) != b.astype(str)
        if diff.any():
            i = diff.idxmax()
            return "%s: %d diffs, e.g. %r vs %r" % (c, int(diff.sum()), a[i], b[i])
    return None


class Checker:
    """Compares the feature tables a run wrote with q20's DuckDB twin run
    on the same generated inputs: the same windows, the same sample
    counts, and every feature within q20's 4-place rounding."""

    KEYS = ["user_id", "event_type", "session_id", "window_id"]
    COLS = KEYS + ["n_samples", "mean_x", "mean_y", "mean_z", "var_x", "var_y", "var_z",
                   "avg_abs_diff_x", "avg_abs_diff_y", "avg_abs_diff_z", "res",
                   "peak_avg_interval"]

    def __init__(self, inputs, oracles):
        self.inputs = inputs
        self.oracles = oracles
        self.expected = {}

    def by_key(self, df):
        return df[self.COLS].sort_values(self.KEYS).reset_index(drop=True)

    def check(self, name, path):
        if name not in self.expected:
            con = duckdb.connect()
            con.execute("CREATE VIEW events AS SELECT * FROM read_parquet('%s')"
                        % os.path.join(self.inputs, "events.parquet"))
            self.expected[name] = self.by_key(con.execute(self.oracles[name]).fetchdf())
        got = self.by_key(pq.read_table(path).to_pandas())
        return compare(got, self.expected[name], tol=0.5e-4)


# ---------------------------------------------------------------- metrics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, timed):
    batches = [o["s"] for p in timed for o in p["ops"] if o["batch"]]
    return {
        "setup_s": res["setup_s"],
        "wall_s": median([p["wall_s"] for p in timed]),
        "batch_p50_s": median(batches),
        "docs_per_s": median([p["records"] / p["wall_s"] for p in timed]),
    }


# name -> unit of every per-layer metric a traced run prints; a metric a
# workload does not exercise reads 0
PER_LAYER = {
    "operators.build_s": "s", "operators.build_jobs": "count", "exec.driver_gap_s": "s",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.plan_kb": "KB",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_cpu_s": "s", "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_records": "count", "exec.spill_bytes": "B", "exec.peak_exec_mem_mb": "MB",
    "sources.scan_bytes": "B", "sources.scan_rows": "count", "sources.write_bytes": "B",
    "sources.write_files": "count",
    "ml.train_eval_s.dt": "s", "ml.train_eval_s.rf": "s", "ml.train_eval_s.lr": "s",
    "ml.jobs": "count", "ml.save_load_s": "s", "ml.score_s": "s",
    "streaming.batch_s": "s", "streaming.jobs_per_batch": "count",
    "streaming.files_per_batch": "count", "streaming.write_amp": "ratio",
    "streaming.state_files": "count", "streaming.state_mb": "MB",
    "streaming.index_read_ratio": "ratio", "streaming.dup_recall": "ratio",
    "self_s.bench": "s", "self_s.sources": "s", "self_s.operators": "s", "self_s.ml": "s",
    "self_s.streaming": "s",
    "trace_overhead": "ratio", "peak_rss_mb": "MB",
}

# counters that should read the same on every pass at a fixed seed
REPEATING = ["exec.jobs", "exec.stages", "exec.shuffle_write_bytes",
             "exec.shuffle_read_bytes", "streaming.files_per_batch"]


def per_layer(res):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    layers = {k: median([p["layers"].get(k, 0.0) for p in traced]) for k in PER_LAYER}
    layers["trace_overhead"] = (median([p["wall_s"] for p in traced])
                                / median([p["wall_s"] for p in plain]))
    # driver peak RSS: per run, not per pass; it moves too much between
    # runs (with GC heap sizing) to bound as an end-to-end metric
    layers["peak_rss_mb"] = res["peak_rss_mb"]
    return layers


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from the root of a graft checkout")
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    classpath = build(root, state)

    inputs = gen.generate(os.path.join(state, "inputs"), args.workload, args.seed)
    with open(os.path.join(inputs, "manifest.json")) as f:
        manifest = json.load(f)
    work = os.path.join(state, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    ticks0 = cpu_ticks()
    res = run_jvm(classpath, args.workload, inputs, work, args.seconds, args.trace)
    ticks1 = cpu_ticks()

    # output checks, outside every timing
    checker = Checker(inputs, res["oracles"])
    failed = set()
    messages = []
    for p in res["passes"]:
        for name, why in p["failures"].items():
            failed.add((p["pass"], name))
            messages.append("pass %d %s: %s" % (p["pass"], name, why))
        for op in p["ops"]:
            if op.get("check") and (p["pass"], op["name"]) not in failed:
                why = checker.check(op["check"]["name"], op["check"]["path"])
                if why:
                    failed.add((p["pass"], op["name"]))
                    messages.append("pass %d %s: %s" % (p["pass"], op["name"], why))
    for m in messages[:20]:
        log("FAIL " + m)
    attempted = sum(len(p["ops"]) for p in res["passes"])

    if args.trace:
        metrics, units = per_layer(res), PER_LAYER
    else:
        metrics, units = end_to_end(res, res["passes"]), END_TO_END
    traced = [p for p in res["passes"] if p["traced"]]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": res["cores"], "seconds": args.seconds, "inputs": manifest["tables"],
        "samples": {"setup_s": 1, "passes": len(res["passes"]), "ops": attempted},
        "warmup_wall_s": res["warmup_wall_s"],
        # the share of CPU time the hypervisor gave other guests during the
        # run; on a shared host, slow runs often coincide with it
        "steal_share": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
        "passes": [{"wall_s": p["wall_s"], "traced": p["traced"], "info": p["info"],
                    "ops": {o["name"]: o["s"] for o in p["ops"]}} for p in res["passes"]],
        "not_repeating": [k for k in REPEATING
                          if len({p["layers"].get(k) for p in traced}) > 1],
        "failures": messages, "metrics": metrics,
    }
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace))
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.json"), stem + ".spans.json")
    shutil.rmtree(work, ignore_errors=True)
    log("%s seed %d: %d passes, %d ops, %d failed, %d cores, %.1f s total"
        % (args.workload, args.seed, len(res["passes"]), attempted, len(failed),
           res["cores"], time.time() - started))

    out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": out}))


if __name__ == "__main__":
    main()
