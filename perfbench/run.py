#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One client issues one workload's queries one after another in a single
Spark application on local[<cores>]: set-up, a first pass with session memos
empty, then repeat passes in the same session. Every result is checked
against its stored DuckDB twin. The Spark side runs in a child process
(worker.py) with its own working, temp and Spark scratch directories, which
are removed when it ends; this process samples the child's process-tree RSS.

Prints every metric by name with its unit, then, as the last line, one JSON
object: with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics. The full record of the run goes to perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "aws_saas_etl_spark")
RUN_LIMIT_S = 165  # the whole run, set-up included, must end well within 180 s
# Maximum driver heap, set through the engine's own SPARK_DRIVER_MEM knob. At
# the engine's 8g default G1 sizes its young generation to the larger heap and
# a run's peak RSS reached 4.2 GB, while the heap in use after a full GC is
# under 200 MB on these fixtures (jvm.heap_after_gc_mb); 2g keeps peak RSS
# closer to what the session holds and the run small on a shared host.
DRIVER_MEMORY = "2g"
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
TAIL_ABOVE = 10  # query_tail_s: highest percentile with this many samples above it

UNITS = {"setup_s": "s", "first_pass_s": "s", "repeat_pass_s": "s", "query_p50_s": "s",
         "query_tail_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio"}


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------ process tree
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_kb(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_KB
        except OSError:
            continue
    return total


class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree (Python driver, JVM, Python workers)."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak_kb = 0
        self.stopped = threading.Event()

    def run(self) -> None:
        while not self.stopped.is_set():
            self.peak_kb = max(self.peak_kb, _rss_kb(_tree(self.root)))
            self.stopped.wait(self.interval)


def _steal_s() -> float:
    """CPU time the host withheld from this machine so far (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _kill_group(pgid: int) -> None:
    """SIGKILL what is left of the run's process group and wait until it is gone."""
    for _ in range(100):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


# ------------------------------------------------------------------ metrics
def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(res: dict, peak_kb: int) -> dict:
    passes = res["passes"]
    repeats = passes[1:]
    samples = sorted(
        q["construct_s"] + q["execute_s"] for p in repeats for q in p["queries"]
    )
    recs = [q for p in passes + res["untraced_passes"] for q in p["queries"]]
    failed = sum(not q["ok"] for q in recs)
    out = {
        "setup_s": res["setup_s"],
        "first_pass_s": passes[0]["seconds"],
        "repeat_pass_s": _median([p["seconds"] for p in repeats]),
        "query_p50_s": _median(samples),
        "peak_rss_mb": peak_kb / 1024,
        "failed_frac": failed / len(recs),
    }
    n = len(samples)
    tail = {"samples": n, "percentile": None, "value": None}
    if n > TAIL_ABOVE:
        tail.update(percentile=100.0 * (n - TAIL_ABOVE) / n, value=samples[n - TAIL_ABOVE - 1])
    out["query_tail_s"] = tail["value"]
    return out, tail, len(recs), failed


def pass_layers(p: dict) -> dict:
    """Per-layer totals of one traced pass."""
    recs = p["queries"]
    traced = [r["layers"] for r in recs if "layers" in r]
    counts = p["counts"]

    def c(key: str) -> float:
        return float(counts.get(key, 0))

    def phase(name: str, key: str) -> float:
        return sum(t[name].get(key, 0.0) for t in traced)

    out = {
        name: c(name)
        for name in (
            "catalog.load_table.calls", "catalog.load_table.s", "catalog.load_tables.calls",
            "catalog.table_row_count.calls", "catalog.table_row_count.s",
            "catalog.ensure_parallelism.calls", "catalog.ensure_parallelism.s", "catalog.s",
            "memo.gets", "memo.hits", "memo.sets", "memo.entries",
            "memo.sizing_gets", "memo.sizing_hits", "sources.io.calls", "sources.io.s",
        )
    }
    out["memo.hit_ratio"] = c("memo.hits") / c("memo.gets") if c("memo.gets") else 0.0
    out["operators.construct_s"] = sum(r["construct_s"] for r in recs)
    out["operators.construct_driver_s"] = sum(t["construct_driver_s"] for t in traced)
    for key in ("jobs", "sql_executions", "job_s", "task_s", "shuffle_write_bytes", "output_bytes"):
        out[f"operators.construct_{key}"] = phase("construct", key)
    out["execute.s"] = sum(r["execute_s"] for r in recs)
    for key in ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        out[f"execute.{key}"] = phase("execute", key)
    return out


def per_layer(res: dict) -> dict:
    first, *repeats = [pass_layers(p) for p in res["passes"]]
    out = {k: res[k] for k in ("registry.import_s", "session.get_spark_s", "session.warmup_s")}
    for k in first:
        out[k] = _median([r[k] for r in repeats])
        out[f"first.{k}"] = first[k]
    out.update(res["memory"])
    traced = _median([p["seconds"] for p in res["passes"][1:]])
    out["trace.overhead_s"] = traced - _median([p["seconds"] for p in res["untraced_passes"]])
    return out


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    return "count"


def sum_phases(rec: dict) -> float:
    return rec["construct_s"] + rec["execute_s"]


# --------------------------------------------------------------------- main
def main() -> None:
    args = _args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if args.workload not in workloads:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")
    if not os.path.isfile(os.path.join(PACKAGE_DIR, "registry.py")):
        _fail(f"engine package not found at {PACKAGE_DIR}; run from a checkout of the repo")
    if args.seconds < 1:
        _fail("--seconds must be at least 1")

    run_dir = os.path.join(HERE, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    results_dir = os.path.join(HERE, "results")
    for d in ("work", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(results_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
    )
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out_path,
    ]
    started = time.monotonic()
    steal_at_start = _steal_s()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd + ["--t0", repr(started)],
                cwd=os.path.join(run_dir, "work"), env=env,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            sampler = RssSampler(proc.pid)
            sampler.start()
            try:
                code = proc.wait(timeout=RUN_LIMIT_S - (time.monotonic() - started))
            except subprocess.TimeoutExpired:
                code = None
            sampler.stopped.set()
            sampler.join()
            _kill_group(proc.pid)
            proc.wait()
        if code != 0 or not os.path.exists(out_path):
            with open(log_path, errors="replace") as f:
                tail = f.read()[-4000:]
            _fail(
                f"worker {'timed out' if code is None else f'exited with {code}'}; log tail:\n{tail}"
            )
        with open(out_path) as f:
            res = json.load(f)
        steal = _steal_s() - steal_at_start
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "runs"))
        except OSError:
            pass

    e2e, tail, attempted, failed = end_to_end(res, sampler.peak_kb)
    controls_ok = all(c["ok"] for c in res["controls"])
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "end_to_end": e2e,
        "query_tail": tail,
        "control.q1_start_s": sum_phases(res["controls"][0]),
        "control.q1_end_s": sum_phases(res["controls"][-1]),
        "window_s": res["window_s"],
        "host_steal_s": steal,
        "passes": [
            {"label": p["label"], "order": p["order"], "seconds": p["seconds"],
             "queries": [{k: q[k] for k in q if k != "layers"} for q in p["queries"]]}
            for p in res["passes"]
        ],
    }
    if args.trace:
        layers = per_layer(res)
        report["per_layer"] = layers
        report["self_s"] = res["self_s"]
        report["pass_layers"] = [pass_layers(p) for p in res["passes"]]
        report["untraced_pass_s"] = [p["seconds"] for p in res["untraced_passes"]]
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results_dir, stem + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    if args.trace:
        with open(os.path.join(results_dir, stem + "-spans.json"), "w") as f:
            json.dump(res["spans"], f)

    print(f"workload {args.workload}  seed {args.seed}  passes {len(res['passes'])}"
          f"  first order {res['passes'][0]['order']}")
    for name, value in e2e.items():
        extra = ""
        if name == "query_tail_s":
            extra = f"  (p{tail['percentile']:.1f} of {tail['samples']})" if tail["value"] else \
                f"  (n/a: {tail['samples']} samples, needs more than {TAIL_ABOVE})"
        print(f"metric {name} = {value} {UNITS[name]}{extra}")
    print(f"control q1 start {report['control.q1_start_s']:.4f} s  end {report['control.q1_end_s']:.4f} s"
          f"  host steal {steal:.2f} s")
    for q in (q for p in res["passes"] + res["untraced_passes"] for q in p["queries"]):
        if not q["ok"]:
            print(f"FAILED {q['query']}: {q.get('error')}")
    if args.trace:
        for name, value in layers.items():
            print(f"layer {name} = {value} {unit_of(name)}")
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({
        "correct": failed == 0 and controls_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
