"""One benchmark run inside one Spark application (started by run.py).

Set-up, then a first pass over the workload's queries with session memos
empty, then repeat passes in the same session until --seconds have passed
since the first pass ended (at least the workload's min_repeat_passes). Each query is timed as construct
plus a ``noop`` write, then checked against its stored DuckDB twin outside
the timed window.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time
import traceback

from check import canonical_frame, mismatch

HERE = os.path.dirname(os.path.abspath(__file__))
CONTROL = "q1_pricing_summary"
MAX_REPEAT_PASSES = 50
# The driver JVM starts with a 1 GiB heap (the maximum is run.py's
# DRIVER_MEMORY). G1 otherwise starts at 1/64 of host memory and grows the
# heap on its own timing, which made peak RSS swing by a fifth between
# identical runs.
DRIVER_HEAP_START = "1g"


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--t0", type=float, required=True, help="time.monotonic() at spawn")
    p.add_argument("--out", required=True)
    return p.parse_args()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    def __init__(self, spark, fns, twins, fixtures, tracer) -> None:
        self.spark = spark
        self.fns = fns
        self.twins = twins
        self.fixtures = fixtures
        self.tracer = tracer
        self.traced = tracer is not None

    def query(self, name: str, label: str) -> dict:
        """Construct + execute one query (timed), then check it (untimed)."""
        rec: dict = {"query": name, "construct_s": 0.0, "execute_s": 0.0, "ok": False}
        sc = self.spark.sparkContext
        tracing = self.traced and self.tracer.enabled
        phase = {}
        try:
            if tracing:
                self.tracer.set_context(query=name, pass_label=label)
                phase["e0"] = self.tracer.last_sql_execution()
                sc.setJobGroup(f"{label}:{name}:construct", name)
                span = self.tracer.open_span("operators", name)
            t = time.perf_counter()
            try:
                df = self.fns[name](self.spark, self.fixtures)
            finally:
                rec["construct_s"] = time.perf_counter() - t
                if tracing:
                    self.tracer.close_span(span)
                    phase["construct_span"] = (span["start"], span["end"])
            if tracing:
                phase["e1"] = self.tracer.last_sql_execution()
                sc.setJobGroup(f"{label}:{name}:execute", name)
                span = self.tracer.open_span("execute", name)
            t = time.perf_counter()
            try:
                _noop(df)
            finally:
                rec["execute_s"] = time.perf_counter() - t
                if tracing:
                    self.tracer.close_span(span)
            if tracing:
                phase["e2"] = self.tracer.last_sql_execution()
                sc.setJobGroup(f"{label}:{name}:check", name)
                rec["layers"] = self._layers(name, label, phase)
            got = canonical_frame(df.toPandas())
            why = mismatch(got, self.twins[name])
            rec["ok"] = why is None
            if why:
                rec["error"] = f"wrong result: {why}"
        except Exception as exc:  # a failing query is counted, the run goes on
            rec["error"] = f"{type(exc).__name__}: {exc}".splitlines()[0][:400]
            rec["traceback"] = traceback.format_exc()[-2000:]
        finally:
            if self.traced:
                sc.setJobGroup("perfbench", "between queries")
        return rec

    def _layers(self, name: str, label: str, phase: dict) -> dict:
        from layers import union_seconds

        c = self.tracer.phase_stats(f"{label}:{name}:construct", phase["e0"], phase["e1"])
        e = self.tracer.phase_stats(f"{label}:{name}:execute", phase["e1"], phase["e2"])
        lo, hi = phase["construct_span"]
        catalog = [
            (s["start"], s["end"])
            for s in self.tracer.spans
            if s["layer"] == "catalog" and s.get("query") == name
            and s.get("pass_label") == label and s["start"] >= lo
        ]
        blocked = union_seconds(catalog + c.pop("_intervals"), lo, hi)
        e.pop("_intervals")
        return {
            "construct": dict(c),
            "execute": dict(e),
            "construct_driver_s": max(0.0, (hi - lo) - blocked),
        }

    def one_pass(self, names: list[str], label: str) -> dict:
        before = dict(self.tracer.counts) if self.traced else {}
        recs = [self.query(n, label) for n in names]
        out = {
            "label": label,
            "order": names,
            "seconds": sum(r["construct_s"] + r["execute_s"] for r in recs),
            "queries": recs,
        }
        if self.traced:
            from aws_saas_etl_spark import memo

            after = self.tracer.counts
            out["counts"] = {k: after[k] - before.get(k, 0) for k in after}
            out["counts"]["memo.entries"] = sum(
                len(m) for m in memo.all_memos() if m.traced
            )
        return out


def main() -> None:
    args = _args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    names = spec["workloads"][args.workload]["queries"]
    min_repeats = spec["workloads"][args.workload].get("min_repeat_passes", 1)
    with open(os.path.join(HERE, "twins.json")) as f:
        twins = json.load(f)["queries"]
    fixtures = os.path.join(HERE, "fixtures")
    result: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    t = time.monotonic()
    from aws_saas_etl_spark import registry, session

    result["registry.import_s"] = time.monotonic() - t
    t = time.monotonic()
    spark = session.get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={"spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP_START}"},
    )
    result["session.get_spark_s"] = time.monotonic() - t
    spark.sparkContext.setLogLevel("ERROR")
    fns = registry.queries()
    t = time.monotonic()
    _noop(fns[CONTROL](spark, fixtures))
    result["session.warmup_s"] = time.monotonic() - t
    result["setup_s"] = time.monotonic() - args.t0

    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer(spark)
        tracer.install()
    run = Run(spark, fns, twins, fixtures, tracer)

    def control() -> dict:
        was = tracer.enabled if tracer else False
        if tracer:
            tracer.enabled = False
        rec = run.query(CONTROL, "control")
        if tracer:
            tracer.enabled = was
        return rec

    controls = [control()]
    session.clear_session_memos()
    rng = random.Random(args.seed)

    def shuffled() -> list[str]:
        order = list(names)
        rng.shuffle(order)
        return order

    window = time.monotonic()
    passes = [run.one_pass(shuffled(), "first")]
    untraced = []
    # Repeat passes fill --seconds after the first pass, at least min_repeats.
    repeats_from = time.monotonic()
    while True:
        i, order = len(passes), shuffled()
        if tracer:
            # Each traced repeat pass has an untraced twin over the same order;
            # which runs first alternates, so session warming does not bias
            # the tracing overhead (median traced minus median untraced).
            for traced in (True, False) if i % 2 else (False, True):
                tracer.enabled = traced
                label = f"repeat{i}" if traced else f"untraced{i}"
                (passes if traced else untraced).append(run.one_pass(order, label))
            tracer.enabled = True
        else:
            passes.append(run.one_pass(order, f"repeat{i}"))
        elapsed = time.monotonic() - repeats_from
        repeats = len(passes) - 1
        if repeats >= MAX_REPEAT_PASSES or (
            repeats >= min_repeats and elapsed + passes[-1]["seconds"] > args.seconds
        ):
            break
    result["window_s"] = time.monotonic() - window
    result["untraced_passes"] = untraced
    controls.append(control())
    result["controls"] = controls
    result["passes"] = passes
    if tracer:
        from layers import self_seconds

        tracer.uninstall()
        result["memory"] = tracer.memory()
        result["spans"] = tracer.spans
        result["self_s"] = self_seconds([s for s in tracer.spans if s["end"]])
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
