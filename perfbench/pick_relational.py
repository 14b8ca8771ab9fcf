#!/usr/bin/env python3
"""Choose the relational workload's queries from a traced profile of all of them.

    python3 perfbench/pick_relational.py [TABLES_DIR ...]
    python3 perfbench/pick_relational.py --reuse   # re-pick from the stored profiles

Runs every read-only batch query of ``operators.relational`` and
``operators.events`` (a first pass and two repeat passes, traced as in a
``--trace 1`` run, at the engine's default driver memory) over
perfbench/fixtures and over each TABLES_DIR given, e.g. the same tables at a
larger scale. The queries are ranked by their mean time over the three
passes on the fixtures and split into TIERS tiers of equal size; from each
tier the query with oracle SQL whose construct and execute times are nearest
the tier's medians of each is kept. Writes perfbench/relational_profile.json:
every query's times, the kept list, and the construct/execute/catalog shares
of the kept queries beside those of all of them, per scale and pass.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from worker import CONTROL, DRIVER_HEAP_START, Run  # noqa: E402

MODULES = ("aws_saas_etl_spark.operators.relational", "aws_saas_etl_spark.operators.events")
WRITERS = ("events_partition_pruned_rollup", "bucketed_colocated_join")
PASSES = ("first", "repeat1", "repeat2")
TIERS = 4


def profile(fns, names, tables: str) -> dict:
    """Per-query construct/execute/catalog/job times of three traced passes
    in one Spark application."""
    from aws_saas_etl_spark import session
    from layers import Tracer

    spark = session.get_spark(
        app_name="perfbench-pick",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={"spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP_START}"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    fns[CONTROL](spark, tables).write.format("noop").mode("overwrite").save()
    tracer = Tracer(spark)
    tracer.install()
    run = Run(spark, fns, {}, tables, tracer)  # no twins: timing only
    out = {}
    for label in PASSES:
        out[label] = {
            q["query"]: {
                "construct_s": q["construct_s"],
                "execute_s": q["execute_s"],
                "construct_jobs": q["layers"]["construct"].get("jobs", 0.0),
                "construct_job_s": q["layers"]["construct"].get("job_s", 0.0),
                "construct_driver_s": q["layers"]["construct_driver_s"],
                "catalog_s": 0.0,
            }
            for q in run.one_pass(names, label)["queries"]
        }
    for s in tracer.spans:  # catalog time directly under each query's construction
        parent = tracer.spans[s["parent"]] if s["parent"] is not None else None
        if s["layer"] == "catalog" and parent and parent["layer"] == "operators":
            out[s["pass_label"]][s["query"]]["catalog_s"] += s["end"] - s["start"]
    tracer.uninstall()
    spark.stop()
    return out


def shares(rows: dict) -> dict:
    total = sum(r["construct_s"] + r["execute_s"] for r in rows.values())

    def share(key: str) -> float:
        return round(sum(r[key] for r in rows.values()) / total, 3)

    return {
        "queries": len(rows),
        "seconds_per_query": round(total / len(rows), 3),
        "construct": share("construct_s"),
        "execute": share("execute_s"),
        "catalog": share("catalog_s"),
        "construct_job": share("construct_job_s"),
        "construct_driver": share("construct_driver_s"),
        "job_free_constructions": sum(r["construct_jobs"] == 0 for r in rows.values()),
    }


def pick(prof: dict, candidates: set[str]) -> list[str]:
    def mean(n: str, key: str) -> float:
        return statistics.mean(prof[p][n][key] for p in PASSES)

    con = {n: mean(n, "construct_s") for n in prof["first"]}
    exe = {n: mean(n, "execute_s") for n in prof["first"]}
    ranked = sorted(con, key=lambda n: con[n] + exe[n])
    kept = []
    for i in range(TIERS):
        tier = ranked[round(i * len(ranked) / TIERS) : round((i + 1) * len(ranked) / TIERS)]
        mid_c = statistics.median(con[n] for n in tier)
        mid_e = statistics.median(exe[n] for n in tier)
        kept.append(min(
            (n for n in tier if n in candidates),
            key=lambda n: abs(con[n] - mid_c) + abs(exe[n] - mid_e),
        ))
    return kept


def profile_all(table_dirs: list[str]) -> dict:
    os.makedirs(os.path.join(HERE, "runs"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="pick-", dir=os.path.join(HERE, "runs"))
    tempfile.tempdir = os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    os.chdir(scratch)
    try:
        from aws_saas_etl_spark import registry

        fns = registry.queries()
        names = sorted(
            n for n, f in fns.items()
            if f.__module__ in MODULES and not n.startswith("stream_") and n not in WRITERS
        )
        scales = {"fixtures": os.path.join(HERE, "fixtures")}
        scales.update({os.path.basename(os.path.normpath(d)): d for d in table_dirs})
        return {scale: profile(fns, names, d) for scale, d in scales.items()}
    finally:
        os.chdir(HERE)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "runs"))
        except OSError:
            pass


def main() -> None:
    if sys.argv[1:] == ["--reuse"]:
        with open(os.path.join(HERE, "relational_profile.json")) as f:
            profiles = json.load(f)["profiles"]
    else:
        profiles = profile_all(sys.argv[1:])
    from aws_saas_etl_spark import registry

    oracles = registry.oracle_sql()
    names = profiles["fixtures"]["first"]
    kept = pick(profiles["fixtures"], {n for n in names if n in oracles and n != CONTROL})
    result = {
        "tiers": TIERS,
        "kept": kept,
        "shares": {
            scale: {
                label: {
                    "all": shares(rows),
                    "kept": shares({n: rows[n] for n in kept}),
                }
                for label, rows in prof.items()
            }
            for scale, prof in profiles.items()
        },
        "profiles": profiles,
    }
    with open(os.path.join(HERE, "relational_profile.json"), "w") as f:
        json.dump(result, f, indent=1)
        f.write("\n")
    print(json.dumps({"kept": kept, "shares": result["shares"]}, indent=1))


if __name__ == "__main__":
    main()
