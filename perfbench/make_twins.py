"""Rebuild twins.json: the expected result of every query the benchmark runs.

Each query's DuckDB oracle SQL runs over the benchmark's fixtures and its
result is stored in the canonical form ``check.py`` compares against. Every
query the benchmark runs must have oracle SQL.

    python3 perfbench/make_twins.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from check import canonical_frame  # noqa: E402
from worker import CONTROL  # noqa: E402


def main() -> None:
    import duckdb

    from aws_saas_etl_spark import registry
    from aws_saas_etl_spark.catalog import TABLES, table_path

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    names = sorted({CONTROL, *(n for w in spec["workloads"].values() for n in w["queries"])})
    fixtures = os.path.join(HERE, "fixtures")
    oracles = registry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(fixtures, t)}')"
        )
    missing = [n for n in names if n not in oracles]
    if missing:
        sys.exit(f"no oracle SQL for {missing}")
    twins = {name: canonical_frame(con.execute(oracles[name]).df()) for name in names}
    with open(os.path.join(HERE, "twins.json"), "w") as f:
        json.dump({"fixtures": "fixtures/ (copy of the sf0.01 tables)", "queries": twins}, f)
        f.write("\n")
    for name in names:
        print(name, len(twins[name]["rows"]))


if __name__ == "__main__":
    main()
