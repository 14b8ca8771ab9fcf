#!/usr/bin/env python
"""Capture `.explain("formatted")` output for named registered queries.

Usage: python tools/capture_plans.py <out_dir> <suffix> <query> [<query> ...]

Writes <out_dir>/<query>_<suffix>.txt for each query — the before/after
plan evidence the optimization write-ups cite (plans/r{N}/, not tracked:
regenerate rather than commit). Plans are
captured COLD (session memos cleared before each query) so memo-backed
queries show their full chain, matching tools/plan_audit.py conventions.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_saas_etl_spark import registry  # noqa: E402
from aws_saas_etl_spark.session import clear_session_memos, get_spark  # noqa: E402

SF_DIR = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    out_dir, suffix, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    for name in names:
        clear_session_memos()
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') at {SF_DIR}\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
