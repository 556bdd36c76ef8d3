#!/usr/bin/env python3
"""Capture .explain("formatted") output for named registry queries.

Usage: python scripts/capture_plans.py DIR SUFFIX [name ...]
Writes plans/<DIR>/<query>_<SUFFIX>.txt. Default: all headline queries.
Plan-only (no execution) at sf0.1 so the scan stats match the bench dir.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from small_etl_spark.queries import REGISTRY
from small_etl_spark.session import get_spark


def main() -> None:
    out_sub, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or [n for n, s in REGISTRY.items() if s.headline]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-capture")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", out_sub,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = REGISTRY[name].builder(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            plan = f"error: {type(e).__name__}: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
