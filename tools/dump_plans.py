"""Dump `.explain("formatted")` for every bench headliner to
<outdir>/<query>_<tag>.txt (tag = before/after). Non-adaptive so exchange
reuse and join strategies are statically visible (same convention as
tools/gen_plans.py). sf0.1 — the bench scale.

Usage: python tools/dump_plans.py <outdir> before|after [name ...]
(e.g. ``plans/r14`` as outdir)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    outdir, tag = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    from youcruit_tap_rawpostgresql_spark.querybank import REGISTRY
    from youcruit_tap_rawpostgresql_spark.session import get_session

    spark = get_session(app_name="spark-graft-plan-dump", cpus=8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    os.makedirs(outdir, exist_ok=True)
    for name, case in REGISTRY.items():
        if only:
            if name not in only:  # explicit names: any registry case
                continue
        elif not case.headline:
            continue
        try:
            df = case.fn(spark, SF_DIR)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            text = f"(plan unavailable: {type(e).__name__}: {e})"
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(text)
        print(name, flush=True)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.stop()


if __name__ == "__main__":
    main()
