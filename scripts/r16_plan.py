"""Plan-evidence dumper.

Usage: python scripts/r16_plan.py [--round r17] --suffix before QUERY [QUERY...]

Writes plans/<round>/<query>_<suffix>.txt (round default r16) with the
builder's ``explain("formatted")`` output at $SPARK_GRAFT_SF_DIR
(default sf0.1). No timing — see scripts/r15_measure.py for the
measuring harness.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcp_serverless_etl_pipeline_lab_spark.harness import QUERIES
from gcp_serverless_etl_pipeline_lab_spark.session import get_session


def main() -> None:
    args = sys.argv[1:]
    suffix = "before"
    rnd = "r16"
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif args[i] == "--round":
            rnd = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(app_name="r16_plan")
    for name in names:
        try:
            df = QUERIES[name].builder(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"{name}: ok", flush=True)
        except Exception as e:
            print(f"{name}: FAILED: {e}", flush=True)


if __name__ == "__main__":
    main()
