"""Capture .explain('formatted') for named queries into plans/<dir>/.

Usage: python tools/explain_queries.py <suffix> <query> [query ...]

Writes plans/$SPARK_GRAFT_PLANS_DIR/<query>_<suffix>.txt for each query
(suffix = before/after; dir defaults to r14). NOTE (ADVICE r13 #2):
building a DataFrame is NOT always execution-free — several builders run
eager persist()+materialize jobs, so plan capture executes real Spark
jobs. Persistent RDDs
are swept between queries so one query's persists cannot leak into the
next plan or hold executor storage across the loop. sf dir from
$SPARK_GRAFT_SF_DIR (default sf0.1 so plan shapes match the bench, e.g.
broadcast-threshold decisions).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.environ.get("SPARK_GRAFT_PLANS_DIR", "r14")


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    from shared_etl_pipelines_spark.engine import (
        get_spark,
        sweep_persistent_rdds,
    )
    from shared_etl_pipelines_spark.queries import REGISTRY

    spark = get_spark("explain", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    outdir = os.path.join(REPO, "plans", PLANS_DIR)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') @ {SF_DIR} [{suffix}]\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")
        try:
            sweep_persistent_rdds(spark)
        except Exception as exc:  # a wedged sweep must not sink the loop
            print(f"  (sweep skipped: {exc})", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
