"""Dump `.explain("formatted")` for named queries to plans/<subdir>/<q>_<suffix>.txt.

    python tools/dump_plan.py <subdir> before q1 q2 ...
    python tools/dump_plan.py <subdir> after q1 q2 ...

``SPARK_GRAFT_SF_DIR`` names the directory of the tables to plan over.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dbm_nca_ph_etl_spark.plans.queries import QUERIES  # noqa: E402
from dbm_nca_ph_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    subdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("set SPARK_GRAFT_SF_DIR to the table directory")
    out_dir = os.path.join(ROOT, "plans", subdir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans_{subdir}_{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
