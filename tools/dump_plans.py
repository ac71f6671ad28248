"""Dump ``explain('formatted')`` for named queries to
``plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<tag>.txt`` (optimization-round
evidence files; the round dir defaults to r12).

Usage: python tools/dump_plans.py <tag> <sf_dir> <query> [query ...]
       python tools/dump_plans.py <tag> <sf_dir> ALL   (every registered query)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _kafka_streams_scaffold_spark import pinning, registry, session  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    sf_dir = sys.argv[2]
    names = sys.argv[3:]
    spark = session.build_session("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    if names == ["ALL"]:
        names = list(qs)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r12"),
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(txt)
        pinning.unpersist_all()
        print("wrote", name)
    spark.stop()


if __name__ == "__main__":
    main()
