"""Apply the benchmark's query-selection rule and write queries.json.

The batch workloads run fixed query lists so that every run, on every
commit, executes the same code. The ``tail`` list comes from the
registry by a stated rule, not by hand:

1. Walk the registry in order and take every STRIDE-th query.
2. Run each taken query twice (cold, then warm) at the tail scale on
   generated data, releasing pins after each run with
   ``pinning.unpersist_all()``, as the benchmark's client does.
3. It joins the list when it has a DuckDB oracle and matches it on
   every probe seed, adds no persisted RDD before the release on any
   seed (it builds no pin), and its warm run on the first seed
   takes under WARM_LIMIT_S seconds (sub-second tail).
4. Keep the first TAIL_N that qualify.

The ``pinned`` list takes, from each of the three shared-pin families
(dedup audit chain, SimHash graph, embedding/kNN), the member whose
warm run on the first seed is fastest, among members that build pins
and match their oracle on every probe seed. The ``batch`` list is the
``tail`` list plus the fastest of the ``pinned`` picks.

Usage: python3 perfbench/select_queries.py
Takes a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

STRIDE = 13
TAIL_N = 8
WARM_LIMIT_S = 1.0
SEEDS = (0, 1)
# The three shared-pin families, two named members each.
FAMILIES = {
    "dedup_audit": ["dedup_tier_agreement", "blocking_recall_audit"],
    "simhash_graph": ["dedup_clusters", "kcore"],
    "embedding_knn": ["knn_graph", "pq_codes"],
}
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "queries.json")


def probe(seed: int, names: list[str], sf: float) -> dict[str, dict]:
    """Run each query cold then warm; record pins, oracle match, warm time."""
    import datagen
    from _kafka_streams_scaffold_spark import pinning, registry

    sf_dir = datagen.write(sf, seed, os.path.join(common.WORK, f"select-{seed}"))
    spark = common.build_session()
    canon = common.load_check_oracle()
    con = common.duck_connection(sf_dir)
    fns, oracles = registry.queries(), registry.oracle_sql()
    results: dict[str, dict] = {}
    for name in names:
        rec: dict = {}
        try:
            for run in ("cold", "warm"):
                before = common.persisted(spark).keys()
                t0 = time.perf_counter()
                df = fns[name](spark, sf_dir)
                rows = df.collect()
                rec[f"{run}_s"] = round(time.perf_counter() - t0, 3)
                rec["pins"] = max(rec.get("pins", 0), len(common.persisted(spark).keys() - before))
                pinning.unpersist_all()
            rec["match"] = name in oracles and (
                common.oracle_rowset(con, oracles[name], canon)
                == (sorted(df.columns), canon._rowset(df.columns, rows))
            )
        except Exception as ex:  # noqa: BLE001 - a failing query is not taken
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:200]}"
            pinning.unpersist_all()
        results[name] = rec
        print(seed, name, rec, file=sys.stderr, flush=True)
    spark.stop()
    return results


def main() -> int:
    import batch

    common.prepare_env(len(os.sched_getaffinity(0)))
    from _kafka_streams_scaffold_spark import registry

    taken = list(registry.queries())[::STRIDE]
    members = [m for ms in FAMILIES.values() for m in ms]
    runs = [probe(SEEDS[0], taken + members, batch.SF)]
    first = runs[0]
    live = [
        n for n in taken
        if first[n].get("match") and first[n].get("pins") == 0
        and first[n].get("warm_s", 1e9) < WARM_LIMIT_S
    ]
    for seed in SEEDS[1:]:
        runs.append(probe(seed, live + members, batch.SF))
    tail = [n for n in live if all(r[n].get("match") and r[n].get("pins") == 0 for r in runs)]
    tail = tail[:TAIL_N]
    pinned = []
    for ms in FAMILIES.values():
        ok = [m for m in ms if all(r[m].get("match") and r[m].get("pins", 0) > 0 for r in runs)]
        if ok:
            pinned.append(min(ok, key=lambda m: first[m]["warm_s"]))
    if len(pinned) < len(FAMILIES) or len(tail) < TAIL_N:
        raise SystemExit(f"selection failed: pinned {pinned}, tail has {len(tail)} of {TAIL_N}")
    cheapest = min(pinned, key=lambda m: first[m]["warm_s"])
    spec = {
        "rule": (
            f"tail: every {STRIDE}-th registry query (registry order) that has a DuckDB "
            f"oracle, matches it and persists no RDD on probe seeds {list(SEEDS)}, and "
            f"runs warm in under {WARM_LIMIT_S} s at sf{batch.SF}; the first "
            f"{TAIL_N}. pinned: from each shared-pin family (dedup audit: "
            "dedup_tier_agreement, blocking_recall_audit; SimHash graph: dedup_clusters, "
            "kcore; embedding/kNN: knn_graph, pq_codes) the member with the fastest warm "
            "run among those that build pins and match their oracle on every probe seed. "
            "batch: the tail list plus the pinned pick with the fastest warm run"
        ),
        "tail": tail,
        "pinned": pinned,
        "batch": tail + [cheapest],
        "probe": {str(s): r for s, r in zip(SEEDS, runs)},
    }
    with open(OUT, "w") as fh:
        json.dump(spec, fh, indent=1)
        fh.write("\n")
    print(f"wrote {OUT}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main())
    finally:
        common.shutdown()
