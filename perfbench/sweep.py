"""Check candidate keys and the stages on many seeds; print a table.

    python3 perfbench/sweep.py --seeds 0-20 > sweep.txt

One Spark session; for every seed the inputs are regenerated, every key
is compared with its DuckDB oracle by ``tests/oracle_utils`` and every
stage of ``perfbench/stages.py`` runs once and checks its output. A key
or stage that fails on any seed must not be timed by a workload
(``perfbench/SWEEP.md`` records the published result).
"""

from __future__ import annotations

import argparse
import sys

import run
from workloads import WORKLOADS

STAGES = ("ranking", "crawl")
CANDIDATES = (
    "q_perplexity_buckets",
    "q_tpch_q1",
    "q_tpch_q18",
    "q_tpch_q21",
    "q_dau_mau",
    "q_dedup_clusters_lsh",
    "q_setsim_zipf",
    "q_tfidf",
    "q_tpch_q9",
    "q_pagerank",
    "q_derived_features",
    "q_champion_stats",
    "q_groupjoin_deathshare",
    "q_window_rank",
)


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="0-20")
    args = ap.parse_args()
    keys = list(dict.fromkeys([k for w in WORKLOADS.values() for k in w.keys]
                              + list(CANDIDATES)))
    spark, queries, _ = run.setup()
    from aram_matchdata_etl_spark import registry

    import stages

    oracles = registry.all_oracles()
    failures: dict[str, list[str]] = {k: [] for k in keys + list(STAGES)}
    for seed in parse_seeds(args.seeds):
        sf_dir = run.WORK / "inputs" / f"sweep-seed-{seed}"
        run.inputs.generate(seed, sf_dir)
        checks, _ = run.check_pass(spark, keys, queries, oracles, str(sf_dir))
        stage_list = stages.make(STAGES, spark, str(sf_dir), run.WORK / "crawl", seed)
        checks.update(run.check_stages(stage_list)[0])
        for key, err in checks.items():
            if err is not None:
                failures[key].append(f"seed {seed}: {err}")
        bad = sorted(k for k, e in checks.items() if e)
        print(f"seed {seed}: {len(checks) - len(bad)}/{len(checks)} ok {bad}",
              file=sys.stderr, flush=True)
    run.stop_spark(spark)
    print(f"| key | seeds {args.seeds} |")
    print("| --- | --- |")
    for key in failures:
        print(f"| {key} | {'ok' if not failures[key] else 'FAIL'} |")
    for key in failures:
        for line in failures[key]:
            print(f"\n{key} {line}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
