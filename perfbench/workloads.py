"""Benchmark workloads: which registry keys and stages each one times.

Two workloads that stress different layers, so a change aimed at one can
be checked for no change on the other (``BENCHMARK.json`` gives the same
reasons in one line each):

* ``curation`` runs the LLM-data operators over ``documents`` and
  ``embeddings`` (Python UDF/Arrow batches, MinHash/LSH, shuffle-heavy
  joins; the dedup, similarity, training, text and privacy modules), then
  the ``crawl`` stage: the paper's Extract stage, a ``riot_matches``
  stream (a Python data source) into the bronze merge-upsert, the only
  op that writes.
* ``analytics`` runs short JVM-only queries (TPC-H, event analytics,
  sessionization, as-of join, the k-core loop, the match-ranking flagship
  ``q_player_rank``) and the ``ranking`` stage: the Transform stage's
  ``ml.ranking`` split, fit, predict and evaluate. Its time is mostly
  per-job overhead and gaps between jobs. It starts no Python worker, so a
  change to the Python/Arrow path should read flat here.

One key per operator module: a run has to stay near a minute (two set-ups
about 14 s, the cold check pass 22 to 31 s, two warm passes of 9 to 11 s).

A key stays in a workload only if it passed its oracle check on every
swept seed (``perfbench/SWEEP.md``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]  # registry keys, one op each
    stages: tuple[str, ...]  # ``perfbench/stages.py`` stages, after the keys
    passes: int  # least number of timed passes per run


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "curation",
            (
                "q_dedup_minhash_lsh",
                "q_semdedup",
                "q_bigram_lm_score",
                "q_boilerplate_removal",
                "q_pii_redact",
            ),
            stages=("crawl",),
            passes=2,
        ),
        Workload(
            "analytics",
            (
                "q_tpch_q3",
                "q_sessionize",
                "q_funnel",
                "q_asof_join",
                "q_kcore",
                "q_player_rank",
            ),
            stages=("ranking",),
            passes=2,
        ),
    )
}


def layer_of(query_fn) -> str:
    """Layer name of a registry query: its operator module."""
    return "operators." + query_fn.__module__.rsplit(".", 1)[-1]


def tables_read(oracles: dict[str, str], keys: tuple[str, ...],
                tables: tuple[str, ...]) -> tuple[str, ...]:
    """Input tables the keys read, from the FROM/JOIN clauses of their
    oracle SQL (each key's oracle reads exactly the tables it does)."""
    used = set()
    for key in keys:
        for t in tables:
            if re.search(rf"\b(?:FROM|JOIN)\s+{t}\b", oracles[key], re.IGNORECASE):
                used.add(t)
    return tuple(t for t in tables if t in used)
