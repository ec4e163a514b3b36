"""Self-tests for the benchmark (not part of the repository's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The ledger-closure test starts one local Spark session (about 10 s).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, tables_read  # noqa: E402

# ledger closure: the parts of an op may differ from its wall time by this
CLOSURE_ABS_S = 0.02
CLOSURE_REL = 0.02


def _tables(d: Path) -> dict:
    return {t: pq.read_table(d / f"{t}.parquet") for t in inputs.TABLES}


def test_same_seed_same_inputs_other_seed_other_payloads(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    inputs.generate(7, a)
    inputs.generate(7, b)
    inputs.generate(8, c)
    for t in inputs.TABLES:
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes(), t
    ta, tc, fx = _tables(a), _tables(c), _tables(inputs.FIXTURE_DIR)
    for t in inputs.TABLES:
        assert ta[t].schema == fx[t].schema == tc[t].schema, t
        assert ta[t].num_rows == fx[t].num_rows == tc[t].num_rows, t
        for k in inputs.KEY_COLUMNS[t]:
            assert ta[t].column(k) == fx[t].column(k), (t, k)
        payload = inputs.payload_columns(t, ta[t].column_names)
        if ta[t].num_rows > 1:
            assert any(ta[t].column(p) != tc[t].column(p) for p in payload), t
        # payloads move whole: the multiset of payload rows is the fixture's
        rows = [sorted(map(repr, tb[t].select(payload).to_pylist())) for tb in (fx, tc)]
        assert rows[0] == rows[1], t
    ids = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}
    for t, col in ids.items():
        assert tc[t].column(col).to_pylist() == list(range(tc[t].num_rows)), t


def test_fixture_seed_reproduces_fixture_bytes(tmp_path):
    inputs.generate(inputs.FIXTURE_SEED, tmp_path)
    for t in inputs.TABLES:
        src = inputs.FIXTURE_DIR / f"{t}.parquet"
        assert (tmp_path / f"{t}.parquet").read_bytes() == src.read_bytes(), t


class _Frame:
    """Stands in for a Spark DataFrame: the comparator only calls toPandas."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf.copy()


def test_planted_wrong_value_fails_the_check(tmp_path):
    from aram_matchdata_etl_spark import registry
    from tests.oracle_utils import duckdb_df

    inputs.generate(3, tmp_path)
    key = "q_tpch_q1"
    oracle = registry.all_oracles()[key]
    want = duckdb_df(oracle, str(tmp_path))
    num = next(c for c in want.columns if pd.api.types.is_float_dtype(want[c]))
    planted = want.copy()
    planted.loc[planted.index[0], num] += 0.01
    queries = {"good": lambda s, d: _Frame(want), "bad": lambda s, d: _Frame(planted)}
    oracles = {"good": oracle, "bad": oracle}
    checks, _ = run.check_pass(None, ["good", "bad"], queries, oracles, str(tmp_path))
    assert checks["good"] is None
    assert checks["bad"] is not None and "value mismatch" in checks["bad"]


def test_op_p50_is_median_of_per_op_medians():
    recs = [ledger.OpRecord(n, "x", t) for n, t in
            [("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 5.0), ("c", 0.5), ("c", 0.7)]]
    assert run.op_p50(recs) == 2.0


def test_covered_merges_and_clips():
    assert ledger.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert ledger.covered([(-1, 1), (9, 12)], 0, 10) == 2
    assert ledger.covered([], 0, 10) == 0


def test_metric_names_match_benchmark_json():
    from aram_matchdata_etl_spark import registry

    setups = [{"setup_s": 1.0, "session.get_spark_s": 0.8,
               "registry.all_queries_s": 0.2}]
    recs = [ledger.OpRecord("a", "x", 0.1, 0.4), ledger.OpRecord("b", "x", 0.5, 1.0)]
    e2e = run.end_to_end_metrics(setups, [2.0], recs, 100, 2**30)
    assert set(e2e) == set(run.declared_metrics("end_to_end"))
    import stages

    layers = run.all_layers(registry.all_queries())
    per = run.per_layer_metrics(setups, [2.0], [2.1], 0.1, [], layers,
                                dict.fromkeys(stages.METRICS, 0.0))
    assert set(per) == set(run.declared_metrics("per_layer"))
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_seeded_transport_pages_follow_the_seed():
    import stages

    a, b, c = stages.SeededTransport7(), stages.SeededTransport7(), stages.SeededTransport8()
    assert type(a) is type(b) and a.seed == 7 and c.seed == 8
    pages = [[t.match_ids(u) for u in range(40)] for t in (a, b, c)]
    assert pages[0] == pages[1] != pages[2]
    ids = [m for page in pages[0] for m in page]
    assert len(set(ids)) < len(ids)  # pages overlap: the merge has duplicates to drop
    assert a.match_detail(ids[0]) == c.match_detail(ids[0])  # replay-safe fetch
    assert stages.transport_path(7) == "stages:SeededTransport7"
    with pytest.raises(AttributeError):
        stages.SeededTransportX  # noqa: B018


def test_ranking_check_catches_a_changed_evaluation():
    import stages

    st = stages.RankingStage(None, "")
    st.first_eval = {"rmse": 0.5, "mae": 0.4}
    st.state["eval"] = dict(st.first_eval)
    assert st.check(full=False) is None
    st.state["eval"]["rmse"] = 0.5000001
    assert "evaluate()" in st.check(full=False)


def test_workloads_read_stated_tables():
    from aram_matchdata_etl_spark import registry

    oracles = registry.all_oracles()
    assert tables_read(oracles, WORKLOADS["curation"].keys, inputs.TABLES) == (
        "documents", "embeddings")
    assert "lineitem" in tables_read(oracles, WORKLOADS["analytics"].keys, inputs.TABLES)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(run.ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


@pytest.fixture(scope="module")
def spark():
    session, _, _ = run.setup()
    yield session
    run.stop_spark(session)


@pytest.mark.parametrize("key", ["q_tpch_q3", "q_kcore"])
def test_ledger_closes(spark, key, tmp_path_factory):
    from aram_matchdata_etl_spark import registry

    sf_dir = tmp_path_factory.mktemp("in")
    inputs.generate(5, sf_dir)
    fn = registry.all_queries()[key]
    tracer = ledger.Tracer(spark)
    for _ in range(2):  # the second run is warm
        t0 = time.perf_counter()
        rec = tracer.run_op(key, "x", lambda: fn(spark, str(sf_dir)), run.noop_write, None)
        wall = time.perf_counter() - t0
    assert rec.error is None and rec.jobs > 0
    tol = CLOSURE_ABS_S + CLOSURE_REL * rec.wall_s
    # the outer wall also covers the status-store walk after the op
    assert rec.wall_s <= wall
    lo, hi = rec.window
    assert abs((hi - lo) - rec.wall_s) <= tol
    assert abs(rec.in_job_s + rec.job_gap_s - rec.wall_s) <= tol
    assert 0 < rec.in_job_s <= rec.wall_s + tol
    for a, b in rec.job_intervals:  # JVM job times fall inside the op window
        assert lo - tol <= a <= b <= hi + tol
    assert rec.executor_cpu_s > 0


def test_crawl_check_catches_a_planted_duplicate(spark, tmp_path):
    import stages
    from aram_matchdata_etl_spark.streaming.atomic import commit_version, read_current

    st = stages.CrawlStage(spark, tmp_path / "crawl", seed=4)
    for op in st.ops():
        rec = ledger.run_op(op.name, op.layer, op.build, op.action)
        assert rec.error is None
    assert st.check(full=True) is None
    assert [len(p) for p, _ in st.history] == [2]  # two micro-batches
    table, _ = st._paths()
    got = read_current(spark, table)
    commit_version(got.unionByName(got.limit(1)), table)
    assert "rows" in st.check(full=False)
