"""The paper's two stages as benchmark ops, beside the registry keys.

* ``RankingStage`` is the Transform stage's model half (``ml.ranking``):
  ``silver_with_derived`` + ``match_level_split``, ``train_ensemble``,
  ``predict`` (materialised with a noop write) and ``evaluate``, one op
  each. It fits the default ensemble's linear member only
  (``RankingStage.models``): the default five-model fit took 49 s warm at
  sf0.001, more than a whole run may take.
* ``CrawlStage`` is the Extract stage: the ``riot_matches`` stream, fed by
  ``SeededTransport``, through the bronze parse into a foreachBatch that
  calls ``lakehouse.merge_upsert`` (which dedups each batch on the match id
  and commits through ``atomic.commit_version``), driven with the default
  trigger plus ``processAllAvailable()`` and then stopped: one op per
  stream run. ``trigger(availableNow=True)`` admits one
  ``users_per_batch`` slice only.

Each stage hands ``run.py`` fresh ops for every pass and checks what the
pass produced afterwards, outside the timed region. Its layer metrics are
computed from the traced passes.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from collections.abc import Sequence
from pathlib import Path

from aram_matchdata_etl_spark.sources.riot_datasource import Transport
from ledger import Op, noop_write, nothing


def dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


class SeededTransport(Transport):
    """Crawl API double whose pages depend on ``seed``: a user's page lists
    ``MATCHES_PER_USER`` ids drawn from a pool of ``POOL`` ids, so pages
    overlap and the merge dedups. Detail and timeline are the package's
    deterministic fakes of the id, so a replay reads the same rows. The
    data source builds its transport from a dotted path with no
    arguments, so each seed gets its own class, ``SeededTransport<seed>``
    (see ``__getattr__``)."""

    POOL = 1000
    MATCHES_PER_USER = 10
    seed = 0

    def match_ids(self, user_id: int) -> Sequence[str]:
        rng = random.Random(self.seed * 1_000_003 + user_id)
        picks = rng.sample(range(self.POOL), self.MATCHES_PER_USER)
        return [f"KR_{(self.seed * 7919 + p) % 100000:07d}" for p in picks]

    def match_detail(self, match_id: str) -> dict:
        from aram_matchdata_etl_spark.sources.crawl_api import fake_match_detail

        return fake_match_detail(match_id)

    def match_timeline(self, match_id: str) -> dict:
        from aram_matchdata_etl_spark.sources.crawl_api import fake_match_timeline

        return fake_match_timeline(match_id)


_SEEDED: dict[str, type] = {}


def __getattr__(name: str):
    """``SeededTransport<seed>``, made on first use: the data source looks
    its ``transport`` option up by name, in the Python workers too."""
    prefix = SeededTransport.__name__
    if name.startswith(prefix) and name[len(prefix):].isdigit():
        if name not in _SEEDED:
            _SEEDED[name] = type(name, (SeededTransport,), {
                "seed": int(name[len(prefix):]), "__module__": __name__,
                "__qualname__": name})
        return _SEEDED[name]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def transport_path(seed: int) -> str:
    """The ``transport`` option naming the seed's transport class."""
    return f"{__name__}:{SeededTransport.__name__}{seed}"


class RankingStage:
    """``ml.ranking`` split → fit → predict → evaluate, checked by
    invariants: predictions cover the test split, each match's
    ``predicted_rank`` is a permutation of 1..n, ``evaluate()`` repeats
    exactly across passes and ``rmse`` is below the label's standard
    deviation on the test split."""

    name = "ranking"
    LAYER = "ml.ranking"

    def __init__(self, spark, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir
        self.state: dict = {}
        self.first_eval: dict | None = None

    @staticmethod
    def models() -> dict:
        from aram_matchdata_etl_spark.ml import ranking

        return {"lr": ranking.default_models()["lr"]}

    def ops(self) -> list[Op]:
        from aram_matchdata_etl_spark.ml import ranking

        s = self.state
        s.clear()

        def split():
            s["train"], s["test"] = ranking.match_level_split(
                ranking.silver_with_derived(self.spark, self.sf_dir))

        def fit():
            s["model"] = ranking.train_ensemble(s["train"], models=self.models())

        def predict():
            s["pred"] = s["model"].predict(s["test"])
            return s["pred"]

        def evaluate():
            s["eval"] = ranking.evaluate(s["pred"])

        return [
            Op("ml.ranking.split", self.LAYER, split, nothing),
            Op("ml.ranking.fit", self.LAYER, fit, nothing),
            Op("ml.ranking.predict", self.LAYER, predict, noop_write),
            Op("ml.ranking.evaluate", self.LAYER, evaluate, nothing),
        ]

    def check(self, full: bool) -> str | None:
        """After a pass. ``full`` (the check pass) runs every invariant;
        the timed passes compare ``evaluate()`` with the check pass's."""
        ev = self.state.get("eval")
        if ev is None:
            return "ml.ranking: evaluate() did not run"
        if not full:
            if ev != self.first_eval:
                return f"ml.ranking: evaluate() {ev} != first pass {self.first_eval}"
            return None
        from pyspark.sql import functions as F

        from aram_matchdata_etl_spark.ml.ranking import LABEL

        self.first_eval = ev
        pred, test = self.state["pred"], self.state["test"]
        n_test = test.count()
        n_pred = pred.count()
        if n_pred != n_test:
            return f"ml.ranking: {n_pred} predictions for {n_test} test rows"
        bad = (
            pred.groupBy("match_id")
            .agg(F.count("*").alias("n"), F.min("predicted_rank").alias("lo"),
                 F.max("predicted_rank").alias("hi"),
                 F.countDistinct("predicted_rank").alias("d"))
            .filter("lo != 1 OR hi != n OR d != n")
            .count()
        )
        if bad:
            return f"ml.ranking: predicted_rank is not 1..n in {bad} matches"
        std = test.agg(F.stddev_pop(LABEL)).first()[0]
        if not ev["rmse"] < std:
            return f"ml.ranking: rmse {ev['rmse']:.4f} >= label std {std:.4f}"
        return None

    def layer_metrics(self, traced_records, n_passes: int) -> dict[str, float]:
        """Per traced pass (mean): each op's wall time, the fit's jobs and
        the part of the fit no job covers."""
        by = {}
        for r in traced_records:
            by.setdefault(r.name, []).append(r)

        def per_pass(op: str, f: str) -> float:
            return sum(getattr(r, f) for r in by.get(op, [])) / n_passes

        return {
            "ml.ranking.split_s": per_pass("ml.ranking.split", "wall_s"),
            "ml.ranking.fit_s": per_pass("ml.ranking.fit", "wall_s"),
            "ml.ranking.fit_jobs": per_pass("ml.ranking.fit", "jobs"),
            "ml.ranking.fit_job_gap_s": per_pass("ml.ranking.fit", "job_gap_s"),
            "ml.ranking.predict_s": per_pass("ml.ranking.predict", "wall_s"),
            "ml.ranking.evaluate_s": per_pass("ml.ranking.evaluate", "wall_s"),
        }


class CrawlStage:
    """The crawl stream, checked by parity: the bronze table has one row
    per match id and equals the deduplicated batch read of the same
    transport (check pass); every timed pass's table has the same rows
    (count and distinct ids)."""

    name = "crawl"
    LAYER = "streaming"
    N_USERS = 40
    USERS_PER_BATCH = 20  # two micro-batches

    def __init__(self, spark, work_dir: Path, seed: int):
        from aram_matchdata_etl_spark.sources.riot_datasource import RiotMatchDataSource

        self.spark, self.work_dir = spark, work_dir
        self.transport = transport_path(seed)
        spark.dataSource.register(RiotMatchDataSource)
        self.passes = 0
        self.query = None
        self.merges: list[tuple[float, int]] = []  # (seconds, bytes committed)
        self.expected_rows: int | None = None
        # per checked pass: (progress of each micro-batch, merges)
        self.history: list[tuple[list[dict], list[tuple[float, int]]]] = []

    @property
    def input_rows(self) -> int:
        return self.N_USERS * SeededTransport.MATCHES_PER_USER

    def _source(self, stream: bool):
        reader = self.spark.readStream if stream else self.spark.read
        reader = (reader.format("riot_matches").option("n_users", self.N_USERS)
                  .option("transport", self.transport))
        if stream:
            reader = reader.option("users_per_batch", self.USERS_PER_BATCH)
        return reader.load()

    @staticmethod
    def bronze(df):
        from pyspark.sql import functions as F

        from aram_matchdata_etl_spark.sources.crawl_api import DETAIL_SCHEMA

        parsed = df.withColumn("doc", F.from_json("detail_json", DETAIL_SCHEMA))
        return parsed.filter(F.col("doc.info.gameMode") == "ARAM").select(
            F.col("doc.metadata.matchId").alias("match_id"),
            F.col("doc.info.gameDuration").alias("game_duration"),
            F.size("doc.info.participants").alias("n_participants"),
            "detail_json",
            "timeline_json",
        )

    def _paths(self) -> tuple[str, str]:
        d = self.work_dir / f"pass-{self.passes}"
        return str(d / "bronze"), str(d / "checkpoint")

    def ops(self) -> list[Op]:
        from aram_matchdata_etl_spark.streaming import lakehouse
        from aram_matchdata_etl_spark.streaming.atomic import current_version_path

        self.passes += 1
        shutil.rmtree(self.work_dir, ignore_errors=True)
        table, checkpoint = self._paths()
        merges = self.merges = []

        def sink(batch, epoch_id):
            t = time.perf_counter()
            lakehouse.merge_upsert(batch, table, ["match_id"], ("match_id",))
            seconds = time.perf_counter() - t
            merges.append((seconds, dir_bytes(current_version_path(table))))

        def start():
            stream = self.bronze(self._source(True))
            self.query = (stream.writeStream.outputMode("update").foreachBatch(sink)
                          .option("checkpointLocation", checkpoint).start())
            return self.query

        def drain(query):
            try:
                query.processAllAvailable()
            finally:
                query.stop()

        return [Op("crawl.riot_matches", self.LAYER, start, drain)]

    def check(self, full: bool) -> str | None:
        from pyspark.sql import functions as F

        from aram_matchdata_etl_spark.streaming.atomic import read_current

        self.history.append(([
            {"rows": p.numInputRows, "ms": dict(p.durationMs)}
            for p in self.query.recentProgress
        ], self.merges))
        table, _ = self._paths()
        got = read_current(self.spark, table)
        if got is None:
            return "crawl: no bronze table committed"
        if full:
            cols = ["match_id", "game_duration", "n_participants", "detail_json",
                    "timeline_json"]
            want = self.bronze(self._source(False)).dropDuplicates(["match_id"])
            want_rows = sorted(tuple(r) for r in want.select(cols).collect())
            got_rows = sorted(tuple(r) for r in got.select(cols).collect())
            self.expected_rows = len(want_rows)
            if got_rows != want_rows:
                return (f"crawl: bronze ({len(got_rows)} rows) differs from the "
                        f"deduplicated batch read ({len(want_rows)} rows)")
        row = got.agg(F.count("*").alias("n"),
                      F.countDistinct("match_id").alias("ids")).first()
        if row["n"] != row["ids"] or row["n"] != self.expected_rows:
            return (f"crawl: {row['n']} rows, {row['ids']} ids, "
                    f"expected {self.expected_rows}")
        return None

    def layer_metrics(self, traced_records, n_passes: int) -> dict[str, float]:
        """Over the last ``n_passes`` passes (the traced ones), per pass:
        micro-batch count and timings from ``recentProgress``, merge time
        and bytes committed; ``write_amp`` is bytes committed per byte of
        the final table."""
        traced = self.history[-n_passes:]
        traced_progress = [p for p, _ in traced]
        traced_merges = [m for _, m in traced]
        n = len(traced)
        batches = [b for p in traced_progress for b in p]

        def total(key: str) -> float:
            return sum(b["ms"].get(key, 0) for b in batches) / 1000.0 / n

        written = [sum(b for _, b in m) for m in traced_merges]
        final = [m[-1][1] for m in traced_merges]
        return {
            "streaming.batches": len(batches) / n,
            "streaming.batch_s": statistics.mean(
                b["ms"]["triggerExecution"] / 1000.0 for b in batches),
            "streaming.get_batch_s": total("getBatch"),
            "streaming.add_batch_s": total("addBatch"),
            "streaming.planning_s": total("queryPlanning"),
            "streaming.lakehouse.merge_upsert_s": sum(
                s for m in traced_merges for s, _ in m) / n,
            "streaming.atomic.bytes_written_mb": sum(written) / n / 1e6,
            "streaming.atomic.write_amp": statistics.mean(
                w / f for w, f in zip(written, final)),
        }

# every metric a stage (or the match view) reports in a traced run; a
# workload without the stage reports them as 0
METRICS = (
    "sources.match_view.build_s",
    "ml.ranking.split_s", "ml.ranking.fit_s", "ml.ranking.fit_jobs",
    "ml.ranking.fit_job_gap_s", "ml.ranking.predict_s", "ml.ranking.evaluate_s",
    "streaming.batches", "streaming.batch_s", "streaming.get_batch_s",
    "streaming.add_batch_s", "streaming.planning_s",
    "streaming.lakehouse.merge_upsert_s", "streaming.atomic.bytes_written_mb",
    "streaming.atomic.write_amp",
)


def make(names: tuple[str, ...], spark, sf_dir: str, work_dir: Path,
         seed: int) -> list:
    """The named stages, ready to hand out ops."""
    return [CrawlStage(spark, work_dir, seed) if name == CrawlStage.name
            else RankingStage(spark, sf_dir) for name in names]
