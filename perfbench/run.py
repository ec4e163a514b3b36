"""Benchmark for aram_matchdata_etl_spark: seeded workloads driven from one
process through the package's public functions.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One run:

1. set-up: import the package, start the JVM, ``session.get_spark()``,
   ``registry.all_queries()`` (timed from just before the package import,
   after the benchmark's own imports);
2. writes the seed's inputs (``perfbench/inputs.py``) under ``.perfbench/``;
3. check pass: builds every key of the workload once and compares its
   output with the key's DuckDB oracle through
   ``tests/oracle_utils.assert_matches_oracle``, then runs each stage
   (``perfbench/stages.py``) once and checks its output; this pass is also
   the warm-up and is not timed;
4. timed passes: each key is built, then materialised with a noop write,
   then each stage's ops run; after each pass every stage checks what the
   pass produced, untimed; whole passes until ``--seconds`` have passed
   and at least the workload's ``passes`` ran; peak memory is sampled
   over these passes only;
5. stops Spark and times one more set-up in a fresh process.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs untraced
passes, then the same passes traced (job group per op, status-store walk
after each op, see ``perfbench/ledger.py``) and prints the per-layer
metrics, including the tracing overhead. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed``, ``metrics``.

Load: one driver process, ``local[4]``, a fixed 2 GB driver heap.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback
from functools import partial
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
PACKAGE = "aram_matchdata_etl_spark"
CPUS = "4"
DRIVER_MEMORY = "2g"
SETUP_SAMPLES = 2  # this process plus one fresh process
TAIL_BEYOND = 10  # op_tail_s: highest percentile with this many samples above
SUBPROCESS_TIMEOUT_S = 120
RSS_INTERVAL_S = 0.2  # PeakRss sampling period

sys.path[:0] = [str(ROOT), str(HERE)]

import inputs  # noqa: E402
import ledger  # noqa: E402
from ledger import Op, noop_write  # noqa: E402
from workloads import WORKLOADS, layer_of, tables_read  # noqa: E402

LAYER_FIELDS = ("build_s", "exec_s", "jobs", "job_gap_s", "executor_cpu_s",
                "shuffle_write_mb", "spill_mb")


def configure_env() -> dict[str, str]:
    """Pin the load and keep every file Spark writes inside the checkout.
    Runs before the JVM starts: it and the Python workers inherit the
    environment (the workers import the crawl transport from this
    directory)."""
    for d in ("tmp", "spark-local", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    # A fixed-size heap under the parallel collector: G1 resizes its heap
    # from GC-time ratios, which made peak RSS swing by half a gigabyte
    # between runs of one seed.
    driver_opts = f"{jvm_opts} -Xms{DRIVER_MEMORY} -XX:+UseParallelGC"
    os.environ.update(
        SPARK_LAUNCHER_OPTS=jvm_opts,
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_WAREHOUSE_DIR=str(WORK / "warehouse"),
        TMPDIR=str(WORK / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            [str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.driver.extraJavaOptions": driver_opts,
    }


def setup():
    """The timed set-up: package import, JVM start, get_spark(),
    all_queries()."""
    conf = configure_env()
    t0 = time.perf_counter()
    from aram_matchdata_etl_spark.session import get_spark

    spark = get_spark(extra_conf=conf)
    t1 = time.perf_counter()
    from aram_matchdata_etl_spark import registry

    queries = registry.all_queries()
    t2 = time.perf_counter()
    return spark, queries, {
        "setup_s": t2 - t0,
        "session.get_spark_s": t1 - t0,
        "registry.all_queries_s": t2 - t1,
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=SUBPROCESS_TIMEOUT_S)


def setup_probe() -> dict[str, float]:
    """Set up in this (fresh) process, stop, and return the timings."""
    spark, _, timing = setup()
    stop_spark(spark)
    return timing


def fresh_setup() -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--setup-probe"],
        cwd=ROOT, capture_output=True, text=True, timeout=SUBPROCESS_TIMEOUT_S,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    # the ppid follows the parenthesised command name
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def check_pass(spark, keys, queries, oracles, sf_dir):
    """Compare each key's output with its oracle. Returns key -> failure
    (None when it matched) and key -> seconds the check took."""
    from tests.oracle_utils import assert_matches_oracle

    result: dict[str, str | None] = {}
    seconds: dict[str, float] = {}
    for key in keys:
        t = time.perf_counter()
        try:
            assert_matches_oracle(queries[key](spark, sf_dir), oracles[key], sf_dir, key)
            result[key] = None
        except Exception as e:  # a failed check is reported, not fatal
            result[key] = f"{type(e).__name__}: {e}"[:2000]
        seconds[key] = time.perf_counter() - t
    return result, seconds


def check_stages(stage_list) -> tuple[dict[str, str | None], dict[str, float]]:
    """Run each stage's ops once, untimed, and check all they produced.
    Returns stage -> failure (None when it passed) and stage -> seconds."""
    result: dict[str, str | None] = {}
    seconds: dict[str, float] = {}
    for st in stage_list:
        t = time.perf_counter()
        errors = [r.error for op in st.ops()
                  if (r := ledger.run_op(op.name, op.layer, op.build, op.action)).error]
        try:
            result[st.name] = errors[0] if errors else st.check(full=True)
        except Exception as e:
            result[st.name] = f"{type(e).__name__}: {e}"[:2000]
        seconds[st.name] = time.perf_counter() - t
    return result, seconds


def key_ops(spark, keys, queries, sf_dir) -> list[Op]:
    """One op per registry key: build it, then a noop write."""
    return [Op(k, layer_of(queries[k]), partial(queries[k], spark, sf_dir), noop_write)
            for k in keys]


def timed_passes(wl, ops_of_pass, stage_list, seconds, tracer=None):
    """Whole passes over the workload's ops until ``seconds`` have passed
    and at least ``wl.passes`` ran; after each pass (untimed) every stage
    checks its output, and a failed check marks that stage's ops of the
    pass as failed. Returns (pass wall times, op records)."""
    walls, records = [], []
    start = time.perf_counter()
    while len(walls) < wl.passes or time.perf_counter() - start < seconds:
        ops = ops_of_pass()
        t0 = time.perf_counter()
        parent = None
        if tracer is not None:
            parent = tracer.span(f"pass {len(walls)}", time.time(), 0.0, None)
        recs = []
        for op in ops:
            if tracer is None:
                rec = ledger.run_op(op.name, op.layer, op.build, op.action)
            else:
                rec = tracer.run_op(op.name, op.layer, op.build, op.action, parent)
            recs.append(rec)
        walls.append(time.perf_counter() - t0)
        if tracer is not None:
            tracer.spans[parent]["end"] = time.time()
        for st in stage_list:
            try:
                err = st.check(full=False)
            except Exception as e:
                err = f"{type(e).__name__}: {e}"[:2000]
            for r in recs:
                if err and r.layer == st.LAYER and not r.error:
                    r.error = err
        for r in recs:
            if r.error:
                print(f"op {r.name} failed: {r.error}", file=sys.stderr)
        records.extend(recs)
    return walls, records


class MatchViewTimer:
    """Times ``sources.match_view.player_base`` (the match view's build)
    wherever ``operators.match_pipeline`` calls it, by wrapping the name
    that module resolves at call time; used by traced runs only."""

    def __init__(self):
        from aram_matchdata_etl_spark.operators import match_pipeline

        self.module = match_pipeline
        self.inner = match_pipeline.player_base
        self.seconds = 0.0

    def __enter__(self) -> "MatchViewTimer":
        def timed(*args, **kwargs):
            t = time.perf_counter()
            try:
                return self.inner(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t

        self.module.player_base = timed
        return self

    def __exit__(self, *exc) -> None:
        self.module.player_base = self.inner


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the highest percentile that
    has at least TAIL_BEYOND samples above it; with fewer samples than
    that, the minimum and the count above it."""
    s = sorted(values)
    k = max(0, len(s) - TAIL_BEYOND - 1)
    return s[k], 100.0 * (k + 1) / len(s), len(s) - k - 1


def all_layers(queries) -> list[str]:
    """Every layer some workload times: the per-layer metric namespace."""
    return sorted({layer_of(queries[k]) for w in WORKLOADS.values() for k in w.keys})


def op_p50(records: list[ledger.OpRecord]) -> float:
    """Median over ops of each op's median time across the passes."""
    times: dict[str, list[float]] = {}
    for r in records:
        times.setdefault(r.name, []).append(r.wall_s)
    return statistics.median(statistics.median(t) for t in times.values())


def end_to_end_metrics(setups: list[dict], walls: list[float],
                       records: list[ledger.OpRecord], input_rows: int,
                       peak_bytes: int) -> dict[str, float]:
    run_s = statistics.median(walls)
    return {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "run_s": run_s,
        "rows_per_s": input_rows / run_s,
        "op_p50_s": op_p50(records),
        "peak_rss_mb": peak_bytes / 2**20,
    }


def per_layer_metrics(setups: list[dict], walls: list[float],
                      traced_walls: list[float], walk_s: float,
                      traced: list[ledger.OpRecord], layers: list[str],
                      stage_metrics: dict[str, float]) -> dict[str, float]:
    """Set-up parts (medians), tracing cost, per operator layer the totals
    of one traced pass (mean over the traced passes), then the stages' and
    the match view's metrics. A layer the workload does not run reads 0."""
    n = len(traced_walls)
    out = {
        "session.get_spark_s": statistics.median(s["session.get_spark_s"] for s in setups),
        "registry.all_queries_s": statistics.median(
            s["registry.all_queries_s"] for s in setups
        ),
        "trace.overhead_s": statistics.median(traced_walls) - statistics.median(walls),
        "trace.status_walk_s": walk_s / n,
    }
    for layer in layers:
        mine = [r for r in traced if r.layer == layer]
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = sum(getattr(r, f) for r in mine) / n
    out.update(stage_metrics)
    return out


def environment(spark) -> str:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    java = spark._jvm.System.getProperty("java.version")
    return (f"env: nproc={os.cpu_count()} ram_gb={mem_kb / 2**20:.1f} "
            f"java={java} pyspark={pyspark.__version__} master=local[{CPUS}] "
            f"driver_memory={DRIVER_MEMORY}")


def declared_metrics(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics in
    BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=inputs.FIXTURE_SEED)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true",
                    help="time one set-up in this process and exit")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    if args.setup_probe:
        print(json.dumps(setup_probe()))
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    units = declared_metrics("per_layer" if args.trace else "end_to_end")

    spark, queries, setup_main = setup()
    from aram_matchdata_etl_spark import registry

    import stages

    wl = WORKLOADS[args.workload]
    oracles = registry.all_oracles()
    sf_dir = WORK / "inputs" / f"seed-{args.seed}"
    rows = inputs.generate(args.seed, sf_dir)
    sf_dir = str(sf_dir)
    used = tables_read(oracles, wl.keys, inputs.TABLES)
    stage_list = stages.make(wl.stages, spark, sf_dir, WORK / "crawl", args.seed)
    row_counts = {t: rows[t] for t in used}
    row_counts.update({f"{st.name}_source": st.input_rows for st in stage_list
                       if hasattr(st, "input_rows")})
    input_rows = sum(row_counts.values())
    env_line = environment(spark)

    def ops_of_pass() -> list[Op]:
        return key_ops(spark, wl.keys, queries, sf_dir) + [
            op for st in stage_list for op in st.ops()]

    t = time.perf_counter()
    checks, check_secs = check_pass(spark, wl.keys, queries, oracles, sf_dir)
    stage_checks, stage_secs = check_stages(stage_list)
    checks.update(stage_checks)
    check_secs.update(stage_secs)
    check_s = time.perf_counter() - t
    # sampled after the check pass, whose oracle side (DuckDB, pandas)
    # runs in this process
    with PeakRss() as rss:
        walls, records = timed_passes(wl, ops_of_pass, stage_list, args.seconds)
        traced_walls, traced = [], []
        if args.trace:
            tracer = ledger.Tracer(spark)
            with MatchViewTimer() as match_view:
                traced_walls, traced = timed_passes(
                    wl, ops_of_pass, stage_list, args.seconds, tracer)
    stop_spark(spark)
    setups = [setup_main] + [fresh_setup() for _ in range(SETUP_SAMPLES - 1)]

    bad = {k for k, v in checks.items() if v is not None}
    bad_layers = {st.LAYER for st in stage_list if st.name in bad}
    all_records = records + traced
    failed = sum(1 for r in all_records
                 if r.error or r.name in bad or r.layer in bad_layers)
    attempted = len(all_records)
    op_times = [r.wall_s for r in records]
    if args.trace:
        n = len(traced_walls)
        stage_metrics = dict.fromkeys(stages.METRICS, 0.0)
        stage_metrics["sources.match_view.build_s"] = match_view.seconds / n
        for st in stage_list:
            stage_metrics.update(st.layer_metrics(traced, n))
        metrics = per_layer_metrics(setups, walls, traced_walls, tracer.walk_s,
                                    traced, all_layers(queries), stage_metrics)
        tracer.write(WORK / "trace" / f"{wl.name}-seed{args.seed}.json", traced)
    else:
        metrics = end_to_end_metrics(setups, walls, records, input_rows,
                                     rss.peak_bytes)
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metrics {sorted(set(metrics) ^ set(units))} differ from BENCHMARK.json"
        )

    print(env_line)
    print(f"workload={wl.name} seed={args.seed} trace={args.trace} "
          f"input_rows={input_rows} ({', '.join(f'{t}={n}' for t, n in row_counts.items())}) "
          f"passes={len(walls)} ops={len(records)} check_pass_s={check_s:.3f}")
    for key, err in checks.items():
        print(f"check {key}: {'ok' if err is None else 'FAIL ' + err} "
              f"({check_secs[key]:.3f} s)")
    per_pass = len(records) // len(walls)
    for r in records[:per_pass] + traced[:per_pass]:
        extra = (f" jobs={r.jobs} job_gap_s={r.job_gap_s:.3f} "
                 f"executor_cpu_s={r.executor_cpu_s:.3f}" if r in traced else "")
        print(f"op {r.name} [{r.layer}] build_s={r.build_s:.3f} "
              f"exec_s={r.exec_s:.3f}{extra}")
    tail_v, tail_p, tail_n = tail(op_times)
    print(f"error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    print(f"op_tail_s={tail_v:.4f} (p{tail_p:.1f} of {len(op_times)} ops, "
          f"{tail_n} beyond)")
    print(f"setup_s samples: {[round(s['setup_s'], 3) for s in setups]}")
    print(f"pass walls: {[round(w, 3) for w in walls]}")
    if args.trace:
        print(f"trace.overhead_s={metrics['trace.overhead_s']:.4f} "
              f"(traced {statistics.median(traced_walls):.3f} s - untraced "
              f"{statistics.median(walls):.3f} s per pass)")
    for n, v in metrics.items():
        print(f"metric {n} = {v:.6g} {units[n]}")
    result = {
        "correct": not bad and not any(r.error for r in all_records),
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
