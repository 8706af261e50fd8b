"""The three workloads: ``dashboard``, ``etl`` and ``curation``.

Each is a closed loop with one client.  A workload sets up once, then
runs *batches* — its fixed set of operations — until the run's time is
used (at least one batch).  Every operation is timed, checked, and
counted failed if it raised or returned a wrong result.

The engine is reached only through its public entry points:
``plans.registry.REGISTRY[...].fn``, ``etl.run_etl``,
``operators.upsert.UpsertTable``, ``operators.latest.latest_per_key``
(the dashboard's freshness read) and
``streaming.stateful.streaming_semdedup_probe``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
from spans import Tracer, log, mean, sum_stats

DASHBOARD_QUERIES = (
    "a1_scorecard", "a2_daily_timeseries", "a3_latest_per_key",
    "a5_latest_join_dim", "j1_dim_join_agg", "t4_hourly_window",
    "w2_moving_avg", "k2_upsert_lww", "j3_asof_join",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
)
DASHBOARD_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events",
)
#: stored twin -> index family (the root it builds under)
STORED_TWINS = {"x54c_incremental_semdedup_auto_stored": "sem"}
#: in the order a batch runs them (see ``Curation``)
CURATION_QUERIES = (
    *STORED_TWINS, "x3g_kmeans_clusters", "x2f_lsh_verified_neardup",
    "x45_semdedup_keep",
)
CURATION_TABLES = ("documents", "embeddings")
STREAM_OP = "stream_semdedup_probe"

#: default scale factor per workload (``--scale`` overrides).  The query
#: workloads read the testdata tables of that scale (``perfbench/data``
#: keeps sf0.01 and sf0.001; ``--data-root`` points at another copy):
#: curation runs on the 500-document / 500-vector corpus of sf0.01 so
#: that a run, its cold index build included, stays near one minute on
#: 4 CPUs.  For etl the scale sets the number of cities.
DEFAULT_SCALE = {"dashboard": 0.01, "etl": 0.025, "curation": 0.01}
#: wall of one timed batch on a 4-CPU box; ``--seconds`` runs
#: round(seconds / this) timed batches (at least one), so a run does the
#: same work on every host
NOMINAL_BATCH_S = {"dashboard": 15, "etl": 6.5, "curation": 20}
#: batches run before the timed ones, as part of set-up: they are
#: checked, but their walls go to ``setup.warmup_s``.  On ``etl`` the
#: first batch of a process takes 2-3x a warm one (JIT, code
#: generation), and how much longer changed from run to run with the
#: host's load, which made a cold batch's wall too noisy to bound.
#: ``curation``'s cold index build in set-up already runs its heaviest
#: code paths once.
WARMUP_BATCHES = {"dashboard": 0, "etl": 1, "curation": 0}
#: set-up inputs are made this many times; setup_s takes the median
SETUP_REPEATS = 3
#: ETL: cities per round at sf1 (500 at the default sf0.025), and rounds
#: between compactions (one batch)
ETL_CITIES_PER_SF = 20_000
ETL_COMPACT_EVERY = 3

#: every per-layer metric and its unit; a layer a workload does not
#: touch reports 0 (see README.md for which workload moves which)
LAYER_UNITS = {
    "spark.job_floor_s": "s",
    "spark.shuffle_job_floor_s": "s",
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.index_build_s": "s",
    "setup.warmup_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_job_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.cpu_util": "frac",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "json_ingest.landing_reads_per_round": "ratio",
    "upsert.append_cities_s": "s",
    "upsert.append_fact_s": "s",
    "upsert.append_jobs": "count",
    "upsert.append_read_bytes_per_written_byte": "ratio",
    "upsert.view_read_s": "s",
    "upsert.live_files": "count",
    "upsert.compact_s": "s",
    "upsert.compact_bytes_rewritten": "bytes",
    "upsert.space_amp": "ratio",
    "index.build_s.sem": "s",
    "index.probe_s": "s",
    "stream.seed_batch_s": "s",
    "stream.probe_batch_s": "s",
    "stream.probe_rows_per_s": "1/s",
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes",
    "trace.overhead_frac": "frac",
    "trace.cover_frac": "frac",
}


@dataclass
class Op:
    name: str
    batch: int
    latency_s: float = 0.0
    ok: bool = False
    error: str = ""


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    spark: object
    tracer: Tracer
    work_dir: str
    seed: int
    batches: int
    sf: float
    #: directory holding the testdata's ``sf<scale>`` table directories
    data_root: str = ""
    flip_expected: str | None = None
    corrupt_landing: bool = False
    setup: dict = field(default_factory=dict)


def _timed_setup(make) -> tuple[float, object]:
    """Run ``make(k)`` SETUP_REPEATS times; median wall and last result."""
    walls = []
    out = None
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        out = make(k)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def _land_tables(ctx: Ctx, tables: tuple[str, ...]) -> str:
    """Land the testdata tables of ``ctx.sf`` in the run's own directory
    (SETUP_REPEATS times, timed) and return the last landing."""

    def make(k):
        src = os.path.join(ctx.data_root, f"sf{ctx.sf}")
        d = os.path.join(ctx.work_dir, f"sf-{k}")
        os.makedirs(d)
        for t in tables:
            shutil.copyfile(os.path.join(src, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        return d

    ctx.setup["setup.inputs_s"], sf_dir = _timed_setup(make)
    return sf_dir


def _op(ctx: Ctx, name: str, batch: int, fn) -> Op:
    """Time ``fn()`` as one operation; ``fn`` returns whether its
    result was correct.  Anything it raises fails the operation."""
    op = Op(name, batch)
    with ctx.tracer.span("op:" + name) as sp:
        try:
            op.ok = bool(fn(sp))
        except Exception as exc:  # an operation that raises is a failed one
            op.error = f"{type(exc).__name__}: {exc}"[:500]
            log(f"{name} failed: {op.error}")
    op.latency_s = sp.s
    return op


def _query_op(ctx: Ctx, name: str, sf_dir: str, expected: dict, batch: int) -> Op:
    from data_engineer_project_weather_analytics_spark.plans.registry import REGISTRY

    spec = REGISTRY[name]
    tr = ctx.tracer

    def run(_):
        with tr.span("plans.construct"):
            df = spec.fn(ctx.spark, sf_dir)
        with tr.span("exec") as sp:
            chk = checks.checksum_frame(df)
            got = checks.checksum_value(chk)
        tr.phases(sp, chk)
        want = expected[name]
        if name == ctx.flip_expected:
            want = [want[0], want[1] ^ 1, want[2]]
        return got == want

    return _op(ctx, name, batch, run)


def _query_layers(tr: Tracer, ops: list[str], cores: int) -> dict:
    """plans / catalyst / exec layers, as means per query operation."""
    construct = [s for s in tr.spans if s.name == "plans.construct"]
    execs = [s for s in tr.spans if s.name == "exec"]
    opspans = [s for s in tr.spans if s.name in {"op:" + o for o in ops}]
    n = max(1, len(opspans))
    cs = sum_stats(construct)
    es = sum_stats(execs)
    exec_s = sum(s.s for s in execs)
    return {
        "plans.construct_s": mean(s.s for s in construct),
        "plans.construct_jobs": cs["jobs"] / n,
        "plans.construct_job_s": cs["job_s"] / n,
        "catalyst.analysis_ms": mean(s.phases_ms.get("analysis", 0) for s in execs),
        "catalyst.optimization_ms": mean(s.phases_ms.get("optimization", 0) for s in execs),
        "catalyst.planning_ms": mean(s.phases_ms.get("planning", 0) for s in execs),
        **_exec_layers(es, exec_s, n, cores),
        "trace.cover_frac": (
            sum(s.s for s in construct + execs) / max(1e-9, sum(s.s for s in opspans))
        ),
    }


def _exec_layers(st: dict, exec_s: float, n: int, cores: int) -> dict:
    return {
        "exec.s": exec_s / n,
        "exec.jobs": st["jobs"] / n,
        "exec.stages": st["stages"] / n,
        "exec.tasks": st["tasks"] / n,
        "exec.executor_run_ms": st["executor_run_ms"] / n,
        "exec.executor_cpu_ms": st["executor_cpu_ms"] / n,
        "exec.gc_ms": st["gc_ms"] / n,
        "exec.cpu_util": st["executor_cpu_ms"] / max(1e-9, exec_s * 1000 * cores),
        "exec.input_bytes": st["input_bytes"] / n,
        "exec.shuffle_read_bytes": st["shuffle_read_bytes"] / n,
        "exec.shuffle_write_bytes": st["shuffle_write_bytes"] / n,
        "exec.spill_bytes": st["spill_bytes"] / n,
    }


# ---------------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------------

class Dashboard:
    """The reference's Looker read path: 12 dashboard queries per batch,
    in an order the seed permutes anew for every batch."""

    name = "dashboard"
    ops = DASHBOARD_QUERIES

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.expected = checks.load_expected()[checks.scale_key(ctx.sf)]
        self.sf_dir = _land_tables(ctx, DASHBOARD_TABLES)

    def batch(self, b: int) -> list[Op]:
        order = np.random.default_rng([self.ctx.seed, b]).permutation(len(self.ops))
        return [
            _query_op(self.ctx, self.ops[i], self.sf_dir, self.expected, b) for i in order
        ]

    def layers(self, cores: int) -> dict:
        return _query_layers(self.ctx.tracer, self.ops, cores)

    def finish(self) -> bool:
        return True


# ---------------------------------------------------------------------------
# etl
# ---------------------------------------------------------------------------

def _files_and_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Etl:
    """The hourly ETL lifecycle: one operation is one fetch round
    (landing file -> ``run_etl`` -> freshness read); a batch is
    ``ETL_COMPACT_EVERY`` rounds, the last of which compacts both
    tables."""

    name = "etl"
    ops = ("etl_round",)

    def __init__(self, ctx: Ctx) -> None:
        from data_engineer_project_weather_analytics_spark.operators.upsert import UpsertTable

        self.ctx = ctx
        n_rounds = ETL_COMPACT_EVERY * ctx.batches

        def make(k):
            rounds = gen.EtlRounds(
                ctx.seed, max(20, int(ETL_CITIES_PER_SF * ctx.sf)), n_rounds
            )
            paths = rounds.write_landing(os.path.join(ctx.work_dir, f"landing-{k}"))
            return rounds, paths

        ctx.setup["setup.inputs_s"], (self.rounds, self.paths) = _timed_setup(make)
        if ctx.corrupt_landing:
            # self-test: change one landed doc after its expected state
            # was computed — the round's check must fail
            with open(self.paths[1], encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            i = next(j for j, ln in enumerate(lines) if '"cod": 200' in ln and '"temp": ' in ln)
            lines[i] = lines[i].replace('"temp": ', '"temp": 1', 1)
            with open(self.paths[1], "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
        tables = os.path.join(ctx.work_dir, "tables")
        self.cities_path = os.path.join(tables, "cities")
        self.current_path = os.path.join(tables, "current_weather")
        self.cities = UpsertTable(ctx.spark, self.cities_path, ["city_id"])
        self.current = UpsertTable(ctx.spark, self.current_path, ["city_id", "dt"])
        self.replay = gen.Replay()
        self.next_round = 0
        self.live: list[tuple[int, int]] = []
        self.space_amp: list[float] = []
        #: traced rounds: full landing-file scans, table bytes read by
        #: the appends, bytes they wrote
        self.landing_scans: list[int] = []
        self.append_table_read = 0
        self.append_written = 0

    def batch(self, b: int) -> list[Op]:
        out = []
        for _ in range(ETL_COMPACT_EVERY):
            out.append(self._round(self.next_round, b))
            self.next_round += 1
        return out

    def _round(self, r: int, b: int) -> Op:
        from data_engineer_project_weather_analytics_spark.etl import run_etl
        from data_engineer_project_weather_analytics_spark.operators.latest import latest_per_key

        ctx = self.ctx
        tr = ctx.tracer
        spark = ctx.spark
        compact = (r + 1) % ETL_COMPACT_EVERY == 0
        first_span = len(tr.spans)
        result = {}

        def run(_):
            raw = spark.read.text(self.paths[r]).withColumnRenamed("value", "payload")
            with tr.span("etl.run_etl"):
                cities_v, current_v = run_etl(
                    spark, [raw], _Traced(self.cities, tr, "upsert.append_cities"),
                    _Traced(self.current, tr, "upsert.append_fact"),
                )
            with tr.span("upsert.view_read") as sp:
                fresh = (
                    latest_per_key(current_v, ["city_id"], ["dt"])
                    .join(cities_v, "city_id")
                    .select("city_id", "city_name", "dt", "temp", "humidity")
                )
                result["rows"] = fresh.collect()
            tr.phases(sp, fresh)
            result["written"] = _n_rows(self.current.last_metrics)
            if compact:
                with tr.span("upsert.compact"):
                    self.cities.compact()
                    self.current.compact()
            return True

        op = _op(ctx, "etl_round", b, run)
        # checks run after the timed operation
        touched, facts = self.rounds.writes[r]
        self.replay.apply(touched, facts)
        if op.ok:
            got = {tuple(row) for row in result["rows"]}
            dropped = len(self.rounds.docs[r]) - result["written"]
            op.ok = got == self.replay.freshness() and dropped == self.rounds.bad[r]
            if not op.ok:
                log(f"etl round {r}: freshness read or dropped-doc count differs "
                    f"from the replay (dropped {dropped}, injected {self.rounds.bad[r]})")
        if tr.enabled:
            # a stage that read exactly the landing file's bytes scanned
            # it; the appends' other input is their own table
            landing = os.path.getsize(self.paths[r])
            appends = [
                s for s in tr.spans[first_span:]
                if s.name in ("upsert.append_cities", "upsert.append_fact")
            ]
            inputs = [b for s in appends for b in s.stats["stage_input_bytes"]]
            self.landing_scans.append(sum(b == landing for b in inputs))
            self.append_table_read += sum(b for b in inputs if b != landing)
            self.append_written += sum(s.stats["output_bytes"] for s in appends)
            files = [_files_and_bytes(p) for p in (self.cities_path, self.current_path)]
            self.live.append((sum(f[0] for f in files), sum(f[1] for f in files)))
            if compact and len(self.live) > 1:
                self.space_amp.append(self.live[-2][1] / max(1, self.live[-1][1]))
        return op

    def finish(self) -> bool:
        """The final views must equal the replay, row for row."""
        from data_engineer_project_weather_analytics_spark.etl import run_etl

        # the live views; those of the last round may predate a compaction
        cities_v, current_v = run_etl(self.ctx.spark, [], self.cities, self.current)
        want_c = {
            (c["city_id"], c["city_name"], c["country"], c["coord_lat"], c["coord_lon"],
             c["timezone"])
            for c in self.replay.cities.values()
        }
        got_c = {
            tuple(r) for r in cities_v.select(
                "city_id", "city_name", "country", "coord_lat", "coord_lon", "timezone"
            ).collect()
        }
        want_f = {
            (cid, gen.utc(dt), f["temp"], f["pressure"], f["humidity"], f["wind_gust"])
            for (cid, dt), f in self.replay.facts.items()
        }
        got_f = {
            tuple(r) for r in current_v.select(
                "city_id", "dt", "temp", "pressure", "humidity", "wind_gust"
            ).collect()
        }
        ok = got_c == want_c and got_f == want_f
        if not ok:
            log("etl final views differ from the replay")
        return ok

    def layers(self, cores: int) -> dict:
        tr = self.ctx.tracer
        rounds = [s for s in tr.spans if s.name == "op:etl_round"]
        n = max(1, len(rounds))
        cities = tr.named("upsert.append_cities")
        facts = tr.named("upsert.append_fact")
        views = tr.named("upsert.view_read")
        compacts = tr.named("upsert.compact")
        appends = sum_stats(cities + facts)
        every = sum_stats(tr.spans)
        exec_s = sum(s.s for s in rounds)
        return {
            "catalyst.analysis_ms": mean(s.phases_ms.get("analysis", 0) for s in views),
            "catalyst.optimization_ms": mean(s.phases_ms.get("optimization", 0) for s in views),
            "catalyst.planning_ms": mean(s.phases_ms.get("planning", 0) for s in views),
            **_exec_layers(every, exec_s, n, cores),
            "json_ingest.landing_reads_per_round": mean(self.landing_scans),
            "upsert.append_cities_s": mean(s.s for s in cities),
            "upsert.append_fact_s": mean(s.s for s in facts),
            "upsert.append_jobs": appends["jobs"] / n,
            "upsert.append_read_bytes_per_written_byte": (
                self.append_table_read / max(1, self.append_written)
            ),
            "upsert.view_read_s": mean(s.s for s in views),
            "upsert.live_files": mean(f for f, _ in self.live),
            "upsert.compact_s": mean(s.s for s in compacts),
            "upsert.compact_bytes_rewritten": mean(
                s.stats.get("output_bytes", 0) for s in compacts
            ),
            "upsert.space_amp": mean(self.space_amp),
            "trace.cover_frac": (
                sum(s.s for s in tr.named("etl.run_etl") + views + compacts)
                / max(1e-9, exec_s)
            ),
        }


def _n_rows(metrics) -> int:
    m = metrics() if callable(metrics) else metrics
    return int(m["n_rows"])


class _Traced:
    """An ``UpsertTable`` whose ``append_batch`` runs inside a span;
    everything else is the table itself."""

    def __init__(self, table, tracer: Tracer, span: str) -> None:
        self._table = table
        self._tracer = tracer
        self._span = span

    def append_batch(self, batch, seq=None):
        with self._tracer.span(self._span):
            return self._table.append_batch(batch, seq)

    def __getattr__(self, name):
        return getattr(self._table, name)


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

class Curation:
    """The training-data curation stack: 4 queries (one probing the
    x54c stored index, built cold during set-up) plus one availableNow
    run of the streaming SemDeDup probe, in a fixed order.

    The inputs are the fixed testdata, so the seed changes nothing here.
    The order is fixed because the JVM is still warming up during the
    first seconds of a batch: an operation run early takes up to 1 s
    longer, and with a seeded order the median operation, and so
    ``latency_p50_s``, changed with the seed (a quartile spread of
    0.28 over ten seeds)."""

    name = "curation"
    ops = (*CURATION_QUERIES, STREAM_OP)

    def __init__(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from data_engineer_project_weather_analytics_spark.operators import similarity
        from data_engineer_project_weather_analytics_spark.plans import extensions
        from data_engineer_project_weather_analytics_spark.plans.registry import REGISTRY

        self.ctx = ctx
        self.expected = checks.load_expected()[checks.scale_key(ctx.sf)]
        spark = ctx.spark
        self.sf_dir = _land_tables(ctx, CURATION_TABLES)
        # stored indexes live in this run's own directory, never in a
        # cache another run or another commit's code could have built
        roots = {
            "lsh": "_LSH_INDEX_ROOT", "sem": "_SEM_INDEX_ROOT", "pq": "_PQ_INDEX_ROOT",
        }
        for fam, attr in roots.items():
            setattr(extensions, attr, os.path.join(ctx.work_dir, f"index-{fam}"))
        self.build_s: dict[str, float] = {}
        for name, fam in STORED_TWINS.items():
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, self.sf_dir)  # cold: builds the index
            self.build_s[fam] = time.perf_counter() - t0
        ctx.setup["setup.index_build_s"] = sum(self.build_s.values())

        # stream sources: the x54c stored survivors as the seed file,
        # the x54c probe batch as the probe file (bench_stream protocol)
        t0 = time.perf_counter()
        idx = next(
            os.path.join(extensions._SEM_INDEX_ROOT, d)
            for d in os.listdir(extensions._SEM_INDEX_ROOT) if d.endswith("_auto")
        )
        self.fmap = [
            (r["cell"], list(r["centroid"]), r["coarse"])
            for r in spark.read.parquet(f"{idx}/fmap").collect()
        ]
        self.occ = [(r["coarse"], list(r["ccent"])) for r in spark.read.parquet(f"{idx}/occ").collect()]
        from data_engineer_project_weather_analytics_spark.operators.text import deterministic_split

        emb = spark.read.parquet(f"{self.sf_dir}/embeddings.parquet")
        self.src = os.path.join(ctx.work_dir, "stream-src")
        os.makedirs(self.src)
        staged = os.path.join(ctx.work_dir, "stream-staged")
        spark.read.parquet(f"{idx}/survivors").select(
            F.col("corpus_id").alias("vec_id"),
            F.col("__cv").alias("embedding"),
            F.lit(True).alias("is_seed"),
        ).coalesce(1).write.parquet(os.path.join(staged, "seed"))
        emb.filter(deterministic_split("vec_id") == "test").select(
            "vec_id",
            similarity._as_double("embedding").alias("embedding"),
            F.lit(False).alias("is_seed"),
        ).coalesce(1).write.parquet(os.path.join(staged, "probe"))
        # one source directory, seed file strictly older (the file
        # source orders by modification time)
        for part, age in (("seed", 20), ("probe", 10)):
            d = os.path.join(staged, part)
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    stamp = time.time() - age
                    dst = os.path.join(self.src, f"{part}-{f}")
                    os.replace(os.path.join(d, f), dst)
                    os.utime(dst, (stamp, stamp))
        ctx.setup["setup.inputs_s"] += time.perf_counter() - t0
        self.stream_runs: list[dict] = []

    def batch(self, b: int) -> list[Op]:
        out = []
        for name in self.ops:
            if name == STREAM_OP:
                out.append(self._stream_op(b))
            else:
                out.append(_query_op(self.ctx, name, self.sf_dir, self.expected, b))
        return out

    def _stream_op(self, b: int) -> Op:
        from data_engineer_project_weather_analytics_spark.streaming.stateful import (
            streaming_semdedup_probe,
        )

        ctx = self.ctx
        tr = ctx.tracer
        ckpt = os.path.join(ctx.work_dir, f"stream-ckpt-{b}-{time.monotonic_ns()}")
        decided: list[tuple[int, int]] = []
        run_info: dict = {}
        want = self.expected[STREAM_OP]

        def sink(batch_df, _batch_id):
            decided.extend((r["vec_id"], r["kept"]) for r in batch_df.select("vec_id", "kept").collect())

        def run(_):
            with tr.span("stream.construct"):
                stream = (
                    ctx.spark.readStream.schema(
                        "vec_id long, embedding array<double>, is_seed boolean"
                    )
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.src)
                )
                probe = streaming_semdedup_probe(
                    stream, "vec_id", "embedding", seed_col="is_seed",
                    fmap_rows=self.fmap, occ_rows=self.occ,
                )
            with tr.span("stream.run"):
                q = (
                    probe.writeStream.foreachBatch(sink)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                try:
                    q.awaitTermination(170)
                finally:
                    q.stop()
            run_info["progress"] = [_progress(p) for p in q.recentProgress]
            # one decision per probe row, equal to the batch x54c answer
            return len(decided) == want[0] and checks.pairs_digest(decided) == want[1]

        op = _op(ctx, STREAM_OP, b, run)
        if tr.enabled:
            self.stream_runs.append(run_info)
        return op

    def layers(self, cores: int) -> dict:
        tr = self.ctx.tracer
        out = _query_layers(tr, CURATION_QUERIES, cores)
        stored = [s for s in tr.spans if s.name in {"op:" + n for n in STORED_TWINS}]
        out["index.probe_s"] = mean(s.s for s in stored)
        for fam, s in self.build_s.items():
            out[f"index.build_s.{fam}"] = s
        seed_s, probe_s, rate, rows, mem = [], [], [], [], []
        for info in self.stream_runs:
            data = [p for p in info.get("progress", []) if p["numInputRows"] > 0]
            if len(data) < 2:
                continue
            seed_s.append(data[0]["durationMs"]["triggerExecution"] / 1000)
            p = data[1]
            probe_s.append(p["durationMs"]["triggerExecution"] / 1000)
            rate.append(p["numInputRows"] / max(1e-9, probe_s[-1]))
            ops = p.get("stateOperators") or [{}]
            rows.append(ops[0].get("numRowsTotal", 0))
            mem.append(ops[0].get("memoryUsedBytes", 0))
        out.update({
            "stream.seed_batch_s": mean(seed_s),
            "stream.probe_batch_s": mean(probe_s),
            "stream.probe_rows_per_s": mean(rate),
            "stream.state_rows": mean(rows),
            "stream.state_memory_bytes": mean(mem),
        })
        return out

    def finish(self) -> bool:
        return True


def _progress(p) -> dict:
    import json

    return p if isinstance(p, dict) else json.loads(p.json)


WORKLOADS = {w.name: w for w in (Dashboard, Etl, Curation)}
