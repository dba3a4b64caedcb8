"""The benchmark's workloads: roster passes and the live-dashboard loop.

Both run closed-loop with one client: the next operation starts when the
previous one has returned its result. An operation is a roster query
(``QuerySpec.run`` plus collecting the result to the client) or a refresh
tick (a new page becomes visible -> the dashboard's results are updated).
"""

from __future__ import annotations

import dataclasses
import math
import os
import random
import time

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trafficanalysisbigdata_spark.api import TrafficAnalytics
from trafficanalysisbigdata_spark.plans import registry
from trafficanalysisbigdata_spark.streaming.snapshot import SnapshotRefreshJob, dashboard_queries
from tests.oracle_harness import compare

from datagen import TrafficPages, type_totals
from spans import CpuClock, OpRecord, Tracer, progress_start

import bench


@dataclasses.dataclass(frozen=True)
class Roster:
    """A fixed subset of ``bench.BENCH_QUERIES`` over the test fixtures of
    one scale."""

    name: str
    scale: str
    queries: tuple[str, ...]

    def __post_init__(self) -> None:
        unknown = set(self.queries) - set(bench.BENCH_QUERIES)
        if unknown:
            raise ValueError(f"{self.name}: not on the bench roster: {sorted(unknown)}")


ROSTERS = {
    r.name: r
    for r in (
        # one or two per family of the relational/storage roster; s14 and
        # olap9 cover the write path and eager actions during query build.
        # Its fixtures are in fixtures/sf0.01.
        Roster(
            "lake_sf0.01",
            "sf0.01",
            (
                "sql10_disjunctive_revenue",
                "j1_revenue_by_nation",
                "olap2_cube_flag_status",
                "olap9_pareto_abc",
                "s14_partition_upsert",
                "set1_cohort_algebra",
                "sql5_nation_volume_shipping",
                "ops1_join_key_skew_profile",
            ),
        ),
        # exact, SimHash, n-gram (fan-out gate) and incremental dedup, exact
        # and LSH similarity: execution-bound at this scale. Not in
        # BENCHMARK.json and its 17 MB of fixtures are not copied here (see
        # README.md); dd2/dd6/dd9 are left out because their DuckDB oracles
        # take 18-53 s at this scale.
        Roster(
            "dedup_sf0.1",
            "sf0.1",
            (
                "dd1_exact_dedup",
                "dd3_simhash_groups",
                "dd4_ngram_jaccard",
                "dd8_incremental_dedup",
                "sim1_ann_topk_bruteforce",
                "sim3_ann_topk_lsh",
            ),
        ),
    )
}


# Seconds of --seconds per timed pass. The number of passes follows from
# --seconds alone, never from the run's own wall time, so every run takes
# its minimum over the same passes of the JIT warm-up curve.
NOMINAL_PASS_S = 5.0
MIN_PASSES = 2


def op_count(seconds: float, nominal_s: float, least: int, multiple: int = 1) -> int:
    """How many operations a run of ``seconds`` measures, rounded up to a
    ``multiple``."""
    n = max(least, math.ceil(seconds / nominal_s))
    return multiple * math.ceil(n / multiple)


class _Collected:
    """Adapter so ``oracle_harness.compare`` checks an already-collected
    result instead of executing the query a second time."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


class Workload:
    """Counts attempted operations and checks, and records every failure;
    a failed operation is reported, not raised, so the run still ends with
    a result."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []
        self.inputs: dict[str, int] = {}

    def run_op(self, spark: SparkSession, tracer: Tracer | None, name: str, trace_id: str, traced: bool) -> OpRecord:
        raise NotImplementedError

    def _attempt(self, spark: SparkSession, tracer: Tracer | None, name: str, trace_id: str, traced: bool) -> OpRecord | None:
        self.attempted += 1
        try:
            return self.run_op(spark, tracer, name, trace_id, traced)
        except Exception as e:  # counted in failed; the loop goes on
            self.failures.append(f"{name} ({trace_id}): {type(e).__name__}: {str(e)[:300]}")
            return None


class RosterWorkload(Workload):
    def __init__(self, roster: Roster, sf_dir: str) -> None:
        super().__init__()
        self.roster = roster
        self.sf_dir = sf_dir
        self.specs = registry.load_all()
        self.tables = sorted({t for q in roster.queries for t in self.specs[q].tables})
        self.oracle: dict[str, pd.DataFrame] = {}
        self._duck: duckdb.DuckDBPyConnection | None = None

    def make_inputs(self) -> dict[str, int]:
        """The inputs are the fixtures; returns rows per table read."""
        missing = [t for t in self.tables if not os.path.isfile(f"{self.sf_dir}/{t}.parquet")]
        if missing:
            raise FileNotFoundError(f"{self.roster.name}: no {missing} under {self.sf_dir}")
        return {t: pq.ParquetFile(f"{self.sf_dir}/{t}.parquet").metadata.num_rows for t in self.tables}

    def warm_up(self, spark: SparkSession) -> None:
        """Set-up's warm-up: the roster's first query, untimed."""
        self.specs[self.roster.queries[0]].run(spark, self.sf_dir).toPandas()
        registry.release_caches()

    def measure(self, spark: SparkSession, tracer: Tracer | None, seconds: float, rng: random.Random) -> list[OpRecord]:
        """A fixed number of whole passes (``op_count``) in seed-shuffled
        order: a query reports its fastest pass. Traced runs execute each
        query traced and untraced back to back, alternating which goes
        first, so warm-up favours neither side."""
        self.cpu = CpuClock(spark)
        records: list[OpRecord] = []
        i = 0
        for _ in range(op_count(seconds, NOMINAL_PASS_S, MIN_PASSES)):
            names = list(self.roster.queries)
            rng.shuffle(names)
            done = len(records)
            for name in names:
                sides = (False,) if tracer is None else (i % 2 == 0, i % 2 == 1)
                for k, traced in enumerate(sides):
                    r = self._attempt(spark, tracer, name, f"op{i}-{k}", traced)
                    if r is not None:
                        records.append(r)
                i += 1
            if len(records) == done:  # every query failed: nothing to measure
                break
        return records

    def run_op(self, spark: SparkSession, tracer: Tracer | None, name: str, trace_id: str, traced: bool) -> OpRecord:
        spec = self.specs[name]
        if tracer is None:
            t0, c0 = time.perf_counter(), self.cpu()
            pdf = spec.run(spark, self.sf_dir).toPandas()
            record = OpRecord(trace_id, name, time.perf_counter() - t0, False, self.cpu() - c0)
        else:
            # QuerySpec.run calls prep / register_views through the registry
            # module's names (wrapped once in install_roster_hooks); the
            # query function is wrapped here as the build layer.
            spec = dataclasses.replace(spec, fn=tracer.wrap("plans.build", spec.fn))
            with tracer.op(trace_id, name, traced) as record:
                t0, c0 = time.perf_counter(), self.cpu()
                tracer.job_group(f"{trace_id}/build")
                df = spec.run(spark, self.sf_dir)
                tracer.job_group(f"{trace_id}/exec")
                with tracer.span("exec.run"):
                    pdf = df.toPandas()
                tracer.clear_job_group()
                record.wall_s, record.cpu_s = time.perf_counter() - t0, self.cpu() - c0
            if traced:
                self._attribute(tracer, record, df, trace_id)
        registry.release_caches()
        self._check(name, pdf)
        return record

    def _attribute(self, tracer: Tracer, record: OpRecord, df: DataFrame, trace_id: str) -> None:
        tracer.drain_events()
        tracer.catalyst_phases(df, [s for s in record.spans if s.name in ("plans.build", "exec.run")])
        build = tracer.job_stats([f"{trace_id}/build"])
        run = tracer.job_stats([f"{trace_id}/exec"])
        counters = {k: build.get(k, 0.0) + v for k, v in run.items()}
        counters["plans.build_jobs"] = build["exec.jobs"]
        counters["exec.jobs"] = run["exec.jobs"]
        counters["io.register_views_calls"] = sum(s.name == "io.register_views" for s in record.spans)
        record.counters = counters

    def _check(self, name: str, pdf: pd.DataFrame) -> None:
        spec = self.specs[name]
        if not spec.oracle:
            raise ValueError(f"{name} has no oracle; the roster holds checkable queries only")
        if self._duck is None:
            self._duck = duckdb.connect()
            for t in self.tables:
                self._duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        if name not in self.oracle:
            self.oracle[name] = self._duck.execute(spec.oracle).df()
        problems = compare(name, _Collected(pdf), self.oracle[name])
        if problems:
            self.failures.append("; ".join(problems))


def install_roster_hooks(tracer: Tracer) -> None:
    """Wrap the layer functions ``QuerySpec.run`` calls by name."""
    registry.prep = tracer.wrap("session.prep", registry.prep)
    registry.register_views = tracer.wrap("io.register_views", registry.register_views)


# --- traffic_refresh ---------------------------------------------------------

LIVE_PAGES = 50
# Tick cost keeps falling for about eight ticks while the JIT compiles the
# refresh path, so a run takes at least eight, a whole number of pairs
# (traced runs pair an untraced and a traced tick). As for the roster, the
# count follows from --seconds alone.
NOMINAL_TICK_S = 1.25
MIN_TICKS = 8
SNAPSHOT_DDL = "event_id STRING, user_id INT, event_type STRING, value DOUBLE, ts TIMESTAMP"


def dashboard_projection(ta: TrafficAnalytics) -> DataFrame:
    """The columns the dashboard reads, under the events names
    ``TrafficAnalytics.dashboard`` maps them to."""
    return ta.df.select(
        F.col("request_id").alias("event_id"),
        F.col("segment_id").alias("user_id"),
        F.col("borough").alias("event_type"),
        F.col("volume").cast("double").alias("value"),
        F.col("datetime").alias("ts"),
    )


def _canon(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


class TrafficWorkload(Workload):
    """The reference's live loop: a live directory holds the newest
    ``LIVE_PAGES`` pages; each tick adds one page, expires the oldest, reads
    the slice, publishes the dashboard projection as one parquet snapshot and
    lets the snapshot stream refresh the dashboard queries."""

    def __init__(self, live_dir: str, work_dir: str, seed: int) -> None:
        super().__init__()
        self.pages = TrafficPages(seed)
        self.live_dir = live_dir
        self.work_dir = work_dir
        self.snap_dir = os.path.join(work_dir, "snapshots")
        self.next_page = 0
        self.page_bytes: dict[int, int] = {}
        self.page_totals: dict[int, dict[str, int]] = {}
        self.job: SnapshotRefreshJob | None = None
        self.last_snapshot = ""

    def _add_page(self) -> int:
        n = self.next_page
        tmp = os.path.join(self.work_dir, f".page-{n:06d}.json")
        self.page_bytes[n] = self.pages.write(n, tmp)
        self.page_totals[n] = type_totals(self.pages.records(n))
        os.rename(tmp, os.path.join(self.live_dir, f"page-{n:06d}.json"))
        self.next_page += 1
        oldest = n - LIVE_PAGES
        if oldest >= 0:
            os.remove(os.path.join(self.live_dir, f"page-{oldest:06d}.json"))
            del self.page_totals[oldest]
        return n

    def make_inputs(self) -> dict[str, int]:
        os.makedirs(self.live_dir, exist_ok=True)
        for _ in range(LIVE_PAGES):
            self._add_page()
        return {"live_pages": LIVE_PAGES, "live_rows": LIVE_PAGES * 1000}

    def _publish(self, spark: SparkSession) -> tuple[str, int]:
        ta = TrafficAnalytics.from_json(spark, self.live_dir)
        return self._write_snapshot(dashboard_projection(ta))

    def _write_snapshot(self, snap: DataFrame) -> tuple[str, int]:
        before = set(os.listdir(self.snap_dir))
        snap.coalesce(1).write.mode("append").parquet(self.snap_dir)
        (new,) = [f for f in os.listdir(self.snap_dir) if f not in before and f.endswith(".parquet")]
        path = os.path.join(self.snap_dir, new)
        return path, os.path.getsize(path)

    def warm_up(self, spark: SparkSession) -> None:
        """Set-up's first-tick fill: a fresh snapshot stream whose first
        batch is the current slice."""
        os.makedirs(self.snap_dir)
        self.job = SnapshotRefreshJob(spark, self.snap_dir, SNAPSHOT_DDL)
        self.last_snapshot, _ = self._publish(spark)
        self.job.run_available_now()

    def measure(self, spark: SparkSession, tracer: Tracer | None, seconds: float, rng: random.Random) -> list[OpRecord]:
        """A fixed number of ticks (``op_count``) in pairs; the first and the
        last tick are checked. In a traced run each pair holds an untraced
        and a traced tick, in alternating order, so the falling cost of
        warm-up favours neither side."""
        self.cpu = CpuClock(spark)
        records: list[OpRecord] = []
        for i in range(op_count(seconds, NOMINAL_TICK_S, MIN_TICKS, multiple=2)):
            pair, k = divmod(i, 2)
            traced = tracer is not None and k == (pair + 1) % 2
            r = self._attempt(spark, tracer, "tick", f"op{pair}-{k}", traced)
            if r is None:
                break
            records.append(r)
            if i == 0:
                self.check(spark)
        self.check(spark)
        return records

    def run_op(self, spark: SparkSession, tracer: Tracer | None, name: str, trace_id: str, traced: bool) -> OpRecord:
        page = self._add_page()
        if tracer is None:
            t0, c0 = time.perf_counter(), self.cpu()
            ta = TrafficAnalytics.from_json(spark, self.live_dir)
            path, nbytes = self._write_snapshot(dashboard_projection(ta))
            self.job.run_available_now()
            record = OpRecord(trace_id, name, time.perf_counter() - t0, False, self.cpu() - c0)
        else:
            with tracer.op(trace_id, name, traced) as record:
                t0, c0 = time.perf_counter(), self.cpu()
                tracer.job_group(f"{trace_id}/ingest")
                with tracer.span("sources.from_json"):
                    ta = TrafficAnalytics.from_json(spark, self.live_dir)
                with tracer.span("io.publish"):
                    path, nbytes = self._write_snapshot(dashboard_projection(ta))
                with tracer.span("streaming.refresh"):
                    self.job.run_available_now()
                tracer.clear_job_group()
                record.wall_s, record.cpu_s = time.perf_counter() - t0, self.cpu() - c0
            if traced:
                self._attribute(tracer, record, trace_id, nbytes, page)
            else:
                tracer.drain_events()
                tracer.streaming_listener().take()
        self.last_snapshot = path
        record.counters["io.publish_bytes"] = nbytes
        record.counters["ingest_rows"] = 1000
        return record

    def _attribute(self, tracer: Tracer, record: OpRecord, trace_id: str, nbytes: int, page: int) -> None:
        tracer.drain_events()
        runs, progress = tracer.streaming_listener().take()
        refresh = next(s for s in record.spans if s.name == "streaming.refresh")
        for p in progress:
            ms = p["duration_ms"]
            start = progress_start(p["timestamp"])
            trig = tracer.add("streaming.trigger", start, start + ms.get("triggerExecution", 0) / 1e3, refresh)
            # addBatch runs after offset resolution and planning and before
            # the commit-log writes; place it by the durations that follow it
            tail = (ms.get("walCommit", 0) + ms.get("commitOffsets", 0)) / 1e3
            end = trig.end - tail
            tracer.add("streaming.add_batch", end - ms.get("addBatch", 0) / 1e3, end, trig)
        counters = tracer.job_stats([f"{trace_id}/ingest", *runs])
        counters["streaming.refresh_s"] = refresh.end - refresh.start
        counters["streaming.trigger_s"] = sum(p["duration_ms"].get("triggerExecution", 0) for p in progress) / 1e3
        counters["streaming.batches"] = sum(p["input_rows"] > 0 for p in progress)
        counters["streaming.input_rows"] = sum(p["input_rows"] for p in progress)
        counters["io.write_amp"] = nbytes / self.page_bytes[page]
        record.counters.update(counters)

    def check(self, spark: SparkSession) -> None:
        """The latest tick: stream results == a batch run of the same
        dashboard queries over the same snapshot, and ``q4_type_totals`` ==
        a pure-Python sum over the live pages' valid rows."""
        self.attempted += 1
        problems = []
        batch = dashboard_queries(spark.read.parquet(self.last_snapshot))
        for name, df in batch.items():
            if _canon(df.collect()) != _canon(self.job.results.get(name, [])):
                problems.append(f"{name} stream != batch")
        want: dict[str, int] = {}
        for totals in self.page_totals.values():
            for k, v in totals.items():
                want[k] = want.get(k, 0) + v
        got = {r["event_type"]: r["total"] for r in self.job.results.get("q4_type_totals", [])}
        if got != {k: float(v) for k, v in want.items()}:
            problems.append(f"q4_type_totals {got} != reference {want}")
        if problems:
            self.failures.append(f"tick {self.next_page - 1}: " + "; ".join(problems))
