"""The two workloads: inputs, warm-up, the timed region and the output
checks. See README.md for why each one exists.

A workload object has four methods, called in this order by run.py:

- ``prepare(seed)``: write the seeded inputs (part of set-up);
- ``warmup(spark, tracer)``: untimed work that takes one-time costs out
  of the timed region;
- ``measure(spark, tracer, seconds)``: the timed region. Returns the
  per-operation records (``name``, ``kind``, ``ms``, ``ok``, and for
  queries ``build_ms`` / ``exec_ms``) and the timed seconds;
- ``check(spark)``: output checks, outside the timed region. Returns a
  list of failure messages; each failed check counts as a failed
  operation.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import threading
import time
import traceback

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from host import tree_cpu_s

from tfl_bikes_data_pipeline_spark import engine, registry, warehouse
from tfl_bikes_data_pipeline_spark.functions.ranks import release_rank_relations
from tfl_bikes_data_pipeline_spark.operators.dedup import release_cached_relations
from tfl_bikes_data_pipeline_spark.sources import raw as sources_raw
from tfl_bikes_data_pipeline_spark.tables import TABLE_NAMES

DASHBOARD_QUERIES = (
    "q_topk_count",
    "q_topk_join_count",
    "q_filter_hour_topk",
    "q_group_by_hour",
    "q_moving_avg",
    "q_case_bucket_count",
    "q_bucket_by_location",
    "q_join_cte_inner",
    "q_sql_view_topk",
)
CURATION_JOBS = (
    "q_dedup_minhash_lsh",
    "q_dedup_ngram_jaccard",
    "q_dedup_embedding",
    "q_ann_ivfpq_topk",
    "q_text_repetition",
    "q_quality_model",
    "q_decontaminate",
    "q_curation_pipeline",
    "q_bm25_topk",
)


# ---------------------------------------------------------------------------
# result comparison against the DuckDB oracles (registry.ORACLES)
# ---------------------------------------------------------------------------

def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, row-sorted frame with timestamps and objects
    rendered as strings and floats as exact reprs, so two engines'
    results compare order-insensitively."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: "nan" if v != v else repr(float(v)))
        else:
            df[c] = s.map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def oracle_mismatch(name: str, result, con) -> str | None:
    """None when the collected Spark result (an Arrow table) equals the
    DuckDB oracle's result as a multiset (same column names, same row
    count, same values); otherwise a one-line reason."""
    got = result.to_pandas()
    want = con.execute(registry.ORACLES[name]).df()
    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows != oracle {len(want)}"
    for c in got.columns:
        # a nullable integer column can reach pandas as float on one side
        # and as integer on the other; compare both as float
        if pd.api.types.is_float_dtype(want[c]) or pd.api.types.is_float_dtype(got[c]):
            got[c] = got[c].astype(float)
            want[c] = want[c].astype(float)
    g, w = _normalize(got), _normalize(want)
    bad = ~(g.fillna("\0").to_numpy() == w.fillna("\0").to_numpy()).all(axis=1)
    if bad.any():
        i = int(np.argmax(bad))
        return f"{name}: row {i} {g.iloc[i].to_dict()} != oracle {w.iloc[i].to_dict()}"
    return None


def duckdb_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


# ---------------------------------------------------------------------------
# dashboard_curation
# ---------------------------------------------------------------------------

class _Queries:
    """Registry callables over one generated star schema. One operation
    = build the plan through the callable (span ``plans.build``), then
    collect the result to the client as an Arrow table (span ``exec``;
    Arrow, so that converting rows to Python objects — client cost, not
    engine cost — stays out of the latency). The first result of each
    query in the timed region is kept for the oracle check."""

    def __init__(self, sf_dir: str, sf: float, names: tuple[str, ...], kind: str):
        self.sf_dir, self.sf, self.names, self.kind = sf_dir, sf, names, kind
        self.first: dict = {}  # query name -> its first Arrow result
        self._lock = threading.Lock()

    def prepare(self, seed: int) -> None:
        gen.write_star_tables(self.sf_dir, self.sf, seed)

    def run_op(self, spark, tracer, name: str, keep: bool) -> dict:
        t0 = time.perf_counter()
        ok = True
        build = execute = 0.0
        try:
            with tracer.span(f"op:{name}"):
                with tracer.span(f"plans.build:{name}", count_jobs=True):
                    df = registry.QUERIES[name](spark, self.sf_dir)
                t1 = time.perf_counter()
                build = t1 - t0
                with tracer.span(f"exec:{name}", count_jobs=True):
                    result = df.toArrow()
                execute = time.perf_counter() - t1
            if keep:
                with self._lock:
                    self.first.setdefault(name, result)
        except Exception:  # an operation that raises is a failed op
            ok = False
            traceback.print_exc()
        return {"name": name, "kind": self.kind, "ok": ok,
                "ms": (time.perf_counter() - t0) * 1000.0,
                "build_ms": build * 1000.0, "exec_ms": execute * 1000.0}

    def check(self) -> list[str]:
        con = duckdb_con(self.sf_dir)
        try:
            failures = []
            for name in self.names:
                if name not in self.first:
                    continue  # never completed: already counted as failed
                msg = oracle_mismatch(name, self.first[name], con)
                if msg:
                    failures.append(msg)
            return failures
        finally:
            con.close()


class DashboardCuration:
    """Reads only. Two closed-loop dashboard clients run the analyst
    shapes; then one client runs a pass of the curation jobs.

    Each dashboard client runs ``rounds`` rounds — every shape once, in
    an order drawn from the seed — and more while ``seconds`` have not
    passed, so the mix of shapes is the same whatever the seed.

    The curation client releases the operators' cached relations between
    jobs (``release_rank_relations`` / ``release_cached_relations``), so
    one job's pinned corpus never leaks into the next job's time. The
    two phases run one after the other, so neither one's numbers move
    when only the other one's code changes."""

    clients = 2
    rounds = 3

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.dashboard = _Queries(os.path.join(work, "sf0.1"), 0.1, DASHBOARD_QUERIES, "query")
        self.curation = _Queries(os.path.join(work, "sf0.01"), 0.01, CURATION_JOBS, "job")
        self.pass_s = 0.0
        self.cache: list[tuple[int, float]] = []
        self.leaked = 0

    def prepare(self, seed: int) -> None:
        self.dashboard.prepare(seed)
        self.curation.prepare(seed)

    def warmup(self, spark, tracer) -> None:
        # every dashboard shape once, from as many client threads as the
        # timed region uses; the curation jobs are not warmed (a batch
        # pays each job's first planning and code generation every run)
        order = list(DASHBOARD_QUERIES)
        self._clients(spark, tracer, [order[i::self.clients] for i in range(self.clients)], False)

    def measure(self, spark, tracer, seconds: float):
        t0 = time.perf_counter()
        cpu0 = tree_cpu_s()
        deadline = t0 + seconds

        def rounds(i):
            rng = random.Random(self.seed * 1000 + i)
            done = 0
            while done < self.rounds or time.perf_counter() < deadline:
                yield from rng.sample(DASHBOARD_QUERIES, len(DASHBOARD_QUERIES))
                done += 1

        ops = self._clients(spark, tracer, [rounds(i) for i in range(self.clients)], True)
        window = time.perf_counter() - t0
        self.window_cpu_s = tree_cpu_s() - cpu0

        c0, cpu0 = time.perf_counter(), tree_cpu_s()
        for name in CURATION_JOBS:
            ops.append(self.curation.run_op(spark, tracer, name, True))
            if tracer.enabled:
                self.cache.append(tracer.persisted())
            release_rank_relations()
            release_cached_relations()
            if tracer.enabled:
                self.leaked += tracer.persisted()[0]
        self.pass_s = time.perf_counter() - c0
        self.pass_cpu_s = tree_cpu_s() - cpu0
        return ops, window

    def _clients(self, spark, tracer, sequences, keep: bool) -> list[dict]:
        """One dashboard client thread per sequence of query names."""
        ops: list[dict] = []

        def client(names):
            for name in names:
                ops.append(self.dashboard.run_op(spark, tracer, name, keep))

        threads = [threading.Thread(target=client, args=(names,)) for names in sequences]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ops

    def check(self, spark) -> list[str]:
        return self.dashboard.check() + self.curation.check()


# ---------------------------------------------------------------------------
# monthly_etl
# ---------------------------------------------------------------------------

CANONICAL = sources_raw.CANONICAL_EVENT_COLUMNS


def _table_digest(spark, path: str) -> tuple[int, str]:
    """(row count, order-insensitive content hash) of a parquet table,
    partition columns included."""
    df = spark.read.parquet(path)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def _files_per_partition(path: str) -> list[int]:
    return [len(glob.glob(os.path.join(d, "*.parquet"))) for d in sorted(glob.glob(f"{path}/ym=*"))]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


class MonthlyEtl:
    """Backfill months from an empty warehouse: the setup stage; per
    month, ingest the weekly CSV extracts into the landing feed, then the
    weather and journeys stages; then one idempotent re-run of a landed
    month and a compaction of the fact table. Writes only."""

    #: March to August: the spring ramp from 40% to the summer peak
    year, first_month, months = 2021, 3, 6
    peak_rows = 40_000
    rerun_index = 3  # the first peak month
    TABLES = ("dim_time", "dim_locations", "dim_weather", "dim_rental", "fact_events")

    def __init__(self, work: str, seed: int):
        self.work = work
        self.extracts = os.path.join(work, "extracts")
        self.stations = os.path.join(work, "supplier.parquet")
        self.manifest: list[dict] = []
        self.info: dict = {}

    def prepare(self, seed: int) -> None:
        self.manifest = gen.write_journey_extracts(
            self.extracts, self.stations,
            self.year, self.first_month, self.months, self.peak_rows, seed,
        )

    def _use(self, name: str) -> None:
        """Point the stages at an empty landing zone and warehouse under
        ``<work>/<name>``, with the station source in place."""
        self.landing = os.path.join(self.work, name, "landing")
        self.feed = os.path.join(self.landing, "events.parquet")
        self.wh = os.path.join(self.work, name, "warehouse")
        os.makedirs(self.landing)
        shutil.copy(self.stations, self.landing)

    def warmup(self, spark, tracer) -> None:
        """The setup stage and the first month into a throwaway warehouse
        and feed. This takes the JVM's one-time start-up (class loading,
        JIT of Spark's own code — about 13 s on 4 cores) and each stage's
        first planning out of the timed region: in a backfill of a year
        they are paid once, and a shorter backfill would weigh them more."""
        self._use("warmup")
        self._stage(spark, tracer, "setup")
        self._land(spark, tracer, self.manifest[0], [])

    def _land(self, spark, tracer, month: dict, ops: list[dict]) -> None:
        m0, c0 = time.perf_counter(), tree_cpu_s()
        with tracer.span(f"op:{month['month']}"):
            self._ingest(spark, tracer, month)
            self._stage(spark, tracer, "weather", month["month"])
            self._stage(spark, tracer, "journeys", month["month"])
        ops.append({"name": month["month"], "kind": "month",
                    "ms": (time.perf_counter() - m0) * 1000.0,
                    "cpu_s": tree_cpu_s() - c0, "ok": True})

    def _ingest(self, spark, tracer, month: dict) -> None:
        with tracer.span(f"sources.read_csv_with_schema:{month['month']}"):
            raw = sources_raw.read_csv_with_schema(
                spark, os.path.dirname(month["files"][0]), list(gen.RAW_EVENT_COLUMNS)
            )
            canonical = sources_raw.normalize_headers(raw, CANONICAL)
        landed = canonical.select(
            F.col("event_id").cast("long").alias("event_id"),
            F.to_timestamp("event_date", sources_raw.TS_FMT).alias("ts"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("event_type"),
            F.col("value").cast("double").alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        with tracer.span(f"sources.land:{month['month']}", count_jobs=True):
            landed.write.mode("append").parquet(self.feed)

    def _stage(self, spark, tracer, stage: str, month: str | None = None):
        with tracer.span(f"engine.{stage}:{month or ''}", count_jobs=True):
            engine.run_stage(spark, self.wh, stage, month=month, sf_dir=self.landing)

    def measure(self, spark, tracer, seconds: float) -> tuple[list[dict], float]:
        """The backfill, then the re-run and the compaction. Fixed work,
        not a time box — the months accumulate in the landing feed, and a
        time box would change how much history the later months scan —
        so ``seconds`` is unused. Returns (operations, timed seconds);
        the checks' digests of every table before and after the re-run
        are taken outside the timed seconds (and CPU)."""
        self._use("backfill")
        ops: list[dict] = []
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        with tracer.span("op:setup"):
            self._stage(spark, tracer, "setup")
        for month in self.manifest:
            self._land(spark, tracer, month, ops)
        self.info["backfill_s"] = time.perf_counter() - t0
        wall, cpu = self.info["backfill_s"], tree_cpu_s() - cpu0

        self.before_rerun = {t: _table_digest(spark, f"{self.wh}/{t}") for t in self.TABLES}
        rerun = self.manifest[self.rerun_index]["month"]
        r0, c0 = time.perf_counter(), tree_cpu_s()
        with tracer.span(f"op:rerun-{rerun}"):
            self._stage(spark, tracer, "weather", rerun)
            self._stage(spark, tracer, "journeys", rerun)
        self.info["rerun_s"] = time.perf_counter() - r0
        wall, cpu = wall + self.info["rerun_s"], cpu + tree_cpu_s() - c0

        self.after_rerun = {t: _table_digest(spark, f"{self.wh}/{t}") for t in self.TABLES}
        self.files_before = _files_per_partition(f"{self.wh}/fact_events")
        self.info["warehouse_bytes"] = _dir_bytes(self.wh)
        k0, c0 = time.perf_counter(), tree_cpu_s()
        with tracer.span("op:compact"):
            with tracer.span("warehouse.compact_partitions", count_jobs=True):
                warehouse.compact_partitions(spark, f"{self.wh}/fact_events", ["ym"])
        self.batch_s = wall + time.perf_counter() - k0
        self.batch_cpu_s = cpu + tree_cpu_s() - c0
        self.files_after = _files_per_partition(f"{self.wh}/fact_events")
        return ops, self.batch_s

    def check(self, spark) -> list[str]:
        failures = []
        got = {
            r["ym"]: r["count"]
            for r in spark.read.parquet(f"{self.wh}/fact_events").groupBy("ym").count().collect()
        }
        for m in self.manifest:
            if got.get(m["month"]) != m["rows"]:
                failures.append(f"fact_events {m['month']}: {got.get(m['month'])} rows != {m['rows']}")
        for t, digest in self.before_rerun.items():
            if self.after_rerun[t] != digest:
                failures.append(f"re-run changed {t}: {digest} -> {self.after_rerun[t]}")
        compacted = _table_digest(spark, f"{self.wh}/fact_events")
        if compacted != self.after_rerun["fact_events"]:
            failures.append("compaction changed fact_events content")
        if len(self.files_after) != len(self.manifest) or any(n != 1 for n in self.files_after):
            failures.append(f"compaction left {self.files_after} files per partition")
        return failures
