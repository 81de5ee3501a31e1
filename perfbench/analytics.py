"""``analytics_sf005``: a pinned mix of 13 oracle-backed registry queries
over seeded TPC-H-shaped tables at scale factor 0.05, run pass after
pass in a seeded order.

Each execution plans the query through ``REGISTRY[name].fn`` and
materializes every result row with a ``noop`` write, so operators,
functions and Catalyst do all the work; the store, the orchestrator and
streaming are bypassed (the queries read raw parquet via ``load_table``).
A first, untimed pass is the warm-up. Its results are collected and
compared with each query's DuckDB twin (``Entry.sql``) by an
order-insensitive hash.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

from datapipelinerepo_spark import registry_ext  # noqa: F401  (registers the ext queries)
from datapipelinerepo_spark.registry import REGISTRY

from .common import Result, Workload, median
from .data import TABLES, generate_tables, query_order

# Pinned here, not taken from ``Entry.bench``: flagging another query
# for the legacy bench must not change this workload.
QUERIES = [
    "flagship_coverage_gap", "q1_pricing_summary", "q3_top_revenue",
    "q5_region_volume", "q21_waiting_suppliers",
    "events_sessionize", "events_asof_join", "events_range_join", "cdc_latest_wins",
    "dedup_minhash_lsh", "ann_topk_bruteforce", "retrieval_bm25_topk", "text_quality",
]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_hash(rows, columns: list[str]) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result: columns sorted
    by name, each row normalized to exact value text, row digests
    sorted before the final hash."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    digests = sorted(
        hashlib.sha256(repr(tuple(_norm(r[i]) for i in order)).encode()).hexdigest()
        for r in rows
    )
    return len(digests), hashlib.sha256("".join(digests).encode()).hexdigest()


class Analytics(Workload):
    def __init__(self, spark, tracer, work: str, seed: int, smoke: bool):
        super().__init__(spark, tracer, work, seed, smoke)
        self.sf = 0.001 if smoke else 0.05
        self.data = os.path.join(work, "tables")
        self.n_pass = 0

    def prepare(self) -> None:
        generate_tables(self.seed, self.sf, self.data)

    def patch(self) -> None:
        for q in QUERIES:
            self.tr.patch(REGISTRY[q], "fn", f"operators.{q}.plan")

    def _execute(self, q: str, tag: str) -> float:
        t0 = time.perf_counter()
        with self.tr.op(f"{tag}.{q}", f"operators.{q}"):
            REGISTRY[q].fn(self.spark, self.data).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def warmup(self, res: Result) -> None:
        """Two untimed passes. The first runs every query cold on four
        driver threads — most of a cold query's time is single-threaded
        driver work (code generation, class loading, JIT) that overlaps
        well — and collects it for the oracle check. The second is
        sequential, like the timed passes, and lets the JIT catch up: the
        first sequential pass after a cold one runs about a fifth slower
        than the next."""

        def collect(q):
            df = REGISTRY[q].fn(self.spark, self.data)
            return df.collect(), df.columns

        with ThreadPoolExecutor(4) as pool:
            self.results = dict(zip(QUERIES, pool.map(collect, QUERIES)))
        self.rows_of = {q: len(rows) for q, (rows, _cols) in self.results.items()}
        for q in query_order(self.seed, QUERIES, 0):
            self._execute(q, "p0")

    def run(self, res: Result, seconds: float, t_start: float) -> None:
        while True:
            self.n_pass += 1
            p0 = time.perf_counter()
            for q in query_order(self.seed, QUERIES, self.n_pass):
                res.ops_s.append(self._execute(q, f"p{self.n_pass}"))
                res.attempted += 1
                res.rows += self.rows_of[q]
            res.rounds_s.append(time.perf_counter() - p0)
            if time.perf_counter() - t_start >= seconds:
                break
        res.timed_s = time.perf_counter() - t_start

    def check(self, res: Result) -> None:
        """Compare every query's pass-0 result with its DuckDB twin."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
                )
            for q in QUERIES:
                rows, cols = self.results[q]
                rel = con.sql(REGISTRY[q].sql)
                got = result_hash(rows, cols)
                want = result_hash(rel.fetchall(), rel.columns)
                res.attempted += 1
                if got != want:
                    res.fail(f"{q}: spark {got[0]} rows != duckdb {want[0]} rows or values differ")
        finally:
            con.close()

    def layer_metrics(self, res: Result, since: float) -> None:
        L, tr = res.layer, self.tr
        for q in QUERIES:
            d = tr.durations(f"operators.{q}", since)
            L[f"operators.{q}_s"] = median(d) if d else 0.0
        timed = [v for op, v in tr.jobs.items() if not op.startswith("p0.")]
        if timed:
            L["operators.jobs_per_query"] = sum(j for j, _t in timed) / len(timed)
            L["operators.tasks_per_query"] = sum(t for _j, t in timed) / len(timed)
