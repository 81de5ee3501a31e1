"""``store_serving``: one closed-loop client against a versioned keyed
``TableStore`` table.

Set-up writes seeded ``orders`` rows as a versioned table keyed on
``o_orderkey`` (32 buckets) with a bloom index on ``o_custkey``. The
client then repeats a fixed cycle of 12 operations, 9 reads and 3 writes,
with seeded Zipf-skewed keys (about 10% of probed keys are absent), and
runs ``compact`` and ``vacuum`` after every cycle's writes. Every read is
checked against a shadow model the benchmark keeps, and so is the final
table. The store has no data cache of its own; the whole table fits in
the OS page cache, so read latencies are this machine's, not a device's.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datapipelinerepo_spark.io import TableStore

from .common import Result, Workload, dir_bytes, median
from .data import orders_columns

TABLE = "orders"
KEY = "o_orderkey"
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]
N_BUCKETS = 32
DELETE_FLAG = "X-DELETE"
# One cycle: reads are 3/4 of the operations, writes 1/4.
CYCLE = ["lookup", "read_key", "upsert", "read_point", "count_where", "lookup",
         "merge_when", "read_key", "read_point", "count_where", "delete_where", "lookup"]
READS = {"lookup", "read_key", "read_point", "count_where"}
STORE_VERBS = ("lookup", "read", "read_point", "count_where", "upsert", "merge_when",
               "delete_where", "compact", "vacuum", "exists", "keyed_spec",
               "overwrite_buckets", "read_buckets", "plan_read", "versions")


def _row(r) -> tuple:
    return tuple(r[c] for c in COLS)


class StoreServing(Workload):
    def __init__(self, spark, tracer, work: str, seed: int, smoke: bool):
        super().__init__(spark, tracer, work, seed, smoke)
        self.n_orders = 3000 if smoke else 150_000
        self.n_cust = max(self.n_orders // 10, 100)
        self.store = TableStore(spark, os.path.join(work, "store"))
        self.rng = np.random.default_rng([seed, 3])
        self.verb_s: dict[str, list[float]] = {}
        self.plan_s: list[float] = []
        self.files_per_read: list[int] = []
        self.write_added = 0
        self.write_batch = 0
        self.n_cycle = 0

    # -- set-up -----------------------------------------------------------
    def prepare(self) -> None:
        cols = orders_columns(np.random.default_rng([self.seed, 1]), self.n_orders, self.n_cust)
        cols["o_orderdate"] = cols["o_orderdate"].astype("datetime64[D]")
        path = os.path.join(self.work, "orders_input.parquet")
        pq.write_table(pa.table(cols), path)
        df = self.spark.read.parquet(path)
        self.store.overwrite_keyed(df, TABLE, key=KEY, n_buckets=N_BUCKETS, versioned=True)
        self.store.build_bloom_index(TABLE, "o_custkey")
        tab = pa.table(cols).to_pylist()
        self.shadow = {r[KEY]: tuple(r[c] for c in COLS) for r in tab}
        self.by_cust: dict[int, set[int]] = {}
        for k, row in self.shadow.items():
            self.by_cust.setdefault(row[1], set()).add(k)
        self.next_key = self.n_orders
        # Zipf(1.1) popularity over a seeded permutation of the keys
        ranks = np.arange(1, self.n_orders + 1, dtype=np.float64)
        p = ranks ** -1.1
        self.key_p = p / p.sum()
        self.key_perm = self.rng.permutation(self.n_orders)

    def patch(self) -> None:
        for verb in STORE_VERBS:
            self.tr.patch(TableStore, verb, f"io.{verb}")

    # -- op generation ----------------------------------------------------
    def _hot_keys(self, n: int) -> list[int]:
        return [int(self.key_perm[i]) for i in self.rng.choice(self.n_orders, n, p=self.key_p)]

    def _probe_key(self) -> int:
        if self.rng.random() < 0.1:
            return 10_000_000 + int(self.rng.integers(0, 1_000_000))  # absent
        return self._hot_keys(1)[0]

    def _probe_cust(self) -> int:
        k = self._probe_key()
        row = self.shadow.get(k)
        return row[1] if row else int(self.rng.integers(self.n_cust, 2 * self.n_cust))

    def _new_row(self, key: int, flag: bool = False) -> tuple:
        r = self.rng
        return (
            key,
            int(r.integers(0, self.n_cust)),
            ["F", "O", "P"][int(r.integers(0, 3))],
            round(float(r.uniform(1000, 500_000)), 2),
            dt.date(1995, 1, 1) + dt.timedelta(days=int(r.integers(0, 2404))),
            DELETE_FLAG if flag else ["1-URGENT", "2-HIGH", "3-MEDIUM"][int(r.integers(0, 3))],
        )

    def _batch(self, n_upd: int, n_ins: int, n_del: int = 0) -> list[tuple]:
        keys = list(dict.fromkeys(k for k in self._hot_keys(3 * (n_upd + n_del)) if k in self.shadow))
        rows = [self._new_row(k, flag=i < n_del) for i, k in enumerate(keys[: n_upd + n_del])]
        for _ in range(n_ins):
            rows.append(self._new_row(self.next_key))
            self.next_key += 1
        return rows

    def _frame(self, rows: list[tuple]):
        return self.spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
            "o_orderdate date, o_orderpriority string",
        )

    # -- shadow model -------------------------------------------------------
    def _put(self, row: tuple) -> None:
        old = self.shadow.get(row[0])
        if old is not None:
            self.by_cust[old[1]].discard(row[0])
        self.shadow[row[0]] = row
        self.by_cust.setdefault(row[1], set()).add(row[0])

    def _drop(self, key: int) -> None:
        old = self.shadow.pop(key, None)
        if old is not None:
            self.by_cust[old[1]].discard(key)

    # -- one operation -------------------------------------------------------
    def op(self, res: Result, verb: str, tag: str) -> tuple[float, int]:
        """Run one operation and check it; returns (latency, rows read
        or written). Probe keys and write batches are drawn before the
        clock starts."""
        store = self.store
        want = got = df = None
        batch_rows: list[tuple] = []
        keys: list[int] = []
        if verb in ("lookup", "read_key"):
            k = self._probe_key()
            want = {self.shadow[k]} if k in self.shadow else set()
        elif verb in ("read_point", "count_where"):
            c = self._probe_cust()
            want = {self.shadow[k] for k in self.by_cust.get(c, ())}
            if verb == "count_where":
                want = len(want)
        elif verb == "upsert":
            batch_rows = self._batch(n_upd=15, n_ins=5)
        elif verb == "merge_when":
            batch_rows = self._batch(n_upd=6, n_ins=2, n_del=4)
        elif verb == "delete_where":
            keys = [k for k in dict.fromkeys(self._hot_keys(6)) if k in self.shadow][:3]
        before = dir_bytes(store._dir(TABLE)) if self.tr.enabled and batch_rows else 0
        t0 = time.perf_counter()
        with self.tr.op(tag, f"op.{verb}"):
            if verb in ("lookup", "read_key", "read_point"):
                if verb == "lookup":
                    df = store.lookup(TABLE, [k])
                elif verb == "read_key":
                    df = store.read(TABLE, where={KEY: k})
                else:
                    df = store.read_point(TABLE, "o_custkey", c)
                self.plan_s.append(time.perf_counter() - t0)
                got = {_row(r) for r in df.select(*COLS).collect()}
            elif verb == "count_where":
                got = store.count_where(TABLE, {"o_custkey": c})
            elif verb == "upsert":
                store.upsert(self._frame(batch_rows), TABLE, KEY)
            elif verb == "merge_when":
                store.merge_when(
                    self._frame(batch_rows), TABLE, KEY,
                    when_matched_update="all",
                    when_matched_delete=f"s.o_orderpriority = '{DELETE_FLAG}'",
                    when_not_matched_insert=f"s.o_orderpriority <> '{DELETE_FLAG}'",
                )
            elif verb == "delete_where":
                store.delete_where(TABLE, f"{KEY} IN ({', '.join(map(str, keys))})")
            elif verb == "compact":
                store.compact(TABLE)
            elif verb == "vacuum":
                store.vacuum(TABLE, keep_last=1, grace_s=0.0)
        lat = time.perf_counter() - t0
        res.attempted += 1
        self.verb_s.setdefault(verb, []).append(lat)
        if df is not None and self.tr.enabled:
            self.files_per_read.append(len(df.inputFiles()))
        for r in batch_rows:
            if r[5] == DELETE_FLAG:
                self._drop(r[0])
            else:
                self._put(r)
        for k in keys:
            self._drop(k)
        if want is not None and got != want:
            res.fail(f"{tag} {verb}: store gave {_show(got)}, shadow has {_show(want)}")
        if self.tr.enabled and batch_rows:
            self.write_added += dir_bytes(store._dir(TABLE)) - before
            self.write_batch += _parquet_bytes(batch_rows)
        n_read = len(got) if isinstance(got, set) else 1 if verb == "count_where" else 0
        return lat, n_read + len(batch_rows) + len(keys)

    def corrupt_shadow(self) -> None:
        """Planted fault for the benchmark's own tests: change one value
        in the shadow model, so the store and the model disagree and the
        checks must fail the run. The key is the least popular one, which
        no write rewrites (that would repair the model) within a run."""
        k = int(self.key_perm[-1])
        row = self.shadow[k]
        self.shadow[k] = row[:3] + (row[3] + 1.0,) + row[4:]

    def cycle(self, res: Result, tag: str, timed: bool) -> float:
        total = 0.0
        for i, verb in enumerate(CYCLE + ["compact", "vacuum"]):
            lat, n_rows = self.op(res, verb, f"{tag}.{i}.{verb}")
            total += lat
            if timed:
                res.ops_s.append(lat)
                res.rows += n_rows
        return total

    # -- workload protocol ---------------------------------------------------
    def warmup(self, res: Result) -> None:
        self.cycle(res, "c0", timed=False)
        self.verb_s.clear()
        self.plan_s.clear()
        self.files_per_read.clear()
        self.write_added = self.write_batch = 0

    def run(self, res: Result, seconds: float, t_start: float) -> None:
        while True:
            self.n_cycle += 1
            res.rounds_s.append(self.cycle(res, f"c{self.n_cycle}", timed=True))
            if time.perf_counter() - t_start >= seconds:
                break
        res.timed_s = time.perf_counter() - t_start

    def check(self, res: Result) -> None:
        rows = self.store.read(TABLE).select(*COLS).collect()
        got = {_row(r) for r in rows}
        res.attempted += 1
        if len(rows) != len(self.shadow) or got != set(self.shadow.values()):
            res.fail(f"final table: {len(rows)} rows, shadow has {len(self.shadow)}")
        once = os.path.join(self.work, "final_once.parquet")
        pq.write_table(pa.table({c: [r[i] for r in self.shadow.values()] for i, c in enumerate(COLS)}), once)
        self.space_amp = dir_bytes(self.store._dir(TABLE)) / os.path.getsize(once)
        self.live_files = len(self.store.read(TABLE).inputFiles())

    def layer_metrics(self, res: Result, since: float) -> None:
        L, v = res.layer, self.verb_s
        for verb in ("lookup", "read_key", "read_point", "count_where"):
            L[f"io.{verb}_ms"] = 1000 * median(v[verb]) if v.get(verb) else 0.0
        for verb in ("upsert", "merge_when", "delete_where", "compact", "vacuum"):
            L[f"io.{verb}_s"] = median(v[verb]) if v.get(verb) else 0.0
        L["io.read_plan_ms"] = 1000 * median(self.plan_s) if self.plan_s else 0.0
        L["io.files_per_read"] = median(self.files_per_read) if self.files_per_read else 0.0
        jobs = {op: j for op, (j, _t) in self.tr.jobs.items() if not op.startswith("c0.")}
        reads = [j for op, j in jobs.items() if op.rsplit(".", 1)[1] in READS]
        writes = [j for op, j in jobs.items()
                  if op.rsplit(".", 1)[1] in ("upsert", "merge_when", "delete_where")]
        L["io.jobs_per_read"] = sum(reads) / len(reads) if reads else 0.0
        L["io.jobs_per_write"] = sum(writes) / len(writes) if writes else 0.0
        L["io.write_amp"] = self.write_added / self.write_batch if self.write_batch else 0.0
        L["io.live_files"] = float(self.live_files)
        L["io.space_amp"] = self.space_amp


def _parquet_bytes(rows: list[tuple]) -> int:
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(COLS)}), sink)
    return sink.getvalue().size


def _show(v) -> str:
    s = repr(sorted(v, key=repr) if isinstance(v, set) else v)
    return s if len(s) < 160 else s[:160] + "..."
