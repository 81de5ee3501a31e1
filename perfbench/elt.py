"""``elt_daily``: the reference's own job, one simulated day at a time.

A ``FixedClock`` steps through consecutive days from an in-season Monday.
Each day calls the ``entrypoints`` handlers in reference order (weather
for every zip, uslocations, pwr5teams, games, gamestats) with seeded
fixture fetchers, then drains the day's pushed website hits through
``read_base64_event_stream`` -> ``stream_to_table(available_now=True)``.
The first day is the warm-up and is not timed. After the timed days the
weather and pwr5teams handlers re-run the last day with their sources
forced manual: an idempotent partition reload and an overwrite that must
leave every table as it was.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from datapipelinerepo_spark import entrypoints as EP
from datapipelinerepo_spark.io import TableStore
from datapipelinerepo_spark.plans import FixedClock, SourceContext
from datapipelinerepo_spark.plans import pipeline as PL
from datapipelinerepo_spark.sources import reference_shaped as RS
from datapipelinerepo_spark.streaming import ingest as ING

import pyarrow.parquet as pq

from .common import Result, Workload, median
from .fixtures import CONFERENCES, FIRST_DAY, STATES, EltFixtures, season_of

HANDLERS = {
    "weather": "weather_pipeline",
    "uslocations": "uslocations_pipeline",
    "pwr5teams": "cf_pwr5teams_pipeline",
    "games": "cf_games_pipeline",
    "gamestats": "cf_gamestats_pipeline",
}
SOURCE_NAMES = dict(zip(HANDLERS, ["weather", "geo", "teams", "games", "game_stats"]))
RERUN = ("weather", "pwr5teams")
STORE_VERBS = ("append", "overwrite", "reload_partitions", "max_value", "tables",
               "exists", "read", "describe_detail")


class EltDaily(Workload):
    def __init__(self, spark, tracer, work: str, seed: int, smoke: bool):
        super().__init__(spark, tracer, work, seed, smoke)
        self.fx = EltFixtures(seed, n_zips=40 if smoke else 1000,
                              payloads_per_day=20 if smoke else 100)
        self.store = TableStore(spark, os.path.join(work, "store"))
        self.src = os.path.join(work, "hits")
        self.out = os.path.join(self.store.root, "website_traffic")
        self.ckpt = os.path.join(work, "hits_ckpt")
        os.makedirs(self.src, exist_ok=True)
        self.fetch_log = os.path.join(work, "fetch.log") if tracer.enabled else None
        self.valid_hits = 0
        self.drains: list[dict] = []
        self.fetch_days: list[list[tuple[str, str]]] = []

    def patch(self) -> None:
        tr = self.tr
        for short, fn in HANDLERS.items():
            tr.patch(EP, fn, f"entrypoints.{short}")
        tr.patch(PL.Pipeline, "run", "plans.run")
        tr.patch(PL.DataSource, "load", "plans.load")
        for cls in (RS.WeatherSource, RS.GeoSource, RS.TeamsSource, RS.GamesSource,
                    RS.GameStatsSource, RS.WebsiteEventsSource):
            tr.patch(cls, "schedule", "plans.schedule")
            tr.patch(cls, "extract", "plans.extract")
        for gate in ("watermark_gate", "monthly_quota_gate", "annual_refresh_gate",
                     "calendar_gate", "existence_gate"):
            tr.patch(RS, gate, f"plans.{gate}")
        tr.patch(RS, "fetch_map", "sources.fetch_map")
        tr.patch(RS, "html_records", "sources.html_records")
        tr.patch(ING, "read_base64_event_stream", "streaming.read_base64_event_stream")
        tr.patch(ING, "stream_to_table", "streaming.stream_to_table")
        for verb in STORE_VERBS:
            tr.patch(TableStore, verb, f"io.{verb}")

    # -- one simulated day ---------------------------------------------------
    def day(self, res: Result, day: dt.date, tag: str, rerun: bool = False) -> float:
        """Run every handler for ``day`` and drain its hits, or with
        ``rerun`` only the RERUN handlers, forced manual; returns the
        wall time, payload writing excluded."""
        fetcher = self.fx.fetcher(day, self.fetch_log)
        clock = FixedClock(day)
        args = {
            "weather": dict(zips=self.fx.zips),
            "uslocations": dict(states=STATES),
            "pwr5teams": dict(conferences=CONFERENCES),
            "games": dict(years=[season_of(day)]),
            "gamestats": {},
        }
        total = 0.0
        for short in RERUN if rerun else HANDLERS:
            t0 = time.perf_counter()
            with self.tr.op(f"{tag}.{short}", f"op.{short}"):
                report = getattr(EP, HANDLERS[short])(
                    self.spark, self.store, fetcher,
                    manual=[SOURCE_NAMES[short]] if rerun else None, clock=clock, **args[short],
                )
            lat = time.perf_counter() - t0
            total += lat
            res.attempted += 1
            res.rows += sum(report.loaded_rows.values())
            if any(report.scheduled.values()):
                # a handler whose gate said "not today" is not an op
                res.ops_s.append(lat)
            if report.errors:
                res.fail(f"{tag}.{short}: {report.errors}")
        if self.fetch_log:
            self.fetch_days.append(self._read_fetch_log())
        if rerun:
            return total
        self.valid_hits += self.fx.write_payloads(day, self.src)
        t0 = time.perf_counter()
        with self.tr.op(f"{tag}.drain", "op.drain"):
            q = ING.stream_to_table(
                ING.read_base64_event_stream(self.spark, self.src), self.out, self.ckpt
            )
            q.awaitTermination()
        lat = time.perf_counter() - t0
        self.drains.append({"s": lat, "progress": q.recentProgress})
        res.ops_s.append(lat)
        res.attempted += 1
        if q.exception() is not None:
            res.fail(f"{tag}.drain: {q.exception()}")
        return total + lat

    def _read_fetch_log(self) -> list[tuple[str, str]]:
        if not os.path.exists(self.fetch_log):
            return []
        with open(self.fetch_log) as f:
            calls = [tuple(line.rstrip("\n").split("\t")) for line in f if line.strip()]
        os.remove(self.fetch_log)
        return calls

    # -- workload protocol ---------------------------------------------------
    def warmup(self, res: Result) -> None:
        """Day 0: the first-ever run creates every table (all gates fire)
        and pays every first-touch cost."""
        self.day(res, FIRST_DAY, "d0")
        self.fetch_days.clear()
        self.drains.clear()

    def run(self, res: Result, seconds: float, t_start: float) -> None:
        hits_before = self._stream_rows()
        day, k = FIRST_DAY, 0
        while True:
            k += 1
            day = FIRST_DAY + dt.timedelta(days=k)
            res.rounds_s.append(self.day(res, day, f"d{k}"))
            if time.perf_counter() - t_start >= seconds:
                break
        days_s = time.perf_counter() - t_start
        before = self._counts()  # bookkeeping, outside the timed window
        res.timed_s = days_s + self.day(res, day, "rerun", rerun=True)
        self.rerun_counts = (before, self._counts())
        self.last_day, self.days = day, k
        res.rows += self._stream_rows() - hits_before

    def _counts(self) -> dict[str, int]:
        return {
            t: self.store.read(t).count() if self.store.exists(t) else 0
            for t in ("daily_weather", "us_zips_counties", "schools", "games", "game_team_stats")
        }

    def _stream_rows(self) -> int:
        """Rows the event stream has landed, from the parquet footers
        (the file sink reports no output row count)."""
        if not os.path.isdir(self.out):
            return 0
        return sum(
            pq.ParquetFile(os.path.join(self.out, f)).metadata.num_rows
            for f in os.listdir(self.out) if f.endswith(".parquet")
        )

    # -- output checks -------------------------------------------------------
    def check(self, res: Result) -> None:
        fx, store = self.fx, self.store
        last = self.last_day
        want_dates = {
            FIRST_DAY + dt.timedelta(days=i - 1) for i in range(self.days + 1)
        }
        per_date = {
            r["date"]: r["n"]
            for r in store.read("daily_weather").groupBy("date").count()
            .withColumnRenamed("count", "n").collect()
        }
        if per_date != {d: fx.weather_rows_per_day() for d in want_dates}:
            res.fail(f"daily_weather rows per date {sorted(per_date.items())[:3]}...")
        before, after = self.rerun_counts
        if before != after:
            res.fail(f"manual re-run changed the tables: {before} -> {after}")
        if after["us_zips_counties"] != len(fx.zips):
            res.fail(f"us_zips_counties has {after['us_zips_counties']} rows")
        if after["schools"] != len(fx.teams):
            res.fail(f"schools has {after['schools']} rows")
        games = {r["game_id"] for r in store.read("games").select("game_id").collect()}
        want_games = fx.games_by(last)
        if games != want_games or after["games"] != len(want_games):
            res.fail(f"games: {after['games']} rows, want {len(want_games)}")
        # game stats are pulled on the first day and on Mondays; every
        # pull converges the work list to the games whose pages fail
        last_pull = FIRST_DAY + dt.timedelta(days=7 * (self.days // 7))
        covered = fx.games_by(last_pull) - fx.fail_games
        if after["game_team_stats"] != 2 * len(covered):
            res.fail(f"game_team_stats: {after['game_team_stats']} rows, want {2 * len(covered)}")
        ctx = SourceContext(spark=self.spark, store=store, clock=FixedClock(last))
        gap = {r["game_id"] for r in RS.GameStatsSource(None).worklist(ctx).collect()}
        if gap != want_games - covered:
            res.fail(f"coverage-gap work list: {len(gap)} games, want {len(want_games - covered)}")
        hits = self.spark.read.parquet(self.out).count()
        if hits != self.valid_hits or self._stream_rows() != hits:
            res.fail(f"website_traffic: {hits} rows, want {self.valid_hits} valid payloads")
        res.attempted += 1

    # -- per-layer numbers (traced run) -------------------------------------
    def layer_metrics(self, res: Result, since: float) -> None:
        tr, L = self.tr, res.layer
        days = max(self.days, 1)
        for short in HANDLERS:
            L[f"entrypoints.{short}_s"] = _med(tr.durations(f"entrypoints.{short}", since))
        for step in ("schedule", "extract", "load"):
            L[f"plans.{step}_s"] = _med(tr.durations(f"plans.{step}", since))
        timed_tags = {f"d{k}" for k in range(1, days + 1)}
        L["plans.jobs_per_day"] = sum(
            j for op, (j, _t) in tr.jobs.items() if op.split(".")[0] in timed_tags
        ) / days
        timed_days = self.fetch_days[:days]
        calls = [c for d in timed_days for c in d]
        ok_urls = {u for u, o in calls if o == "ok"}
        L["sources.fetch_calls_per_day"] = len(calls) / days
        L["sources.retries"] = sum(1 for _u, o in calls if o == "timeout") / days
        L["sources.fetch_useful_ratio"] = len(ok_urls) / len(calls) if calls else 0.0
        progress = [p for d in self.drains for p in d["progress"]]
        batches = [p for p in progress if "addBatch" in p["durationMs"]]
        L["streaming.drain_s"] = _med([d["s"] for d in self.drains])
        L["streaming.add_batch_ms"] = _med([p["durationMs"]["addBatch"] for p in batches])
        L["streaming.get_batch_ms"] = _med([p["durationMs"].get("getBatch", 0) for p in batches])
        L["streaming.query_planning_ms"] = _med(
            [p["durationMs"].get("queryPlanning", 0) for p in batches])
        L["streaming.wal_commit_ms"] = _med(
            [p["durationMs"].get("walCommit", 0) for p in batches])
        L["streaming.batches"] = len(batches) / max(len(self.drains), 1)
        L["streaming.input_rows"] = sum(p["numInputRows"] for p in progress) / max(len(self.drains), 1)
        for verb in ("append", "reload_partitions", "overwrite"):
            L[f"io.{verb}_s"] = _med(tr.durations(f"io.{verb}", since))
        for verb in ("max_value", "tables"):
            L[f"io.{verb}_ms"] = 1000 * _med(tr.durations(f"io.{verb}", since))


def _med(values: list[float]) -> float:
    return median(values) if values else 0.0
