"""Seeded fixtures for the ``elt_daily`` workload: the pages and JSON the
reference's sources would fetch, the keys that fail, and the day's
website-hit payloads.

``FixtureFetcher`` is pickled to the Python workers that run
``sources.base.fetch_map``, so it carries only the seed, the day and a few
key sets, and renders each page from them on demand. Workers import this
module, which is why the benchmark puts the repository root on their
``PYTHONPATH``.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random

from datapipelinerepo_spark.sources.base import FetchError, FetchTimeout

STATES = ("GA", "AL", "TN", "FL")
CONFERENCES = ("SEC", "ACC", "Big Ten", "Big 12", "Pac-12")
TEAMS_PER_CONF = 14
SEASON_START = dt.date(2026, 8, 29)
# The first simulated day: an in-season Monday, the same for every seed so
# that every run does the same amount of work per day.
FIRST_DAY = dt.date(2026, 9, 7)
STAT_ROWS = (
    ("Points", lambda r: str(r.randint(0, 56))),
    ("TotalYards", lambda r: str(r.randint(150, 650))),
    ("3rdDownEfficiency", lambda r: f"{r.randint(0, 9)}-{r.randint(9, 18)}"),
    ("Comp-Att", lambda r: f"{r.randint(8, 30)}-{r.randint(30, 45)}"),
    ("TimeOfPossession", lambda r: f"{r.randint(20, 39)}:{r.randint(0, 59):02d}"),
)


def _rng(*parts) -> random.Random:
    return random.Random("|".join(str(p) for p in parts))


def season_of(day: dt.date) -> str:
    return str(day.year if day.month >= 8 else day.year - 1)


def team_games(team_id: int, today: dt.date) -> list[tuple[str, dt.date]]:
    """(game_id, date) of every game ``team_id`` has played by ``today``:
    one game a week, on a weekday set by the team, so every simulated day
    brings new games for some teams."""
    out = []
    d = SEASON_START + dt.timedelta(days=team_id % 7)
    k = 0
    while d <= today:
        out.append((f"{team_id}{k:03d}", d))
        d += dt.timedelta(days=7)
        k += 1
    return out


class EltFixtures:
    """Driver-side view of everything the generator decided for a seed."""

    def __init__(self, seed: int, n_zips: int, payloads_per_day: int):
        rng = random.Random(seed)
        self.seed = seed
        zips = rng.sample(range(10_000, 100_000), n_zips)
        self.zips = [str(z) for z in zips]
        self.zip_state = {z: STATES[i % len(STATES)] for i, z in enumerate(self.zips)}
        n_bad = max(1, n_zips // 100)
        picked = rng.sample(self.zips, 3 * n_bad)
        # about 1% of zips fail for good every day, 2% time out once
        # and succeed on the retry
        self.fail_zips = set(picked[:n_bad])
        self.timeout_zips = set(picked[n_bad:])
        self.teams = [
            (conf, 100 + i * TEAMS_PER_CONF + j)
            for i, conf in enumerate(CONFERENCES)
            for j in range(TEAMS_PER_CONF)
        ]
        team_ids = [t for _, t in self.teams]
        self.timeout_teams = set(rng.sample(team_ids, 3))
        # stats pages of a few games fail for good; they stay in the
        # coverage-gap work list forever
        self.fail_games = {f"{t}{k:03d}" for t in rng.sample(team_ids, 4) for k in (0, 1)}
        self.payloads_per_day = payloads_per_day

    # -- fetchers ----------------------------------------------------------
    def fetcher(self, today: dt.date, log_path: str | None = None) -> "FixtureFetcher":
        fail = {f"weather://{z}/{today - dt.timedelta(days=1)}" for z in self.fail_zips}
        fail |= {f"/game/gameId/{g}" for g in self.fail_games}
        timeouts = {f"weather://{z}/{today - dt.timedelta(days=1)}" for z in self.timeout_zips}
        timeouts |= {f"games://{t}/{season_of(today)}" for t in self.timeout_teams}
        return FixtureFetcher(self.seed, today, self.zip_state, self.teams, fail, timeouts, log_path)

    # -- expected table contents ------------------------------------------
    def weather_rows_per_day(self) -> int:
        return len(self.zips) - len(self.fail_zips)

    def games_by(self, today: dt.date) -> set[str]:
        return {g for _, t in self.teams for g, _d in team_games(t, today)}

    # -- pushed website hits ------------------------------------------------
    def payloads(self, day: dt.date) -> tuple[list[str], int]:
        """The day's one-record base64 payloads and how many are valid.
        About 3% are poison: bad base64, non-JSON, or an impossible
        timestamp; the stream must skip them."""
        rng = _rng(self.seed, "hits", day)
        out, valid = [], 0
        for i in range(self.payloads_per_day):
            kind = rng.random()
            rec = {
                "time_stamp": f"{day} {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}",
                "id": f"v{rng.randint(0, 5000)}",
                "session": f"s{rng.randint(0, 20000)}",
                "page": rng.choice(["/", "/projects", "/blog", "/about", "/contact"]),
                "referrer": rng.choice(["https://www.google.com/", "direct", "https://github.com/"]),
                "device": rng.choice(["mobile", "desktop", "tablet"]),
                "language": rng.choice(["en-US", "en-GB", "de-DE", "es-ES"]),
            }
            if kind < 0.01:
                out.append("!!not base64!!")
            elif kind < 0.02:
                out.append(base64.b64encode(b"{not json").decode())
            elif kind < 0.03:
                rec["time_stamp"] = "2026-13-99 25:61:61"
                out.append(base64.b64encode(json.dumps(rec).encode()).decode())
            else:
                out.append(base64.b64encode(json.dumps(rec).encode()).decode())
                valid += 1
        return out, valid

    def write_payloads(self, day: dt.date, src_dir: str) -> int:
        payloads, valid = self.payloads(day)
        for i, p in enumerate(payloads):
            with open(os.path.join(src_dir, f"{day}-{i:05d}.b64"), "w") as f:
                f.write(p + "\n")
        return valid


class FixtureFetcher:
    """url -> page for one simulated day. Keys in ``fail`` raise
    ``FetchError``; keys in ``timeouts`` raise ``FetchTimeout`` on their
    first call in a task and succeed on the retry. With ``log_path``,
    every call appends ``url<TAB>outcome`` to that file."""

    def __init__(self, seed, today, zip_state, teams, fail, timeouts, log_path):
        self.seed = seed
        self.today = today
        self.zip_state = zip_state
        self.teams = teams
        self.fail = fail
        self.timeouts = timeouts
        self.log_path = log_path
        self._timed_out: set[str] = set()

    def _log(self, url: str, outcome: str) -> None:
        if self.log_path:
            with open(self.log_path, "a") as f:
                f.write(f"{url}\t{outcome}\n")

    def __call__(self, url: str) -> str:
        if url in self.fail:
            self._log(url, "fail")
            raise FetchError(url)
        if url in self.timeouts and url not in self._timed_out:
            self._timed_out.add(url)
            self._log(url, "timeout")
            raise FetchTimeout(url)
        page = self.page(url)
        self._log(url, "ok")
        return page

    def page(self, url: str) -> str:
        scheme, rest = url.split("://", 1) if "://" in url else ("stats", url)
        if scheme == "weather":
            z, day = rest.split("/")
            r = _rng(self.seed, "wx", z, day)
            lo = round(r.uniform(30, 75), 1)
            hi = round(lo + r.uniform(5, 25), 1)
            return json.dumps({"forecast": {"forecastday": [{"day": {
                "maxtemp_f": hi, "mintemp_f": lo,
                "avgtemp_f": round((lo + hi) / 2, 2),
                "totalprecip_in": round(r.random() * 2, 2),
            }}]}})
        if scheme == "geo":
            rows = "".join(
                f"<tr><td>{z}</td><td>County{int(z) % 97} County</td></tr>"
                for z, st in self.zip_state.items() if st.lower() == rest
            )
            return f"<table><tr><th>ZIP</th><th>County</th></tr>{rows}</table>"
        if scheme == "teams":
            rows = "".join(
                f'<tr><td><a href="/cf/team/_/id/{t}/team-{t}">Team {t}</a></td></tr>'
                for conf, t in self.teams if conf.lower() == rest
            )
            return f"<table><tr><th>Team</th></tr>{rows}</table>"
        if scheme == "games":
            team = int(rest.split("/")[0])
            rows = "".join(
                f"<tr><td>{d.strftime('%a, %b %-d')}</td>"
                f'<td><a href="/game/gameId/{g}">Rival {g}</a></td></tr>'
                for g, d in team_games(team, self.today)
            )
            return f"<table><tr><th>Date</th><th>Opponent</th></tr>{rows}</table>"
        gid = url.rsplit("/", 1)[1]
        r = _rng(self.seed, "stats", gid)
        # about one stat in ten, never Points, is missing from the page
        # ('unavail' fill)
        rows = "".join(
            f"<tr><td>{name}</td><td>{fn(r)}</td><td>{fn(r)}</td></tr>"
            for name, fn in STAT_ROWS if name == "Points" or r.random() > 0.1
        )
        return f"<table><tr><th>Stat</th><th>Home</th><th>Away</th></tr>{rows}</table>"
