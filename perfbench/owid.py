"""Seeded OWID-shaped replay: the reference producer's traffic as files.

The reference producer reads the OWID COVID CSV row by row (location-major,
then date), JSON-encodes each row and sleeps 0.1 s between sends, so rows
arrive at about 10 rows/s and a 30-s trigger sees about 300 rows.  This
module replays that shape without Spark:

- rows in CSV order, stamped at ``rows_per_s`` (the ``timestamp`` field is
  the event time the producer stamped, ``date`` is the OWID row's date);
- one JSON-lines file per epoch, so ``maxFilesPerTrigger=1`` reproduces the
  epoch boundaries exactly;
- stated shares of exact duplicate sends, malformed (truncated) lines,
  sentinel (``""``/``null``/``NULL``) and uncastable numerics, hotspot
  rows, and rows delivered one epoch late, either still within the
  watermark (out of order) or beyond it.

The shares are path-coverage choices, not measured traffic.  The reference
producer sends each CSV row once through ``json.dumps``, so its own stream
has no duplicates and no truncated lines; the replay adds a few of each so
that the cross-batch dedup and the PERMISSIVE parse of a broken line run on
the measured path.  Sentinel and uncastable cells exercise the cleaning
stage's two cast outcomes (0.0 and NULL).  Background rows stay clear of
both computed hotspot thresholds (new cases capped at
``MAX_BACKGROUND_NEW_CASES``, death ratio below
``MAX_BACKGROUND_DEATH_RATIO``), so exactly the rows drawn as hotspots are
hotspots; each of those takes one of the detector's three branches at
random: a new-cases surge far above 10000, a death ratio far above 0.05,
or the producer's ``is_hotspot`` flag.

Expected sink contents are derived here from the generated records with a
pure-Python twin of the pipeline's per-epoch semantics, so the benchmark
checks Spark's output against numbers that Spark did not compute.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from dataclasses import asdict, dataclass

import numpy as np

from bigdata_covid19_real_time_spark.schema import NUMERIC_RAW_COLUMNS, RAW_FIELDS

CONTINENTS = ["Africa", "Asia", "Europe", "North America", "Oceania", "South America"]
SENTINELS = ("", "null", "NULL")
UNCASTABLE = "n/a"
START_DATE = dt.date(2020, 3, 1)
#: Replay start; a multiple of the 5-minute rollup window.
START_STAMP = dt.datetime(2021, 6, 1)
#: The cleaning stage rounds death_rate to 6 places; background death
#: ratios stay this far below the 0.05 hotspot threshold, and hotspot death
#: ratios this far above it, so the expected hotspot set never depends on
#: rounding.
MAX_BACKGROUND_DEATH_RATIO = 0.03
HOTSPOT_DEATH_RATIO = (0.08, 0.15)
#: Background new cases stay below the 10000 hotspot threshold; a surge
#: row's new cases lie far above it.
MAX_BACKGROUND_NEW_CASES = 9000.0
HOTSPOT_NEW_CASES = (20_000, 60_000)
#: The detector's three branches, as drawn for a hotspot row.
HOTSPOT_BRANCHES = ("new_cases", "death_rate", "flag")
#: Tumbling window of the pipeline's rollups (its ``window_duration``).
WINDOW_S = 300

#: Column index of each RAW_SCHEMA field in a record.
FIELD = {name: i for i, name in enumerate(RAW_FIELDS)}


@dataclass(frozen=True)
class Traffic:
    """The traffic dimensions of one replay."""

    rows_per_epoch: int
    epochs: int
    locations: int
    dates_per_location: int
    rows_per_s: float = 10.0
    watermark_s: int = 600
    dup_share: float = 0.0
    malformed_share: float = 0.0
    sentinel_share: float = 0.0
    uncastable_share: float = 0.0
    hotspot_share: float = 0.0
    #: share of rows delivered one epoch late but within the watermark
    ooo_share: float = 0.0
    #: share of rows delivered one epoch late and beyond the watermark
    late_share: float = 0.0


@dataclass
class Replay:
    traffic: Traffic
    seed: int
    #: per epoch, the lines in send order
    lines: list[list[str]]
    #: per epoch, the parsed record of each line (None when malformed)
    records: list[list[tuple | None]]
    #: per epoch, each line's event time in seconds since START_STAMP
    stamps: list[list[float]]
    #: per epoch, the watermark in force (seconds since START_STAMP)
    watermarks: list[float]


def _stamp_str(seconds: float) -> str:
    """``START_STAMP + seconds`` as ``YYYY-MM-DD HH:MM:SS.mmm``."""
    days, ms = divmod(round(seconds * 1000), 86_400_000)
    secs, ms = divmod(ms, 1000)
    hours, secs = divmod(secs, 3600)
    minutes, secs = divmod(secs, 60)
    day = (START_STAMP.date() + dt.timedelta(days=days)).isoformat()
    return f"{day} {hours:02d}:{minutes:02d}:{secs:02d}.{ms:03d}"


def _num(x: float) -> str:
    return f"{x:.1f}"


def _base_rows(traffic: Traffic, rng: np.random.Generator, n_rows: int) -> list[list[str]]:
    """The first ``n_rows`` OWID-shaped rows in CSV order."""
    n_loc, n_dates = traffic.locations, traffic.dates_per_location
    if n_rows > n_loc * n_dates:
        raise ValueError(f"{n_rows} rows need more than {n_loc} x {n_dates} keys")
    continents = rng.integers(0, len(CONTINENTS), n_loc)
    populations = np.round(10 ** rng.uniform(5.5, 8.5, n_loc))
    dates = [(START_DATE + dt.timedelta(days=d)).isoformat() for d in range(n_dates)]
    rows: list[list[str]] = []
    for loc in range(n_loc):
        take = min(n_dates, n_rows - len(rows))
        if take <= 0:
            break
        pop = populations[loc]
        new_cases = np.minimum(
            np.round(pop / 1e5 * rng.gamma(2.0, 1.0, take)), MAX_BACKGROUND_NEW_CASES
        )
        total_cases = np.cumsum(new_cases) + 1.0
        total_deaths = np.floor(
            total_cases * rng.uniform(0.005, MAX_BACKGROUND_DEATH_RATIO)
        )
        new_deaths = np.diff(total_deaths, prepend=0.0)
        active = np.floor(total_cases * rng.uniform(0.05, 0.2))
        fixed = [CONTINENTS[continents[loc]], f"Location {loc:03d}", f"L{loc:03d}"]
        for d in range(take):
            tc, td, ac = total_cases[d], total_deaths[d], active[d]
            rows.append(
                ["", *fixed, dates[d], ""]  # uuid and timestamp: stamped at send
                + [_num(v) for v in (tc, new_cases[d], td, new_deaths[d], ac, pop)]
                + [
                    f"{(tc - ac - td) / tc:.4f}",
                    f"{td / tc:.4f}",
                    f"{tc / pop * 1e6:.2f}",
                    f"{td / pop * 1e6:.2f}",
                    f"{new_cases[d] / tc:.4f}",
                    f"{tc / pop:.6f}",
                    "false",
                ]
            )
    return rows


# every field is plain ASCII without quotes or backslashes, so this template
# is an exact (and much faster) json.dumps twin
_LINE = "{" + ", ".join(f'"{k}": "%s"' for k in RAW_FIELDS) + "}"


def _encode(rec: tuple) -> str:
    return _LINE % rec


def _make_hotspot(row: list[str], branch: str, surge: float, fatality: float) -> None:
    """Turn a background row into a hotspot through one detector branch."""
    if branch == "new_cases":
        row[FIELD["new_cases"]] = _num(round(surge))
    elif branch == "death_rate":
        tc = float(row[FIELD["total_cases"]])
        td = math.ceil(tc * fatality)
        row[FIELD["total_deaths"]] = _num(td)
        row[FIELD["death_rate"]] = f"{td / tc:.4f}"
    else:
        row[FIELD["is_hotspot"]] = "true"


def generate(traffic: Traffic, seed: int) -> Replay:
    """Build the replay for ``seed``: the same seed gives the same lines."""
    rng = np.random.default_rng(seed)
    total = traffic.rows_per_epoch * traffic.epochs
    base = _base_rows(traffic, rng, total)
    numeric_idx = [FIELD[c] for c in NUMERIC_RAW_COLUMNS]

    # send sequence: each base row once, stamped at the producer cadence,
    # with exact duplicate re-sends and truncated lines right behind it.
    # A send is (record or None when truncated, line, stamp, whether it is
    # a lone well-formed send that may be delivered late).
    u = rng.random((len(base), 5))
    which = rng.integers(0, len(numeric_idx), (len(base), 2))
    branch = rng.integers(0, len(HOTSPOT_BRANCHES), len(base))
    surge = rng.uniform(*HOTSPOT_NEW_CASES, len(base))
    fatality = rng.uniform(*HOTSPOT_DEATH_RATIO, len(base))
    sentinel_pick = rng.integers(0, len(SENTINELS), len(base))
    uuids = rng.integers(0, 2**63, len(base), dtype=np.int64)
    step = 1.0 / traffic.rows_per_s
    sends: list[tuple] = []
    for i, row in enumerate(base):
        if len(sends) >= total:
            break
        t = len(sends) * step
        row[FIELD["uuid"]] = f"{uuids[i]:016x}"
        row[FIELD["timestamp"]] = _stamp_str(t)
        if u[i, 2] < traffic.hotspot_share:
            _make_hotspot(row, HOTSPOT_BRANCHES[branch[i]], surge[i], fatality[i])
        if u[i, 0] < traffic.sentinel_share:
            row[numeric_idx[which[i, 0]]] = SENTINELS[sentinel_pick[i]]
        if u[i, 1] < traffic.uncastable_share:
            row[numeric_idx[which[i, 1]]] = UNCASTABLE
        rec = tuple(row)
        line = _encode(rec)
        dup = u[i, 3] < traffic.dup_share
        bad = u[i, 4] < traffic.malformed_share
        sends.append((rec, line, t, not (dup or bad)))
        if dup:
            sends.append((rec, line, t, False))
        if bad:
            sends.append((None, line[: len(line) // 2], t, False))
    sends = sends[:total]

    # one-epoch-late delivery: out-of-order rows come from the last five
    # minutes of their epoch (so they stay above the next watermark), late
    # rows from more than fifteen minutes before its end (so they fall
    # below it); both arrive at the start of the next epoch.  The stated
    # shares are of all rows, so each is drawn from its eligible rows at
    # the rate that yields it.
    n = traffic.rows_per_epoch
    epoch_of = [j // n for j in range(len(sends))]
    move = rng.random(len(sends))
    for k in range(traffic.epochs - 1):
        end_t = sends[(k + 1) * n - 1][2]
        lone = [j for j in range(k * n, (k + 1) * n) if sends[j][3]]
        for share, pool in (
            (traffic.ooo_share, [j for j in lone if end_t - sends[j][2] <= 300]),
            (traffic.late_share, [j for j in lone if end_t - sends[j][2] > 900]),
        ):
            rate = share * n / len(pool) if pool else 0.0
            for j in pool:
                if move[j] < rate:
                    epoch_of[j] = k + 1

    lines: list[list[str]] = [[] for _ in range(traffic.epochs)]
    records: list[list[tuple | None]] = [[] for _ in range(traffic.epochs)]
    stamps: list[list[float]] = [[] for _ in range(traffic.epochs)]
    for j in sorted(range(len(sends)), key=lambda j: (epoch_of[j], j)):
        rec, line, t, _ = sends[j]
        lines[epoch_of[j]].append(line)
        records[epoch_of[j]].append(rec)
        stamps[epoch_of[j]].append(t)

    watermarks = []
    seen_max = -math.inf
    for k in range(traffic.epochs):
        watermarks.append(seen_max - traffic.watermark_s)
        seen_max = max(
            [seen_max] + [t for r, t in zip(records[k], stamps[k]) if r is not None]
        )
    return Replay(traffic, seed, lines, records, stamps, watermarks)


def write_epochs(replay: Replay, out_dir: str) -> list[str]:
    """Write one JSON-lines file per epoch; returns their paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, lines in enumerate(replay.lines):
        path = os.path.join(out_dir, f"epoch-{k:05d}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# Pure-Python twin of the pipeline's semantics, used by the output checks.
# ---------------------------------------------------------------------------


def _double(s: str) -> float | None:
    """sentinel -> 0.0, castable -> float, anything else -> None."""
    t = s.strip()
    if t in SENTINELS:
        return 0.0
    try:
        return float(t)
    except ValueError:
        return None


def _death_rate(rec: tuple) -> float | None:
    tc = _double(rec[FIELD["total_cases"]])
    td = _double(rec[FIELD["total_deaths"]])
    if tc is None or not tc > 0:
        return 0.0
    if td is None:
        return None
    return round(td / tc + 1e-9, 6)


def hotspot_branches(rec: tuple) -> dict[str, bool]:
    """Which of the detector's disjuncts hold for ``rec``."""
    nc = _double(rec[FIELD["new_cases"]])
    dr = _death_rate(rec)
    return {
        "new_cases": nc is not None and nc > 10000,
        "death_rate": dr is not None and dr > 0.05,
        "flag": rec[FIELD["is_hotspot"]] == "true",
    }


def is_hotspot(rec: tuple) -> bool:
    return any(hotspot_branches(rec).values())


def _prediction_rows(realtime: list[tuple]) -> int:
    """Rows ``predict_future_trends`` keeps: per location ordered by date,
    the 7-row trailing averages of new_cases and of the growth rate must
    both be non-NULL."""
    by_loc: dict = {}
    for rec in realtime:
        by_loc.setdefault(rec[FIELD["location"]], []).append(rec)
    kept = 0
    for recs in by_loc.values():
        recs.sort(key=lambda r: r[FIELD["date"]])
        new = [_double(r[FIELD["new_cases"]]) for r in recs]
        tot = [_double(r[FIELD["total_cases"]]) for r in recs]
        growth = [0.0]
        for prev, cur in zip(tot, tot[1:]):
            if prev is not None and prev > 0:
                growth.append(None if cur is None else (cur - prev) / prev)
            else:
                growth.append(0.0)
        for i in range(len(recs)):
            lo = max(0, i - 6)
            if any(x is not None for x in new[lo : i + 1]) and any(
                g is not None for g in growth[lo : i + 1]
            ):
                kept += 1
    return kept


def parity_counts(records: list[tuple | None], stamps: list[float]) -> dict[str, int]:
    """Rows each table of the per-batch fan-out (``process_batch``)
    receives from one batch of ``records``; in streaming mode the batch is
    what the watermarked dedup passed on.

    A malformed line parses to an all-NULL row: it adds one NULL-keyed
    realtime row, and no prediction (NULL new_cases), no window (NULL
    event time) and no hotspot (every disjunct NULL)."""
    good = [(r, t) for r, t in zip(records, stamps) if r is not None]
    realtime = {(r[FIELD["location"]], r[FIELD["date"]]): r for r, _ in good}
    windows = {(math.floor(t / WINDOW_S), r[FIELD["continent"]]) for r, t in good}
    hotspots = {
        (r[FIELD["location"]], r[FIELD["timestamp"]][:10]) for r, _ in good if is_hotspot(r)
    }
    return {
        "covid_realtime_stats": len(realtime) + int(len(good) < len(records)),
        "covid_predictions": _prediction_rows(list(realtime.values())),
        "continent_covid_stats": len(windows),
        "covid_hotspots": len(hotspots),
    }


def on_time_keys(replay: Replay, epochs: int) -> set[tuple[str, str]]:
    """Distinct (location, date) keys of well-formed rows at or above the
    watermark in force for their epoch, over the first ``epochs`` epochs:
    what the streaming-mode realtime table must hold."""
    keys = set()
    for k in range(epochs):
        wm = replay.watermarks[k]
        for r, t in zip(replay.records[k], replay.stamps[k]):
            if r is not None and t >= wm:
                keys.add((r[FIELD["location"]], r[FIELD["date"]]))
    return keys


def rollup_keys(replay: Replay, epochs: int) -> tuple[set, set]:
    """Distinct (window, continent) and (window, location) keys the two
    stateful rollups must emit over the first ``epochs`` epochs; a window
    is the index of its ``WINDOW_S`` slot since ``START_STAMP``.

    The rollups read the stream before the dedup.  A windowed aggregation
    drops a row as late when its window has ended at or before the
    watermark in force for its epoch; malformed lines have no event time
    and join no window."""
    continents, locations = set(), set()
    for k in range(epochs):
        wm = replay.watermarks[k]
        for r, t in zip(replay.records[k], replay.stamps[k]):
            w = math.floor(t / WINDOW_S)
            if r is not None and (w + 1) * WINDOW_S > wm:
                continents.add((w, r[FIELD["continent"]]))
                locations.add((w, r[FIELD["location"]]))
    return continents, locations


def measured_shares(replay: Replay) -> dict[str, float]:
    """The traffic properties as generated, as shares of all sent lines."""
    numeric = [FIELD[c] for c in NUMERIC_RAW_COLUMNS]
    n = dup = malformed = sentinel = uncastable = hot = ooo = late = 0
    branches = dict.fromkeys(HOTSPOT_BRANCHES, 0)
    seen: set = set()
    for k, epoch in enumerate(replay.records):
        wm = replay.watermarks[k]
        for r, t in zip(epoch, replay.stamps[k]):
            n += 1
            if r is None:
                malformed += 1
                continue
            dup += r[FIELD["uuid"]] in seen
            seen.add(r[FIELD["uuid"]])
            sentinel += any(r[i].strip() in SENTINELS for i in numeric)
            uncastable += any(_double(r[i]) is None for i in numeric)
            fired = hotspot_branches(r)
            hot += any(fired.values())
            for b, on in fired.items():
                branches[b] += on
            if t < wm:
                late += 1
            elif t < wm + replay.traffic.watermark_s:
                ooo += 1
    return {
        name: count / n
        for name, count in [
            ("dup", dup),
            ("malformed", malformed),
            ("sentinel", sentinel),
            ("uncastable", uncastable),
            ("hotspot", hot),
            ("ooo", ooo),
            ("late", late),
            *((f"hotspot.{b}", c) for b, c in branches.items()),
        ]
    }


def manifest(replay: Replay) -> dict:
    """Traffic dimensions and measured shares, recorded with every run."""
    return {
        "seed": replay.seed,
        "order": "csv: location-major, then date",
        "traffic": asdict(replay.traffic),
        "share_origin": "path-coverage choices, not measured traffic",
        "rows": sum(len(e) for e in replay.lines),
        "rows_per_epoch_actual": [len(e) for e in replay.lines],
        "shares": measured_shares(replay),
    }
