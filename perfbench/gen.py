"""Seeded USGS-style GeoJSON shard generator with a ground-truth manifest.

The program under test sees only the FeatureCollection files. The
manifest (returned in memory and written beside the shards) records,
per shard, the event ids it holds and which of them are injected
duplicates of rows in earlier shards.

Distributions:

- magnitudes follow Gutenberg-Richter (b = 1) above a completeness
  magnitude of 2.5, at two decimals;
- epicentres cluster around seeded centres inside the 11 boxed
  ``refdata.TECTONIC_REGIONS``; a share falls anywhere on the globe
  (mostly the OTHER region);
- depths mix SHALLOW (< 70 km), INTERMEDIATE (70-300 km) and DEEP
  (>= 300 km) classes, with a few > 700 km values that the silver clamp
  must fix. No depth is 0: there log10(depth + 1) is exact and the
  Mercalli intensity can sit on a .x5 rounding tie, which Spark and
  DuckDB break differently;
- about 1% of events have a null magnitude or a null depth.

Event times are unique to the millisecond, so every ORDER BY event_time
LIMIT query has exactly one right answer.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np

# (code, name, min_lon, max_lon, min_lat, max_lat) of refdata.TECTONIC_REGIONS,
# repeated so the generator does not import the program under test
REGION_BOXES = [
    ("CALIFORNIA", "California", -125.0, -114.0, 32.0, 42.0),
    ("ALASKA", "Alaska", -180.0, -130.0, 50.0, 72.0),
    ("JAPAN", "Japan", 128.0, 148.0, 30.0, 46.0),
    ("INDONESIA", "Indonesia", 95.0, 140.0, -11.0, 6.0),
    ("CHILE", "Chile", -76.0, -66.0, -56.0, -17.0),
    ("PHILIPPINES", "Philippines", 116.0, 128.0, 5.0, 20.0),
    ("MEXICO", "Mexico", -118.0, -86.0, 14.0, 33.0),
    ("MEDITERRANEAN", "Mediterranean", -10.0, 40.0, 30.0, 46.0),
    ("HIMALAYA", "Himalaya", 70.0, 100.0, 25.0, 40.0),
    ("CARIBBEAN", "Caribbean", -90.0, -60.0, 10.0, 25.0),
    ("NEW_ZEALAND", "New Zealand", 165.0, 180.0, -50.0, -34.0),
]
# share of events per boxed region; the remainder is global scatter
REGION_WEIGHTS = [0.18, 0.14, 0.09, 0.08, 0.06, 0.05, 0.05, 0.06, 0.04, 0.05, 0.05]

NETS = ["us", "ci", "ak", "nc", "hv", "nn", "uw", "pr"]
MAG_TYPES = ["ml", "md", "mb", "mww"]
COMPASS = ["N", "NNE", "NE", "E", "SE", "S", "SW", "W", "NW"]
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
START = datetime(2025, 1, 1, tzinfo=timezone.utc)  # first day of history
HISTORY_DAYS = 365
DUP_RATE = 0.02  # share of a shard's rows that repeat rows of the shard before


@dataclass
class Shard:
    path: str
    batch_clock: datetime  # when the shard "lands": the DAG run's clock
    events: list[str] = field(default_factory=list)
    duplicates: list[str] = field(default_factory=list)
    n_bytes: int = 0


@dataclass
class Manifest:
    history: list[Shard]
    # per-shard row list [(event_id, time_ms)], in shard order
    rows: dict[str, list[tuple[str, int]]]

    def to_json(self) -> dict:
        def sh(s: Shard) -> dict:
            return {
                "path": os.path.basename(s.path),
                "batch_clock": s.batch_clock.isoformat(),
                "events": s.events,
                "duplicates": s.duplicates,
                "bytes": s.n_bytes,
            }

        return {"history": [sh(s) for s in self.history]}


class _Catalog:
    """Draws event attributes from the seeded distributions."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.next_seq = int(rng.integers(10_000_000, 20_000_000))
        # three cluster centres per boxed region, inset from the box edges
        self.centres = []
        for _c, _n, x0, x1, y0, y1 in REGION_BOXES:
            cx = rng.uniform(x0 + 0.2 * (x1 - x0), x1 - 0.2 * (x1 - x0), 3)
            cy = rng.uniform(y0 + 0.2 * (y1 - y0), y1 - 0.2 * (y1 - y0), 3)
            self.centres.append(list(zip(cx, cy)))

    def event(self, t_ms: int) -> dict:
        rng = self.rng
        self.next_seq += int(rng.integers(1, 40))
        net = NETS[int(rng.integers(len(NETS)))]
        eid = f"{net}{self.next_seq:08d}"
        r = rng.random()
        k = int(np.searchsorted(np.cumsum(REGION_WEIGHTS), r, side="right"))
        if k < len(REGION_BOXES):
            _c, name, x0, x1, y0, y1 = REGION_BOXES[k]
            cx, cy = self.centres[k][int(rng.integers(3))]
            lon = float(np.clip(rng.normal(cx, 0.08 * (x1 - x0)), x0, x1))
            lat = float(np.clip(rng.normal(cy, 0.08 * (y1 - y0)), y0, y1))
        else:
            name = "the open ocean"
            lon = float(rng.uniform(-180.0, 180.0))
            lat = float(np.degrees(np.arcsin(rng.uniform(-1.0, 1.0))))
        mag = round(2.5 + float(rng.exponential(1.0 / np.log(10.0))), 2)
        mag = min(mag, 9.4)
        d = rng.random()
        if d < 0.72:
            depth = min(0.5 + float(rng.exponential(14.0)), 69.0)
        elif d < 0.92:
            depth = float(rng.uniform(70.0, 300.0))
        else:
            depth = float(rng.uniform(300.0, 700.0))
            if rng.random() < 0.01:
                depth = float(rng.uniform(700.0, 720.0))  # clamp target
        depth = round(depth, 2)
        nulls = rng.random()
        mag_v = None if nulls < 0.005 else mag
        depth_v = None if 0.005 <= nulls < 0.01 else depth
        return {
            "type": "Feature",
            "properties": {
                "mag": mag_v,
                "place": f"{int(rng.integers(1, 120))} km "
                         f"{COMPASS[int(rng.integers(len(COMPASS)))]} of {name}",
                "time": int(t_ms),
                "updated": int(t_ms) + int(rng.integers(60_000, 86_400_000)),
                "status": "automatic" if rng.random() < 0.3 else "reviewed",
                "tsunami": 0,
                "net": net,
                "magType": MAG_TYPES[int(rng.integers(len(MAG_TYPES)))],
                "type": "earthquake" if rng.random() < 0.97 else "quarry blast",
                "nst": int(rng.integers(4, 120)),
                "gap": round(float(rng.uniform(15.0, 300.0)), 1),
                "dmin": round(float(rng.exponential(0.8)), 4),
                "rms": round(float(rng.uniform(0.05, 1.4)), 2),
                "horizontalError": round(float(rng.uniform(0.1, 12.0)), 2),
                "depthError": round(float(rng.uniform(0.1, 8.0)), 3),
                "magError": round(float(rng.uniform(0.01, 0.3)), 3),
            },
            "geometry": {
                "type": "Point",
                "coordinates": [round(lon, 4), round(lat, 4), depth_v],
            },
            "id": eid,
        }


def _unique_times(rng: np.random.Generator, n: int, lo_ms: int, hi_ms: int) -> np.ndarray:
    t = np.sort(rng.integers(lo_ms, hi_ms, n))
    # strictly increasing: bump ties forward one millisecond at a time
    for i in range(1, n):
        if t[i] <= t[i - 1]:
            t[i] = t[i - 1] + 1
    return t


def _ms(dt: datetime) -> int:
    return int((dt - EPOCH).total_seconds() * 1000)


def _write(path: str, feats: list[dict]) -> int:
    body = json.dumps({"type": "FeatureCollection",
                       "metadata": {"generated": 0, "count": len(feats)},
                       "features": feats}, separators=(",", ":"))
    with open(path, "w") as fh:
        fh.write(body)
    return len(body.encode())


def generate(out_dir: str, seed: int, *, history_events: int, history_shards: int) -> Manifest:
    """Write ``history_shards`` files covering ``HISTORY_DAYS`` days of
    history under ``out_dir/history/``, all drawn from ``seed``. Each
    shard after the first also repeats ``DUP_RATE`` of the previous
    shard's rows exactly, as overlapping USGS feed pulls do."""
    rng = np.random.default_rng(seed)
    cat = _Catalog(rng)
    hist_dir = os.path.join(out_dir, "history")
    os.makedirs(hist_dir, exist_ok=True)

    t0 = _ms(START)
    day = START + timedelta(days=HISTORY_DAYS)
    times = _unique_times(rng, history_events, t0, _ms(day))
    feats = [cat.event(t) for t in times]
    rows: dict[str, list[tuple[str, int]]] = {}

    history: list[Shard] = []
    history_clock = day + timedelta(hours=1)
    bounds = np.linspace(0, history_events, history_shards + 1).astype(int)
    prev: list[dict] = []
    for i in range(history_shards):
        own = feats[bounds[i]:bounds[i + 1]]
        n_dup = int(round(DUP_RATE * len(prev)))
        dups = [prev[j] for j in sorted(rng.choice(len(prev), n_dup, replace=False))] if n_dup else []
        shard = Shard(os.path.join(hist_dir, f"month_{i:02d}.geojson"), history_clock)
        shard.events = [f["id"] for f in own]
        shard.duplicates = [f["id"] for f in dups]
        body = own + dups
        shard.n_bytes = _write(shard.path, body)
        rows[shard.path] = [(f["id"], f["properties"]["time"]) for f in body]
        history.append(shard)
        prev = own

    m = Manifest(history, rows)
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(m.to_json(), fh)
    return m


def expected_silver(m: Manifest) -> set[str]:
    """The silver id set the reference semantics give: the backfill lands
    in one batch before any watermark exists, so silver's ``time >
    watermark`` filter passes every deduplicated bronze row, and silver
    holds each distinct event id once."""
    return {eid for s in m.history for eid, _t in m.rows[s.path]}
