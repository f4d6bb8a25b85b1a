"""Seeded tropical-cyclone season: the deck and ensemble files landed at
one 6-hourly cycle, and the generator's own model of what every job and
read must return.

The model is computed here in plain Python from the generator's storm
table; it never calls into ``tcdb_spark``.  Positions are kept as
integer tenths of a degree (the ATCF wire format), so decoded values are
exact.

The cycle is a catch-up: the deployment starts mid-season and lands the
cumulative b-deck of every storm so far.  Every seed has the same cast;
numbers, tracks, intensities, start times and the cycle vary:

- ``al``, ``ep``, ``wp``: named storms active at the cycle;
- ``invest``: an AL invest active at the cycle; the ensemble batch is
  generated around it and must be assigned to it;
- ``gone_al``, ``gone_ep``: named storms idle for 2-5 days -> Archive;
- ``dead``: an EP invest whose last fix is 32+ days old -> inserted, then
  deleted with its observations by maintenance;
- every b-deck ends with a truncated line, every a-deck has truncated
  lines and a non-allowlisted model (XTRP); all must be dropped;
- a-decks are cumulative; the 24 h freshness window keeps five cycles.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
from dataclasses import dataclass, field

CYCLE = dt.timedelta(hours=6)
FRESH_CYCLES = 4  # the a-deck job keeps inits up to 24 h before the cycle
ALLOWED_MODELS = ["OFCL", "AVNO", "HWRF"]
FILTERED_MODEL = "XTRP"  # in the model catalog, not in the a-deck allowlist
TAUS = list(range(0, 121, 12))
ENS_MODEL = "ECMWF"
ENS_MEAN = 9000
ENS_STEPS = 21
NAMES = ["ALEX", "BONNIE", "COLIN", "DANIELLE", "EARL", "FIONA", "GASTON",
         "HERMINE", "IAN", "JULIA", "KARL", "LISA", "MARTIN", "NICOLE"]


@dataclass
class Storm:
    key: str
    basin: str
    number: int
    name: str
    first: int            # first fix, in cycles relative to the landed cycle
    last: int             # last fix (inclusive)
    lat10: int
    lon10: int
    dlat10: int
    dlon10: int
    vmax0: int
    fixes: dict = field(default_factory=dict)  # cycle -> (lat10, lon10, vmax, mslp)

    def __post_init__(self):
        for k in range(self.first, self.last + 1):
            i = k - self.first
            vmax = min(140, self.vmax0 + 5 * i)
            self.fixes[k] = (self.lat10 + self.dlat10 * i, self.lon10 + self.dlon10 * i,
                             vmax, 1012 - vmax // 2)


def _ll(v10: int, pos: str, neg: str) -> str:
    return f"{abs(v10)}{pos if v10 >= 0 else neg}"


def bdeck_line(basin, number, when, fix, rad, name) -> str:
    lat10, lon10, vmax, mslp = fix
    radii = {34: "60, 40, 30, 50", 50: "30, 20, 10, 20", 64: "15, 10, 5, 10"}[rad]
    return (
        f"{basin}, {number:02d}, {when:%Y%m%d%H}, , BEST, 0, {_ll(lat10, 'N', 'S')}, "
        f"{_ll(lon10, 'E', 'W')}, {vmax}, {mslp}, TS, {rad}, NEQ, {radii}, 1010, 150, 30, "
        f"45, 0, L, 8, ab, 270, 8, {name}, D, 12, NEQ, 0, 0, 0, 0, ,"
    )


def adeck_line(basin, number, init, model, tau, pos, rad) -> str:
    lat10, lon10, vmax, mslp = pos
    return (
        f"{basin}, {number:02d}, {init:%Y%m%d%H}, 03, {model}, {tau}, "
        f"{_ll(lat10, 'N', 'S')}, {_ll(lon10, 'E', 'W')}, {vmax}, {mslp}, TS, {rad}, "
        f"NEQ, 50, 40, 30, 50, 1010"
    )


def forecast_pos(storm: Storm, init_k: int, model: str, tau: int):
    lat10, lon10, vmax, _ = storm.fixes[init_k]
    m = ALLOWED_MODELS.index(model) if model in ALLOWED_MODELS else 3
    steps = tau // 6
    v = max(20, vmax + (m - 1) * 2 + steps)
    return (lat10 + (storm.dlat10 + m) * steps, lon10 + (storm.dlon10 - m) * steps,
            v, 1012 - v // 2)


def values(fix) -> tuple[float, float, float, float]:
    """Decoded (lat, lon, vmax, mslp) of a fix or forecast position."""
    lat10, lon10, vmax, mslp = fix
    return lat10 / 10, lon10 / 10, float(vmax), float(mslp)


class Season:
    """One seeded season, landed at one cycle."""

    def __init__(self, seed: int, n_members: int = 24):
        self.seed, self.n_members = seed, n_members
        rnd = random.Random(seed)
        self.year = 2000 + seed % 20
        self.cycle = dt.datetime(self.year, 8, 20) + CYCLE * rnd.randrange(0, 40)
        names = rnd.sample(NAMES, 5)

        def storm(key, basin, number, name, first, last):
            west = basin != "WP"
            return Storm(
                key, basin, number, name, first, last,
                lat10=rnd.randrange(100, 200),
                lon10=-rnd.randrange(400, 1300) if west else rnd.randrange(1300, 1600),
                dlat10=rnd.randrange(1, 4),
                dlon10=-rnd.randrange(2, 6) if west else -rnd.randrange(1, 4),
                vmax0=rnd.randrange(25, 45),
            )

        self.storms = [
            storm("dead", "EP", 90 + rnd.randrange(0, 4), "INVEST",
                  -140 - rnd.randrange(0, 6), -128 - rnd.randrange(0, 4)),
            storm("gone_al", "AL", 1, names[0], -40 - rnd.randrange(0, 8), -8 - rnd.randrange(0, 12)),
            storm("gone_ep", "EP", 1, names[1], -36 - rnd.randrange(0, 8), -10 - rnd.randrange(0, 8)),
            storm("al", "AL", 2, names[2], -20 - rnd.randrange(0, 8), 0),
            storm("ep", "EP", 2, names[3], -10 - rnd.randrange(0, 6), 0),
            storm("wp", "WP", 10 + rnd.randrange(0, 10), names[4], -12 - rnd.randrange(0, 6), 0),
            storm("invest", "AL", 94 + rnd.randrange(0, 5), "INVEST", -6 - rnd.randrange(0, 6), 0),
        ]
        self.active = [s for s in self.storms if s.last == 0]

    def at(self, k: int) -> dt.datetime:
        return self.cycle + CYCLE * k

    def nhc_id(self, s: Storm) -> str:
        return f"{s.basin}{s.number:02d}{self.year}"

    # --- landing -----------------------------------------------------------

    def land(self, root: str) -> dict:
        """Write the cycle's files under ``root/{b,a,m}``; return tallies."""
        for sub in "bam":
            os.makedirs(os.path.join(root, sub), exist_ok=True)
        n_b = n_a = 0
        for s in self.storms:
            lines = [bdeck_line(s.basin, s.number, self.at(c), fix, rad, s.name)
                     for c, fix in sorted(s.fixes.items())
                     for rad in (34, 50, 64) if rad == 34 or fix[2] >= rad]
            lines.append(", ".join(lines[-1].split(", ")[:7]))  # truncated write
            n_b += _write(os.path.join(root, "b", f"b{s.basin.lower()}{s.number:02d}{self.year}.dat"), lines)
        for s in self.active:
            lines = []
            for c in sorted(s.fixes):
                for model in ALLOWED_MODELS + [FILTERED_MODEL]:
                    for tau in TAUS:
                        pos = forecast_pos(s, c, model, tau)
                        lines += [adeck_line(s.basin, s.number, self.at(c), model, tau, pos, rad)
                                  for rad in (34, 50) if rad == 34 or pos[2] >= 50]
                lines.append(f"{s.basin}, {s.number:02d}, {self.at(c):%Y%m%d%H}, 03, OFCL")
            n_a += _write(os.path.join(root, "a", f"a{s.basin.lower()}{s.number:02d}{self.year}.dat"), lines)

        from tcdb_spark.sources import mat5  # the repo's MAT 5 writer, an input-format tool

        tracks = [{"ens": e, "stormName": "", "annual_id": 0,
                   "hour": [float(6 * i) for i in range(ENS_STEPS)],
                   "lat": lat, "lon": lon, "wind": wind, "mslp": mslp}
                  for e, (lat, lon, wind, mslp) in self.members().items()]
        mat5.save_mat(os.path.join(root, "m", f"{ENS_MODEL}_{self.cycle:%Y%m%d%H}.mat"),
                      {"tracks": tracks})
        return {"bdeck_lines": n_b, "adeck_lines": n_a, "ensemble_rows": len(tracks) * ENS_STEPS}

    def members(self) -> dict[int, tuple[list, list, list, list]]:
        """Ensemble members around the active invest's fix: ragged
        lengths (NaN tails) and one all-NaN member, which is dropped."""
        (inv,) = [s for s in self.active if s.number >= 90]
        lat10, lon10, vmax, _ = inv.fixes[0]
        rnd = random.Random(self.seed * 1000 + 1)
        out = {}
        for e in range(self.n_members):
            n = rnd.randrange(8, ENS_STEPS + 1)
            dlat, dlon = rnd.uniform(0.1, 0.5), -rnd.uniform(0.2, 0.7)
            lat0, lon0 = lat10 / 10 + rnd.uniform(-0.8, 0.8), lon10 / 10 + rnd.uniform(-0.8, 0.8)
            steps = [(round(lat0 + dlat * i, 4), round(lon0 + dlon * i, 4),
                      float(vmax + i), float(1010 - i)) if i < n else (math.nan,) * 4
                     for i in range(ENS_STEPS)]
            out[e] = tuple(list(col) for col in zip(*steps))
        out[self.n_members] = tuple([math.nan] * ENS_STEPS for _ in range(4))
        return out

    def ensemble_mean(self) -> dict[int, tuple[float, float, float, float]]:
        """hour -> (lat, lon, wind, mslp) mean over the members present."""
        per_hour: dict[int, list] = {}
        for m in self.members().values():
            for i in range(ENS_STEPS):
                if not math.isnan(m[0][i]):
                    per_hour.setdefault(6 * i, []).append([col[i] for col in m])
        return {h: tuple(sum(r[j] for r in rows) / len(rows) for j in range(4))
                for h, rows in per_hour.items()}

    # --- the model -------------------------------------------------------

    def model(self) -> dict:
        """Counts every job must return, and the rows of every storm read."""
        fresh = {s.key: [c for c in sorted(s.fixes) if c >= -FRESH_CYCLES] for s in self.active}
        tracks = sum(len(inits) for inits in fresh.values()) * len(ALLOWED_MODELS)
        forecasts = len({(s.basin, c) for s in self.active for c in fresh[s.key]}) * len(ALLOWED_MODELS)
        members = [m for m in self.members().values() if not math.isnan(m[0][0])]
        syn_steps = sum(sum(not math.isnan(v) for v in m[0]) for m in members)
        return {
            "bdeck": {"storms": len(self.storms),
                      "observations": sum(len(s.fixes) for s in self.storms)},
            "adeck": {"forecasts": forecasts, "tracks": tracks, "steps": tracks * len(TAUS)},
            "syntrack": {"tracks": tracks + len(members) + 1,
                         "steps": tracks * len(TAUS) + syn_steps + len(self.ensemble_mean())},
            # a storm landed Active is idle <= 16 h, so the 24 h sweep of
            # the same cycle archives none; invests idle > 30 days go
            "maintain": {"archived": 0, "removed_storms": sum(
                s.number >= 90 and -s.last * 6 > 30 * 24 for s in self.storms)},
            "observations": {s.key: [(self.at(c), *values(f)) for c, f in sorted(s.fixes.items())]
                             for s in self.active},
            "tracks": {s.key: sorted((model, self.at(c), tau, *values(forecast_pos(s, c, model, tau)))
                                     for c in fresh[s.key] for model in ALLOWED_MODELS for tau in TAUS)
                       for s in self.active},
        }


def _write(path: str, lines: list[str]) -> int:
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return len(lines)
