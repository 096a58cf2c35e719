"""Seeded NeoWs feed generator and the Python model of the gold tables.

One :class:`NeowsGenerator` produces consecutive daily feed documents in
the shape of the NASA NeoWs ``/feed`` response: each day lists its NEOs
under ``near_earth_objects[<date>]``.  The mix follows the real feed:

* a share of the day's NEOs (``REPEAT_SHARE``) were seen on earlier days,
  with a slightly revised magnitude, so the gold merge has to replace
  their ``dim_asteroid`` row;
* a share (``TWO_SHARE``) has two close approaches on the same day;
* string leaves sometimes carry the ``"NULL"`` / ``""`` placeholders
  that silver normalises to null;
* approaches are spread over several orbiting bodies, and an occasional
  ``"NULL"`` body is dropped from ``dim_orbiting_body``;
* :func:`day_sequence` crosses a year boundary, so the ISO-week column of
  ``dim_approach_date`` sees the edge.

The same seed gives the same documents, byte for byte (:func:`doc_bytes`).
:class:`GoldModel` folds each generated day with the gold layer's rules
(incoming rows win per key, null bodies are not dimension members) so a
run can be checked against it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random

BODIES = ("Earth", "Earth", "Earth", "Earth", "Moon", "Mars", "Venus", "Merc", "Juptr")
PLACEHOLDERS = ("NULL", "")
JPL_URL = "https://ssd.jpl.nasa.gov/tools/sbdb_lookup.html#/?sstr="
FIRST_ID = 2_000_001
REPEAT_SHARE = 0.4
TWO_SHARE = 0.15
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def day_sequence(start: str, n: int) -> list[str]:
    """``n`` consecutive ISO dates from ``start``."""
    d0 = dt.date.fromisoformat(start)
    return [(d0 + dt.timedelta(days=i)).isoformat() for i in range(n)]


def doc_bytes(document: dict) -> bytes:
    """The bytes the bronze stage lands for ``document`` (``json.dump``)."""
    return json.dumps(document).encode()


def _null_if_placeholder(value):
    if isinstance(value, str) and value.strip() in ("NULL", "Null", "null", ""):
        return None
    return value


def sk(value) -> str:
    """The gold layer's surrogate key of one natural-key value."""
    return hashlib.sha256(("" if value is None else str(value)).encode()).hexdigest()


class NeowsGenerator:
    """Deterministic day-by-day NeoWs documents (one generator per lake)."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seen: list[int] = []
        self.base_mag: dict[int, float] = {}
        self.next_id = FIRST_ID

    def _new_id(self) -> int:
        neo_id = self.next_id
        self.next_id += 1
        self.base_mag[neo_id] = round(self.rng.uniform(17.0, 29.0), 2)
        return neo_id

    def _approach(self, date: str, minute: int, body: str) -> dict:
        rng = self.rng
        d = dt.date.fromisoformat(date)
        hh, mm = divmod(minute, 60)
        ts = dt.datetime(d.year, d.month, d.day, hh, mm, tzinfo=dt.timezone.utc)
        km_s = rng.uniform(1.0, 40.0)
        au = rng.uniform(0.0005, 0.5)
        return {
            "close_approach_date": date,
            "close_approach_date_full": f"{d.year}-{_MONTHS[d.month - 1]}-{d.day:02d} {hh:02d}:{mm:02d}",
            "epoch_date_close_approach": int(ts.timestamp()) * 1000,
            "relative_velocity": {
                "kilometers_per_second": f"{km_s:.10f}",
                "kilometers_per_hour": f"{km_s * 3600:.6f}",
                "miles_per_hour": f"{km_s * 2236.9362920544:.6f}",
            },
            "miss_distance": {
                "astronomical": f"{au:.10f}",
                "lunar": f"{au * 389.1727:.9f}",
                "kilometers": f"{au * 149597870.7:.6f}",
                "miles": f"{au * 92955807.3:.6f}",
            },
            "orbiting_body": body,
        }

    def _neo(self, neo_id: int, date: str, n_approaches: int) -> dict:
        rng = self.rng
        mag = round(self.base_mag[neo_id] + rng.uniform(-0.05, 0.05), 3)
        # H-magnitude to diameter at albedo 0.25 (min) and 0.05 (max)
        km_min = 1329.0 / 0.5 * 10 ** (-mag / 5)
        km_max = 1329.0 / 0.05 ** 0.5 * 10 ** (-mag / 5)
        name = f"({2000 + neo_id % 25} {chr(65 + neo_id % 26)}{chr(65 + neo_id // 26 % 26)}{neo_id % 100})"
        url = f"{JPL_URL}{neo_id}"
        roll = rng.random()
        if roll < 0.03:
            name = rng.choice(PLACEHOLDERS)
        elif roll < 0.06:
            url = rng.choice(PLACEHOLDERS)
        minutes = rng.sample(range(1440), n_approaches)
        bodies = [
            "NULL" if rng.random() < 0.01 else rng.choice(BODIES) for _ in minutes
        ]
        return {
            "id": str(neo_id),
            "neo_reference_id": str(neo_id),
            "name": name,
            "absolute_magnitude_h": mag,
            "is_potentially_hazardous_asteroid": mag < 22.0 and rng.random() < 0.5,
            "is_sentry_object": rng.random() < 0.02,
            "nasa_jpl_url": url,
            "links": {"self": f"http://api.nasa.gov/neo/rest/v1/neo/{neo_id}"},
            "estimated_diameter": {
                "kilometers": {"estimated_diameter_min": km_min, "estimated_diameter_max": km_max},
                "meters": {"estimated_diameter_min": km_min * 1000, "estimated_diameter_max": km_max * 1000},
                "miles": {"estimated_diameter_min": km_min * 0.621371, "estimated_diameter_max": km_max * 0.621371},
                "feet": {"estimated_diameter_min": km_min * 3280.84, "estimated_diameter_max": km_max * 3280.84},
            },
            "close_approach_data": [
                self._approach(date, m, b) for m, b in zip(sorted(minutes), bodies)
            ],
        }

    def day(self, date: str, n_neos: int) -> dict:
        """One day's feed document with ``n_neos`` NEOs."""
        rng = self.rng
        n_repeat = min(len(self.seen), round(n_neos * REPEAT_SHARE))
        ids = rng.sample(self.seen, n_repeat) if n_repeat else []
        ids += [self._new_id() for _ in range(n_neos - n_repeat)]
        self.seen.extend(ids[n_repeat:])
        neos = [
            self._neo(i, date, 2 if rng.random() < TWO_SHARE else 1)
            for i in ids
        ]
        return {
            "element_count": len(neos),
            "near_earth_objects": {date: neos},
        }


class GoldModel:
    """Expected gold content after folding a sequence of daily documents."""

    def __init__(self):
        self.asteroids: dict[int, dict] = {}
        self.facts: dict[tuple[int, str], dict] = {}
        self.dates: set[str] = set()
        self.bodies: set[str] = set()

    def apply(self, document: dict) -> None:
        for neos in document["near_earth_objects"].values():
            for neo in neos:
                neo_id = int(neo["id"])
                # each day's batch wins over what gold already holds, and
                # days come in date order, so this is the latest approach
                self.asteroids[neo_id] = {
                    "name": _null_if_placeholder(neo["name"]),
                    "nasa_jpl_url": _null_if_placeholder(neo["nasa_jpl_url"]),
                    "absolute_magnitude_h": neo["absolute_magnitude_h"],
                }
                for a in neo["close_approach_data"]:
                    full = a["close_approach_date_full"]
                    body = _null_if_placeholder(a["orbiting_body"])
                    self.facts[(neo_id, full)] = {
                        "approach_epoch": a["epoch_date_close_approach"],
                        "velocity_km_s": float(a["relative_velocity"]["kilometers_per_second"]),
                        "sk_orbiting_body": sk(body),
                    }
                    self.dates.add(full)
                    if body is not None:
                        self.bodies.add(body)

    def counts(self) -> dict[str, int]:
        return {
            "dim_asteroid": len(self.asteroids),
            "dim_approach_date": len(self.dates),
            "dim_orbiting_body": len(self.bodies),
            "fact_asteroid_approach": len(self.facts),
        }
