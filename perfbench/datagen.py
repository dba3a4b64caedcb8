"""Seeded input generator for the ``traffic_refresh`` workload.

``TrafficPages`` writes Socrata-shaped traffic pages (FIXTURES.md §1.1): 1000
all-string records per page, about 2% of them carrying one malformed or
missing value, as JSON lines the way a ``$limit=1000`` fetch lands on disk.
Page ``i`` is a pure function of the seed and ``i``.

The roster workloads read the sf0.01 test fixtures, copied unchanged into
``fixtures/``; they generate nothing.
"""

from __future__ import annotations

import json
import re

import numpy as np

BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island"]
DIRECTIONS = ["NB", "SB", "EB", "WB"]
PAGE_ROWS = 1000
MALFORMED_RATE = 0.02
# (raw column, malformed value) pairs; a malformed record carries exactly one
_MALFORMED = [
    ("vol", "n/a"), ("vol", ""), ("hh", "x7"), ("segmentid", "seg?"),
    ("boro", None), ("street", None), ("wktgeom", "POINT (bad)"),
    ("direction", None), ("yr", "20x1"),
]
_INT_RE = re.compile(r"-?\d+")


class TrafficPages:
    """Deterministic page stream: page ``i`` depends only on (seed, i)."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        rng = np.random.default_rng([seed, 1])
        self.streets = [f"STREET {k:03d}" for k in range(300)]
        weights = 1.0 / np.arange(1, 301) ** 1.1
        self.street_p = weights / weights.sum()
        self.segment_ids = rng.integers(10_000, 99_999, 500)

    def records(self, page: int) -> list[dict[str, str | None]]:
        rng = np.random.default_rng([self.seed, 2, page])
        n = PAGE_ROWS
        cols = {
            "requestid": np.full(n, str(20_000 + page % 200)),
            "boro": rng.choice(BOROUGHS, n),
            "yr": rng.integers(2021, 2025, n).astype(str),
            "m": rng.integers(1, 13, n).astype(str),
            "d": rng.integers(1, 29, n).astype(str),
            "hh": rng.integers(0, 24, n).astype(str),
            "mm": rng.choice(["0", "15", "30", "45"], n),
            "vol": np.minimum(rng.lognormal(3.5, 1.0, n).astype(int), 5000).astype(str),
            "segmentid": rng.choice(self.segment_ids, n).astype(str),
            "wktgeom": [
                f"POINT ({x:.4f} {y:.4f})"
                for x, y in zip(rng.uniform(913_000, 1_068_000, n), rng.uniform(120_000, 272_000, n))
            ],
            "street": rng.choice(self.streets, n, p=self.street_p),
            "fromst": rng.choice(self.streets, n, p=self.street_p),
            "tost": rng.choice(self.streets, n, p=self.street_p),
            "direction": rng.choice(DIRECTIONS, n),
        }
        out = [dict(zip(cols, row)) for row in zip(*(list(c) for c in cols.values()))]
        bad = np.flatnonzero(rng.random(n) < MALFORMED_RATE)
        for i, k in zip(bad, rng.integers(0, len(_MALFORMED), len(bad))):
            col, val = _MALFORMED[k]
            out[i][col] = val
        return out

    def write(self, page: int, path: str) -> int:
        """Write page ``page`` as JSON lines at ``path``; returns bytes."""
        data = "".join(json.dumps(r) + "\n" for r in self.records(page)).encode()
        with open(path, "wb") as f:
            f.write(data)
        return len(data)


def type_totals(records: list[dict[str, str | None]]) -> dict[str, int]:
    """Reference for the dashboard's ``q4_type_totals`` over raw records:
    volume per borough over the rows ingest keeps (volume, hour and segment
    parse as integers; borough and street present)."""
    totals: dict[str, int] = {}
    for r in records:
        ok = all(r[c] is not None and _INT_RE.fullmatch(r[c]) for c in ("vol", "hh", "segmentid"))
        if ok and r["boro"] is not None and r["street"] is not None:
            totals[r["boro"]] = totals.get(r["boro"], 0) + int(r["vol"])
    return totals
