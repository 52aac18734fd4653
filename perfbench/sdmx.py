"""Seeded SDMX exchange-rate message stream and its pure-Python model.

The table follows the FIXTURES.md §A schema (``store.sdmx.exr_schema``)
keyed by ``store.sdmx.with_key``: monthly observations for a few hundred
synthetic currency series. :class:`Stream` generates the initial load and
then a stream of receiver messages — revision and new-period merges,
series attribute updates, series deletes and time-window replacements —
and applies each one to :class:`Model`, a ``{KEY: row}`` map, so every
table version has an expected content computed without Spark.

:func:`snapshot_digest` hashes rows order-insensitively (a sum of 64-bit
row digests), so a Spark snapshot and a model version compare in O(rows)
in Python.
"""

from __future__ import annotations

import hashlib
import random
import string

FREQ, DENOM, EXR_TYPE, SUFFIX = "M", "EUR", "SP00", "A"
# exr_schema() column order; the table adds KEY after these
COLUMNS = [
    "FREQ", "CURRENCY", "CURRENCY_DENOM", "EXR_TYPE", "EXR_SUFFIX", "TIME_PERIOD",
    "OBS_VALUE", "OBS_STATUS", "COLLECTION", "DECIMALS", "TITLE", "UNIT", "UNIT_MULT",
]

# The stream opens with one message of every kind, the run's unmeasured
# warm-up; every message after it is a revision, the kind that dominates a
# real receiver's traffic. The measured cycles are then alike, so their
# medians do not hang on how many cycles a run gets through.
WARMUP = ["update", "new_period", "delete", "replace", "revise"]
REVISION_ROWS = 35


def key_of(row: tuple) -> str:
    return ":".join(row[:6])


def row_digest(key: str, row: tuple) -> int:
    canon = repr((key,) + tuple(row)).encode()
    return int.from_bytes(hashlib.blake2b(canon, digest_size=8).digest(), "little")


def snapshot_digest(rows) -> tuple[int, int]:
    """(order-insensitive digest, row count) of ``(KEY, *COLUMNS)`` rows."""
    total = n = 0
    for r in rows:
        total = (total + row_digest(r[0], tuple(r[1:]))) % (1 << 64)
        n += 1
    return total, n


def canonical(key, *cols) -> tuple:
    """One table row as plain Python values, whatever Spark or pandas
    handed back (numpy scalars, etc.)."""
    vals = list(cols)
    vals[6] = float(vals[6])  # OBS_VALUE
    vals[9] = int(vals[9])  # DECIMALS
    return (str(key),) + tuple(str(v) if i not in (6, 9) else v for i, v in enumerate(vals))


class Model:
    """The reference receiver: current ``{KEY: row}`` plus the digest and
    row count of every committed version."""

    def __init__(self):
        self.rows: dict[str, tuple] = {}
        self.by_series: dict[str, set[str]] = {}
        self.digest = 0
        self.versions: list[tuple[int, int]] = []

    def _put(self, row: tuple) -> None:
        key = key_of(row)
        old = self.rows.get(key)
        if old is not None:
            self.digest = (self.digest - row_digest(key, old)) % (1 << 64)
        self.rows[key] = row
        self.by_series.setdefault(row[1], set()).add(key)
        self.digest = (self.digest + row_digest(key, row)) % (1 << 64)

    def _drop(self, key: str) -> None:
        old = self.rows.pop(key)
        self.by_series[old[1]].discard(key)
        self.digest = (self.digest - row_digest(key, old)) % (1 << 64)

    def commit(self) -> int:
        self.versions.append((self.digest, len(self.rows)))
        return len(self.versions) - 1

    def apply(self, msg: dict) -> int:
        kind = msg["kind"]
        if kind in ("write", "merge"):
            for r in msg["rows"]:
                self._put(r)
        elif kind == "update":
            for key in list(self.by_series.get(msg["currency"], ())):
                r = list(self.rows[key])
                r[9] += 1
                self._put(tuple(r))
        elif kind == "delete":
            for key in list(self.by_series.get(msg["currency"], ())):
                self._drop(key)
        elif kind == "replace":
            lo, hi = msg["window"]
            for key in [k for k, r in self.rows.items() if lo <= r[5] <= hi]:
                self._drop(key)
            for r in msg["rows"]:
                self._put(r)
        else:
            raise ValueError(kind)
        return self.commit()

    def live_series(self) -> list[str]:
        return sorted(c for c, keys in self.by_series.items() if keys)


def period(month_index: int, start_year: int) -> str:
    """``YYYY-MM`` of the ``month_index``-th month from January of ``start_year``."""
    return f"{start_year + month_index // 12:04d}-{month_index % 12 + 1:02d}"


class Stream:
    """Deterministic message stream for one seed. ``initial()`` is the
    version-0 load; each ``next()`` returns the following message, already
    applied to ``self.model``."""

    def __init__(self, seed: int, series: int = 200, years: int = 25, start_year: int = 2000):
        self.rng = random.Random(seed)
        self.start_year = start_year
        self.months = years * 12
        codes: set[str] = set()
        while len(codes) < series:
            codes.add("".join(self.rng.choice(string.ascii_uppercase) for _ in range(3)))
        self.currencies = sorted(codes)
        self.level = {c: self.rng.uniform(0.5, 150.0) for c in self.currencies}
        self.model = Model()
        self.step = 0

    def _row(self, cur: str, month: int, value: float, status: str = "A", decimals: int = 4):
        return (
            FREQ, cur, DENOM, EXR_TYPE, SUFFIX, period(month, self.start_year),
            round(value, 4), status, "A", decimals, f"{cur}/Euro", cur, "0",
        )

    def _decimals(self, cur: str) -> int:
        keys = self.model.by_series.get(cur)
        return self.model.rows[next(iter(keys))][9] if keys else 4

    def initial(self) -> dict:
        rows = []
        for cur in self.currencies:
            v = self.level[cur]
            for m in range(self.months):
                v *= 1.0 + self.rng.gauss(0.0, 0.01)
                rows.append(self._row(cur, m, v))
        msg = {"kind": "write", "rows": rows}
        self.model.apply(msg)
        return msg

    def next(self) -> dict:
        kind = WARMUP[self.step] if self.step < len(WARMUP) else "revise"
        self.step += 1
        live = self.model.live_series()
        rng = self.rng
        if kind == "revise":
            # recent periods are revised far more often than old ones
            rows, seen = [], set()
            while len(rows) < REVISION_ROWS:
                cur = rng.choice(live)
                month = self.months - 1 - min(self.months - 1, int(rng.expovariate(1 / 6.0)))
                if (cur, month) in seen:
                    continue
                seen.add((cur, month))
                key = key_of(self._row(cur, month, 0.0))
                old = self.model.rows[key]
                rows.append(
                    self._row(cur, month, old[6] * (1.0 + rng.gauss(0.0, 0.002)), "A", old[9])
                )
            msg = {"kind": "merge", "rows": rows}
        elif kind == "new_period":
            month = self.months
            self.months += 1
            rows = []
            for cur in live:
                prev = self.model.rows[key_of(self._row(cur, month - 1, 0.0))]
                rows.append(
                    self._row(cur, month, prev[6] * (1.0 + rng.gauss(0.0, 0.01)), "F", prev[9])
                )
            msg = {"kind": "merge", "rows": rows}
        elif kind == "update":
            msg = {"kind": "update", "currency": rng.choice(live)}
        elif kind == "delete":
            msg = {"kind": "delete", "currency": rng.choice(live)}
        else:
            # replace one year in full, older than the last three that the
            # revisions rewrite, so the revisions meet the same file layout
            # whichever year the seed picks
            year = self.start_year + rng.randrange(0, max(1, self.months // 12 - 3))
            lo, hi = f"{year:04d}-01", f"{year:04d}-12"
            rows = []
            for cur in live:
                dec = self._decimals(cur)
                for m in range((year - self.start_year) * 12, (year - self.start_year) * 12 + 12):
                    old = self.model.rows.get(key_of(self._row(cur, m, 0.0)))
                    if old is not None:
                        rows.append(self._row(cur, m, old[6] * (1.0 + rng.gauss(0.0, 0.002)), "A", dec))
            msg = {"kind": "replace", "window": (lo, hi), "rows": rows}
        self.model.apply(msg)
        return msg


def wire_bytes(msg: dict) -> int:
    """Size of a message as the CSV an SDMX sender would ship."""
    if msg["kind"] in ("update", "delete"):
        return len(f"{msg['kind']},{msg['currency']}\n")
    return sum(len(",".join(map(str, r))) + 1 for r in msg["rows"])
