"""Spark-free logic of the benchmark: summary statistics, result
digests, the seeded EP1 quotes generator with its independent
newest-wins model, and the timed-operation helper.

Kept free of pyspark imports so ``test_perfbench.py`` runs without a JVM.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import random
import time
from dataclasses import dataclass, field
from decimal import Decimal

# ---------------------------------------------------------------- statistics


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` in 0..100) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float], beyond: int = 10) -> dict:
    """The highest integer percentile that leaves at least ``beyond``
    samples above it, with the percentile and the sample count.

    With ``n`` samples the nearest-rank value at rank ``n - beyond`` is
    the last one with ``beyond`` samples strictly after it; the
    percentile reported is the largest integer ``p`` whose rank does not
    pass it. Fewer than ``beyond + 1`` samples have no tail.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"a tail needs more than {beyond} samples, got {n}")
    pct = math.floor(100.0 * (n - beyond) / n)
    return {"value": percentile(values, pct), "pct": pct, "n": n}


def median(values: list[float]) -> float:
    xs = sorted(values)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


# ------------------------------------------------------------------ digests


def canon_value(v):
    """One result cell in a stable text form.

    Mirrors ``tests/oracle_harness._canon`` (NaN → NULL, -0.0 → 0.0,
    bool → int) and additionally prints integral numbers of every
    numeric type alike, so a DuckDB ``HUGEINT``/``DECIMAL`` and a Spark
    ``long``/``decimal`` that compare equal there also digest equal here.
    """
    if v is None:
        return "N"
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "N"
        if v == int(v) and abs(v) < 2**63:
            return str(int(v))
        return repr(v)
    if isinstance(v, Decimal):
        if v.is_nan():
            return "N"
        if v == v.to_integral_value():
            return str(int(v))
        return str(v.normalize())
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return repr(v)


def canon_rows(columns: list[str], records) -> tuple[list[str], list[tuple[str, ...]]]:
    """Column-name-sorted, cell-canonicalized, row-sorted result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rows = sorted(tuple(canon_value(r[i]) for i in order) for r in records)
    return [columns[i] for i in order], rows


def digest(columns: list[str], records) -> str:
    cols, rows = canon_rows(columns, records)
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(b"\n")
        h.update(json.dumps(r).encode())
    return h.hexdigest()


# --------------------------------------------------- EP1 quotes generator

BASES = ("USD", "EUR", "GBP", "JPY", "CHF")
CODE_POOL_SIZE = 3000
QUOTES_PER_RUN = 2000
MALFORMED_SHARE = 0.01
REPLAY_SHARE = 0.1
# Values the transform must coerce to NULL and drop (try_cast → NULL).
MALFORMED = (None, "n/a", "abc", "1.2.3", "--", "1,25")
EPOCH = dt.datetime(2024, 3, 1, 0, 0, 0)


def code_pool() -> list[str]:
    """A fixed pool of 3-letter target codes, the same for every seed."""
    rng = random.Random("perfbench-code-pool")
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    pool: set[str] = set()
    while len(pool) < CODE_POOL_SIZE:
        pool.add("".join(rng.choice(letters) for _ in range(3)))
    return sorted(pool)


@dataclass
class EtlRun:
    """One DAG run's input: the API payload plus its fetch time."""

    index: int
    base: str
    fetched_at: str
    payload: dict
    valid: dict[str, float]  # target code -> rate, malformed quotes excluded
    probe_code: str  # the target the run's summary reads look up

    def payload_bytes(self) -> int:
        return len(json.dumps(self.payload).encode())


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def iter_runs(seed: int | str):
    """Endless seeded DAG-run payloads.

    Bases take turns in a seeded order, so each appears equally often
    and the snapshot's key count does not hinge on the seed. Run ``i``
    fetches at ``EPOCH + i`` hours (plus a seeded minute);
    a ``REPLAY_SHARE`` of runs re-deliver an older ``fetched_at``
    (2-30 hours back), which the strict-``>`` upsert must not let
    overwrite newer rows.
    """
    rng = random.Random(f"perfbench-etl-{seed}")
    pool = code_pool()
    bases = rng.sample(BASES, len(BASES))
    i = 0
    while True:
        base = bases[i % len(bases)]
        codes = rng.sample(pool, QUOTES_PER_RUN + rng.randint(-100, 100))
        quotes: dict[str, str | None] = {}
        valid: dict[str, float] = {}
        for code in codes:
            if rng.random() < MALFORMED_SHARE:
                quotes[base + code] = rng.choice(MALFORMED)
            else:
                text = f"{rng.uniform(0.01, 500.0):.6f}"
                quotes[base + code] = text
                valid[code] = float(text)
        hours = i - rng.randint(2, 30) if i >= 2 and rng.random() < REPLAY_SHARE else i
        fetched = EPOCH + dt.timedelta(hours=max(hours, 0), minutes=rng.randint(0, 59))
        payload = {"success": True, "source": base, "quotes": quotes}
        yield EtlRun(i, base, _ts(fetched), payload, valid, rng.choice(sorted(valid)))
        i += 1


@dataclass
class WarehouseModel:
    """Independent recomputation of what the warehouse must hold after
    a sequence of loads: strict-``>`` newest-wins for ``current`` and
    every non-malformed row for history."""

    current: dict[tuple[str, str], tuple[float, str, str]] = field(default_factory=dict)
    history: dict[tuple[str, str], list[tuple[str, float]]] = field(default_factory=dict)
    history_rows: int = 0

    def load(self, run: EtlRun) -> int:
        """Apply one run; returns how many current rows it changed."""
        changed = 0
        for code, rate in run.valid.items():
            key = (run.base, code)
            self.history.setdefault(key, []).append((run.fetched_at, rate))
            old = self.current.get(key)
            if old is None or run.fetched_at > old[1]:
                self.current[key] = (rate, run.fetched_at, run.fetched_at)
                changed += 1
        self.history_rows += len(run.valid)
        return changed

    def history_as_of(self, key: tuple[str, str], cutoff: str) -> tuple[str, float] | None:
        """Newest history row of ``key`` at or before ``cutoff``; ties on
        the timestamp resolve to the larger rate, as the summary read's
        ``ORDER BY timestamp DESC, rate DESC`` does."""
        rows = [r for r in self.history.get(key, ()) if r[0] <= cutoff]
        return max(rows) if rows else None


def hours_before(ts: str, hours: int) -> str:
    return _ts(dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S") - dt.timedelta(hours=hours))


# ------------------------------------------------------------ request order


def seeded_order(items, seed: int | str, salt: str) -> list:
    """``items`` shuffled by ``seed``; the same seed and salt give the
    same order."""
    out = list(items)
    random.Random(f"perfbench-order-{seed}-{salt}").shuffle(out)
    return out


# ------------------------------------------------------------ timed calls


def timed(op, after=None, clock=time.perf_counter):
    """Run ``op()`` inside the timed region, then ``after()`` outside it.

    Returns ``(seconds, op_result, after_result)``. Counter reads go in
    ``after`` so their cost never lands in the measured latency.
    """
    t0 = clock()
    result = op()
    seconds = clock() - t0
    return seconds, result, (after() if after is not None else None)
