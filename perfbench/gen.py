"""Seeded, pure-Python inputs for the benchmark.

Nothing here imports the program, so a change to the engine can never
change the inputs.  Every value is a function of (seed, stream name,
position), and event time comes from a synthetic clock, so the files are
byte-stable from run to run.

Two kinds of input:

* wire order files (JSON lines, the reference producer's 16-field record)
  with planted malformed lines, duplicate order ids re-sent a few minutes
  later, and out-of-order event times well inside the 1-hour dedup
  watermark;
* an ``events`` parquet table in the driver fixture's schema, for the
  dashboard panels.

``Expected`` keeps an exact Python aggregation (integer cents) of the
accepted orders: the independent computation the ingest checks compare the
stored rollup against.
"""

from __future__ import annotations

import bisect
import datetime as dt
import os
import random

CATEGORIES = ("Electronics", "Clothing", "Home & Garden", "Food & Beverage", "Beauty")
REGIONS = ("Bangkok", "Central", "North", "Northeast", "South", "East", "West")
PAYMENTS = ("credit_card", "debit_card", "cash", "bank_transfer", "promptpay")
STATUSES = ("completed", "completed", "completed", "pending", "processing")
REPS = ("Somchai", "Malee", "Anan", "Suda", "Niran")
NAMES = ("Alice Smith", "Bob Chen", "สมชาย ใจดี", "มาลี ศรีสุข", "Carol Diaz")
QTY = ((1, 2, 3, 4, 5), (50, 30, 12, 5, 3))  # the reference producer's weights
DISC = ((0, 5, 10, 15), (60, 20, 15, 5))

EPOCH = dt.datetime(2026, 1, 17)  # UTC; the synthetic clock starts here
SECONDS_PER_ORDER = 1  # synthetic clock: one order per event-time second
LATE_SHARE = 0.10  # orders stamped up to LATE_MAX_S before the clock
LATE_MAX_S = 600  # 10 minutes: well inside the 1-hour watermark
DUP_SHARE = 0.02  # accepted orders re-sent verbatim ...
DUP_DELAY = 300  # ... up to this many orders (= event-time seconds) later
BAD_SHARE = 0.01  # malformed lines, quarantined to the dead-letter queue


def _cum(weights) -> list[float]:
    total = sum(weights)
    out, acc = [], 0
    for w in weights:
        acc += w
        out.append(acc / total)
    return out


_QTY_CUM = _cum(QTY[1])
_DISC_CUM = _cum(DISC[1])


def _iso(second: int, micros: int) -> str:
    day, rem = divmod(second, 86400)
    date = (EPOCH + dt.timedelta(days=day)).strftime("%Y-%m-%d")
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    return f"{date}T{h:02d}:{m:02d}:{s:02d}.{micros:06d}Z"


class Expected:
    """Exact Python model of what the pipeline must store."""

    def __init__(self) -> None:
        # (hour as epoch seconds, category) -> [orders, revenue cents, quantity]
        self.rollup: dict[tuple[int, str], list[int]] = {}
        self.lines = 0
        self.accepted = 0
        self.malformed = 0
        self.duplicates = 0


class WireStream:
    """An endless, seeded stream of wire order lines, cut into files.

    Files are written under a hidden name and renamed into place, so the
    file source never lists a partial file.
    """

    EPOCH_S = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds())

    def __init__(self, seed: int, name: str) -> None:
        self._rng = random.Random(f"{seed}:{name}")
        self._seq = 0
        self._dups: list[tuple[int, str]] = []
        self.expected = Expected()

    def _order(self) -> str:
        """The next accepted order as a wire line; records it in ``expected``."""
        rng = self._rng
        r = rng.random
        seq = self._seq
        self._seq += 1
        clock_us = seq * SECONDS_PER_ORDER * 1_000_000
        if r() < LATE_SHARE:
            clock_us -= int(r() * LATE_MAX_S * 1_000_000)
        clock_us = max(clock_us, 0)
        second, micros = divmod(clock_us, 1_000_000)
        qty = QTY[0][bisect.bisect(_QTY_CUM, r())]
        disc = DISC[0][bisect.bisect(_DISC_CUM, r())]
        price_cents = 29000 + int(r() * 6_961_000)
        total = round(qty * price_cents / 100 * (1 - disc / 100), 2)
        cust = 1 + int(r() * 500)
        prod = int(r() * 30)
        category = CATEGORIES[int(r() * 5)]
        status = STATUSES[int(r() * 5)]
        line = (
            f'{{"order_id": "ORD-{seq:09d}", "customer_id": "CUST-{cust:04d}", '
            f'"customer_name": "{NAMES[cust % 5]}", "customer_email": "c{cust}@example.com", '
            f'"product_id": "PROD-{prod:03d}", "product_name": "Product {prod}", '
            f'"category": "{category}", "quantity": {qty}, '
            f'"unit_price": {price_cents / 100!r}, "discount_percent": {float(disc)!r}, '
            f'"total_amount": {total!r}, "payment_method": "{PAYMENTS[int(r() * 5)]}", '
            f'"region": "{REGIONS[cust % 7]}", "sales_rep": "{REPS[int(r() * 5)]}", '
            f'"order_status": "{status}", "order_timestamp": "{_iso(second, micros)}"}}'
        )
        exp = self.expected
        exp.accepted += 1
        if status == "completed":
            key = (self.EPOCH_S + second - second % 3600, category)
            acc = exp.rollup.get(key)
            if acc is None:
                acc = exp.rollup[key] = [0, 0, 0]
            acc[0] += 1
            acc[1] += round(total * 100)
            acc[2] += qty
        return line

    def lines(self, n: int) -> list[str]:
        """The next ``n`` wire lines, updating the expected model."""
        r = self._rng.random
        exp = self.expected
        out: list[str] = []
        while len(out) < n:
            if self._dups and self._dups[0][0] <= self._seq:
                out.append(self._dups.pop(0)[1])
                exp.duplicates += 1
                continue
            x = r()
            if x < BAD_SHARE:
                cut = f'{{"order_id": "BAD-{self._seq:09d}", "customer_id": "CUST-'
                out.append(cut if x < BAD_SHARE / 2 else "@@not-json@@ " + cut)
                exp.malformed += 1
                continue
            line = self._order()
            out.append(line)
            if x < BAD_SHARE + DUP_SHARE:
                bisect.insort(self._dups, (self._seq + 1 + int(r() * DUP_DELAY), line))
        exp.lines += len(out)
        return out

    def write_file(self, directory: str, name: str, n: int) -> str:
        """Write the next ``n`` lines as ``directory/name`` atomically."""
        path = os.path.join(directory, name)
        tmp = os.path.join(directory, f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(self.lines(n)))
            f.write("\n")
        os.rename(tmp, path)
        return path


def write_events_table(path: str, seed: int, n_rows: int) -> None:
    """The dashboard's ``events`` table in the driver fixture's schema
    (event_id, ts, user_id, event_type, value, props) over 30 days."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"{seed}:events")
    r = rng.random
    span_us = 30 * 86400 * 1_000_000
    base = dt.datetime(2024, 1, 1)
    offsets = sorted(int(r() * span_us) for _ in range(n_rows))
    types = ("purchase", "view", "click", "signup", "error")
    table = pa.table(
        {
            "event_id": pa.array(range(n_rows), pa.int64()),
            "ts": pa.array([base + dt.timedelta(microseconds=o) for o in offsets],
                           pa.timestamp("us")),
            "user_id": pa.array([int(r() * 2000) for _ in range(n_rows)], pa.int64()),
            "event_type": pa.array([types[int(r() * 5)] for _ in range(n_rows)]),
            "value": pa.array([(50 + int(r() * 49950)) / 100 for _ in range(n_rows)],
                              pa.float64()),
            "props": pa.array([f'{{"k": {int(r() * 100)}}}' for _ in range(n_rows)]),
        }
    )
    pq.write_table(table, path)
