"""Seeded operation mixes for the server workloads.

Each operation is an ``Op``: the KQL text the client sends, the DuckDB
SQL that answers the same question (the oracle), and the columns whose
values the oracle rounds. Literals come from the seed; the share of each
query kind and the order of operations are fixed, so two seeds give the
same mix in the same order with different literals.

Mixes are dealt from a shuffled deck: each deck holds every query kind
``weight`` times (weights fall as 1/rank, a Zipf mix), so whole decks
have the same composition whatever the seed.
"""

from __future__ import annotations

import datetime as dt
import random
import threading
from dataclasses import dataclass, field
from typing import Callable

from miso_spark.catalog import CATALOG

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENTS_FIRST_DAY = dt.date(2024, 1, 1)
EVENTS_DAYS = 30
LINEITEM_FIRST_DAY = dt.date(1995, 1, 2)
LINEITEM_DAYS = 2496


@dataclass(frozen=True)
class Op:
    kind: str
    kql: str
    sql: str
    rounding: dict[str, int] = field(default_factory=dict)


def _day(d: dt.date) -> str:
    return d.isoformat()


# -- interactive_search: small results (at most ~1k rows) -------------------

def _point_lookup(rng: random.Random) -> Op:
    k = rng.randrange(0, 150_000)
    return Op(
        "point_lookup",
        f"t.orders | where o_orderkey == {k}"
        " | project o_orderkey, o_custkey, o_totalprice, o_orderstatus",
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus"
        f" FROM orders WHERE o_orderkey = {k}",
    )


def _event_summarize(rng: random.Random) -> Op:
    et = rng.choice(EVENT_TYPES)
    d0 = EVENTS_FIRST_DAY + dt.timedelta(days=rng.randrange(EVENTS_DAYS))
    d1 = d0 + dt.timedelta(days=1)
    return Op(
        "event_summarize",
        f"t.events | where event_type == '{et}'"
        f" and ts >= datetime({_day(d0)}) and ts < datetime({_day(d1)})"
        " | summarize n = count(), total = sum(value) by user_id",
        "SELECT user_id, COUNT(*) AS n, SUM(value) AS total FROM events"
        f" WHERE event_type = '{et}' AND ts >= TIMESTAMP '{_day(d0)}'"
        f" AND ts < TIMESTAMP '{_day(d1)}' GROUP BY user_id",
    )


def _event_top(rng: random.Random) -> Op:
    et = rng.choice(EVENT_TYPES)
    v = rng.randrange(0, 150)
    return Op(
        "event_top",
        f"t.events | where event_type == '{et}' and value > {v}"
        " | top 10 by event_id desc | project event_id, user_id, value",
        "SELECT event_id, user_id, value FROM events"
        f" WHERE event_type = '{et}' AND value > {v}"
        " ORDER BY event_id DESC LIMIT 10",
    )


def _bin_by_day(rng: random.Random) -> Op:
    span = rng.randrange(3, 11)
    d0 = EVENTS_FIRST_DAY + dt.timedelta(days=rng.randrange(EVENTS_DAYS - span))
    d1 = d0 + dt.timedelta(days=span)
    return Op(
        "bin_by_day",
        f"t.events | where ts >= datetime({_day(d0)}) and ts < datetime({_day(d1)})"
        " | summarize n = count(), total = sum(value) by day = bin(ts, 1d)"
        " | project day = tolong(day), n, total",
        "SELECT CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT) AS day,"
        " COUNT(*) AS n, SUM(value) AS total FROM events"
        f" WHERE ts >= TIMESTAMP '{_day(d0)}' AND ts < TIMESTAMP '{_day(d1)}'"
        " GROUP BY 1",
    )


def _dim_join(rng: random.Random) -> Op:
    bal = rng.randrange(-900, 9000)
    return Op(
        "dim_join",
        f"t.supplier | where s_acctbal > {bal}"
        " | join kind=inner (t.nation) on $left.s_nationkey == $right.n_nationkey"
        " | summarize n = count(), bal = sum(s_acctbal) by n_name",
        "SELECT n_name, COUNT(*) AS n, SUM(s_acctbal) AS bal"
        " FROM supplier JOIN nation ON s_nationkey = n_nationkey"
        f" WHERE s_acctbal > {bal} GROUP BY n_name",
    )


def _catalog(name: str) -> Callable[[random.Random], Op]:
    entry = CATALOG[name]

    def make(rng: random.Random) -> Op:
        return Op(name, entry.kql, entry.oracle, dict(entry.rounding or {}))

    return make


#: the oracle-backed catalog KQL entries whose sf0.1 result is small
INTERACTIVE_CATALOG = (
    "top_n", "sort_take", "summarize_bin_numeric", "summarize_by_only",
    "distinct_op", "join_inner", "scan_raw", "summarize_bin_time",
    "summarize_countif_dcount", "union_op", "mv_expand", "pricing_summary",
    "q5_local_supplier",
)

INTERACTIVE = (
    [_point_lookup, _event_summarize, _event_top, _bin_by_day, _dim_join]
    + [_catalog(n) for n in INTERACTIVE_CATALOG]
)


# -- bulk_export: 10^4 to 6*10^5 rows ---------------------------------------

def _lineitem_range(rng: random.Random) -> Op:
    span = rng.randrange(45, 1250)
    d0 = LINEITEM_FIRST_DAY + dt.timedelta(days=rng.randrange(LINEITEM_DAYS - span))
    d1 = d0 + dt.timedelta(days=span)
    return Op(
        "lineitem_range",
        f"t.lineitem | where l_shipdate >= datetime({_day(d0)})"
        f" and l_shipdate < datetime({_day(d1)})"
        " | project l_orderkey, l_linenumber, l_quantity, l_extendedprice",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice"
        f" FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_day(d0)}'"
        f" AND l_shipdate < TIMESTAMP '{_day(d1)}'",
    )


def _orders_range(rng: random.Random) -> Op:
    lo = rng.randrange(1_000, 300_000)
    hi = lo + rng.randrange(20_000, 200_000)
    return Op(
        "orders_range",
        f"t.orders | where o_totalprice between ({lo}.0 .. {hi}.0)"
        " | project o_orderkey, o_custkey, o_totalprice",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
        f" WHERE o_totalprice BETWEEN {lo}.0 AND {hi}.0",
    )


BULK = [
    _lineitem_range, _orders_range,
    _catalog("project_extend"), _catalog("case_multi"),
    _catalog("join_outer"), _catalog("where_basic"),
]


# -- ingest_search: write a filtered slice, then read it back ---------------

#: sink collections the ingest cycle rotates through
INGEST_COLLECTIONS = 4


def ingest_cycle(rng: random.Random, i: int) -> tuple[Op, Op]:
    """The write request and its read-back for cycle ``i``."""
    et = rng.choice(EVENT_TYPES)
    # about the top 6% to 15% of one event type's values
    v = rng.randrange(100, 140)
    where_kql = f"event_type == '{et}' and value > {v}"
    where_sql = f"event_type = '{et}' AND value > {v}"
    coll = f"b{i % INGEST_COLLECTIONS}"
    write = Op(
        "write",
        f"t.events | where {where_kql} | project event_id, user_id, value"
        f" | write sink.{coll}",
        f"SELECT event_id, user_id, value FROM events WHERE {where_sql}",
    )
    read = Op(
        "read_after_write",
        f"sink.{coll} | summarize n = count(), total = sum(value),"
        " users = dcount(user_id)",
        # KQL's sum starts at 0, so an empty slice sums to 0, not null
        "SELECT COUNT(*) AS n, COALESCE(SUM(value), 0) AS total,"
        f" COUNT(DISTINCT user_id) AS users FROM events WHERE {where_sql}",
    )
    return write, read


class Deck:
    """Thread-safe stream of operations: shuffled decks in which the
    query kind of rank r appears round(top / r) times.

    The seed draws the literals. The order of the cards is the same for
    every seed, so which queries run side by side, and slow each other
    down, does not vary with it. Each ``restart`` begins a new
    generation with its own literals and order, so what a measured
    window runs depends on the seed alone, not on how far the warm-up
    before it got.
    """

    def __init__(self, makers: list, seed: int, top: int):
        self._seed = seed
        self._generation = 0
        self._cards = [
            m for r, m in enumerate(makers, 1) for _ in range(max(1, round(top / r)))
        ]
        self._pending: list = []
        self._lock = threading.Lock()
        self._reseed()

    def _reseed(self) -> None:
        self._order = random.Random(f"order/{self._generation}")
        self._rng = random.Random(f"{self._seed}/{self._generation}")

    def restart(self) -> None:
        """Drop the rest of the current deck and start a new generation."""
        with self._lock:
            self._pending = []
            self._generation += 1
            self._reseed()

    def next(self, end_of_deck: bool = False) -> Op | None:
        """The next operation; with ``end_of_deck``, None instead of
        starting a new deck."""
        with self._lock:
            if not self._pending:
                if end_of_deck:
                    return None
                self._pending = list(self._cards)
                self._order.shuffle(self._pending)
            return self._pending.pop()(self._rng)


def interactive_deck(seed: int) -> Deck:
    return Deck(INTERACTIVE, seed, top=6)


def bulk_deck(seed: int) -> Deck:
    return Deck(BULK, seed, top=3)
