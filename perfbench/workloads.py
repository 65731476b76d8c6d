"""The benchmark's workloads and the ops they run.

Each workload is a closed loop from one client: the next op starts when
the previous one has returned. The harness hashes and checks every
output outside the timed span.

Why these workloads (each leaves idle layers the other stresses):

- ``registry``: registered queries at sf0.01. Three run on JVM scan,
  join, aggregate, window, higher-order functions and shuffle
  (``q18_large_volume_customer``, ``window_topk_per_group``,
  ``text_repetition_quality``); ``embed_ann_topk_blocked`` runs
  Arrow/pandas Python workers and fires two jobs while its plan is
  built. No dialect, no Engine, no writes.
- ``pg_session``: one long-lived ``Engine`` over a DISTRIBUTED BY copy
  of ``orders``. Reads (point lookups, range aggregates, ``::numeric``,
  integer ``/``, date arithmetic, ``ILIKE``) go through the PG dialect
  and Catalyst with tiny execution; writes (INSERT, range UPDATE, range
  DELETE) rewrite the whole table in storage. No Python workers and no
  eager plan-build jobs.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float            # fixture scale; 1.0 is sf0.01
    queries: tuple[str, ...] = ()


# Every run starts its own JVM and pays 30-40 s (4 cores) before its
# first warm query returns, so the query list is kept to a pass of 3-4 s.
WORKLOADS = {
    "registry": Workload("registry", 1.0, (
        "q18_large_volume_customer", "window_topk_per_group",
        "text_repetition_quality", "embed_ann_topk_blocked",
    )),
    "pg_session": Workload("pg_session", 1.0),
}


@dataclass(frozen=True)
class Op:
    """One statement of a workload: ``key`` names it for per-query
    statistics; ``kind`` is 'read' or 'write'."""
    key: str
    kind: str
    text: str = ""          # PG text run by the Engine (pg_session)
    mirror: str = ""        # the same statement for the DuckDB mirror


def registry_pass(wl: Workload, rng: random.Random) -> list[Op]:
    order = list(wl.queries)
    rng.shuffle(order)
    return [Op(q, "read") for q in order]


# ---------------------------------------------------------------------------
# pg_session statement stream
# ---------------------------------------------------------------------------

TABLE = "bench_orders"
PRIORITY_WORDS = ["urgent", "high", "medium", "specified", "low"]
READS = ("point", "range_agg", "int_div", "date_arith", "ilike")


class PgStream:
    """Seeded statement stream against ``TABLE``: each pass holds one
    read of every kind in ``READS`` plus one INSERT, one range UPDATE and
    one range DELETE, in shuffled order, so every pass covers every
    statement template. The generator tracks which keys are live, so
    every write touches at least one row."""

    def __init__(self, rng: random.Random, n_rows: int):
        self.rng = rng
        self.live = set(range(1, n_rows + 1))
        self.next_key = n_rows + 1
        self.max_key = n_rows

    def _live_range(self, width: int) -> tuple[int, int]:
        while True:
            k = self.rng.randint(1, self.max_key)
            if k in self.live:
                return k, k + width - 1

    def _read(self, kind: str) -> Op:
        r = self.rng
        a = r.randint(1, self.max_key)
        b = a + r.randint(200, 2000)
        if kind == "point":
            q = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
                 f" o_orderdate FROM {TABLE} WHERE o_orderkey = {a}")
            return Op(kind, "read", q, q)
        if kind == "range_agg":
            q = ("SELECT o_orderstatus, count(*) AS n,"
                 " sum(o_totalprice::numeric(15,2)) AS total"
                 f" FROM {TABLE} WHERE o_orderkey BETWEEN {a} AND {b}"
                 " GROUP BY o_orderstatus")
            return Op(kind, "read", q, q)
        if kind == "int_div":
            div = r.choice([7, 100, 1000])
            q = ("SELECT o_custkey {op} {d} AS bucket, count(*) AS n"
                 f" FROM {TABLE} WHERE o_orderkey BETWEEN {a} AND {b}"
                 " GROUP BY o_custkey {op} {d}")
            return Op(kind, "read", q.format(op="/", d=div),
                      q.format(op="//", d=div))
        if kind == "date_arith":
            day = datetime.date(1995, 1, 1) + datetime.timedelta(r.randint(0, 2300))
            days = r.randint(7, 90)
            q = ("SELECT count(*) AS n, min(o_orderdate::date) AS first_day"
                 f" FROM {TABLE} WHERE o_orderdate >= date '{day}'"
                 f" AND o_orderdate < date '{day}' + {days}")
            return Op(kind, "read", q, q)
        word = r.choice(PRIORITY_WORDS)
        q = ("SELECT o_orderpriority, count(*) AS n FROM"
             f" {TABLE} WHERE o_orderpriority ILIKE '%{word}%'"
             f" AND o_orderkey BETWEEN {a} AND {b} GROUP BY o_orderpriority")
        return Op("ilike", "read", q, q)

    def _insert(self) -> Op:
        r = self.rng
        rows = []
        for _ in range(r.randint(1, 4)):
            k = self.next_key
            self.next_key += 1
            self.live.add(k)
            day = datetime.date(1995, 1, 1) + datetime.timedelta(r.randint(0, 2400))
            rows.append(
                f"({k}, {r.randint(1, 15000)}, 'O', {r.randint(90000, 48000000) / 100:.2f},"
                f" timestamp '{day} 00:00:00', '{r.choice(['1-URGENT', '3-MEDIUM', '5-LOW'])}')")
        q = f"INSERT INTO {TABLE} VALUES " + ", ".join(rows)
        return Op("insert", "write", q, q)

    def _update(self) -> Op:
        a, b = self._live_range(self.rng.randint(5, 50))
        q = (f"UPDATE {TABLE} SET o_totalprice = o_totalprice + 1.5,"
             f" o_orderstatus = 'F' WHERE o_orderkey BETWEEN {a} AND {b}")
        return Op("update", "write", q, q)

    def _delete(self) -> Op:
        a, b = self._live_range(self.rng.randint(1, 8))
        self.live.difference_update(range(a, b + 1))
        q = f"DELETE FROM {TABLE} WHERE o_orderkey BETWEEN {a} AND {b}"
        return Op("delete", "write", q, q)

    def next_pass(self) -> list[Op]:
        slots = list(READS) + ["insert", "update", "delete"]
        self.rng.shuffle(slots)
        writes = {"insert": self._insert, "update": self._update,
                  "delete": self._delete}
        return [writes[s]() if s in writes else self._read(s) for s in slots]
