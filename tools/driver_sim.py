"""Simulate the driver: import __spark_entry__, smoke entry(), run every
queries() entry vs oracle_sql() on DuckDB at sf0.01, order-insensitive,
judged by tools/dtype_parity.compare (the same verdict tests/test_oracle.py
asserts on).

Set SPARK_GRAFT_SIM_SF to point at a different fixture dir — e.g. a
reseeded twin from tools/gen_fixtures.py — to fuzz for data-dependent
fragility (the driver regenerates its tables every round). Query names
as arguments check only those queries."""
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from gpdb_spark.session import get_spark  # noqa: E402
from tools.dtype_parity import compare  # noqa: E402

spark = get_spark(app_name="driver-sim", shuffle_partitions=8)

# 1. smoke: entry
df = E.entry(spark)
rows = df.collect()
print('ENTRY rows=', len(rows), 'schema=', [f.name for f in df.schema.fields])

# 2. full correctness loop, driver-style
con = duckdb.connect()
sf = os.environ.get('SPARK_GRAFT_SIM_SF', '/root/testdata/sf0.01')
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"create view {t} as select * from read_parquet('{sf}/{t}.parquet')")

qs, osql = E.queries(), E.oracle_sql()
print('QUERIES:', len(qs), 'ORACLES:', len(osql))
assert set(osql) <= set(qs), 'oracle without query!'

# optional per-query watchdog (seconds): on oversized stress fixtures a
# single quadratic DuckDB oracle (recursive-CTE transitive closure) can
# hang the whole sweep — the round-5 scale-10 run sat on one query for
# 50+ min. A timer thread cancels the query's Spark jobs and interrupts
# DuckDB: a blocking DuckDB C call never returns to the interpreter, so
# con.interrupt() is the way out (verified: raises
# duckdb.InterruptException mid-recursive-CTE). Nothing is raised
# asynchronously in the main thread, so a timeout cannot land inside an
# exception handler and kill the sweep (the failure of the earlier
# SIGALRM design).
_tmo = int(os.environ.get('SPARK_GRAFT_SIM_TIMEOUT', '0'))


class _Watchdog:
    """Fires once, unless cancelled first; the lock makes fire/cancel
    mutually exclusive (round-6 advice), so `fired` tells whether this
    query's failure is its timeout."""

    def __init__(self):
        self._lock = threading.Lock()
        self._done = False
        self.fired = False
        self._t = threading.Timer(_tmo, self._fire)
        self._t.daemon = True
        self._t.start()

    def _fire(self):
        with self._lock:
            if not self._done:
                self.fired = True
                # the query's pending action raises, and its tasks stop
                # holding the local cores that later queries need
                spark.sparkContext.cancelAllJobs()
                con.interrupt()

    def cancel(self):
        with self._lock:
            self._done = True
        self._t.cancel()


def judge(name):
    """One query's verdict line, and whether the driver would fail it."""
    sdf = qs[name](spark, sf)
    if name not in osql:
        return f'{name}: rows-only, {len(sdf.collect())} rows', False
    v = compare(sdf, con, osql[name])
    line = f'{name}: {v.problem or "MATCH"} spark={v.spark_rows} oracle={v.oracle_rows}'
    return line, v.problem is not None


fails = []
names = sorted(qs) if len(sys.argv) < 2 else [n for n in sys.argv[1:] if n in qs]
for name in names:
    wd = _Watchdog() if _tmo else None
    try:
        line, failed = judge(name)
    except Exception:
        if wd is None or not wd.fired:
            raise
        line, failed = f'{name}: TIMEOUT query exceeded {_tmo}s', True
    finally:
        if wd is not None:
            wd.cancel()
    print(line)
    if failed:
        fails.append(name)

print('RESULT:', 'ALL MATCH' if not fails else f'FAILS: {fails}')
sys.exit(1 if fails else 0)
