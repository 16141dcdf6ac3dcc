"""The batch mix of the traced run: fixed-order registry queries through
``__spark_entry__.queries()``, one client.

The tables are generated from the seed in the sf test tables' star-schema
shape (``gen.batch_tables``). A cold pass warms the session, then one pass
is timed per query and attributed in the event log. Results are collected
(every result is at most a few thousand rows) and checked against each
query's DuckDB oracle with ``tools/check_oracle.py``'s canonical value hash.
"""

from __future__ import annotations

import os
import sys
import time

import gen
from ledger import TRACE_PROPERTY
from metrics import BATCH_QUERIES

#: table scale: 1.0 = the sf0.01 test tables' row counts
SCALE = 1.0


def _oracle_hashes(run, tables: str) -> dict[str, str]:
    import duckdb

    sys.path.insert(0, os.path.join(run.root, "tools"))
    from check_oracle import value_hash

    import __spark_entry__ as entry
    from tower_parse_spark.session import TABLES, table_path

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = table_path(tables, t)
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in BATCH_QUERIES:
            res = con.execute(oracles[q])
            out[q] = value_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def _pass(run, spark, queries, tables: str, label: str | None):
    """Run the mix once; returns {query: (wall s, value hash)}."""
    from check_oracle import value_hash

    sc = spark.sparkContext
    out = {}
    for q in BATCH_QUERIES:
        sc.setLocalProperty(TRACE_PROPERTY, f"{label}:{q}" if label else None)
        t0 = time.time()
        with run.tracer.span(f"queries.{q}", trace=label):
            df = queries[q](spark, tables)
            rows = [tuple(r) for r in df.collect()]
        out[q] = (time.time() - t0, value_hash(df.columns, rows))
    sc.setLocalProperty(TRACE_PROPERTY, None)
    return out


def trace_mix(run, spark) -> None:
    """Per-query layers on *spark*: a cold pass, then one timed pass
    keyed ``p1:<query>`` in the event log; both checked against the
    oracle. Then the same on a ``local[1]`` session (``scaling.*``)."""
    import __spark_entry__ as entry

    tables = os.path.join(run.work, "tables")
    gen.batch_tables(run.seed, tables, SCALE)
    oracle = _oracle_hashes(run, tables)
    queries = entry.queries()
    passes = [_pass(run, spark, queries, tables, None),
              _pass(run, spark, queries, tables, "p1")]
    for q in BATCH_QUERIES:
        bad = sum(p[q][1] != oracle[q] for p in passes)
        run.check(f"{q}_matches_oracle", bad == 0, "value hash differs")
        run.attempted += len(passes)
        run.failed += bad
        run.layer(f"queries.{q}.wall_s", passes[1][q][0])
    run.query_ledger({f"p1:{q}": passes[1][q][0] * 1000 for q in BATCH_QUERIES})
    run.note("batch mix seconds " + ", ".join(
        f"{sum(w for w, _ in p.values()):.3f}" for p in passes))

    def local1(s):
        # one cold and one timed pass
        _pass(run, s, queries, tables, None)
        return sum(w for w, _ in _pass(run, s, queries, tables, "local1").values())

    run.scaling("scaling.batch_mix_s_local1", local1)
