"""Derive ``expected.json``: the stored outputs every query op is checked against.

Run once from the repository root, after any change to ``fixtures.py`` or
to the query list in ``workloads.py``:

    python3 perfbench/derive_expected.py

For each candidate query it runs the DuckDB oracle from
``queries.all_oracles()`` on the benchmark's fixtures and stores the row
count, the column names and the order-insensitive digest of every column
(``measure.rows_digest``). It then runs the registry callable on Spark three
times and keeps a query only if Spark's digest equals the oracle's and the
query writes no files; the steady Spark time (the lower of the last two
calls, on the deriving host) is stored as ``ref_s`` for reference only.
Every candidate left out is listed under ``excluded`` with the reason.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import engine  # noqa: E402
import measure  # noqa: E402
import workloads  # noqa: E402
from fixtures import DATA_SEED, TABLES  # noqa: E402

ORACLE_TIMEOUT_S = 300.0


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _oracle(con, sql: str):
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return cols, res.fetchall()
    finally:
        timer.cancel()


def _tmp_listing() -> set[str]:
    return set(os.listdir(os.environ["TMPDIR"]))


def derive(spark, name: str, sql: str, con, sf_dir: str, qs) -> dict:
    cols, rows = _oracle(con, sql)
    n, digest = measure.rows_digest(cols, rows)
    times = []
    for i in range(3):
        if i == 1:  # the first call may create the session's own temp dirs
            before = _tmp_listing()
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        got = df.collect()
        times.append(time.perf_counter() - t0)
    if _tmp_listing() != before:
        raise ValueError("writes files: not a read-only query")
    s_cols = list(df.columns)
    if sorted(s_cols) != sorted(cols):
        raise ValueError(f"columns differ: spark={sorted(s_cols)} oracle={sorted(cols)}")
    s_n, s_digest = measure.rows_digest(s_cols, got)
    if (s_n, s_digest) != (n, digest):
        raise ValueError(f"spark ({s_n}, {s_digest}) != oracle ({n}, {digest})")
    return {
        "rows": n,
        "hash": digest,
        "columns": sorted(cols),
        "ref_s": round(min(times[1:]), 4),
    }


def main() -> None:
    engine.prepare_env()
    from extract_transform_load_template_multidb_spark.queries import (
        all_oracles,
        all_queries,
    )

    qs, oracles = all_queries(), all_oracles()
    out = {"data_seed": DATA_SEED, "heavy": {}, "excluded": {}}
    spark = engine.start_session()
    try:
        sf_dir = engine.fixtures_dir(workloads.HEAVY_SF)
        con = _duck(sf_dir)
        for name in workloads.HEAVY_QUERIES:
            try:
                rec = derive(spark, name, oracles[name], con, sf_dir, qs)
            except Exception as exc:  # noqa: BLE001 — record and go on
                out["excluded"][name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"{name}: EXCLUDED {exc}"[:200], file=sys.stderr)
                continue
            out["heavy"][name] = rec
            print(f"{name}: {rec}", file=sys.stderr, flush=True)
        con.close()
    finally:
        engine.stop_session(spark)
    with open(os.path.join(engine.HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
