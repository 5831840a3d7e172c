"""The benchmark's workloads, each a list of op kinds run closed-loop by one
client.

A workload is built in two steps. :func:`prepare` does the harness's own
work without Spark (fixtures; for ETL the target bases, the upsert batch and
the expected digests), so the run can leave it out of ``setup_s``;
:func:`make` then binds it to the session. An op is timed from outside
through the engine's public API. ``reset`` (before) and ``check`` (after)
run outside the timed region. With a :class:`measure.Tracer`, ``run``
records spans around the calls into each layer; without one it adds nothing
to the op.

- ``etl_daily``: ``Pipeline.run`` from ``FileSource`` through
  ``clean_infinities``/``window_filter`` into ``ParquetSink``: Method-1
  overwrite of the ``lineitem`` snapshot, Method-2 ``window_overwrite`` and
  ``retention_append`` of the 30-day ``events`` window, and ``upsert`` of a
  seeded ``orders`` key batch. Every target is reset to the same base state
  before each op, so every op of a kind does the same work.
- ``query_heavy``: a fixed list of operator-bound registry queries whose
  time is shuffles and Python UDF workers.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa

import engine
import measure

HEAVY_SF = 0.01
# One query from each operator family, chosen among the family's queries
# for levelling off within three calls and for a steady time of 0.5-1.5 s
# on a 4-core host, so a run holds a cold call, warm-up and four timed
# rounds of all five within about a minute.
HEAVY_QUERIES = (
    "dedup_simhash",
    "graph_linkpred_jaccard",
    "mm_decode_jpeg",
    "sim_cosine_topk_matmul",
    "text_tfidf_topterms",
)

# A 300k-row lineitem snapshot: one daily cycle of the four kinds takes
# about 4 s on a 4-core host (6 s at sf0.1), so a run holds warm-up and four
# timed cycles within about a minute.
ETL_SF = 0.05
ETL_WINDOW_DAYS = 30
UPSERT_UPDATES = 7_500
UPSERT_INSERTS = 750

# Spans whose self time is plan composition in Python.
BUILD_LAYERS = ("queries.build", "catalog.load_table", "sources.read", "transforms.build")


# -- queries -----------------------------------------------------------------


class _CatalogProbe:
    """Spans around ``catalog.load_table`` in every module that imported it,
    and the memo hit count: a hit is the same handle object coming back."""

    def __init__(self, tracer: measure.Tracer) -> None:
        from extract_transform_load_template_multidb_spark import catalog

        self.tracer = tracer
        self.original = catalog.load_table
        self.last: dict[tuple, int] = {}
        self.hits = 0
        self.calls = 0
        self.modules = [
            m
            for name, m in list(sys.modules.items())
            if name.startswith("extract_transform_load_template_multidb_spark")
            and getattr(m, "load_table", None) is self.original
        ]

    def _load_table(self, spark, sf_dir, name):
        with self.tracer.span("catalog.load_table"):
            df = self.original(spark, sf_dir, name)
        key = (sf_dir, name)
        if key in self.last:  # a first load cannot be a hit
            self.calls += 1
            self.hits += self.last[key] == id(df)
        self.last[key] = id(df)
        return df

    def __enter__(self):
        for m in self.modules:
            m.load_table = self._load_table
        return self

    def __exit__(self, *exc) -> None:
        for m in self.modules:
            m.load_table = self.original


class QueryWorkload:
    """Each op is one registry build plus one action (``collect``) that
    computes every column of the result the check hashes."""

    def __init__(self, spark, sf_dir: str, names: list[str], expected: dict) -> None:
        from extract_transform_load_template_multidb_spark.queries import all_queries

        self.spark = spark
        self.sf_dir = sf_dir
        qs = all_queries()
        self.fns = {n: qs[n] for n in names}
        self.expected = expected
        self.kinds = list(names)
        self.probe: _CatalogProbe | None = None
        self.aqe_off = 0

    def reset(self, kind: str) -> None:
        pass

    def run(self, kind: str, tracer: measure.Tracer | None):
        fn = self.fns[kind]
        if tracer is None:
            df = fn(self.spark, self.sf_dir)
            return df.columns, df.collect()
        if self.probe is None:
            self.probe = _CatalogProbe(tracer)
        with self.probe:
            with tracer.span("queries.build"):
                df = fn(self.spark, self.sf_dir)
        with tracer.span("spark.plan"):
            qe = df._jdf.queryExecution()
            qe.optimizedPlan()
            qe.executedPlan()
        with tracer.span("spark.execute", family=kind.split("_")[0]):
            rows = df.collect()
        return df.columns, rows

    def after_traced(self) -> None:
        # The registry's AQE gate decides at build time through the session
        # conf; read the decision it left for this op.
        conf = self.spark.conf.get("spark.sql.adaptive.enabled")
        self.aqe_off += conf == "false"

    def check(self, kind: str, out) -> tuple[bool, int]:
        cols, rows = out
        exp = self.expected[kind]
        n, digest = measure.rows_digest(list(cols), rows)
        ok = sorted(cols) == exp["columns"] and (n, digest) == (
            exp["rows"],
            exp["hash"],
        )
        return ok, n

    def layers(self, spans: list[dict], n_ops: int) -> dict:
        out = {}
        if self.probe is not None and self.probe.calls:
            out["catalog.memo_hit_ratio"] = self.probe.hits / self.probe.calls
        out["queries.aqe_bypass_share"] = self.aqe_off / max(1, n_ops)
        fam: dict[str, list[float]] = {}
        for s, st in zip(spans, measure.self_times(spans)):
            if s["name"] == "spark.execute":
                fam.setdefault(s["family"], []).append(st)
        for f, v in sorted(fam.items()):
            out[f"operators.{f}.execute_s"] = sum(v) / len(v)
        return out

    def close(self) -> None:
        pass


# -- ETL ---------------------------------------------------------------------


def _duck_digest(con, relation: str) -> tuple[int, str]:
    """Row count and order-insensitive hash of every column, in DuckDB."""
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall())
    h = ", ".join(f'"{c}"' for c in cols)
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(hash({h})), 0)::VARCHAR FROM {relation}"
    ).fetchone()
    return int(n), s


class EtlData:
    """The harness side of ``etl_daily``, built with DuckDB alone: the seeded
    upsert batch, one base state per target, and the row count and digest
    each op must leave behind."""

    KINDS = ("full_overwrite", "window_overwrite", "retention_append", "upsert")

    def __init__(self, seed: int, run_dir: str) -> None:
        import duckdb

        sf_dir = engine.fixtures_dir(ETL_SF)
        self.lineitem = lineitem = os.path.join(sf_dir, "lineitem.parquet")
        self.events = events = os.path.join(sf_dir, "events_raw.parquet")
        orders = os.path.join(sf_dir, "orders.parquet")
        self.batch = batch = os.path.join(run_dir, "orders_batch.parquet")
        self.base = {k: os.path.join(run_dir, "base", k) for k in self.KINDS}
        self.target = {k: os.path.join(run_dir, "target", k) for k in self.KINDS}
        self.con = con = duckdb.connect()
        con.execute("SET threads TO 4")

        def clean(path: str) -> str:
            doubles = [
                r[0]
                for r in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
                if r[1] == "DOUBLE"
            ]
            repl = ", ".join(
                f'CASE WHEN isinf("{c}") THEN NULL ELSE "{c}" END AS "{c}"'
                for c in doubles
            )
            return f"(SELECT * REPLACE ({repl}) FROM '{path}')"

        max_ts = con.execute(f"SELECT max(ts) FROM '{events}'").fetchone()[0]
        self.cutoff = con.execute(
            f"SELECT TIMESTAMP '{max_ts}' - INTERVAL {ETL_WINDOW_DAYS} DAY"
        ).fetchone()[0]
        cut = f"TIMESTAMP '{self.cutoff}'"
        yday = f"TIMESTAMP '{max_ts}' - INTERVAL 1 DAY"
        ev = clean(events)
        window = f"(SELECT * FROM {ev} WHERE ts >= {cut})"
        self._write_batch(con, orders, batch, seed)
        # Every base differs from the state its op must leave, so the
        # post-op digest shows the sink really wrote; the full snapshot
        # starts from yesterday's smaller one.
        bases = {
            "full_overwrite": f"(SELECT * FROM {clean(lineitem)} WHERE l_linenumber = 1)",
            "window_overwrite": f"(SELECT * FROM {ev} WHERE ts < {yday})",
            "retention_append": f"(SELECT * FROM {ev} WHERE ts < {yday} "
            f"AND ts >= {yday} - INTERVAL 45 DAY)",
            "upsert": f"(SELECT * FROM '{orders}')",
        }
        for k, rel in bases.items():
            os.makedirs(self.base[k])
            con.execute(
                f"COPY {rel} TO '{self.base[k]}/part-00000.parquet' (FORMAT parquet)"
            )
        self.base_inodes = {
            os.stat(os.path.join(self.base[k], f)).st_ino
            for k in self.KINDS
            for f in os.listdir(self.base[k])
        }
        base = {k: f"read_parquet('{self.base[k]}/*.parquet')" for k in self.KINDS}
        results = {
            "full_overwrite": clean(lineitem),
            "window_overwrite": f"(SELECT * FROM {base['window_overwrite']} "
            f"WHERE ts < {cut} UNION ALL SELECT * FROM {window})",
            "retention_append": f"(SELECT * FROM {base['retention_append']} "
            f"WHERE ts >= {cut} UNION ALL SELECT * FROM {window})",
            "upsert": f"(SELECT * FROM {base['upsert']} WHERE o_orderkey NOT IN "
            f"(SELECT o_orderkey FROM '{batch}') UNION ALL SELECT * FROM '{batch}')",
        }
        loaded = {
            "full_overwrite": f"'{lineitem}'",
            "window_overwrite": window,
            "retention_append": window,
            "upsert": f"'{batch}'",
        }
        self.expected = {
            k: (
                con.execute(f"SELECT count(*) FROM {loaded[k]}").fetchone()[0],
                _duck_digest(con, results[k]),
            )
            for k in self.KINDS
        }
        for k in self.KINDS:
            if _duck_digest(con, base[k]) == self.expected[k][1]:
                raise ValueError(f"{k}: base state equals the expected result")

    @staticmethod
    def _write_batch(con, orders: str, path: str, seed: int) -> None:
        """The seeded upsert batch: updates of existing keys plus inserts."""
        rng = np.random.default_rng(seed)
        n_ord = con.execute(f"SELECT count(*) FROM '{orders}'").fetchone()[0]
        keys = pa.table(
            {
                "k": rng.choice(n_ord, UPSERT_UPDATES, replace=False).astype(np.int64),
                "delta": np.round(rng.uniform(-500.0, 500.0, UPSERT_UPDATES), 2),
            }
        )
        new = pa.table(
            {
                "k": np.arange(n_ord, n_ord + UPSERT_INSERTS, dtype=np.int64),
                "cust": rng.integers(0, max(1, n_ord // 10), UPSERT_INSERTS),
                "price": np.round(rng.uniform(1000.0, 500000.0, UPSERT_INSERTS), 2),
            }
        )
        con.register("upd_keys", keys)
        con.register("new_keys", new)
        con.execute(
            f"""COPY (
                SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
                       round(o_totalprice + delta, 2) AS o_totalprice,
                       o_orderdate, o_orderpriority
                FROM '{orders}' JOIN upd_keys ON o_orderkey = k
                UNION ALL
                SELECT k, cust, 'O', price, TIMESTAMP '2001-08-02', '3-MEDIUM'
                FROM new_keys
            ) TO '{path}' (FORMAT parquet)"""
        )
        con.unregister("upd_keys")
        con.unregister("new_keys")



class EtlWorkload:
    """One daily cycle: the four sink semantics on their own targets."""

    def __init__(self, spark, data: EtlData) -> None:
        from extract_transform_load_template_multidb_spark import transforms as T
        from extract_transform_load_template_multidb_spark.pipeline import Pipeline
        from extract_transform_load_template_multidb_spark.sinks.parquet_sink import (
            ParquetSink,
        )
        from extract_transform_load_template_multidb_spark.sources.files import (
            FileSource,
        )

        self.spark = spark
        self.data = data
        self.kinds = list(data.KINDS)
        self._Pipeline = Pipeline
        cutoff = data.cutoff
        sinks = {k: ParquetSink(data.target[k]) for k in data.KINDS}

        def windowed(df):
            return T.window_filter(df, "ts", ETL_WINDOW_DAYS)

        self.specs = {
            "full_overwrite": (
                FileSource(data.lineitem),
                [T.clean_infinities],
                sinks["full_overwrite"].overwrite,
            ),
            "window_overwrite": (
                FileSource(data.events),
                [T.clean_infinities, windowed],
                lambda df: sinks["window_overwrite"].window_overwrite(
                    df, "ts", cutoff, spark
                ),
            ),
            "retention_append": (
                FileSource(data.events),
                [T.clean_infinities, windowed],
                lambda df: sinks["retention_append"].retention_append(
                    df, "ts", cutoff, spark
                ),
            ),
            "upsert": (
                FileSource(data.batch),
                [],
                lambda df: sinks["upsert"].upsert(df, ("o_orderkey",), spark),
            ),
        }
        self.bytes_per_row: list[float] = []

    def reset(self, kind: str) -> None:
        # Hard links, not copies: the sink only ever adds, renames and
        # unlinks files, so the base stays intact and a reset writes no data
        # that the kernel would flush during the next timed op.
        target = self.data.target[kind]
        shutil.rmtree(target, ignore_errors=True)
        shutil.copytree(self.data.base[kind], target, copy_function=os.link)

    def run(self, kind: str, tracer: measure.Tracer | None) -> int:
        source, steps, sink = self.specs[kind]
        if tracer is not None:
            source = _spanned(tracer, "sources.read", source)
            steps = [_spanned(tracer, "transforms.build", t) for t in steps]
            sink = _spanned(tracer, f"sinks.{kind}.write", sink)
        pipe = self._Pipeline(
            name=kind, source=source, transforms=steps, sink=sink, retries=0
        )
        if tracer is None:
            return pipe.run(self.spark)
        with tracer.span("pipeline.run"):
            return pipe.run(self.spark)

    def after_traced(self) -> None:
        pass

    def check(self, kind: str, n) -> tuple[bool, int]:
        exp_n, exp_digest = self.data.expected[kind]
        target = self.data.target[kind]
        got = _duck_digest(self.data.con, f"read_parquet('{target}/*.parquet')")
        # Bytes of the files the op wrote: the base's hard links are not new.
        written = 0
        for f in os.listdir(target):
            st = os.stat(os.path.join(target, f))
            if st.st_ino not in self.data.base_inodes:
                written += st.st_size
        self.bytes_per_row.append(written / max(1, int(n)))
        return n == exp_n and got == exp_digest, int(n)

    def layers(self, spans: list[dict], n_ops: int) -> dict:
        return {"sinks.bytes_written_per_row": float(np.median(self.bytes_per_row))}

    def close(self) -> None:
        self.data.con.close()


def _spanned(tracer: measure.Tracer, name: str, fn):
    def call(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return call


def load_expected() -> dict:
    with open(os.path.join(engine.HERE, "expected.json")) as fh:
        return json.load(fh)


def prepare(name: str, seed: int, run_dir: str):
    """The harness's own set-up for workload ``name``; needs no Spark."""
    if name == "etl_daily":
        return EtlData(seed, run_dir)
    if name == "query_heavy":
        return engine.fixtures_dir(HEAVY_SF), load_expected()["heavy"]
    raise ValueError(f"unknown workload {name!r}")


def make(name: str, spark, prepared):
    """Bind what :func:`prepare` returned for ``name`` to the session."""
    if name == "etl_daily":
        return EtlWorkload(spark, prepared)
    sf_dir, expected = prepared
    return QueryWorkload(spark, sf_dir, list(HEAVY_QUERIES), expected)
