"""The registry's iterative solvers and exact-ranking queries on seeded
tables, each checked against its DuckDB dual.

Eleven queries hand-roll an iterative join+groupBy loop (PageRank, HITS,
TrustRank, SALSA, OPIC, TextRank, seed distance, k-core, label
propagation, pagination and redirect chains); three rank through
``functions.ranking``. They read only the ``documents`` and ``events``
tables, which :func:`generate_tables` builds in the shape of the repo's
sf0.01 test data (500 documents, 10,000 events). The seed picks the text,
languages and events; the graphs the solvers walk are built from
``doc_id`` alone.

A query passes when its rows, canonicalised as the repo's driver-contract
tests do, equal its dual's as a sorted multiset, with the same column
names and the same coarse value kinds (``5`` is not ``5.0``).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

from corpus import LANG_WEIGHTS, LANGS, VOCAB

ITERATIVE = (
    "web_pagerank", "web_hits_scores", "web_trustrank", "web_salsa_scores",
    "web_opic_scores", "text_textrank_words", "web_seed_distance",
    "web_kcore_membership", "web_lpa_communities", "web_pagination_chains",
    "web_redirect_chains",
)
RANKING = ("events_rfm_segments", "ml_calibration_bins", "web_rank_correlation")
QUERIES = ITERATIVE + RANKING

DOCS = 500
EVENTS = 10_000
USERS = 150
SOURCES = 20
EVENT_TYPES = ("view", "click", "error", "signup", "purchase")


def generate_tables(seed: int) -> dict[str, pa.Table]:
    """The ``documents`` and ``events`` tables for ``seed``."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(8, 90))) for _ in range(DOCS)]
    documents = pa.table({
        "doc_id": pa.array(range(DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=DOCS),
        "source": [f"src{i % SOURCES}" for i in range(DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    ts, t = [], datetime.datetime(2024, 1, 1)
    for _ in range(EVENTS):
        t += datetime.timedelta(microseconds=rng.randrange(1, 518_000_000))
        ts.append(t)
    events = pa.table({
        "event_id": pa.array(range(EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(USERS) for _ in range(EVENTS)], pa.int64()),
        "event_type": rng.choices(EVENT_TYPES, k=EVENTS),
        "value": [round(rng.uniform(0.01, 490.0), 2) for _ in range(EVENTS)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(EVENTS)],
    })
    return {"documents": documents, "events": events}


def stage_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """Write each table as ``<sf_dir>/<name>.parquet``, the layout the
    registry's queries read."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else f"{v:.10g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _kind(v) -> str | None:
    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    for kind, types in (
        ("bool", (bool, np.bool_)), ("int", (int, np.integer)),
        ("float", (float, np.floating)), ("decimal", decimal.Decimal),
        ("bytes", (bytes, bytearray)), ("list", (list, tuple, np.ndarray)),
        ("datetime", datetime.datetime), ("date", datetime.date),
    ):
        if isinstance(v, types):
            return kind
    return "str"


def _shape(cols: list[str], rows) -> tuple[list[str], list[tuple], dict]:
    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    canon = sorted(tuple(_canon(r[i]) for i in idx) for r in rows)
    kinds = {c: {_kind(r[i]) for r in rows} - {None} for c, i in zip(order, idx)}
    return order, canon, kinds


def run_queries(spark, sf_dir: str, names, span) -> tuple[dict[str, float], list[str], str]:
    """Run each of the queries ``names`` once (its jobs inside
    ``span(name)``) and compare it with its dual; returns ({query: wall seconds}, [failure notes], the
    sha256 of every query's canonical rows)."""
    import hashlib

    import duckdb

    import __spark_entry__ as registry

    fns, duals = registry.queries(), registry.oracle_sql()
    con = duckdb.connect()
    for table in ("documents", "events"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, table + '.parquet')}')")
    walls, failures = {}, []
    digest = hashlib.sha256()
    for name in names:
        try:
            with span(f"solver:{name}"):
                t0 = time.monotonic()
                df = fns[name](spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
                walls[name] = time.monotonic() - t0
            have = _shape(df.columns, rows)
            digest.update(repr((name, have[:2])).encode())
            res = con.execute(duals[name])
            want = _shape([d[0] for d in res.description], res.fetchall())
        except Exception as exc:  # a failed query is counted, not fatal
            failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            continue
        for part, a, b in zip(("columns", "rows", "value kinds"), have, want):
            if a != b:
                failures.append(f"{name}: {part} differ from the DuckDB dual")
                break
    con.close()
    return walls, failures, digest.hexdigest()
