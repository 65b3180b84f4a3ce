"""Seeded input generation for the benchmark, done in DuckDB.

Every table of the engine's parquet catalog (the layout
``osarchiver_spark.sources.parquet`` reads: ``<dir>/<table>.parquet``)
is written from a seed.  Pseudo-random values come from ``hash(seed,
tag, row)`` rather than ``random()``, so the output is the same for a
seed whatever DuckDB's thread count.

Row counts follow the engine's fixtures per scale factor ``sf``
(orders = 1.5M x sf, lineitem ~4 lines per order, events = 1M x sf);
documents and embeddings keep a floor of 500 rows.  The archive
workload adds a ``deleted_at`` column to orders, lineitem and events:
about 60% NULL (live rows), the rest spread over the three years
before ``ARCHIVE_EPOCH``.  Lineitem rows follow their parent order's
``deleted_at``, except a seeded ~2% of a deleted order's lines that
stay NULL (orphans).
"""

from __future__ import annotations

import os
from datetime import datetime

import duckdb

ARCHIVE_EPOCH = datetime(2026, 1, 1)
VOCAB = (
    "a the data table row column key value query scan join group sort "
    "filter merge hash window stream batch vector spark part order line "
    "customer big small fast slow agg"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]


def connect(threads: int = 2) -> duckdb.DuckDBPyConnection:
    """A local-only connection: extension auto-install is off, so no
    statement can reach for the network."""
    con = duckdb.connect(
        config={"autoinstall_known_extensions": False, "autoload_known_extensions": False}
    )
    con.execute(f"SET threads TO {threads}")
    return con


def _u(seed: int, tag: int, i: str = "i") -> str:
    """SQL for a uniform [0, 1) draw keyed on (seed, tag, row)."""
    return f"((hash({seed}, {tag}, {i}) % 1000000007) / 1000000007.0)"


def _pick(seed: int, tag: int, n: int, i: str = "i") -> str:
    return f"(hash({seed}, {tag}, {i}) % {n})::BIGINT"


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(50, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def generate(out_dir: str, seed: int, sf: float, deleted_at: bool = False) -> dict[str, int]:
    """Write every catalog table under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = _counts(sf)
    s = seed
    words = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    langs = "[" + ", ".join(f"'{w}'" for w in LANGS) + "]"
    day = "INTERVAL 1 DAY"
    tables = {
        "region": """SELECT i::INTEGER AS r_regionkey,
                ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
                (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                {_pick(s, 1, 25)}::INTEGER AS c_nationkey,
                round(-999.99 + {_u(s, 2)} * 10999.98, 2) AS c_acctbal,
                ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][{_pick(s, 3, 5)} + 1]
                    AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                {_pick(s, 4, 25)}::INTEGER AS s_nationkey,
                round(-999.99 + {_u(s, 5)} * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
                ['small', 'red', 'blue', 'hot', 'new', 'green', 'old', 'big'][{_pick(s, 6, 8)} + 1]
                || ' ' || ['ring', 'widget', 'bolt', 'gizmo', 'rod', 'anvil', 'plate', 'gear'][{_pick(s, 7, 8)} + 1]
                    AS p_name,
                'Brand#' || ({_pick(s, 8, 25)} + 1) AS p_brand,
                ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'][{_pick(s, 9, 6)} + 1] AS p_type,
                ({_pick(s, 10, 50)} + 1)::INTEGER AS p_size,
                round(900.0 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "events": f"""SELECT i AS event_id,
                TIMESTAMP '2024-01-01' + to_microseconds(({_u(s, 11)} * 30 * 86400e6)::BIGINT) AS ts,
                {_pick(s, 12, n['users'])} AS user_id,
                ['click', 'error', 'purchase', 'signup', 'view'][{_pick(s, 13, 5)} + 1] AS event_type,
                round(-ln(1 - {_u(s, 14)}) * 40.0, 2) AS value,
                '{{"k": ' || {_pick(s, 15, 100)} || '}}' AS props
            FROM range({n['events']}) t(i)""",
    }
    orders = f"""SELECT i AS o_orderkey, {_pick(s, 20, n['customer'])} AS o_custkey,
            ['F', 'O', 'P'][{_pick(s, 21, 3)} + 1] AS o_orderstatus,
            round(1000.0 + {_u(s, 22)} * 499000.0, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + {_pick(s, 23, 2404)} * {day} AS o_orderdate,
            ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][{_pick(s, 24, 5)} + 1]
                AS o_orderpriority,
            CASE WHEN {_u(s, 25)} < 0.4
                 THEN TIMESTAMP '{ARCHIVE_EPOCH:%Y-%m-%d}' - to_microseconds(({_u(s, 26)} * 1095 * 86400e6)::BIGINT)
            END AS deleted_at
        FROM range({n['orders']}) t(i)"""
    lineitem = f"""SELECT o_orderkey AS l_orderkey,
            {_pick(s, 30, n['part'], 'o_orderkey * 8 + j')} AS l_partkey,
            {_pick(s, 31, n['supplier'], 'o_orderkey * 8 + j')} AS l_suppkey,
            j::INTEGER AS l_linenumber,
            ({_pick(s, 32, 50, 'o_orderkey * 8 + j')} + 1)::DOUBLE AS l_quantity,
            round(900.0 + {_u(s, 33, 'o_orderkey * 8 + j')} * 104099.0, 2) AS l_extendedprice,
            {_pick(s, 34, 11, 'o_orderkey * 8 + j')} / 100.0 AS l_discount,
            {_pick(s, 35, 9, 'o_orderkey * 8 + j')} / 100.0 AS l_tax,
            ['A', 'N', 'R'][{_pick(s, 36, 3, 'o_orderkey * 8 + j')} + 1] AS l_returnflag,
            ['F', 'O'][{_pick(s, 37, 2, 'o_orderkey * 8 + j')} + 1] AS l_linestatus,
            o_orderdate + (1 + {_pick(s, 38, 120, 'o_orderkey * 8 + j')}) * {day} AS l_shipdate,
            CASE WHEN {_u(s, 39, 'o_orderkey * 8 + j')} < 0.02 THEN NULL ELSE deleted_at END
                AS deleted_at
        FROM orders_full, range(1, 8) r(j)
        WHERE j <= 1 + {_pick(s, 40, 7, 'o_orderkey')}"""
    event_deleted = f"""CASE WHEN {_u(s, 16, 'event_id')} < 0.4
            THEN TIMESTAMP '{ARCHIVE_EPOCH:%Y-%m-%d}' - to_microseconds(({_u(s, 17, 'event_id')} * 1095 * 86400e6)::BIGINT)
        END"""
    # documents: random words, plus near-duplicates (an earlier doc's
    # text with a marker word) and a few exact duplicates
    n_docs = n["documents"]
    documents = f"""WITH base AS (
            SELECT i AS doc_id, array_to_string(list_transform(
                range(8 + {_pick(s, 50, 72)}),
                j -> {words}[1 + (hash({s}, 51, i, j) % {len(VOCAB)})::BIGINT]), ' ') AS text
            FROM range({n_docs}) t(i))
        SELECT b.doc_id,
            CASE WHEN {_pick(s, 52, 20, 'b.doc_id')} = 0 AND b.doc_id > 0
                 THEN src.text || ' dup'
                 WHEN {_pick(s, 53, 500, 'b.doc_id')} = 0 AND b.doc_id > 0 THEN src.text
                 ELSE b.text END AS text
        FROM base b JOIN base src ON src.doc_id = {_pick(s, 54, n_docs, 'b.doc_id')} % greatest(b.doc_id, 1)"""
    # embeddings: 64-d unit vectors around one of 10 label centroids
    embeddings = f"""WITH raw AS (
            SELECT i AS vec_id, ({_pick(s, 60, 10)})::INTEGER AS label,
                list_transform(range(64), d ->
                    (hash({s}, 61, {_pick(s, 60, 10)}, d) % 2001) / 1000.0 - 1.0
                    + 1.2 * ((hash({s}, 62, i, d) % 2001) / 1000.0 - 1.0)) AS v
            FROM range({n['embeddings']}) t(i))
        SELECT vec_id,
            list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT)
                AS embedding,
            label
        FROM raw"""

    con = connect()
    try:
        def write(name: str, sql: str) -> None:
            con.execute(f"COPY ({sql}) TO '{os.path.join(out_dir, name + '.parquet')}' (FORMAT PARQUET)")

        for name, sql in tables.items():
            if name == "events" and deleted_at:
                sql = f"SELECT *, {event_deleted} AS deleted_at FROM ({sql})"
            write(name, sql)
        con.execute(f"CREATE TEMP TABLE orders_full AS {orders}")
        write("orders", "SELECT * FROM orders_full" if deleted_at else
              "SELECT * EXCLUDE (deleted_at) FROM orders_full")
        write("lineitem", lineitem if deleted_at else
              f"SELECT * EXCLUDE (deleted_at) FROM ({lineitem})")
        write("documents", f"""SELECT doc_id, text,
                {langs}[1 + CASE WHEN {_u(s, 55, 'doc_id')} < 0.4 THEN 0
                                 ELSE 1 + {_pick(s, 56, 4, 'doc_id')} END] AS lang,
                'src' || (doc_id % 20) AS source, length(text)::BIGINT AS n_chars
            FROM ({documents}) ORDER BY doc_id""")
        write("embeddings", embeddings)
        return {
            t: con.execute(
                f"SELECT count(*) FROM read_parquet('{os.path.join(out_dir, t + '.parquet')}')"
            ).fetchone()[0]
            for t in ["orders", "lineitem", "events", "documents", "embeddings"]
        }
    finally:
        con.close()
