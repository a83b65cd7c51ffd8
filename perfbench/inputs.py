"""Seeded input generator for the lakehouse benchmark.

The inputs are a join-consistent transform of the base sample in
``perfbench/base/`` (the 0.001 scale of the same TPC-H-style generator
that produced the sf0.1 fixtures the benchmark is calibrated against):

- every key domain (customer, part, supplier, order, event, document)
  is shifted by one seeded offset, the same in every table that holds
  the key, so every order still finds its customer and every line its
  order and part;
- order dates are folded onto ``ORDER_DATES`` consecutive days starting
  at a seeded day, keeping chronological order, so the date-partition
  count keeps sf0.1's rows per partition at this row count;
- event timestamps move by a seeded whole number of days;
- every table is written in a seeded row order.

Document text and embedding vectors are not altered, which keeps the
near-duplicate structure of ``documents``/``embeddings``. The document
offset is even (``ext_dedup_incremental`` splits the corpus by id
parity) and ``vec_id`` is not shifted (the top-k queries select
``vec_id < 10``).

:func:`check_invariants` fails the run when rows per table, distinct
partition dates or the near-duplicate share drift from the targets
derived from the sf0.1 source properties below.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Properties of the sf0.1 fixtures (rows per table, distinct partition
# dates, share of documents in an exact 3-gram Jaccard >= 0.5 pair),
# measured once with DuckDB over the fixture parquet files.
SOURCE_SF01 = {
    "rows": {
        "region": 5,
        "nation": 25,
        "customer": 15000,
        "supplier": 1000,
        "part": 20000,
        "orders": 150000,
        "lineitem": 600000,
        "events": 100000,
        "documents": 5000,
        "embeddings": 2000,
    },
    "order_dates": 2405,
    "event_dates": 30,
    "neardup_doc_share": 477 / 5000,
}

# Scale of each table relative to sf0.1. Relational tables scale by
# 1/100; the corpus tables do not grow linearly with the fixture scale
# factor in the source generator, so they carry their own factor.
# Fixed dimensions (region, nation) keep their size.
SCALE = {
    "region": 1.0,
    "nation": 1.0,
    "customer": 0.01,
    "supplier": 0.01,
    "part": 0.01,
    "orders": 0.01,
    "lineitem": 0.01,
    "events": 0.01,
    "documents": 0.1,
    "embeddings": 0.25,
}

# Distinct order dates: sf0.1's count at the relational scale, so each
# date partition holds as many rows as it does at sf0.1. Event dates
# span a fixed 30 days in the source at every scale factor.
ORDER_DATES = round(SOURCE_SF01["order_dates"] * SCALE["orders"])
EVENT_DATES = SOURCE_SF01["event_dates"]
NEARDUP_TOLERANCE = 0.02

# table -> {column: key domain}
KEYS = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "cust"},
    "documents": {"doc_id": "doc"},
}
DOMAINS = ("cust", "supp", "part", "order", "event", "doc")

EPOCH = datetime.date(1970, 1, 1)
ORDER_SPAN_START = datetime.date(1995, 1, 1)
ORDER_SPAN_DAYS = 2400  # the source orders span 1995-01-01 .. 2001-08-01


class InvariantError(RuntimeError):
    """Generated inputs drifted from the calibrated source properties."""


def target_rows() -> dict[str, int]:
    return {t: round(SOURCE_SF01["rows"][t] * SCALE[t]) for t in TABLES}


def plan(seed: int) -> dict:
    """Every seeded choice of one input set, derived from ``seed``."""
    rng = np.random.default_rng(seed)
    offsets = {d: int(rng.integers(0, 500_000)) * 2 for d in DOMAINS}
    first_order_day = int(rng.integers(0, ORDER_SPAN_DAYS - ORDER_DATES))
    event_shift_days = int(rng.integers(0, 300))
    orders = {t: int(rng.integers(0, 2**31)) for t in TABLES}
    return {
        "seed": seed,
        "offsets": offsets,
        "order_start": ORDER_SPAN_START + datetime.timedelta(days=first_order_day),
        "event_shift_days": event_shift_days,
        "row_order_seeds": orders,
    }


def _shift_keys(table: pa.Table, name: str, offsets: dict[str, int]) -> pa.Table:
    for col, domain in KEYS.get(name, {}).items():
        i = table.schema.get_field_index(col)
        shifted = pc.add(table.column(col), pa.scalar(offsets[domain], pa.int64()))
        table = table.set_column(i, table.schema.field(i), shifted.cast(table.schema.field(i).type))
    return table


def _fold_order_dates(orders: pa.Table, start: datetime.date) -> pa.Table:
    """Map the k-th of n distinct source dates to day floor(k*D/n) of a
    D-day span: chronological order kept, every target day used."""
    col = orders.column("o_orderdate")
    days = pc.cast(pc.cast(col, pa.date32()), pa.int32()).to_numpy(zero_copy_only=False)
    distinct, rank = np.unique(days, return_inverse=True)
    bucket = rank * ORDER_DATES // len(distinct)
    start_day = (start - EPOCH).days
    new_days = pa.array((start_day + bucket).astype(np.int32), pa.date32())
    new_ts = pc.cast(pc.cast(new_days, pa.timestamp("s")), col.type)
    i = orders.schema.get_field_index("o_orderdate")
    return orders.set_column(i, orders.schema.field(i), new_ts)


def _shift_event_days(events: pa.Table, days: int) -> pa.Table:
    col = events.column("ts")
    unit = col.type.unit
    per_day = {"s": 86400, "ms": 86_400_000, "us": 86_400_000_000, "ns": 86_400_000_000_000}[unit]
    raw = pc.cast(col, pa.int64())
    shifted = pc.cast(pc.add(raw, pa.scalar(days * per_day, pa.int64())), col.type)
    i = events.schema.get_field_index("ts")
    return events.set_column(i, events.schema.field(i), shifted)


def generate(seed: int, out_dir: str) -> dict:
    """Write the seed's input tables as ``<out_dir>/<table>.parquet``
    and return the seeded plan (offsets, order-date span, ...)."""
    p = plan(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        table = pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
        table = _shift_keys(table, name, p["offsets"])
        if name == "orders":
            table = _fold_order_dates(table, p["order_start"])
        if name == "events":
            table = _shift_event_days(table, p["event_shift_days"])
        perm = np.random.default_rng(p["row_order_seeds"][name]).permutation(table.num_rows)
        table = table.take(pa.array(perm))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return p


NEARDUP_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, len(t)-1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
  FROM toks WHERE len(t) >= 3
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM shared
  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.5
)
SELECT COUNT(*) FROM (SELECT doc_a FROM pairs UNION SELECT doc_b FROM pairs)
"""


def properties(con, in_dir: str) -> dict:
    """Cost-driving properties of an input set, measured with DuckDB."""
    rows = {
        t: con.execute(f"SELECT COUNT(*) FROM '{in_dir}/{t}.parquet'").fetchone()[0]
        for t in TABLES
    }
    order_dates = con.execute(
        f"SELECT COUNT(DISTINCT CAST(o_orderdate AS DATE)) FROM '{in_dir}/orders.parquet'"
    ).fetchone()[0]
    event_dates = con.execute(
        f"SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM '{in_dir}/events.parquet'"
    ).fetchone()[0]
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW documents AS SELECT * FROM '{in_dir}/documents.parquet'"
    )
    neardup_docs = con.execute(NEARDUP_SQL).fetchone()[0]
    return {
        "rows": rows,
        "order_dates": order_dates,
        "event_dates": event_dates,
        "neardup_doc_share": round(neardup_docs / rows["documents"], 4),
        "input_bytes": sum(
            os.path.getsize(os.path.join(in_dir, f"{t}.parquet")) for t in TABLES
        ),
    }


def check_invariants(props: dict) -> None:
    """Raise :class:`InvariantError` when ``props`` drift from the
    targets derived from the sf0.1 source."""
    problems = []
    for t, n in target_rows().items():
        if props["rows"][t] != n:
            problems.append(f"{t}: {props['rows'][t]} rows, expected {n}")
    if props["order_dates"] != ORDER_DATES:
        problems.append(f"order dates: {props['order_dates']}, expected {ORDER_DATES}")
    if props["event_dates"] != EVENT_DATES:
        problems.append(f"event dates: {props['event_dates']}, expected {EVENT_DATES}")
    drift = abs(props["neardup_doc_share"] - SOURCE_SF01["neardup_doc_share"])
    if drift > NEARDUP_TOLERANCE:
        problems.append(
            f"near-duplicate share {props['neardup_doc_share']} drifts "
            f"{drift:.4f} from the source's {SOURCE_SF01['neardup_doc_share']:.4f}"
        )
    if problems:
        raise InvariantError("; ".join(problems))
