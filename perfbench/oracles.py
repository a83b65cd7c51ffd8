"""Program-independent references for the benchmark's output checks.

Every reference is computed with DuckDB over the generated input files,
once per seed, before anything is timed: the registry's oracle SQL
(with the seeded dashboard windows substituted) for the gold tables,
dashboard requests and curation jobs, and a fold of the incremental
workload's appends and upserts for the Delta table.

Results are compared as order-insensitive multisets of rows with
columns sorted by name; doubles compare at full precision, dates in
ISO form (the same normalization the repository's differential tests
use).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import re

from .inputs import TABLES

GOLD_ORACLES = {
    "daily_metrics": "gold_daily_metrics",
    "product_metrics": "gold_product_metrics",
    "product_funnel": "gold_product_funnel",
    "session_metrics": "gold_session_metrics_attrs",
    "customer_360": "gold_customer_360",
}

# Silver row counts, restated over the raw inputs (the silver models'
# null-key and positive-quantity filters).
SILVER_COUNT_SQL = {
    "customers": "SELECT COUNT(*) FROM customer WHERE c_custkey IS NOT NULL",
    "orders": "SELECT COUNT(*) FROM orders WHERE o_orderkey IS NOT NULL",
    "order_items": (
        "SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL "
        "AND CAST(TRUNC(l_quantity) AS INT) > 0"
    ),
    "events": "SELECT COUNT(*) FROM events WHERE event_id IS NOT NULL",
    "products": "SELECT COUNT(*) FROM part WHERE p_partkey IS NOT NULL",
}

# The registry's dashboard oracles carry the reference queries' default
# parameters as literals; each request substitutes its seeded values.
DASH_DEFAULTS = {
    "product_performance": ("dash_product_performance", "1996-01-01", "1997-12-31", None),
    "sales_overview": ("dash_sales_overview", "1996-01-01", "1997-12-31", None),
    "site_funnel": ("dash_site_funnel", "2024-01-01", "2024-01-31", None),
    "customer_360": ("dash_customer_360", None, None, 1000),
}


def connect(in_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    return con


def _cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float):
        return "␀" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    return str(v)


def normalize(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """Rows as sorted tuples of normalized cells, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    return tuple(columns[i] for i in order), out


def digest(columns: list[str], rows) -> str:
    cols, norm = normalize(columns, rows)
    h = hashlib.sha256(repr(cols).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()


def sql_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def registry_sql(name: str) -> str:
    from ecommerce_lakehouse_platform_spark import registry

    return registry.ORACLES[name]


def dashboard_sql(name: str, params: dict) -> str:
    oracle, start, end, limit = DASH_DEFAULTS[name]
    sql = registry_sql(oracle)
    if start is not None:
        # one pass, so a seeded start equal to the default end is not
        # rewritten a second time
        new = {start: params["start_date"], end: params["end_date"]}
        sql = re.sub(
            r"DATE '(\d{4}-\d{2}-\d{2})'",
            lambda m: f"DATE '{new.get(m.group(1), m.group(1))}'",
            sql,
        )
    if limit is not None:
        sql = sql.replace(f"LIMIT {limit}", f"LIMIT {params['top_n']}")
    return sql


def medallion_reference(con) -> dict:
    """Silver and gold row counts plus a digest of every gold table."""
    silver = {t: con.execute(q).fetchone()[0] for t, q in SILVER_COUNT_SQL.items()}
    gold = {}
    for table, oracle in GOLD_ORACLES.items():
        cols, rows = sql_result(con, registry_sql(oracle))
        gold[table] = {"columns": cols, "rows": len(rows), "digest": digest(cols, rows)}
    return {"silver_counts": silver, "gold": gold}


def request_reference(con, name: str, params: dict) -> str:
    cols, rows = sql_result(con, dashboard_sql(name, params))
    return digest(cols, rows)


def curation_reference(con, jobs: list[str]) -> dict[str, str]:
    return {job: digest(*sql_result(con, registry_sql(job))) for job in jobs}


class OrdersFold:
    """Reference state of the lakehouse workload's Delta orders table: the
    net effect of exactly-once appends and key upserts, kept as a map
    from order key (first column) to its row. ``append`` and ``upsert``
    return the net change they make, as normalized row -> +1/-1."""

    def __init__(self, columns: list[str]):
        self.columns = columns
        self.rows: dict[int, tuple] = {}

    def _norm(self, row: tuple) -> tuple:
        return normalize(self.columns, [row])[1][0]

    def append(self, rows: list[tuple]) -> dict[tuple, int]:
        diff: dict[tuple, int] = {}
        for r in rows:
            if r[0] in self.rows:
                raise ValueError(f"append of existing key {r[0]}")
            self.rows[r[0]] = r
            diff[self._norm(r)] = diff.get(self._norm(r), 0) + 1
        return diff

    def upsert(self, rows: list[tuple]) -> dict[tuple, int]:
        diff: dict[tuple, int] = {}
        for r in rows:
            old = self.rows.get(r[0])
            if old is not None:
                diff[self._norm(old)] = diff.get(self._norm(old), 0) - 1
            self.rows[r[0]] = r
            diff[self._norm(r)] = diff.get(self._norm(r), 0) + 1
        return diff

    def aggregate(self) -> tuple[int, str]:
        """(row count, exact total of the price column) — what the
        workload's snapshot read computes."""
        total = sum(decimal.Decimal(repr(r[3])) for r in self.rows.values())
        return len(self.rows), f"{total:.2f}"
