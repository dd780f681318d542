"""Output checks for the benchmark, run with DuckDB over the harness output.

Query ops: the warm-up pass wrote each result as parquet; it must match
the program's own DuckDB oracle SQL run on the same inputs. Rows are
compared as an order-insensitive digest, with floats rounded to
FLOAT_DIGITS significant digits; when the digests differ, values are
compared within REL_TOL before the op is failed, so a float that sits
on a rounding boundary is not reported as a mismatch.

warehouse_load: invariants over the written files (see `load_checks`).
"""
import glob
import hashlib
import math
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq

FLOAT_DIGITS = 9
REL_TOL = 1e-9
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
OPEN_END = "2099-12-31"


def connect(data):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def norm(v):
    """A value as a hashable, engine-neutral Python object."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        if isinstance(v, int) and abs(v) >= 2 ** 53:
            return v
        if math.isnan(f):
            return "NaN"
        if f.is_integer() and abs(f) < 2 ** 53:
            return int(f)
        return float(f"{f:.{FLOAT_DIGITS}g}")
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def rows_of(columns, records):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rows = [tuple(norm(r[i]) for i in order) for r in records]
    return [columns[i] for i in order], sorted(rows, key=repr)


def digest(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=REL_TOL)
        except (TypeError, ValueError):
            return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def read_output(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise ValueError(f"no parquet output under {path}")
    table = pq.read_table(files)
    return table.column_names, [tuple(r.values()) for r in table.to_pylist()]


def query_check(con, out, name, sql):
    """(ok, rows, message) for one query op against its oracle SQL."""
    cols, recs = read_output(f"{out}/{name}")
    s_cols, s_rows = rows_of(cols, recs)
    cur = con.execute(sql)
    d_cols, d_rows = rows_of([c[0] for c in cur.description], cur.fetchall())
    if s_cols != d_cols:
        return False, len(s_rows), f"columns {s_cols} != oracle {d_cols}"
    if len(s_rows) != len(d_rows):
        return False, len(s_rows), f"rows {len(s_rows)} != oracle {len(d_rows)}"
    ds, dd = digest(s_rows), digest(d_rows)
    if ds == dd or all(close(a, b) for a, b in zip(s_rows, d_rows)):
        return True, len(s_rows), f"{len(s_rows)} rows, digest {ds}"
    bad = next(i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if not close(a, b))
    return False, len(s_rows), f"row {bad}: {s_rows[bad]} != oracle {d_rows[bad]}"


def load_checks(con, data, out):
    """[(op, ok, message)] for the warehouse_load invariants."""
    def one(sql):
        return con.execute(sql).fetchone()[0]

    def src(name):
        return f"'{out}/{name}/*.parquet'"

    checks = []

    def expect(op, what, got, want):
        checks.append((op, got == want, f"{what}: {got} (expected {want})"))

    expect("fact_order_lines", "rows = lineitem rows",
           one(f"SELECT count(*) FROM {src('fact_order_lines')}"),
           one("SELECT count(*) FROM lineitem"))
    expect("dim_customer", "rows = customer rows",
           one(f"SELECT count(*) FROM {src('dim_customer')}"), one("SELECT count(*) FROM customer"))
    expect("dim_product", "rows = part rows",
           one(f"SELECT count(*) FROM {src('dim_product')}"), one("SELECT count(*) FROM part"))
    expect("dim_seller", "rows = supplier rows",
           one(f"SELECT count(*) FROM {src('dim_seller')}"), one("SELECT count(*) FROM supplier"))
    expect("fact_review", "rows = events rows",
           one(f"SELECT count(*) FROM {src('fact_review')}"), one("SELECT count(*) FROM events"))
    expect("fact_payment", "orders whose payments sum to the order total",
           one(f"""SELECT count(*) FROM (
                     SELECT order_id, sum(payment_value) AS paid
                     FROM {src('fact_payment')} GROUP BY order_id) p
                   JOIN orders o ON o.o_orderkey = p.order_id
                   WHERE abs(p.paid - o.o_totalprice) < 0.005"""),
           one("SELECT count(*) FROM orders"))

    con.execute(f"""CREATE OR REPLACE TEMP VIEW snaps AS
        SELECT customer_id, segment, acctbal, '2020-01-01' AS snap
        FROM {src('dim_customer')}
        UNION ALL SELECT * FROM '{data}/scd_batches.parquet'""")
    expect("scd2_rebuild", "keys with exactly one open row",
           one(f"""SELECT count(*) FROM (
                     SELECT customer_id FROM {src('scd2_rebuild')}
                     GROUP BY customer_id
                     HAVING count(*) FILTER (WHERE effective_to = '{OPEN_END}') = 1)"""),
           one("SELECT count(*) FROM customer"))
    expect("scd2_rebuild", "versions = changed snapshots",
           one(f"SELECT count(*) FROM {src('scd2_rebuild')}"),
           one("""SELECT count(*) FROM (
                    SELECT lag(snap) OVER w IS NULL
                           OR segment IS DISTINCT FROM lag(segment) OVER w
                           OR acctbal IS DISTINCT FROM lag(acctbal) OVER w AS keep
                    FROM snaps WINDOW w AS (PARTITION BY customer_id ORDER BY snap))
                  WHERE keep"""))

    inc = f"'{data}/scd1_incoming.parquet'"
    expect("scd1_upsert", "rows = current rows + new keys",
           one(f"SELECT count(*) FROM {src('scd1_upsert')}"),
           one(f"""SELECT (SELECT count(*) FROM {src('dim_customer')}) + count(*)
                   FROM {inc} WHERE customer_id NOT IN
                     (SELECT customer_id FROM {src('dim_customer')})"""))
    expect("scd1_upsert", "updated rows = incoming rows",
           one(f"SELECT count(*) FROM {src('scd1_upsert')} WHERE was_updated"),
           one(f"SELECT count(*) FROM {inc}"))

    expect("cdc_apply", "rows = base keys merged with their latest op",
           one(f"SELECT count(*) FROM {src('cdc_apply')}"),
           one(f"""WITH latest AS (
                     SELECT customer_id, op FROM (
                       SELECT customer_id, op, row_number() OVER
                         (PARTITION BY customer_id ORDER BY op_seq DESC) AS rn
                       FROM '{data}/cdc_ops.parquet') WHERE rn = 1)
                   SELECT count(*) FROM {src('dim_customer')} b
                   FULL OUTER JOIN latest l ON b.customer_id = l.customer_id
                   WHERE l.op IS NULL OR l.op <> 'D'"""))

    cols, recs = read_output(f"{out}/readback")
    _, got = rows_of(cols, recs)
    cur = con.execute("""
        SELECT CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) + 1
                    AS INTEGER) AS time_key,
               count(*) AS lines, sum(l_extendedprice) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1""")
    _, want = rows_of([c[0] for c in cur.description], cur.fetchall())
    same = len(got) == len(want) and all(close(a, b) for a, b in zip(got, want))
    checks.append(("readback", same,
                   f"revenue per day over the written fact: {len(got)} days (expected {len(want)})"))
    return checks
