"""Data versions of the benchmark's input tables.

Version 0 is a reference data set shipped under `perfbench/data/sf<sf>`
(region, nation, customer, supplier, part, orders, lineitem, events),
read as is. A `refresh` round's version `k` rewrites the three tables the
round swaps (events, orders, lineitem) by relabelling their keys with
bijections seeded by (seed, k):

- events.user_id: the N users get ranks r in a seeded order, and new ids
  r + k for r < 50, r + k*N for the rest. A bijection onto the same ids
  would not do: the reference user graph is one component, so q36 would
  label every version with the same least id, and q110 would sketch the
  same id set, and a stale answer would pass. With these ids q36's label
  becomes k, q110 sees a mostly new id set, and q35, whose BFS sources are
  the ids below 50, keeps about as many sources (50 - k);
- orders.o_custkey over the customer keys;
- orders.o_orderkey and lineitem.l_orderkey, together, over the order keys;
- lineitem.l_partkey over the part keys.

Row order, row counts and every other column are kept. So the user graph
of each version is isomorphic to the reference one: the same edge count,
degree distribution and component sizes, under different ids. The other
keys stay inside the unswapped tables' key sets: only which key sits in
which row changes, and with it every query's rows.
"""
import hashlib
import os

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SWAPPED = ("events", "orders", "lineitem")
TABLES = ("region", "nation", "customer", "supplier", "part") + SWAPPED


def base_dir(sf):
    d = os.path.join(HERE, "data", f"sf{sf}")
    if not all(os.path.isfile(os.path.join(d, f"{t}.parquet")) for t in TABLES):
        raise FileNotFoundError(f"no reference data set for sf {sf} in {d}")
    return d


def digest(sf):
    """Digest of the reference data set and of this generator: it keys the
    cached versions and their expected rows."""
    h = hashlib.sha256()
    d = base_dir(sf)
    for p in [os.path.join(d, f"{t}.parquet") for t in TABLES] + [__file__]:
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _bijection(con, name, keys_sql, salt):
    """Temp table `name`(old, new) mapping each key of `keys_sql` to the key
    of the same rank in a seeded hash order."""
    con.sql(f"""CREATE TEMP TABLE {name} AS
      WITH k AS (SELECT DISTINCT k FROM ({keys_sql}) t(k) WHERE k IS NOT NULL)
      SELECT a.k AS old, b.k AS new
      FROM (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM k) a
      JOIN (SELECT k, row_number() OVER (ORDER BY hash(k, {salt}), k) AS rn
            FROM k) b USING (rn)""")


def _write(con, out, table, sql):
    path = os.path.join(out, f"{table}.parquet")
    pq.write_table(con.sql(sql).arrow(), path + ".tmp")
    os.rename(path + ".tmp", path)


def version(out, seed, k, sf):
    """Writes round `k`'s events, orders and lineitem for `seed` into `out`.
    One DuckDB thread: a run makes its versions in parallel threads."""
    src = base_dir(sf)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 1")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(src, t)}.parquet', file_row_number=true)")
    salt = int(seed) * 1_000_003 + int(k)
    con.sql(f"""CREATE TEMP TABLE m_user AS
      WITH u AS (SELECT user_id AS old, row_number() OVER (
                   ORDER BY hash(user_id, {salt}), user_id) - 1 AS r
                 FROM (SELECT DISTINCT user_id FROM events
                       WHERE user_id IS NOT NULL))
      SELECT old, CASE WHEN r < 50 THEN r + {int(k)}
                       ELSE r + {int(k)} * (SELECT count(*) FROM u) END AS new
      FROM u""")
    _bijection(con, "m_cust", "SELECT c_custkey FROM customer", salt + 1)
    _bijection(con, "m_order", "SELECT o_orderkey FROM orders", salt + 2)
    _bijection(con, "m_part", "SELECT p_partkey FROM part", salt + 3)
    _write(con, out, "events", """
      SELECT e.event_id, e.ts, u.new AS user_id, e.event_type,
             e.value, e.props
      FROM events e LEFT JOIN m_user u ON e.user_id = u.old
      ORDER BY e.file_row_number""")
    _write(con, out, "orders", """
      SELECT o.new AS o_orderkey, c.new AS o_custkey, r.o_orderstatus,
             r.o_totalprice, r.o_orderdate, r.o_orderpriority
      FROM orders r JOIN m_order o ON r.o_orderkey = o.old
      JOIN m_cust c ON r.o_custkey = c.old
      ORDER BY r.file_row_number""")
    _write(con, out, "lineitem", """
      SELECT o.new AS l_orderkey, p.new AS l_partkey, l.l_suppkey,
             l.l_linenumber, l.l_quantity, l.l_extendedprice, l.l_discount,
             l.l_tax, l.l_returnflag, l.l_linestatus, l.l_shipdate
      FROM lineitem l JOIN m_order o ON l.l_orderkey = o.old
      JOIN m_part p ON l.l_partkey = p.old
      ORDER BY l.file_row_number""")
    con.close()
