"""Expected rows of each benchmark query, from its DuckDB twin.

Runs `SparkEntry.oracleSql` (dumped by the client's `dump-oracles` mode)
against one data version's parquet files in the local DuckDB and writes
`<out>/<query>.json` = {"columns": [...], "rows": [[...], ...]}; the
client compares the engine's rows with it, canonicalised the way
`tools/compare_oracle.py` does.

One query gets an equivalent formulation instead of its twin's text:
q36's twin enumerates the full transitive closure of the user graph
(35 s per data version on 4 cores at sf 0.1), so its components are
computed here by min-label propagation over the same `user_edges` CTE to
a fixpoint: both give every user the least id reachable over the
undirected edges. `selftest.py` checks the two agree.
"""
import decimal
import glob
import json
import os

import duckdb


def _plain(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def _wcc(con, user_edges_cte):
    con.sql(f"CREATE OR REPLACE TEMP TABLE und AS WITH {user_edges_cte} "
            "SELECT src, dst FROM user_edges UNION SELECT dst, src FROM user_edges")
    con.sql("CREATE OR REPLACE TEMP TABLE lab AS "
            "SELECT DISTINCT user_id AS id, user_id AS comp FROM events")
    while True:
        con.sql("""CREATE OR REPLACE TEMP TABLE nxt AS
                   SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
                   FROM lab l LEFT JOIN und e ON e.dst = l.id
                   LEFT JOIN lab n ON n.id = e.src
                   GROUP BY l.id, l.comp""")
        changed = con.sql("SELECT count(*) FROM nxt JOIN lab USING (id) "
                          "WHERE nxt.comp <> lab.comp").fetchone()[0]
        con.sql("CREATE OR REPLACE TEMP TABLE lab AS SELECT * FROM nxt")
        if changed == 0:
            return con.sql("SELECT id, CAST(comp AS BIGINT) AS component FROM lab")


def expected(data_dirs, queries, dump, out_dir, threads=4, twin_only=False):
    """Writes the expected rows of `queries` into `out_dir`, skipping those
    already there (expected rows are cached per data version). A table is
    read from the last of `data_dirs` that holds it."""
    todo = [q for q in queries
            if not os.path.exists(os.path.join(out_dir, f"{q}.json"))]
    if not todo:
        return
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"SET threads TO {threads}")
    for d in data_dirs:
        for p in glob.glob(os.path.join(d, "*.parquet")):
            con.sql(f"CREATE OR REPLACE VIEW {os.path.basename(p)[:-8]} AS "
                    f"SELECT * FROM '{p}'")
    for q in todo:
        if q == "q36_user_wcc" and not twin_only:
            rel = _wcc(con, dump["user_edges_cte"])
        else:
            rel = con.sql(dump["oracles"][q])
        cols = list(rel.columns)
        rows = [[_plain(v) for v in r] for r in rel.fetchall()]
        path = os.path.join(out_dir, f"{q}.json")
        with open(path + ".tmp", "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
        os.rename(path + ".tmp", path)
    con.close()
