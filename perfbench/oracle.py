"""DuckDB oracle for the star_olap workload.

Each op kind's result is recomputed in DuckDB from the same generated parquet
files and rendered exactly as ``perfbench.Main.digest`` renders Spark rows:
each row's values joined by ``|`` (``null`` for NULL, integers and strings as
text), rows sorted, lines joined by newlines, SHA-256, first 12 bytes in hex.
"""
import hashlib

import duckdb

from gen import DAYS

SQL = {
    "scan_filter": """
        SELECT sum(l_extprice_cents * l_discount_pct), count(*) FROM lineitem
        WHERE l_shipday BETWEEN 365 AND 729 AND l_discount_pct BETWEEN 5 AND 7 AND l_quantity < 24""",
    "groupby": f"""
        SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extprice_cents),
               sum(l_extprice_cents * (100 - l_discount_pct)), count(*), max(l_orderkey)
        FROM lineitem WHERE l_shipday <= {DAYS - 60} GROUP BY ALL""",
    "join_groupby": f"""
        SELECT o_custkey, sum(l_extprice_cents * (100 - l_discount_pct)) AS revenue, count(*)
        FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderday < {DAYS // 2} AND l_shipday > {DAYS // 2}
        GROUP BY o_custkey ORDER BY revenue DESC, o_custkey LIMIT 20""",
    "sort_topk": """
        SELECT l_orderkey, l_linenumber, l_extprice_cents FROM lineitem
        ORDER BY l_extprice_cents DESC, l_orderkey, l_linenumber LIMIT 50""",
    "topk_group": """
        WITH r AS (SELECT o_orderkey, o_totalprice_cents, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice_cents DESC, o_orderkey) AS rn FROM orders)
        SELECT count(*), sum(o_orderkey), sum(o_totalprice_cents) FROM r WHERE rn <= 3""",
    "asof_join": """
        SELECT sum(l.l_quantity * p.price_cents), count(*)
        FROM lineitem l ASOF JOIN prices p ON l.l_partkey = p.l_partkey AND l.l_shipday >= p.eff_day""",
}

TABLES = ["nation", "customer", "orders", "lineitem", "part", "prices"]


def digest(rows):
    lines = sorted("|".join("null" if v is None else str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).digest()[:12].hex()


def expected_digests(data_dir, kinds):
    """Digest of the DuckDB result of every op kind in ``kinds``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}/*.parquet')")
        return {k: digest(con.execute(SQL[k]).fetchall()) for k in kinds if k in SQL}
    finally:
        con.close()
