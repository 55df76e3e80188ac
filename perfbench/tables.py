"""Seeded star-schema tables for the benchmark, and the DuckDB oracle check.

`generate` writes region, nation, customer, part, orders and lineitem as one
parquet file each, with the column names and types of the program's
TPC-H-style test tables, at `sf` scale (lineitem ~ 6M * sf rows). Every
value is a hash of (row, column, seed), so the same seed gives the same
bytes on any machine and thread count.

`check_results` runs each query's oracle SQL under DuckDB over the same
tables and compares it with the result parquet the program wrote.
"""
import json
import os

import duckdb

TABLES = ("region", "nation", "customer", "part", "orders", "lineitem")


def _h(seed, col):
    """SQL for a non-negative 62-bit hash of the current row `i` and a column tag."""
    return f"CAST(hash(i, {int(seed)}, {col}) >> 2 AS BIGINT)"


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150000 * sf))
    n_part = max(20, int(200000 * sf))
    n_orders = max(100, int(1500000 * sf))
    h = lambda c: _h(seed, c)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    sql = {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
              ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
              CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""SELECT CAST(i AS BIGINT) AS c_custkey,
              'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
              CAST({h(1)} % 25 AS INTEGER) AS c_nationkey,
              CAST({h(2)} % 1100000 AS DOUBLE) / 100.0 - 1000.0 AS c_acctbal,
              ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][{h(3)} % 5 + 1] AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "part": f"""SELECT CAST(i AS BIGINT) AS p_partkey,
              ['small', 'large', 'red', 'blue', 'green', 'steel'][{h(1)} % 6 + 1] || ' ' ||
                ['ring', 'widget', 'bolt', 'gear', 'panel'][{h(2)} % 5 + 1] AS p_name,
              'Brand#' || ({h(3)} % 25 + 1) AS p_brand,
              ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'][{h(4)} % 6 + 1] AS p_type,
              CAST({h(5)} % 50 + 1 AS INTEGER) AS p_size,
              CAST(90000 + i % 1000 * 10 AS DOUBLE) / 100.0 AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT CAST(i AS BIGINT) AS o_orderkey,
              CAST({h(1)} % {n_cust} AS BIGINT) AS o_custkey,
              ['F', 'O', 'P'][{h(2)} % 3 + 1] AS o_orderstatus,
              CAST(100000 + {h(3)} % 49900000 AS DOUBLE) / 100.0 AS o_totalprice,
              CAST(DATE '1995-01-01' + CAST({h(4)} % 2405 AS INTEGER) AS TIMESTAMP) AS o_orderdate,
              ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][{h(5)} % 5 + 1]
                AS o_orderpriority,
              CAST({h(6)} % 7 + 1 AS INTEGER) AS n_lines
            FROM range({n_orders}) t(i)""",
    }
    for name in ("region", "nation", "customer", "part"):
        con.execute(f"COPY ({sql[name]}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
    con.execute(f"CREATE TEMP TABLE o AS {sql['orders']}")
    con.execute(f"""COPY (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority FROM o ORDER BY o_orderkey)
        TO '{out_dir}/orders.parquet' (FORMAT PARQUET)""")
    li = f"""SELECT o_orderkey AS l_orderkey,
          CAST({h(11)} % {n_part} AS BIGINT) AS l_partkey,
          CAST({h(12)} % {max(10, int(10000 * sf))} AS BIGINT) AS l_suppkey,
          CAST(ln AS INTEGER) AS l_linenumber,
          CAST({h(13)} % 50 + 1 AS DOUBLE) AS l_quantity,
          CAST(90000 + {h(14)} % 10410000 AS DOUBLE) / 100.0 AS l_extendedprice,
          CAST({h(15)} % 11 AS DOUBLE) / 100.0 AS l_discount,
          CAST({h(16)} % 9 AS DOUBLE) / 100.0 AS l_tax,
          ['A', 'N', 'R'][{h(17)} % 3 + 1] AS l_returnflag,
          ['F', 'O'][{h(18)} % 2 + 1] AS l_linestatus,
          CAST(DATE '1995-01-01' + CAST({h(19)} % 2500 AS INTEGER) AS TIMESTAMP) AS l_shipdate
        FROM (SELECT o_orderkey, ln, o_orderkey * 8 + ln AS i
              FROM o, range(1, 8) r(ln) WHERE ln <= n_lines)
        ORDER BY l_orderkey, l_linenumber"""
    con.execute(f"COPY ({li}) TO '{out_dir}/lineitem.parquet' (FORMAT PARQUET)")
    con.close()


def _normalize(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def check_results(table_dir, results_dir):
    """Mismatch messages between each query's Spark result and its oracle."""
    oracle = json.load(open(f"{results_dir}/oracle_sql.json"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    errors = []
    for name, sql in sorted(oracle.items()):
        try:
            got = _normalize(con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'").df())
            want = _normalize(con.sql(sql).df())
        except Exception as e:  # a query that cannot run is a mismatch
            errors.append(f"{name}: {e}")
            continue
        if list(got.columns) != list(want.columns):
            errors.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want):
            errors.append(f"{name}: {len(got)} rows, oracle {len(want)}")
        elif list(map(str, got.dtypes)) != list(map(str, want.dtypes)):
            errors.append(f"{name}: dtypes {list(got.dtypes)} != {list(want.dtypes)}")
        elif not got.equals(want):
            errors.append(f"{name}: values differ from the oracle")
    con.close()
    return errors
