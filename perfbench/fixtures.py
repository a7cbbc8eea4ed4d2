"""Deterministic generator for the catalog's star-schema and LLM tables.

Writes one parquet file per table with the schemas of FIXTURES.md section 3
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings). Every value is a pure function of the row number
and a fixed data seed, computed by DuckDB and written by pyarrow (the
writer the catalog's test tables come from, so the parquet physical types
match: TIMESTAMP(MICROS, not UTC-adjusted), 3-level float lists).

`scale` multiplies the sf1 row counts, as in the catalog's sfX.Y dirs.
"""
import os

import duckdb
import pyarrow.parquet as pq

DATA_SEED = 42

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("row the query stream fast spark line small customer group key agg "
         "scan slow table part a merge window order column join vector value "
         "hash batch sort data big filter").split()


def _u(expr, salt):
    """SQL for a uniform [0, 1) draw keyed by (row expr, salt)."""
    return f"((hash({expr}, {DATA_SEED}, {salt}) % 1000003)::DOUBLE / 1000003)"


def _pick(expr, salt, values):
    lst = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{lst}[1 + floor({_u(expr, salt)} * {len(values)})::INT]"


def _tables(scale):
    n_cust = max(10, int(150000 * scale))
    n_supp = max(5, int(10000 * scale))
    n_part = max(10, int(200000 * scale))
    n_ord = max(20, int(1500000 * scale))
    n_li = max(50, int(6000000 * scale))
    n_ev = max(20, int(1000000 * scale))
    n_doc = max(20, int(50000 * scale))
    n_emb = max(20, int(50000 * scale))
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    return {
        "region": """SELECT i::INT AS r_regionkey,
              ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1]
                AS r_name FROM range(5) t(i)""",
        "nation": """SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
              (i % 5)::INT AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i::BIGINT AS c_custkey,
              'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
              floor({_u('i', 1)} * 25)::INT AS c_nationkey,
              round(-999.99 + {_u('i', 2)} * 10999.98, 2) AS c_acctbal,
              {_pick('i', 3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE',
                              'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey,
              'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
              floor({_u('i', 1)} * 25)::INT AS s_nationkey,
              round(-999.99 + {_u('i', 2)} * 10999.98, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
              {_pick('i', 1, ['small', 'large', 'red', 'blue', 'hot', 'cold',
                              'old', 'new'])} || ' ' ||
              {_pick('i', 2, ['bolt', 'gear', 'anvil', 'widget', 'rod',
                              'plate', 'ring', 'gizmo'])} AS p_name,
              'Brand#' || (1 + floor({_u('i', 3)} * 25)::INT) AS p_brand,
              {_pick('i', 4, ['ECONOMY', 'STANDARD', 'LARGE', 'PROMO',
                              'SMALL', 'MEDIUM'])} AS p_type,
              (1 + floor({_u('i', 5)} * 50))::INT AS p_size,
              round(900.0 + (i % 1000) * 0.1, 1) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey,
              floor({_u('i', 1)} * {n_cust})::BIGINT AS o_custkey,
              {_pick('i', 2, ['F', 'O', 'P'])} AS o_orderstatus,
              round(1000.0 + {_u('i', 3)} * 499000.0, 2) AS o_totalprice,
              TIMESTAMP '1995-01-01' + to_days(floor({_u('i', 4)} * 2404)::INT)
                AS o_orderdate,
              {_pick('i', 5, ['1-URGENT', '2-HIGH', '3-MEDIUM',
                              '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT floor({_u('i', 1)} * {n_ord})::BIGINT AS l_orderkey,
              floor({_u('i', 2)} * {n_part})::BIGINT AS l_partkey,
              floor({_u('i', 3)} * {n_supp})::BIGINT AS l_suppkey,
              (1 + floor({_u('i', 4)} * 7))::INT AS l_linenumber,
              (1 + floor({_u('i', 5)} * 50))::DOUBLE AS l_quantity,
              round(900.0 + {_u('i', 6)} * 104100.0, 2) AS l_extendedprice,
              floor({_u('i', 7)} * 11) / 100.0 AS l_discount,
              floor({_u('i', 8)} * 9) / 100.0 AS l_tax,
              {_pick('i', 9, ['A', 'N', 'R'])} AS l_returnflag,
              {_pick('i', 10, ['F', 'O'])} AS l_linestatus,
              TIMESTAMP '1995-01-02' + to_days(floor({_u('i', 11)} * 2498)::INT)
                AS l_shipdate
            FROM range({n_li}) t(i)""",
        "events": f"""SELECT i::BIGINT AS event_id,
              TIMESTAMP '2024-01-01' + to_microseconds(
                floor((i + {_u('i', 1)}) * {2592000 * 1000000 // n_ev})::BIGINT)
                AS ts,
              floor({_u('i', 2)} * 150)::BIGINT AS user_id,
              {_pick('i', 3, ['click', 'view', 'error', 'signup',
                              'purchase'])} AS event_type,
              round(0.01 - 50.0 * ln(1.0 - {_u('i', 4)} * 0.9999), 2) AS value,
              '{{"k": ' || floor({_u('i', 5)} * 100)::INT || '}}' AS props
            FROM range({n_ev}) t(i)""",
        # ~5% of documents repeat an earlier document's text plus a "dup"
        # marker: the near-duplicate population the dedup operators hunt
        "documents": f"""WITH base AS (
              SELECT i, array_to_string([{words}[1 + floor({_u('i * 131 + j', 1)}
                  * {len(WORDS)})::INT] FOR j IN range(
                  10 + floor({_u('i', 2)} * 90)::INT)], ' ') AS text
              FROM range({n_doc}) t(i))
            SELECT b.i::BIGINT AS doc_id,
              CASE WHEN {_u('b.i', 3)} < 0.05 AND b.i > 0
                THEN s.text || ' dup' ELSE b.text END AS text,
              {_pick('b.i', 4, ['en', 'en', 'en', 'zh', 'de', 'fr', 'es'])}
                AS lang,
              'src' || (b.i % 20) AS source,
              length(CASE WHEN {_u('b.i', 3)} < 0.05 AND b.i > 0
                THEN s.text || ' dup' ELSE b.text END)::BIGINT AS n_chars
            FROM base b JOIN base s
              ON s.i = floor({_u('b.i', 5)} * greatest(b.i, 1))::BIGINT
            ORDER BY doc_id""",
        # unit-norm 64-d gaussian vectors (Box-Muller over hashed uniforms)
        "embeddings": f"""WITH g AS (
              SELECT i, [sqrt(-2.0 * ln(1.0 - {_u('i * 64 + j', 1)} * 0.999999))
                  * cos(2 * pi() * {_u('i * 64 + j', 2)}) FOR j IN range(64)] AS v
              FROM range({n_emb}) t(i))
            SELECT i::BIGINT AS vec_id,
              [(x / sqrt(list_sum([y * y FOR y IN v])))::FLOAT FOR x IN v]
                AS embedding,
              floor({_u('i', 3)} * 10)::INT AS label
            FROM g ORDER BY vec_id""",
    }


def generate(out_dir, scale):
    """Write every table under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # one thread: deterministic row order
    for name, sql in _tables(scale).items():
        pq.write_table(con.execute(sql).fetch_arrow_table(),
                       os.path.join(out_dir, f"{name}.parquet"))
    con.close()
