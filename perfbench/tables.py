"""Seeded test tables for the analytics_scan workload.

Lands region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names
and types of the engine's test data, at scale factor `sf` (lineitem is
6M x sf rows). Every value is a hash of (seed, row, column), so the same
seed gives the same tables.
"""
import duckdb

WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
         "filter", "small", "slow", "merge", "order", "vector", "line", "data",
         "table", "agg", "value", "key", "stream", "window", "spark", "a",
         "group", "part", "big", "sort", "query", "fast", "the"]


def _sql_list(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def land(seed, sf, out_dir):
    """Write every table under out_dir; returns {table: rows}."""
    n = lambda base: max(1, round(base * sf))  # noqa: E731
    cust, supp, part, orders, line = (n(150000), n(10000), n(200000),
                                      n(1500000), n(6000000))
    events, docs, vecs = n(1000000), max(500, n(50000)), max(500, n(20000))

    def u(salt, m):
        return f"(hash({seed}, i, '{salt}') % {m})::BIGINT"

    def pick(salt, xs):
        return f"{_sql_list(xs)}[1 + {u(salt, len(xs))}]"

    def money(salt, lo, span):
        return f"({u(salt, span * 100)} / 100.0 + {lo})"

    def day(salt, start, days):
        return f"(DATE '{start}' + {u(salt, days)}::INTEGER)::TIMESTAMP"

    tables = {
        "region": (5, f"""SELECT i::INTEGER AS r_regionkey,
            {_sql_list(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}[i + 1]
            AS r_name"""),
        "nation": (25, """SELECT i::INTEGER AS n_nationkey,
            'NATION_' || i AS n_name, (i % 5)::INTEGER AS n_regionkey"""),
        "customer": (cust, f"""SELECT i AS c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            {u('n', 25)}::INTEGER AS c_nationkey,
            {money('b', -999.0, 10999)} AS c_acctbal,
            {pick('s', ['MACHINERY', 'AUTOMOBILE', 'HOUSEHOLD', 'BUILDING',
                        'FURNITURE'])} AS c_mktsegment"""),
        "supplier": (supp, f"""SELECT i AS s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            {u('n', 25)}::INTEGER AS s_nationkey,
            {money('b', -999.0, 10999)} AS s_acctbal"""),
        "part": (part, f"""SELECT i AS p_partkey,
            {pick('c', ['red', 'small', 'green', 'blue', 'large'])} || ' ' ||
            {pick('t', ['ring', 'widget', 'bolt', 'gear', 'valve'])} AS p_name,
            'Brand#' || ({u('b', 25)} + 1) AS p_brand,
            {pick('y', ['ECONOMY', 'STANDARD', 'PROMO', 'LARGE', 'SMALL',
                        'MEDIUM'])} AS p_type,
            ({u('z', 50)} + 1)::INTEGER AS p_size,
            900.0 + (i % 1000) / 10.0 AS p_retailprice"""),
        "orders": (orders, f"""SELECT i AS o_orderkey,
            {u('c', cust)} AS o_custkey,
            {pick('s', ['P', 'O', 'F'])} AS o_orderstatus,
            {money('p', 1000.0, 499000)} AS o_totalprice,
            {day('d', '1995-01-01', 2404)} AS o_orderdate,
            {pick('r', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                        '5-LOW'])} AS o_orderpriority"""),
        "lineitem": (line, f"""SELECT {u('o', orders)} AS l_orderkey,
            {u('p', part)} AS l_partkey, {u('s', supp)} AS l_suppkey,
            ({u('l', 7)} + 1)::INTEGER AS l_linenumber,
            ({u('q', 50)} + 1)::DOUBLE AS l_quantity,
            {money('e', 900.0, 99000)} AS l_extendedprice,
            {u('i', 11)} / 100.0 AS l_discount,
            {u('x', 9)} / 100.0 AS l_tax,
            {pick('f', ['A', 'N', 'R'])} AS l_returnflag,
            {pick('t', ['O', 'F'])} AS l_linestatus,
            {day('d', '1995-01-02', 2498)} AS l_shipdate"""),
        "events": (events, f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(
              (i * (2592000000000 // {events}) + {u('t', 1000000)})::BIGINT) AS ts,
            {u('u', max(15, events // 66))} AS user_id,
            {pick('e', ['click', 'signup', 'error', 'view', 'purchase'])}
              AS event_type,
            {u('v', 49001)} / 100.0 + 0.01 AS value,
            '{{"k": ' || {u('k', 100)} || '}}' AS props"""),
        "documents": (docs, f"""SELECT doc_id, text,
            {pick('l', ['en', 'en', 'en', 'de', 'fr', 'es', 'zh'])} AS lang,
            'src' || {u('s', 20)} AS source, length(text)::BIGINT AS n_chars
            FROM (SELECT i, i AS doc_id, array_to_string(list_transform(
              range({u('n', 80)} + 8),
              j -> {_sql_list(WORDS)}[1 + (hash({seed}, i, j) % {len(WORDS)})::BIGINT]),
              ' ') AS text FROM src)"""),
        "embeddings": (vecs, f"""SELECT i AS vec_id,
            list_transform(range(64), j ->
              (((hash({seed}, i, j, 'e') % 2001)::INTEGER - 1000) / 4000.0)::FLOAT)
              AS embedding,
            {u('y', 10)}::INTEGER AS label"""),
    }
    con = duckdb.connect()
    con.sql("SET threads=4")
    rows = {}
    for name, (count, select) in tables.items():
        body = select if "FROM src" in select else select + " FROM src"
        con.sql(f"""COPY (WITH src AS (SELECT range AS i FROM range({count}))
                    {body} ORDER BY 1)
                    TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)""")
        rows[name] = count
    con.close()
    return rows
