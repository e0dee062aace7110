"""Seeded input generators for the benchmark.

Every generator derives all of its randomness from (seed, stream name), so
the same seed writes byte-identical files and yields identical query texts.
The engine only ever sees what these functions write.
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng(seed, stream):
    """Independent generator per (seed, stream): adding a stream never
    shifts the values of another."""
    return np.random.Generator(np.random.PCG64([seed, zlib.crc32(stream.encode())]))


# ---------------------------------------------------------------------------
# Star-schema parquet tables (the layout graft.Tables loads: <dir>/<name>.parquet)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "hot", "old", "big", "dark"]
NOUNS = ["bolt", "widget", "ring", "plate", "rod", "anvil", "gear", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "de", "es", "zh"]
WORDS = ("a the row key agg scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query order "
         "big filter group stream vector").split()


def _money(g, lo, hi, n):
    return np.round(g.uniform(lo, hi, n) * 100) / 100


def _days(g, start, end, n):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + g.integers(0, span + 1, n)).astype("datetime64[us]")


def star_tables(seed, sf):
    """TPC-H-like tables plus events/documents/embeddings, scaled by sf
    (sf 0.01 = 60k lineitem rows). Returns {name: pyarrow.Table}."""
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users = int(1000000 * sf), int(15000 * sf)
    n_doc = n_vec = int(50000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    g = rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[g.integers(0, 5, n_cust)]})
    g = rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, n_supp)})
    g = rng(seed, "part")
    names = np.char.add(np.char.add(np.array(COLORS)[g.integers(0, 8, n_part)], " "),
                        np.array(NOUNS)[g.integers(0, 8, n_part)])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900 + (np.arange(n_part) % 1000) / 10})
    g = rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": _money(g, 1000, 500000, n_ord),
        "o_orderdate": _days(g, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[g.integers(0, 5, n_ord)]})
    g = rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(g, 900, 105000, n_line),
        "l_discount": g.integers(0, 11, n_line) / 100,
        "l_tax": g.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_line)],
        "l_shipdate": _days(g, "1995-01-02", "2001-11-04", n_line)})
    g = rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(g.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": pa.array(g.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[g.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(g.exponential(50, n_ev) * 100) / 100, 0.01),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    g = rng(seed, "documents")
    texts = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[g.integers(0, len(WORDS), int(g.integers(10, 100)))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[g.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    g = rng(seed, "embeddings")
    v = g.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, n_vec), pa.int32())})
    return t


def write_star(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# serve: reference-dialect query stream over the star tables
# ---------------------------------------------------------------------------
# Each template yields (dialect text, ANSI SQL for DuckDB, order) where order
# is None for an unordered result or (key positions, descending) for one the
# engine must return sorted. Literals are cast in SQL exactly as the dialect
# coerces them: to the referenced column's type. Literal ranges keep each
# filter's selectivity between about 20% and 80%, so that seeds differ in
# which rows a query returns more than in how many.

def _t_select_order(g):
    s, p = int(g.integers(10, 41)), round(float(g.uniform(920, 980)), 1)
    return (f'SELECT part.p_partkey,part.p_name,part.p_retailprice FROM part '
            f'WHERE part.p_size<"{s}",part.p_retailprice>"{p}" ORDERBY part.p_partkey',
            f"SELECT p_partkey, p_name, p_retailprice FROM part WHERE p_size < {s} "
            f"AND p_retailprice > CAST('{p}' AS DOUBLE) ORDER BY p_partkey",
            ([0], False))


def _t_join2(g):
    n, tp = int(g.integers(0, 25)), int(g.integers(100000, 400000))
    return (f'SELECT orders.o_orderkey,orders.o_totalprice,customer.c_name '
            f'FROM customer,orders WHERE customer.c_custkey=orders.o_custkey,'
            f'customer.c_nationkey="{n}",orders.o_totalprice>"{tp}" ORDERBY orders.o_orderkey',
            f"SELECT o_orderkey, o_totalprice, c_name FROM customer, orders "
            f"WHERE c_custkey = o_custkey AND c_nationkey = {n} "
            f"AND o_totalprice > CAST('{tp}' AS DOUBLE) ORDER BY o_orderkey",
            ([0], False))


def _t_join3(g):
    seg, pri = SEGMENTS[int(g.integers(0, 5))], PRIORITIES[int(g.integers(0, 5))]
    q = int(g.integers(10, 41))
    return (f'SELECT lineitem.l_orderkey,lineitem.l_linenumber,lineitem.l_quantity,customer.c_name '
            f'FROM customer,orders,lineitem WHERE customer.c_custkey=orders.o_custkey,'
            f'orders.o_orderkey=lineitem.l_orderkey,customer.c_mktsegment="{seg}",'
            f'orders.o_orderpriority="{pri}",lineitem.l_quantity>"{q}"',
            f"SELECT l_orderkey, l_linenumber, l_quantity, c_name FROM customer, orders, lineitem "
            f"WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND c_mktsegment = '{seg}' "
            f"AND o_orderpriority = '{pri}' AND l_quantity > CAST('{q}' AS DOUBLE)",
            None)


def _t_groupby(g):
    d, q = int(g.integers(3, 9)) / 100, int(g.integers(10, 41))
    return (f'SELECT lineitem.l_returnflag,lineitem.l_linestatus,SUM(lineitem.l_quantity),'
            f'AVG(lineitem.l_extendedprice),COUNT(lineitem.l_orderkey) FROM lineitem '
            f'WHERE lineitem.l_discount<"{d}",lineitem.l_quantity<"{q}" '
            f'GROUPBY lineitem.l_returnflag,lineitem.l_linestatus',
            f"SELECT l_returnflag, l_linestatus, SUM(l_quantity), AVG(l_extendedprice), "
            f"COUNT(l_orderkey) FROM lineitem WHERE l_discount < CAST('{d}' AS DOUBLE) "
            f"AND l_quantity < CAST('{q}' AS DOUBLE) GROUP BY l_returnflag, l_linestatus",
            None)


def _t_minmax(g):
    agg = ["MIN", "MAX"][int(g.integers(0, 2))]
    n, seg = int(g.integers(0, 25)), SEGMENTS[int(g.integers(0, 5))]
    where = f"c_nationkey = {n} AND c_mktsegment = '{seg}'"
    # reference quirk: non-aggregated columns come from the tuple(s) that
    # reach the extreme, deduplicated
    return (f'SELECT customer.c_name,{agg}(customer.c_acctbal) FROM customer '
            f'WHERE customer.c_nationkey="{n}",customer.c_mktsegment="{seg}"',
            f"SELECT DISTINCT c_name, m FROM customer, "
            f"(SELECT {agg}(c_acctbal) AS m FROM customer WHERE {where}) "
            f"WHERE {where} AND c_acctbal = m",
            None)


def _t_distinct_desc(g):
    s, p = int(g.integers(10, 41)), round(float(g.uniform(920, 980)), 1)
    return (f'SELECT DISTINCT part.p_brand,part.p_type FROM part '
            f'WHERE part.p_size>"{s}",part.p_retailprice<"{p}" ORDERBY part.p_brand,part.p_type DESC',
            f"SELECT DISTINCT p_brand, p_type FROM part WHERE p_size > {s} "
            f"AND p_retailprice < CAST('{p}' AS DOUBLE) ORDER BY p_brand DESC, p_type DESC",
            ([0, 1], True))


TEMPLATES = [_t_select_order, _t_join2, _t_join3, _t_groupby, _t_minmax, _t_distinct_desc]
# The traffic shape below is assumed, not measured: there is no query log of
# this engine or of the reference engine to fit it to.
# - TEMPLATE_WEIGHTS: close to even, so each shape weighs on the median. The
#   1-table, 2-way join and GROUPBY shapes get the most, the 3-way join and
#   DISTINCT + ORDERBY DESC a little less, and the whole-table MIN/MAX
#   quirk, a corner of the dialect, the least.
# - ZIPF_S = 1.0: the plain Zipf law. Measured request streams are often
#   flatter (0.64-0.83 in the web proxy traces of Breslau et al., "Web
#   Caching and Zipf-like Distributions", INFOCOM 1999), so this leans
#   towards more repeats than those traces show.
# - POOL_SIZE = 400: with s = 1.0, about half of the 100-200 queries of a
#   15 s phase on 4 CPUs are exact repeats (serve.repeat_share, reported on
#   every traced run), so a cache hit and a cache miss both weigh on the
#   median. More queries per phase raise the share.
TEMPLATE_WEIGHTS = [0.2, 0.2, 0.15, 0.2, 0.1, 0.15]
POOL_SIZE = 400
ZIPF_S = 1.0
STREAM_LEN = 20000


def _template_cycle(n=20):
    """A fixed template order whose shares follow TEMPLATE_WEIGHTS: pool
    entry r gets template cycle[r % n], so every seed has the same mix of
    templates at every Zipf rank and only the literals differ."""
    counts, out = [0] * len(TEMPLATES), []
    for i in range(n):
        k = max(range(len(TEMPLATES)), key=lambda j: TEMPLATE_WEIGHTS[j] * (i + 1) - counts[j])
        counts[k] += 1
        out.append(k)
    return out


def serve_pool(seed, size=POOL_SIZE, phase="u"):
    """Distinct query texts, each {template, text, sql, order}. Each phase
    of a run ("u" untraced, "t" traced) draws its own pool."""
    g = rng(seed, f"serve-pool-{phase}")
    cycle = _template_cycle()
    pool, seen = [], set()
    while len(pool) < size:
        k = cycle[len(pool) % len(cycle)]
        text, sql, order = TEMPLATES[k](g)
        if text not in seen:
            seen.add(text)
            pool.append({"template": k, "text": text, "sql": sql, "order": order})
    return pool


def serve_stream(pool_size=POOL_SIZE, n=STREAM_LEN, s=ZIPF_S, phase="u"):
    """Zipf-skewed draw of pool indices: rank r is drawn with weight 1/r^s.
    The draw is the same for every seed, so every seed sends the same
    template mix in the same order and seeds differ in literals and table
    contents only: with the draw seeded, the template mix of a 15 s phase's
    100-200 queries moved with the seed (11 to 23 three-way joins in the
    first 130 queries of four seeds) and its p50 with it."""
    w = 1.0 / np.arange(1, pool_size + 1) ** s
    return rng(0, f"serve-stream-{phase}").choice(pool_size, n, p=w / w.sum()).tolist()


def serve_warmup(seed):
    """One text per template, outside the pool's literals, run during set-up."""
    g = rng(seed, "serve-warmup")
    return [t(g)[0] for t in TEMPLATES]


# ---------------------------------------------------------------------------
# ingest: reference RandomDB-format table sets (.det + .txt + .stat)
# ---------------------------------------------------------------------------
# Columns: (name, TYPE, range, key, bytes). INTEGER range = exclusive upper
# bound of values (FK ranges = parent row count); STRING range = max length.
# CARTDETAILS and BILL carry enough columns that their .stat-derived sizes
# (rows x default column widths) exceed Spark's 10 MB broadcast threshold,
# so the query's joins on them shuffle.

INGEST_ROWS = {"CUSTOMER": 30000, "CART": 90000, "CARTDETAILS": 240000, "BILL": 240000}
# the untimed warm-up set: same shape, a tenth of the rows
WARMUP_ROWS = {k: v // 10 for k, v in INGEST_ROWS.items()}


def ingest_schemas(rows=INGEST_ROWS):
    c, ca, cd = rows["CUSTOMER"], rows["CART"], rows["CARTDETAILS"]
    return {
        "CUSTOMER": [("cid", "INTEGER", c, "PK", 4), ("gender", "INTEGER", 2, "NK", 4),
                     ("firstname", "STRING", 10, "NK", 20), ("lastname", "STRING", 10, "NK", 20)],
        "CART": [("cartid", "INTEGER", ca, "PK", 4), ("cid", "INTEGER", c, "FK", 4),
                 ("status", "STRING", 8, "NK", 16)],
        "CARTDETAILS": [("iid", "INTEGER", cd, "PK", 4), ("cartid", "INTEGER", ca, "FK", 4),
                        ("qty", "INTEGER", 50, "NK", 4), ("remarks", "STRING", 6, "NK", 12),
                        ("color", "STRING", 4, "NK", 8), ("size", "STRING", 3, "NK", 6)],
        "BILL": [("billid", "INTEGER", rows["BILL"], "PK", 4), ("iid", "INTEGER", cd, "FK", 4),
                 ("amount", "INTEGER", 2500, "NK", 4), ("tax", "REAL", 100, "NK", 4),
                 ("remarks", "STRING", 6, "NK", 12), ("method", "STRING", 4, "NK", 8),
                 ("code", "STRING", 3, "NK", 6)],
    }


INGEST_QUERY = ('SELECT CUSTOMER.gender,CARTDETAILS.qty,SUM(BILL.amount),COUNT(BILL.billid) '
                'FROM CUSTOMER,CART,CARTDETAILS,BILL WHERE CUSTOMER.cid=CART.cid,'
                'CART.cartid=CARTDETAILS.cartid,CARTDETAILS.iid=BILL.iid,BILL.amount>"1000" '
                'GROUPBY CUSTOMER.gender,CARTDETAILS.qty')

INGEST_SQL = ("SELECT CUSTOMER.gender, CARTDETAILS.qty, SUM(BILL.amount), COUNT(BILL.billid) "
              "FROM CUSTOMER, CART, CARTDETAILS, BILL WHERE CUSTOMER.cid = CART.cid "
              "AND CART.cartid = CARTDETAILS.cartid AND CARTDETAILS.iid = BILL.iid "
              "AND BILL.amount > 1000 GROUP BY CUSTOMER.gender, CARTDETAILS.qty")


def _strings(g, max_len, n):
    """n random lowercase strings of length 1..max_len (a seeded pool of
    4096 distinct-ish values, indexed, keeps generation vectorized)."""
    lens = g.integers(1, max_len + 1, 4096)
    chars = g.integers(0, 26, (4096, max_len)).astype(np.uint8) + ord("a")
    pool = np.array([chars[i, :lens[i]].tobytes().decode() for i in range(4096)])
    return pool[g.integers(0, 4096, n)]


def write_ingest(out_dir, seed, rows=INGEST_ROWS):
    """Write one table set plus `query.sql`; returns {table: row count}."""
    os.makedirs(out_dir, exist_ok=True)
    for table, cols in ingest_schemas(rows).items():
        g = rng(seed, f"ingest-{table}")
        n = rows[table]
        values = []
        for name, typ, rng_, key, _ in cols:
            if key == "PK":
                v = g.permutation(n)
            elif typ == "INTEGER":
                v = g.integers(0, rng_, n)
            elif typ == "REAL":
                v = g.integers(0, rng_ * 100, n) / 100
            else:
                v = _strings(g, rng_, n)
            values.append(v)
        ncols = len(cols)
        with open(os.path.join(out_dir, f"{table}.det"), "w") as f:
            f.write(f"{ncols}\n{sum(c[4] for c in cols)}\n")
            for name, typ, rng_, key, nbytes in cols:
                f.write(f"{name} {typ} {rng_} {key} {nbytes}\n")
        text = [list(map(str, v.tolist())) for v in values]
        with open(os.path.join(out_dir, f"{table}.txt"), "w") as f:
            f.write("".join(map("{}\t\n".format, map("\t".join, zip(*text)))))
        ndv = [len(set(col)) for col in text]
        with open(os.path.join(out_dir, f"{table}.stat"), "w") as f:
            f.write(f"{n}\n{' '.join(map(str, ndv))}\n")
    with open(os.path.join(out_dir, "query.sql"), "w") as f:
        f.write(INGEST_QUERY + "\n")
    return dict(rows)
