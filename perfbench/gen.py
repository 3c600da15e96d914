"""Seeded input tables for the benchmark, in the shape of the program's
test data: a TPC-H-like star schema (region, nation, customer, supplier,
part, orders, lineitem), an `events` stream table and a `documents`
corpus. The same seed gives the same tables, bit for bit; `scale` 1.0 is
the size of the sf0.01 test data. The distributions follow statistics
measured on the sf0.01 and sf0.1 test data; README.md lists them and the
parameters that are the benchmark's own choice.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_PER_USER = 66.7          # 10,000 / 150 at sf0.01, 100,000 / 1,500 at sf0.1
EVENT_SPAN_US = 30 * 86400 * 10**6  # events cover 30 days at every scale
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big customer "
         "query stream filter group vector").split()
DOC_WORDS = (10, 100)           # words per document, uniform
NEAR_COPY = 0.05                # an earlier document plus the word "dup"
EXACT_COPY = 0.0016             # an earlier document, unchanged
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1404, 0.4118, 0.1488, 0.1484, 0.1506]
SOURCES = 20                    # src0..src19, round robin by doc_id
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
US = 1_000_000


def rng_for(seed, name):
    """An independent stream per (seed, table) so tables do not shift
    when another table's size changes."""
    return np.random.default_rng([seed, sum(ord(c) * 131 ** i for i, c in enumerate(name)) % 2**32])


def ts_col(micros):
    return pa.array(np.asarray(micros, dtype="int64"), type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(table, path):
    pq.write_table(table, path)


def users_for(n):
    return max(int(round(n / EVENTS_PER_USER)), 2)


def events(seed, n, name="events"):
    """`n` events over 30 days, about 67 per user key, event types
    uniform; timestamps strictly increase with event_id, so latest-per-key
    has no ties."""
    r = rng_for(seed, name)
    gaps = r.integers(1, 2 * EVENT_SPAN_US // n, n)
    ts = np.datetime64("2024-01-01", "us").astype("int64") + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": ts_col(ts),
        "user_id": pa.array(r.integers(0, users_for(n), n).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, n)]),
        "value": pa.array(np.round(r.lognormal(3.34, 1.27, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in r.integers(0, 100, n)]),
    })


def documents(seed, n, name="documents"):
    """`n` lower-case documents of 10-100 words from the test data's
    30-word vocabulary; 5 % are near copies of an earlier document (the
    word "dup" appended, half of them with one word changed as well) and
    0.16 % exact copies."""
    r = rng_for(seed, name)
    texts = []
    for i in range(n):
        kind = r.random()
        if i > 0 and kind < EXACT_COPY:
            texts.append(texts[r.integers(0, i)])
        elif i > 0 and kind < EXACT_COPY + NEAR_COPY:
            ws = texts[r.integers(0, i)].split()
            if r.random() < 0.5:
                ws[r.integers(0, len(ws))] = WORDS[r.integers(0, len(WORDS))]
            texts.append(" ".join(ws + ["dup"]))
        else:
            k = r.integers(DOC_WORDS[0], DOC_WORDS[1] + 1)
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in r.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % SOURCES) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def star_schema(seed, scale):
    """The TPC-H-like tables at `scale` (1.0 = 60,000 lineitems)."""
    n_cust, n_supp, n_part = max(int(1500 * scale), 30), max(int(100 * scale), 10), max(int(2000 * scale), 40)
    n_ord, n_line = max(int(15000 * scale), 100), max(int(60000 * scale), 400)
    r = rng_for(seed, "star")
    day = 86400 * US
    base = np.datetime64("1995-01-01", "us").astype("int64")
    region = pa.table({"r_regionkey": pa.array(np.arange(5, dtype="int32")),
                       "r_name": pa.array(REGIONS)})
    nation = pa.table({"n_nationkey": pa.array(np.arange(25, dtype="int32")),
                       "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
                       "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"))})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in r.integers(0, 5, n_cust)])})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n_supp))})
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array(["%s %s" % (PART_ADJ[a], PART_NOUN[b]) for a, b in
                            zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]),
        "p_brand": pa.array(["Brand#%d" % i for i in r.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[i] for i in r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))})
    odate = base + r.integers(0, 2400, n_ord) * day
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(r, 1000, 500000, n_ord)),
        "o_orderdate": ts_col(odate),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in r.integers(0, 5, n_ord)])})
    lorder = r.integers(0, n_ord, n_line)
    lineitem = pa.table({
        "l_orderkey": pa.array(lorder.astype("int64")),
        "l_partkey": pa.array(r.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(money(r, 900, 105000, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in r.integers(0, 3, n_line)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in r.integers(0, 2, n_line)]),
        "l_shipdate": ts_col(odate[lorder] + r.integers(1, 122, n_line) * day)})
    return {"region": region, "nation": nation, "customer": customer, "supplier": supplier,
            "part": part, "orders": orders, "lineitem": lineitem}


def all_tables(seed, scale):
    """Every table the batch entries read, at `scale`."""
    t = star_schema(seed, scale)
    t["events"] = events(seed, max(int(10000 * scale), 200))
    t["documents"] = documents(seed, max(int(500 * scale), 40))
    return t
