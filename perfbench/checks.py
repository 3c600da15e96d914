"""Correctness checks of one run's outputs, computed apart from the
program: DuckDB over the staged inputs, and row counts the run reports.

`load(workload, run)` reads what the run wrote; `check(workload, run,
outputs, props)` returns the list of problems found (empty when the
outputs are right). The two are separate so that a test can feed the
checks corrupted copies of real outputs.
"""
import json
import math
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def connect():
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    con.execute("SET threads=2")
    return con


def parquet(path):
    """A Spark output directory (or file) as a pandas frame."""
    p = Path(path)
    glob = str(p / "*.parquet") if p.is_dir() else str(p)
    return connect().execute(f"SELECT * FROM read_parquet('{glob}')").df()


def canonical(df):
    """Columns sorted by name; timestamps as epoch microseconds; every
    integer kind as int64, so engines that type alike compare alike."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.reset_index(drop=True)


def same_cell(a, b):
    na = a is None or (isinstance(a, float) and math.isnan(a))
    nb = b is None or (isinstance(b, float) and math.isnan(b))
    if na or nb:
        return na and nb
    if isinstance(a, (list, np.ndarray)) or isinstance(b, (list, np.ndarray)):
        return len(a) == len(b) and all(same_cell(x, y) for x, y in zip(a, b))
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        return float(a) == float(b)
    return str(a) == str(b)


def compare(name, got, want):
    """Row-for-row, cell-exact comparison of two ordered frames."""
    got, want = canonical(got), canonical(want)
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got.itertuples(index=False), want.itertuples(index=False))):
        for c, x, y in zip(got.columns, g, w):
            if not same_cell(x, y):
                return [f"{name}: row {i} column {c}: {x!r} != {y!r}"]
    return []


def load(workload, run):
    run = Path(run)
    out = run / "out"
    result = json.loads((run / "result.json").read_text())
    if workload == "topology":
        return {"table": parquet(out / "table"), "filtered": parquet(out / "filtered"),
                "sink": parquet(result["notes"]["sink_path"]), "result": result}
    if workload == "batch_mix":
        return {"entries": {p.name: parquet(p) for p in sorted((out / "batch").iterdir())
                            if p.is_dir()}, "corpus": parquet(out / "corpus"), "result": result}
    raise ValueError(workload)


def check(workload, run, outputs, props):
    return CHECKS[workload](Path(run), outputs, props)


LATEST = """SELECT cast(user_id as varchar) AS key, event_type AS value, ts FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM read_parquet('{g}')) WHERE rn = 1 {extra} ORDER BY key"""


def check_topology(run, o, props):
    con = connect()
    g = str(run / "inputs" / "backlog" / "*.parquet")
    problems = []
    want = con.execute(LATEST.format(g=g, extra="")).df()
    problems += compare("table snapshot", o["table"].sort_values("key"), want)
    want = con.execute(LATEST.format(g=g, extra="AND lower(event_type) = 'purchase'")).df()
    problems += compare("filtered snapshot", o["filtered"].sort_values("key"), want)
    staged = con.execute(f"""SELECT count(*), sum(hash(cast(user_id as varchar), event_type,
        epoch_us(ts)))::hugeint FROM read_parquet('{g}')""").fetchone()
    sink = o["sink"]
    con.register("sink", sink)
    got = con.execute("""SELECT count(*), sum(hash(key, value, epoch_us(ts)))::hugeint
        FROM sink""").fetchone()
    if got != staged:
        problems.append(f"parquet sink (rows, checksum) {got} != staged {staged}")
    rows = int(props["topology.rows"])
    per_query = o["result"]["notes"]["input_rows_per_query"]
    if not per_query or any(n != rows for n in per_query):
        problems.append(f"sum of numInputRows per query {per_query} != staged rows {rows}")
    return problems


def check_corpus(run, o, props):
    con = connect()
    con.execute(f"""CREATE VIEW documents AS SELECT * FROM
        read_parquet('{run / 'inputs' / 'reference' / 'documents.parquet'}')""")
    want = con.execute((run / "out" / "corpus.sql").read_text()).df()
    problems = compare("corpus", o["corpus"], want)
    if o["result"]["notes"].get("artifact_builds", 0) < 1:
        problems.append("no artifact build counted: the cache was warm")
    return problems


def check_batch_mix(run, o, props):
    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run / 'inputs' / 'tables' / (t + '.parquet')}')")
    problems = []
    names = [e.split(":")[1] for e in props["batch.entries"].split(",")]
    for name in names:
        got = o["entries"].get(name)
        if got is None:
            problems.append(f"{name}: no output")
            continue
        want = con.execute((run / "out" / "batch" / f"{name}.sql").read_text()).df()
        problems += compare(name, got, want)
    return problems + check_corpus(run, o, props)


CHECKS = {"topology": check_topology, "batch_mix": check_batch_mix}
