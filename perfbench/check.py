"""Correctness gates that run after the measured window, outside it.

Each returns a list of failure messages; an empty list means the outputs are
correct. `perturb` is the gate's self-test: it corrupts the expectation
(a fingerprint, a skipped replay op) so a working gate must fail.
"""

import hashlib
import numpy as np
import pandas as pd

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    # dtype-sensitive: cells are compared through their numpy repr, so an
    # int64 against a float64, or a decimal against a double, differs
    df = df[sorted(df.columns)]
    rows = sorted(tuple(repr(v) for v in r)
                  for r in df.itertuples(index=False, name=None))
    return hashlib.sha256(repr((list(df.columns), rows)).encode()).hexdigest(), len(rows)


def analytics(results_dir, data_dir, oracle_sql, perturb=False):
    """Hash-compare each query's full Spark result with its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failures, prints = [], {}
    for i, (name, sql) in enumerate(sorted(oracle_sql.items())):
        got, n_got = _canon(con.execute(
            f"SELECT * FROM '{results_dir}/{name}/*.parquet'").df())
        want, n_want = _canon(con.execute(sql).df())
        if perturb and i == 0:
            want = "0" * len(want)
        prints[name] = got[:16]
        if got != want:
            failures.append(f"{name}: result differs from the oracle "
                            f"({n_got} rows against {n_want})")
    return failures, prints


# --------------------------------------------------------------- tables

STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_1995_US = 788_918_400_000_000
DAY_US = 86_400_000_000


def _micros(series):
    return pd.to_datetime(series, utc=True).dt.as_unit("us").astype("int64")


def _rows(keys, salt):
    k = np.asarray(keys, dtype="int64")
    return pd.DataFrame({
        "o_orderkey": k,
        "o_custkey": k % 15000,
        "o_orderstatus": STATUS[k % 3],
        "o_totalprice": (k % 100000).astype("float64") / 100.0 + float(salt),
        "o_orderdate": EPOCH_1995_US + (k % 2400) * DAY_US,
        "o_orderpriority": PRIORITY[k % 5],
    }).set_index("o_orderkey", drop=False)


def _norm(df):
    df = df.reset_index(drop=True)
    return df.sort_values("o_orderkey").reset_index(drop=True)[
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"]]


def _replay(base, ops):
    cur = base.set_index("o_orderkey", drop=False)
    for op in ops:
        kind = op["kind"]
        if kind == "append":
            cur = pd.concat([cur, _rows(op["keys"], op["salt"])])
        elif kind == "erase":
            cur = cur.drop(index=[k for k in op["keys"] if k in cur.index])
        elif kind == "merge":
            src = _rows(op["keys"], op["salt"])
            cur = pd.concat([cur.drop(index=[k for k in src.index if k in cur.index]), src])
        elif kind == "update":
            m = (cur["o_orderkey"] >= op["lo"]) & (cur["o_orderkey"] <= op["hi"])
            cur.loc[m, "o_totalprice"] = cur.loc[m, "o_totalprice"] + 1.0
    return cur


def tables(spec, perturb=False):
    """Replay the logged op stream over the seeded `orders` and compare it
    with the `readTable` and sampled `readTableAt` dumps."""
    orders = pd.read_parquet(spec["orders"])
    orders["o_orderdate"] = _micros(orders["o_orderdate"])
    n = spec["tables"]
    ops = spec["op_log"]
    if perturb:
        ops = ops[1:]
    failures = []
    for d in spec["dumps"]:
        t, v = d["table"], d["version"]
        mine = [op for op in ops if op["table"] == t and op["version"] <= v]
        want = _norm(_replay(orders[orders["o_orderkey"] % n == t], mine))
        got = pd.read_parquet(d["path"])
        got["o_orderdate"] = _micros(got["o_orderdate"])
        got = _norm(got)
        if len(got) != len(want) or not got.equals(want):
            failures.append(f"table {t} version {v}: {len(got)} rows read, "
                            f"{len(want)} replayed, contents differ")
    return failures


# ------------------------------------------------------------- pipeline

def _ms(ts):
    # EventDecode parses the ISO string to micros; the session state keeps
    # java.sql.Timestamp.getTime, i.e. epoch millis rounded down
    us = pd.to_datetime(ts, format="%Y-%m-%dT%H:%M:%S.%f", utc=True).dt.as_unit("us")
    return us.astype("int64") // 1000


def sessions(spec):
    """Committed sessions must equal a batch sessionization of the same
    events: every session the final watermark has closed is present, none
    is committed twice, and nothing else is committed."""
    ev = pd.read_csv(spec["events"], sep="\t", names=["user_id", "event_name", "ts"],
                     dtype=str, keep_default_na=False)
    ev["ms"] = _ms(ev["ts"])
    gap, delay = spec["gap_ms"], spec["watermark_delay_ms"]
    final_wm = int(ev["ms"].max()) - delay
    must, may = set(), set()
    ev = ev.sort_values(["user_id", "ms", "event_name"], kind="stable")
    for user, g in ev.groupby("user_id", sort=False):
        cur = None
        for ms, name in zip(g["ms"].to_numpy(), g["event_name"].to_numpy()):
            ms = int(ms)
            if cur is not None and ms - cur[1] > gap:
                must.add((user, *cur))
                cur = None
            if cur is None:
                cur = [ms, ms, 0, 0]
            cur = [min(cur[0], ms), max(cur[1], ms), cur[2] + 1,
                   cur[3] + (1 if name == "item_view" else 0)]
            if name == "sign_out":
                must.add((user, *cur))
                cur = None
        if cur is not None:
            expiry = cur[1] + gap
            if expiry < final_wm:
                must.add((user, *cur))
            elif expiry <= final_wm + 1:
                may.add((user, *cur))
    got = pd.read_parquet(spec["sessions"])
    rows = [(u, int(a), int(b), int(c), int(d)) for u, a, b, c, d in zip(
        got["user_id"], got["start_ms"], got["end_ms"], got["n_events"], got["n_views"])]
    committed = set(rows)
    failures = []
    dups = len(rows) - len(committed)
    if dups:
        failures.append(f"{dups} sessions committed twice")
    missing = must - committed
    if missing:
        failures.append(f"{len(missing)} closed sessions missing from the sink")
    extra = committed - must - may
    if extra:
        failures.append(f"{len(extra)} committed sessions match no batch session")
    return failures, {"expected_sessions": len(must), "committed_sessions": len(rows)}
