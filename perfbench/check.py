"""Correctness checks behind `fail_ratio`.

Each check compares what graft produced with what the generator knows
about its inputs (the `truth/` files) or with a DuckDB oracle over the same
generated files, and returns the positions, in the result's `ops`, of the
operations that failed, traced ones included.
"""
import datetime
import json
import math

import duckdb
import pandas as pd
import pyarrow.parquet as pq


# ------------------------------------------------------------- query_mix
def _norm(v):
    # the oracle-comparison hashing rule: ISO timestamps, dates as
    # midnight timestamps, None and NaN unified, exact repr otherwise
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if v is None or (isinstance(v, float) and v != v):
        return None
    if hasattr(v, "item") and not isinstance(v, (list, dict, str, bytes)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    return repr(v)


def _canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns))
    return [tuple(_norm(v) for v in row) for row in df.itertuples(index=False)]


def check_query_mix(inp, work, result):
    """Queries whose result differs from their DuckDB oracle, or failed."""
    prepared = result["prepared"]
    oracles = json.load(open(f"{work}/oracle_sql.json"))
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inp}/tables/{t}.parquet'")
    bad, notes = set(), {}
    for q, r in prepared["queries"].items():
        if not r["ok"]:
            bad.add(q); notes[q] = r.get("error")
            continue
        if q not in oracles:
            bad.add(q); notes[q] = "no oracle"
            continue
        try:
            spark_df = pd.read_parquet(f"{work}/results/{q}")
            duck_df = con.execute(oracles[q]).fetchdf()
            if sorted(spark_df.columns) != sorted(duck_df.columns):
                bad.add(q); notes[q] = "columns differ"
            elif _canon(spark_df) != _canon(duck_df):
                bad.add(q); notes[q] = f"rows differ ({len(spark_df)} vs {len(duck_df)})"
        except Exception as e:  # an unsortable or unreadable result fails too
            bad.add(q); notes[q] = f"{type(e).__name__}: {e}"[:300]
    guard = prepared["guard"]
    guard_ok = (not guard.get("checked")) or bool(guard.get("full_evaluates_projection"))
    if not guard_ok:
        bad.add("d_fingerprint"); notes["guard"] = "timed action skips the projection"
    failed = {i for i, o in enumerate(result["ops"]) if o["name"] in bad}
    return failed, {"oracle_failures": notes, "guard": guard}


# ---------------------------------------------------------- etl_cookbook
def _long(s):
    s = (s or "").strip()
    try:
        return int(s) if s and s.lstrip("+-").isdigit() else None
    except ValueError:
        return None


def _dbl(s):
    s = (s or "").strip()
    try:
        v = float(s)
        return v if s.lower() not in ("nan", "inf", "-inf", "infinity", "-infinity") else None
    except ValueError:
        return None


def _ts(s):
    return pd.Timestamp(s.strip())


def etl_expected(inp):
    """Expected accepted rows, reject counts and constraint reports."""
    raw = json.load(open(f"{inp}/truth/etl_rows.json"))
    exp = {}
    rec = {t: [dict(zip(v["fields"], r)) for r in v["rows"]] for t, v in raw.items()}
    # customer
    rows = []
    for r in rec["customer"]:
        rows.append({"c_custkey": _long(r["c_custkey"]), "c_name": r["c_name"].strip().upper(),
                     "c_nationkey": _long(r["c_nationkey"]), "c_acctbal": _dbl(r["c_acctbal"]),
                     "c_segment": r["c_mktsegment"].lower(),
                     "c_label": "[" + "/".join(x for x in (r["c_mktsegment"], r["c_nationkey"])
                                               if x is not None) + "]"})
    ok = lambda x: (x["c_custkey"] is not None and x["c_nationkey"] is not None and
                    x["c_acctbal"] is not None and 0 <= x["c_nationkey"] <= 24)
    report = {"not_null:c_custkey": sum(x["c_custkey"] is None for x in rows),
              "not_null:c_nationkey": sum(x["c_nationkey"] is None for x in rows),
              "not_null:c_acctbal": sum(x["c_acctbal"] is None for x in rows),
              "in_range:c_nationkey": sum(x["c_nationkey"] is not None and
                                          not 0 <= x["c_nationkey"] <= 24 for x in rows),
              "unique:c_custkey": 0}
    acc = sorted((x for x in rows if ok(x)), key=lambda x: x["c_custkey"])
    for i, x in enumerate(acc):
        x["c_id"] = i
    exp["customer"] = {"accepted": acc, "rejected": len(rows) - len(acc), "report": report}
    cust_id = {x["c_custkey"]: x["c_id"] for x in acc}
    # orders
    rows = []
    for r in rec["orders"]:
        ck = _long(r["o_custkey"])
        rows.append({"o_orderkey": _long(r["o_orderkey"]), "o_custkey": ck,
                     "o_status": r["o_orderstatus"].strip().upper(),
                     "o_totalprice": _dbl(r["o_totalprice"]),
                     "o_orderdate": _ts(r["o_orderdate"]),
                     "o_prio": _long(r["o_orderpriority"].split("-")[0]),
                     "o_cust_id": cust_id.get(ck)})
    ok = lambda x: (x["o_custkey"] is not None and x["o_totalprice"] is not None and
                    x["o_cust_id"] is not None)
    report = {"not_null:o_custkey": sum(x["o_custkey"] is None for x in rows),
              "not_null:o_totalprice": sum(x["o_totalprice"] is None for x in rows),
              "not_null:o_cust_id": sum(x["o_cust_id"] is None for x in rows),
              "ref:o_custkey": sum(x["o_custkey"] is not None and x["o_custkey"] not in cust_id
                                   for x in rows),
              "unique:o_orderkey": 0}
    acc = sorted((x for x in rows if ok(x)), key=lambda x: x["o_orderkey"])
    for i, x in enumerate(acc):
        x["o_id"] = i
    exp["orders"] = {"accepted": acc, "rejected": len(rows) - len(acc), "report": report}
    order_id = {x["o_orderkey"]: x["o_id"] for x in acc}
    # lineitem
    rows = []
    for r in rec["lineitem"]:
        ok_, ln = _long(r["l_orderkey"]), _long(r["l_linenumber"])
        price, disc = _dbl(r["l_extendedprice"]), _dbl(r["l_discount"])
        rows.append({"l_orderkey": ok_, "l_partkey": _long(r["l_partkey"]),
                     "l_suppkey": _long(r["l_suppkey"]), "l_linenumber": ln,
                     "l_quantity": _dbl(r["l_quantity"]), "l_extendedprice": price,
                     "l_discount": disc, "l_tax": _dbl(r["l_tax"]),
                     "l_flags": r["l_returnflag"].strip() + r["l_linestatus"].strip(),
                     "l_shipdate": _ts(r["l_shipdate"]),
                     "l_net": None if price is None or disc is None else price * (1.0 - disc),
                     "l_key": ok_ * 8 + ln, "l_o_id": order_id.get(ok_)})
    ok = lambda x: (x["l_quantity"] is not None and x["l_discount"] is not None and
                    x["l_o_id"] is not None and 1 <= x["l_quantity"] <= 50)
    report = {"not_null:l_quantity": sum(x["l_quantity"] is None for x in rows),
              "not_null:l_discount": sum(x["l_discount"] is None for x in rows),
              "not_null:l_o_id": sum(x["l_o_id"] is None for x in rows),
              "in_range:l_quantity": sum(x["l_quantity"] is not None and
                                         not 1 <= x["l_quantity"] <= 50 for x in rows),
              "unique:l_orderkey+l_linenumber": 0}
    acc = sorted((x for x in rows if ok(x)), key=lambda x: x["l_key"])
    for i, x in enumerate(acc):
        x["l_id"] = i
    exp["lineitem"] = {"accepted": acc, "rejected": len(rows) - len(acc), "report": report}
    return exp


def _cell(v):
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):
        v = v.item()
    return repr(v)


def _rows_digest(records, cols):
    return sorted(tuple(_cell(r[c]) for c in cols) for r in records)


def check_etl(inp, work, result):
    exp = etl_expected(inp)
    failed, notes = set(), {}
    for i, o in enumerate(result["ops"]):
        if o["error"]:
            continue  # already failed
        e, d = exp[o["name"]], o["detail"]
        why = []
        if d["accepted"] != len(e["accepted"]):
            why.append(f"accepted {d['accepted']} != {len(e['accepted'])}")
        if d["rejected"] != e["rejected"]:
            why.append(f"rejected {d['rejected']} != {e['rejected']}")
        if {k: int(v) for k, v in d["report"].items()} != e["report"]:
            why.append(f"report {d['report']} != {e['report']}")
        if why:
            failed.add(i); notes.setdefault(o["name"], why)
    # content digest of what the sinks hold after the last job
    last = max(o["job"] for o in result["ops"])
    for t in ["customer", "orders", "lineitem"]:
        tbl = pq.read_table(f"{work}/etl/{t}/parquet").to_pandas()
        cols = sorted(tbl.columns)
        got = sorted(tuple(_cell(v) for v in row) for row in tbl[cols].itertuples(index=False))
        want = _rows_digest(exp[t]["accepted"], cols)
        if got != want:
            notes[f"{t}:digest"] = f"content differs ({len(got)} vs {len(want)} rows)"
            failed |= {i for i, o in enumerate(result["ops"])
                       if o["job"] == last and o["name"] == t}
    return failed, notes


# --------------------------------------------------------- stream_ingest
def check_stream(inp, work, result):
    truth = json.load(open(f"{inp}/truth/stream.json"))
    keys = {f"f{i:05d}.parquet": ks for i, ks in enumerate(truth["file_keys"])}
    failed, notes = set(), {}
    for j, job in enumerate(result["jobs"]):
        c = job["check"]
        want = len({k for f in c["files"] for k in keys[f]})
        if not (c["out_rows"] == c["out_keys"] == want):
            notes[f"job{j}"] = f"rows {c['out_rows']} keys {c['out_keys']} != {want}"
            failed |= {i for i, o in enumerate(result["ops"]) if o["job"] == j}
    return failed, notes


CHECKS = {"query_mix": check_query_mix, "etl_cookbook": check_etl,
          "stream_ingest": check_stream}
