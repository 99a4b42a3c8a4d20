"""Seeded input generators for the two benchmark workloads.

Every input is a pure function of the seed, so the same seed gives
byte-identical parquet tables and JSON fixtures.

* ``write_tables``: the ten gate tables at sf0.01, with the schemas, value
  domains and single-file layout of the project's fixture tables (one
  parquet file per table, one row group, written by pyarrow).
* ``write_corpus``: the sf0.1-sized ``documents`` table of
  ``curation_pipeline``.
* ``write_api_fixtures`` / ``expected_flow_rows``: the nested-JSON API
  tree that gate_mix's MagicTable flow fetches, and the flow's expected
  output derived from the same rule without reading the fixture files.
"""
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
# the English stopwords of p233's quality gate (its oracle SQL lists them)
EN_STOPWORDS = {"the", "and", "of", "to", "in", "is", "it", "that", "for", "on",
                "with", "as", "a"}
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def _days(rng, start: str, n: int, span: int) -> pd.Series:
    base = np.datetime64(start, "us")
    return pd.Series(base + rng.integers(0, span, n).astype("timedelta64[D]"))


def _documents(rng, n: int) -> pd.DataFrame:
    """n docs of 10-100 words drawn uniformly from the 30-word vocabulary;
    5% are near-duplicates (another doc's text plus a trailing " dup")."""
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), lens.sum())
    words = np.array(WORDS)[idx]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dups = np.flatnonzero(rng.random(n) < 0.05)
    srcs = rng.integers(0, n, len(dups))
    for d, s in zip(dups, srcs):
        if s != d:
            texts[d] = texts[s] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": ["src%d" % (i % 20) for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def write_tables(out: str, seed: int) -> dict:
    """The ten gate tables at sf0.01; returns row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = 1500, 100, 2000, 15000, 60000, 10000
    n_docs, n_emb, n_users = 500, 500, 150
    rows = {}

    def put(name, df, schema):
        _write(df, f"{out}/{name}.parquet", schema)
        rows[name] = len(df)

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    put("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    nk = np.arange(25, dtype=np.int32)
    put("nation", pd.DataFrame({
        "n_nationkey": nk, "n_name": ["NATION_%d" % k for k in nk],
        "n_regionkey": (nk % 5).astype(np.int32)}),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    ck = np.arange(n_cust, dtype=np.int64)
    put("customer", pd.DataFrame({
        "c_custkey": ck, "c_name": ["Customer#%09d" % k for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    sk = np.arange(n_supp, dtype=np.int64)
    put("supplier", pd.DataFrame({
        "s_suppkey": sk, "s_name": ["Supplier#%09d" % k for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array("blue old small new red hot large cold".split())
    noun = np.array("widget gizmo ring gear bolt plate anvil rod".split())
    put("part", pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["PROMO", "SMALL", "MEDIUM", "ECONOMY",
                              "STANDARD", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    ok = np.arange(n_ord, dtype=np.int64)
    put("orders", pd.DataFrame({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", n_ord, 2405),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                   ("o_orderstatus", s), ("o_totalprice", f64),
                   ("o_orderdate", ts), ("o_orderpriority", s)]))
    put("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", n_line, 2499)}),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64),
                   ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s),
                   ("l_shipdate", ts)]))
    span_us = 30 * 86400 * 1_000_000
    ev_us = np.sort(rng.integers(0, span_us, n_ev))
    put("events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Series(np.datetime64("2024-01-01", "us")
                        + ev_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view",
                                  "purchase"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]}),
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))
    put("documents", _documents(rng, n_docs), DOC_SCHEMA)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))
    return rows


def write_corpus(out: str, seed: int, n_docs: int = 5000) -> dict:
    """``documents`` for curation_pipeline, sf0.1-sized by default."""
    os.makedirs(out, exist_ok=True)
    docs = _documents(np.random.default_rng([seed, 2]), n_docs)
    _write(docs, f"{out}/documents.parquet", DOC_SCHEMA)
    return {"documents": len(docs), "bytes": os.path.getsize(f"{out}/documents.parquet")}


# ------------------------------------------------------------------ MagicTable flow

def h(seed: int, *parts) -> int:
    """48-bit rule hash: every fixture value is derived from it, so the
    expected flow output is recomputable without the fixture files."""
    key = ":".join(str(p) for p in (seed,) + parts)
    return int(hashlib.md5(key.encode()).hexdigest()[:12], 16)


FLOW = {"items": 300, "groups": 60, "regions": 8, "max_fanout": 4, "min_tier": 2}
ITEMS_URL = "http://bench.api/v1/items"
REGIONS_URL = "http://bench.api/v1/regions"
GROUP_URL = "http://bench.api/v1/groups/{group_id}"


def url_file(root: str, url: str) -> str:
    return os.path.join(root, hashlib.md5(url.encode()).hexdigest() + ".json")


def _item(seed, i):
    return {"id": i,
            "group_id": h(seed, "g", i) % FLOW["groups"],
            "score": (h(seed, "s", i) % 100000) / 100.0,
            "region": "r%d" % (h(seed, "r", i) % FLOW["regions"]),
            "owner": {"name": "user%d" % (h(seed, "o", i) % 97),
                      "profile": {"tier": 1 + h(seed, "t", i) % 3,
                                  "since": 2000 + h(seed, "y", i) % 25}}}


def _group(seed, g):
    k = 1 + h(seed, "k", g) % FLOW["max_fanout"]
    return [{"member": j, "weight": (h(seed, "w", g, j) % 10000) / 100.0,
             "label": "g%d-m%d" % (g, j)} for j in range(1, k + 1)]


def _region(r):
    return {"region": "r%d" % r, "region_name": "Region %d" % r, "zone": r % 3}


def write_api_fixtures(root: str, seed: int) -> dict:
    os.makedirs(root, exist_ok=True)
    items = [_item(seed, i) for i in range(FLOW["items"])]
    bodies = {
        ITEMS_URL: items,
        REGIONS_URL: [_region(r) for r in range(FLOW["regions"])],
    }
    groups = sorted({it["group_id"] for it in items})
    for g in groups:
        bodies[GROUP_URL.format(group_id=g)] = _group(seed, g)
    for url, body in bodies.items():
        with open(url_file(root, url), "w") as f:
            json.dump(body, f)
    return {"urls": len(bodies), "detail_urls": len(groups),
            "items": FLOW["items"], "regions": FLOW["regions"],
            "bytes": sum(os.path.getsize(url_file(root, u)) for u in bodies)}


def expected_flow_rows(seed: int) -> list:
    """Output rows of the MagicTable flow by the fixture rule: items with
    owner.profile.tier >= min_tier, fanned out over their group's members,
    joined to their region."""
    rows = []
    for i in range(FLOW["items"]):
        it = _item(seed, i)
        if it["owner"]["profile"]["tier"] < FLOW["min_tier"]:
            continue
        reg = _region(int(it["region"][1:]))
        for m in _group(seed, it["group_id"]):
            rows.append({"id": it["id"], "group_id": it["group_id"],
                         "score": it["score"], "region": it["region"],
                         "api_label": m["label"], "api_member": m["member"],
                         "api_weight": m["weight"],
                         "region_name": reg["region_name"], "zone": reg["zone"]})
    return rows
