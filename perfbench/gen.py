"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its arguments: the same seed writes
byte-identical files (fixed zip timestamps, no pandas metadata, a fixed
parquet writer configuration). Three input families:

* a market data dir (``events`` + the nine small star-schema tables) whose
  ``events`` rows give the quotes axis: ragged per-stock listing histories,
  ``day`` = row number within a stock ordered by ``event_id``;
* a tick-zip drop in the ingest fixture format: one CSV member per code,
  ``000002``-style members GB18030-encoded with Chinese direction flags,
  two malformed lines per member;
* a document corpus in the ``documents`` table schema with planted exact
  duplicates and near-duplicate re-crawls.
"""
import json
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# bump when any generator's output changes: cached inputs carry it
VERSION = "8"

# input sizes per workload, recorded in BENCHMARK.json's `why` lines
SIZES = {
    "market": {"stocks": 100, "min_days": 45, "max_days": 75},
    "ticks": {"zips": 16, "codes": 16, "rows_per_member": 1000},
    "corpus": {"docs": 500},
}

_FIXED_ZIP_TIME = (2024, 1, 2, 0, 0, 0)


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _dims(rng, out):
    """The nine small star-schema tables the SQL console registers next to
    ``events``. Tiny: they only have to exist with the engine's schemas."""
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    nc = 150
    _write(pa.table({
        "c_custkey": pa.array(range(1, nc + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc))}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(1, 11), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, 11)],
        "s_nationkey": pa.array(rng.integers(0, 25, 10), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, 10), 2)}),
        f"{out}/supplier.parquet")
    npart = 200
    _write(pa.table({
        "p_partkey": pa.array(range(1, npart + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, npart + 1)],
        "p_brand": [f"Brand#{1 + i % 5}{1 + i % 4}" for i in range(npart)],
        "p_type": pa.array(rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"], npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, npart), 2)}),
        f"{out}/part.parquet")
    no = 1500
    base = np.datetime64("2024-01-01T00:00:00", "us")
    odates = base + rng.integers(0, 365, no).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": pa.array(range(1, no + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, nc + 1, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], no))}),
        f"{out}/orders.parquet")
    nl = 6000
    lk = rng.integers(1, no + 1, nl)
    _write(pa.table({
        "l_orderkey": pa.array(np.sort(lk), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, npart + 1, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 11, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(base + rng.integers(0, 400, nl).astype("timedelta64[D]"),
                               pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    ne = 200
    _write(pa.table({
        "vec_id": pa.array(range(ne), pa.int64()),
        "embedding": pa.array([list(v) for v in rng.standard_normal((ne, 16)).astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32())}),
        f"{out}/embeddings.parquet")


def market(seed, out, stocks, min_days, max_days):
    """Market data dir; returns the number of quote rows (= events rows).

    Each stock gets a listing history of ``min_days..max_days`` trading
    days; events of all stocks are interleaved in a seeded order so a
    stock's ``day`` axis comes from ``row_number() over event_id``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    days = rng.integers(min_days, max_days + 1, stocks)
    # user ids are sparse and shuffled; stock 7 (the page anchor of the
    # kline/peers/snapshot requests) is always listed with a full history
    others = np.setdiff1d(np.arange(1, stocks * 4), [7])
    ids = np.concatenate([[7], np.sort(rng.choice(others, stocks - 1, replace=False))])
    days[0] = max_days
    user = np.repeat(ids, days)
    order = rng.permutation(len(user))
    user = user[order]
    n = len(user)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + np.cumsum(rng.integers(1, 60_000_000, n)).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n)),
        "value": np.round(rng.uniform(0, 200, n), 2),
        "props": pc.binary_join_element_wise(
            "{\"k\": ", pc.cast(pa.array(rng.integers(0, 100, n)), pa.string()), "}", ""),
    }), f"{out}/events.parquet")
    _dims(rng, out)
    # an empty documents table keeps every table the engine knows resolvable
    _write(pa.table({"doc_id": pa.array([], pa.int64()), "text": pa.array([], pa.string()),
                     "lang": pa.array([], pa.string()), "source": pa.array([], pa.string()),
                     "n_chars": pa.array([], pa.int64())}), f"{out}/documents.parquet")
    return int(n)


def _codes(n):
    pre = ["600", "000", "430", "688"]
    return [f"{pre[i % 4]}{i // 4:03d}" for i in range(n)]


def ticks(seed, out, zips, codes, rows_per_member):
    """Tick-zip drop; returns the number of GOOD rows (malformed lines
    excluded). Member ``000000.csv`` of each zip is GB18030 with 买/卖
    directions, the rest UTF-8 with B/S."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    good = 0
    names = _codes(codes)
    for z in range(zips):
        path = f"{out}/ticks_{z}.zip"
        with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_DEFLATED,
                             compresslevel=1) as zf:
            for code in names:
                n = rows_per_member
                legacy = code.startswith("000")
                secs = np.sort(rng.integers(0, 4 * 3600, n))
                hh = 9 + (secs // 3600)
                mm = (secs // 60) % 60
                ss = secs % 60
                ms = rng.integers(0, 1000, n)
                t = pc.binary_join_element_wise(
                    "2024-01-02 ",
                    pc.utf8_lpad(pc.cast(pa.array(hh), pa.string()), 2, "0"), ":",
                    pc.utf8_lpad(pc.cast(pa.array(mm), pa.string()), 2, "0"), ":",
                    pc.utf8_lpad(pc.cast(pa.array(ss), pa.string()), 2, "0"), ".",
                    pc.utf8_lpad(pc.cast(pa.array(ms), pa.string()), 3, "0"), "")
                px = pc.cast(pa.array(10.0 + (ord(code[0]) - 48)
                                      + rng.integers(0, 6400, n) / 64.0), pa.string())
                vol = pc.cast(pa.array(rng.integers(100, 1000, n)), pa.string())
                up = rng.integers(0, 2, n) == 0
                dirn = pa.array(np.where(up, "买", "卖") if legacy else np.where(up, "B", "S"))
                lines = pc.binary_join_element_wise(t, px, vol, dirn, ",")
                body = ("trade_time,price,volume,direction\n"
                        + "\n".join(lines.to_pylist())
                        + "\nbad,line\n2024-01-02,notanum,1,B\n")
                data = body.encode("gb18030" if legacy else "utf-8")
                info = zipfile.ZipInfo(f"{code}.csv", date_time=_FIXED_ZIP_TIME)
                info.compress_type = zipfile.ZIP_DEFLATED
                zf.writestr(info, data, compress_type=zipfile.ZIP_DEFLATED, compresslevel=1)
                good += n
    return good


_VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
          "merge order part query row scan slow small sort spark stream table the value "
          "vector window").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def corpus(seed, out, docs):
    """``documents`` table: random-token texts over a small vocabulary (so
    char-shingle similarity clusters exist), 20 round-robin sources, a few
    exact duplicates and token-edited near-duplicate re-crawls."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_VOCAB)
    lens = rng.integers(8, 100, docs)
    toks = [vocab[rng.integers(0, len(vocab), k)] for k in lens]
    # near-duplicates: copy an earlier doc and edit ~5% of its tokens
    for i in rng.choice(np.arange(docs // 10, docs), docs // 25, replace=False):
        src = toks[int(rng.integers(0, i))].copy()
        edits = max(1, len(src) // 20)
        src[rng.integers(0, len(src), edits)] = vocab[rng.integers(0, len(vocab), edits)]
        toks[i] = src
    text = [" ".join(t) for t in toks]
    for i in rng.choice(np.arange(docs // 10, docs), 8, replace=False):
        text[i] = text[int(rng.integers(0, i))]
    _write(pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, docs, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), f"{out}/documents.parquet")
    return docs


def inputs(workload, seed, out):
    """Write one workload's inputs under ``out``; returns the manifest."""
    m = {"version": VERSION, "workload": workload, "seed": seed}
    if workload == "nightly_etl":
        m["quote_rows"] = market(seed, f"{out}/market", **SIZES["market"])
        m["tick_rows"] = ticks(seed, f"{out}/zips", **SIZES["ticks"])
        m["docs"] = corpus(seed, f"{out}/corpus", **SIZES["corpus"])
    elif workload == "research":
        # the request sequence is drawn from the seed inside the JVM; the
        # served mart comes from a per-build market dir (see run.py)
        pass
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(m, f, sort_keys=True)
    return m
