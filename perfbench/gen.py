"""Seeded input generators for the benchmark workloads.

Every table is drawn from numpy generators keyed by (seed, table salt), so
one seed always yields byte-identical inputs and another seed changes the
accounts, amounts, event types, documents and vectors. Shapes follow the
sf0.1 corpus the program's queries and oracles were written against
(TESTDATA.md): the same schemas, key ranges, value ranges and planted
near-duplicates. Tables land atomically: each file is written into a
staging directory and renamed into place, so the program only ever sees
complete files.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SALTS = {name: i + 1 for i, name in enumerate([
    "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings", "media", "feed"])}

# 2024-01-01T00:00:00Z in epoch microseconds: the corpus's event-time origin
T0_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])


def rng(seed, table):
    return np.random.default_rng([seed, SALTS[table]])


class Lander:
    """Writes parquet files into `dest` through a sibling staging dir."""

    def __init__(self, dest):
        self.dest = dest
        self.staging = dest.rstrip("/") + ".staging"
        os.makedirs(dest, exist_ok=True)
        os.makedirs(self.staging, exist_ok=True)

    def land(self, name, table, mtime=None):
        tmp = os.path.join(self.staging, name)
        pq.write_table(table, tmp)
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.rename(tmp, os.path.join(self.dest, name))

    def close(self):
        shutil.rmtree(self.staging, ignore_errors=True)


def ts_array(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def events_table(r, n, n_users, start_us, span_us, first_id=0):
    """`n` events in event-time order; event_id follows event time."""
    ts = np.sort(r.integers(start_us, start_us + span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": ts_array(ts),
        "user_id": pa.array(r.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[r.integers(0, 5, n)]),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def customer_table(r, n=15000):
    segs = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
                     "HOUSEHOLD"])
    keys = np.arange(n)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(segs[r.integers(0, 5, n)]),
    })


def tpch_tables(seed):
    r = rng(seed, "supplier")
    n_s = 1000
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_s)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n_s), 2)),
    })
    r = rng(seed, "part")
    n_p = 20000
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                      "PROMO"])
    pk = np.arange(n_p)
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            adj[r.integers(0, 8, n_p)], " "), noun[r.integers(0, 8, n_p)])),
        "p_brand": pa.array(np.char.add("Brand#",
                                        r.integers(1, 26, n_p).astype(str))),
        "p_type": pa.array(types[r.integers(0, 6, n_p)]),
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    })
    r = rng(seed, "orders")
    n_o = 150000
    day0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, 15000, n_o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[
            r.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, n_o), 2)),
        "o_orderdate": ts_array(day0 + r.integers(0, 2404, n_o) * DAY_US),
        "o_orderpriority": pa.array(np.array([
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, n_o)]),
    })
    r = rng(seed, "lineitem")
    n_l = 600000
    lineitem = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900, 105000, n_l), 2)),
        "l_discount": pa.array(r.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            r.integers(0, 3, n_l)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, n_l)]),
        "l_shipdate": ts_array(day0 + 1 * DAY_US +
                               r.integers(0, 2498, n_l) * DAY_US),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    return {"region": region, "nation": nation, "supplier": supplier,
            "part": part, "orders": orders, "lineitem": lineitem}


def documents_table(r, n=5000, n_dups=250):
    """Word-salad documents of 10-99 words; `n_dups` docs are replaced by
    another doc's original text plus the token `dup` (the corpus's planted
    near-duplicate pairs). As in sf0.1, the replaced docs and their
    sources are drawn independently over the whole corpus, so a source is
    now and then itself replaced or used twice."""
    lens = r.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), k)]) for k in lens]
    original = list(texts)
    dup_ids = r.choice(n, n_dups, replace=False)
    for j in dup_ids:
        src = (j + r.integers(1, n)) % n
        texts[j] = original[src] + " dup"
    lang_p = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(5, n, p=lang_p)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(r, n=2000, dim=64):
    v = r.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def media_table(r, n=256):
    """Binary payloads with format magic headers (scripts/gen_media.py's
    shapes): an empty payload, short payloads, exact duplicates."""
    magic = {"png": b"\x89PNG\r\n\x1a\n", "jpeg": b"\xff\xd8\xff\xe0",
             "gif": b"GIF89a", "webm": b"\x1a\x45\xdf\xa3"}
    fmts = ["png", "jpeg", "gif", "webm"]
    payloads, formats = [], []
    for i in range(n):
        fmt = fmts[i % 4]
        size = 0 if i == 0 else int(r.integers(1, 40) if i < 10
                                    else r.integers(192, 1493))
        body = r.integers(0, 256, size, dtype=np.uint8).tobytes()
        payloads.append(b"" if i == 0 else magic[fmt] + body)
        formats.append(fmt)
    for i in range(100, 110):
        payloads[i] = payloads[3 * (i - 100)]
        formats[i] = formats[3 * (i - 100)]
    idx = np.arange(n)
    return pa.table({
        "doc_id": pa.array(idx, pa.int64()),
        "payload": pa.array(payloads, pa.binary()),
        "width": pa.array(64 + idx % 512, pa.int32()),
        "height": pa.array(64 + (idx * 7) % 512, pa.int32()),
        "format": pa.array(formats),
    })


def batch_corpus(seed, out):
    """A full sf0.1-shaped corpus: every table the schema probe expects,
    plus the media table (read through GRAFT_MEDIA_PATH)."""
    lander = Lander(out)
    tables = tpch_tables(seed)
    tables["customer"] = customer_table(rng(seed, "customer"))
    tables["events"] = events_table(rng(seed, "events"), 100000, 1500,
                                    T0_US, 30 * DAY_US)
    tables["documents"] = documents_table(rng(seed, "documents"))
    tables["embeddings"] = embeddings_table(rng(seed, "embeddings"))
    tables["media"] = media_table(rng(seed, "media"))
    for name, t in tables.items():
        lander.land(f"{name}.parquet", t)
    lander.close()
    return {"events": tables["events"].num_rows}


def backlog_feed(seed, out, n_events=1_000_000, n_accounts=10000):
    """GraftApp's `files` source: one events.parquet (~20 h of event
    time) beside customer.parquet."""
    lander = Lander(out)
    lander.land("customer.parquet", customer_table(rng(seed, "customer")))
    lander.land("events.parquet", events_table(
        rng(seed, "feed"), n_events, n_accounts, T0_US, 20 * 3600 * 1_000_000))
    lander.close()
    return {"events": n_events, "files": 1}


def replay_feed(seed, feed_dir, twin_dir, n_files, per_file, n_accounts,
                hours_per_file):
    """Event files in event-time order with increasing mtimes (the file
    source orders by mtime), plus the same events as one events.parquet
    in `twin_dir` for the batch twins."""
    r = rng(seed, "feed")
    span = hours_per_file * 3600 * 1_000_000
    lander = Lander(feed_dir)
    parts = []
    mtime0 = 1_600_000_000
    for i in range(n_files):
        t = events_table(r, per_file, n_accounts, T0_US + i * span, span,
                         first_id=i * per_file)
        lander.land(f"events_{i:04d}.parquet", t, mtime=mtime0 + 10 * i)
        parts.append(t)
    lander.close()
    twin = Lander(twin_dir)
    twin.land("events.parquet", pa.concat_tables(parts))
    twin.land("customer.parquet", customer_table(rng(seed, "customer")))
    twin.close()
    return {"events": n_files * per_file, "files": n_files}
