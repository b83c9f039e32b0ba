"""Input generation for the benchmark.

`fixture(dir)` writes the ten tables every gate reads (the sf0.1 shapes of
the TPC-H-like star schema plus `events`, `documents` and `embeddings`). The
fixture is the same for every seed, so the gate digests in `expected.json`
hold for every run; it is generated once per checkout and reused.

`shards(events, dir, seed, ...)` slices `events` rows into the small shard
files `log_tail` releases; the seed picks the slicing.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
DAY_US = 86_400_000_000
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="snappy")


def fixture(out):
    """Write the fixed sf0.1-shaped tables under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    n_cust, n_part, n_supp, n_ord, n_li = 15_000, 20_000, 1_000, 150_000, 600_000
    segments = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(segments)[rng.integers(0, 5, n_cust)]),
    }))
    adj = ["large", "hot", "blue", "small", "red", "green", "cold", "dark"]
    noun = ["ring", "bolt", "case", "disk", "tube", "wheel", "pin", "cap"]
    ptype = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(ptype)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 12000 / 10, 2),
    }))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))

    o_date0 = np.datetime64("1995-01-01", "us").astype("int64")
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(o_date0 + rng.integers(0, 2404, n_ord) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]),
    }))
    ship0 = np.datetime64("1995-01-02", "us").astype("int64")
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ship0 + rng.integers(0, 2498, n_li) * DAY_US,
                               pa.timestamp("us")),
    }))

    n_evt, n_users = 100_000, 1_500
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    _write(out, "events", pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * DAY_US, n_evt)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": pa.array(np.array(
            ["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n_evt)]),
        "value": np.round(rng.uniform(0, 560, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }))

    vocab = np.array(["spark", "window", "merge", "table", "column", "vector", "stream",
                      "value", "data", "small", "batch", "part", "line", "order", "sort",
                      "fast", "scan", "a", "hash", "slow", "group", "agg", "filter",
                      "query", "join", "key", "row", "index", "shuffle", "cache", "plan",
                      "big"])
    n_doc = 5_000
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.0016:
            texts.append(texts[rng.integers(0, i)])  # planted duplicate
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 101)))]))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(["en", "zh", "es", "fr", "de"])[
            rng.choice(5, n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14])]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    n_vec, dim, n_lbl = 2_000, 64, 10
    means = rng.normal(0, 0.02, (n_lbl, dim))
    labels = rng.integers(0, n_lbl, n_vec)
    vecs = (means[labels] + rng.normal(0, 0.1234, (n_vec, dim))).astype("float32")
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


def fixture_digest(dir_):
    """sha256 over the fixture's parquet files."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(dir_, f"{name}.parquet"), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def shards(events_path, out, seed, n_shards, mean_rows):
    """Slice a run of consecutive `events` rows, in event-time order, into
    `n_shards` parquet files under `out`, named `.shard-NNNNN.parquet` so the
    `log` source does not see them until they are renamed. The seed picks
    where the run starts and each shard's size around `mean_rows`. Returns
    the row count of each shard."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes = rng.integers(mean_rows // 2, mean_rows * 3 // 2 + 1, n_shards)
    events = pq.read_table(events_path)
    events = events.set_column(events.schema.get_field_index("ts"), "ts",
                               events["ts"].cast(pa.timestamp("us", tz="UTC")))
    start = int(rng.integers(0, events.num_rows - int(sizes.sum())))
    for i, n in enumerate(sizes):
        pq.write_table(events.slice(start, int(n)),
                       os.path.join(out, f".shard-{i:05d}.parquet"), compression="snappy")
        start += int(n)
    return [int(n) for n in sizes]
