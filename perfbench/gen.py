"""Seeded input generator for the benchmark.

Everything the engine reads is written here, from numpy's PCG64 seeded with
the workload's seed, so the same seed yields byte-identical files.
`input_hash` is the sha256 over every generated file (path and bytes).

Layout under the output directory:
  sf/        the sf0.1-shaped star schema (TPC-H-ish tables + events,
             documents, embeddings), the schema of the repo's test data
             (TESTDATA.md)
  sf10x/     batch_10x only: a key-consistent 10x copy of sf/, made with
             graft.tools.ScaleUp's rule (key k of copy i becomes
             k + i * (max(k) + 1); region and nation stay as they are)
  pipeline/  documents with planted duplicates, and a clustered embedding
             corpus with its query vectors
  days/      one JSON-lines file of raw events per template day
  stream/    the same days as parquet, for the file-stream source
  window0/   the datasource's first WINDOW days, rolled up and laid out
             as the SQL ingest writes them
  manifest.json  the sizes above and the row count of every table read
"""
import hashlib
import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

# sf0.1 row counts of the repo's TPC-H-ish test data (TESTDATA.md)
SF_ROWS = dict(customer=15000, supplier=1000, part=20000, orders=150000,
          lineitem=600000, events=100000, documents=5000, embeddings=2000)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COUNTRIES = ["br", "de", "in", "jp", "us"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value window").split()
EMB_DIM = 64

# sliding window: template days cycled through a datasource of WINDOW days
INGEST_DAYS = 8
WINDOW = 6
WINDOW_START = np.datetime64("2024-02-01", "D")
ROLLUP_MS = 15 * 60 * 1000

DEDUP_VOCAB = 3000
ANN_CLUSTERS = 32

# per-workload sizes: the same operation kinds at two scales
SIZES = {
    "interactive": dict(copies=1, day_rows=20000, docs=340, exact=30, near=30,
                        corpus=1000, queries=8),
    "batch_10x": dict(copies=10, day_rows=50000, docs=1500, exact=75, near=75,
                      corpus=4000, queries=32),
}

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    """Write one parquet file, or a directory of `parts` row slices (so a
    scan of a large table splits across tasks)."""
    if parts == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    n = table.num_rows

    def part(i):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(part, range(parts)))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def star_schema(rng, out: str, scale: float = 1.0) -> None:
    """The star schema at `scale` x sf0.1 (the dimension tables stay whole)."""
    os.makedirs(out, exist_ok=True)
    SF = {k: max(1, int(v * scale)) for k, v in SF_ROWS.items()}
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }), f"{out}/nation.parquet")

    n = SF["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }), f"{out}/customer.parquet")

    n = SF["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
    }), f"{out}/supplier.parquet")

    n = SF["part"]
    adjectives = ["red", "blue", "small", "large", "green", "steel"]
    nouns = ["widget", "ring", "bolt", "gear", "pipe", "valve"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 6, n), rng.integers(0, 6, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, P_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 2)),
    }), f"{out}/part.parquet")

    n = SF["orders"]
    orderdate = EPOCH_1995 + rng.integers(0, 2400, n) * US_PER_DAY
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, SF["customer"], n).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _ts(orderdate),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }), f"{out}/orders.parquet", parts=4)

    n = SF["lineitem"]
    okey = rng.integers(0, SF["orders"], n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, SF["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, SF["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(orderdate[okey] + rng.integers(1, 122, n) * US_PER_DAY),
    }), f"{out}/lineitem.parquet", parts=8)

    n = SF["events"]
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n))
    _write(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
    }), f"{out}/events.parquet", parts=4)

    n = SF["documents"]
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(20, 80, n)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, ["en", "de", "fr"], n),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out}/documents.parquet")

    n = SF["embeddings"]
    _write(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(rng.normal(0, 0.15, (n, EMB_DIM)).astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n).astype(np.int32)),
    }), f"{out}/embeddings.parquet")


def pipeline_inputs(rng, out: str, n_docs: int, n_exact: int, n_near: int,
                    n_corpus: int, n_queries: int) -> None:
    """Documents with planted exact and near duplicates, and a clustered
    embedding corpus with query vectors."""
    os.makedirs(out, exist_ok=True)
    vocab = np.asarray([f"w{i}" for i in range(DEDUP_VOCAB)], dtype=object)
    base = [list(vocab[rng.integers(0, DEDUP_VOCAB, k)])
            for k in rng.integers(40, 80, n_docs)]
    docs, kinds, origin = [" ".join(t) for t in base], ["base"] * n_docs, \
        list(range(n_docs))
    for src in rng.choice(n_docs, n_exact, replace=False):
        docs.append(docs[src]); kinds.append("exact"); origin.append(int(src))
    for src in rng.choice(n_docs, n_near, replace=False):
        toks = list(base[src])
        for pos in rng.choice(len(toks), int(rng.integers(1, 3)), replace=False):
            toks[pos] = vocab[rng.integers(0, DEDUP_VOCAB)]
        docs.append(" ".join(toks)); kinds.append("near"); origin.append(int(src))
    perm = rng.permutation(len(docs))  # planted copies are not id-adjacent
    _write(pa.table({
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "text": pa.array([docs[i] for i in perm]),
        "kind": pa.array([kinds[i] for i in perm]),
        "origin": pa.array(np.argsort(perm)[np.asarray(origin)[perm]].astype(np.int64)),
    }), f"{out}/docs.parquet")

    centers = rng.normal(0, 1, (ANN_CLUSTERS, EMB_DIM))
    assign = rng.integers(0, ANN_CLUSTERS, n_corpus)
    corpus = (centers[assign] + rng.normal(0, 0.35, (n_corpus, EMB_DIM))).astype(np.float32)
    qassign = rng.integers(0, ANN_CLUSTERS, n_queries)
    queries = (centers[qassign] + rng.normal(0, 0.35, (n_queries, EMB_DIM))).astype(np.float32)
    for name, vecs, first in (("corpus", corpus, 0), ("queries", queries, 10_000_000)):
        _write(pa.table({
            "vec_id": pa.array(np.arange(first, first + len(vecs), dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        }), f"{out}/{name}.parquet")


def scale_up(src: str, out: str, copies: int) -> None:
    """graft.tools.ScaleUp's replication: every key column of copy i shifts
    by i times the stride (max + 1) of the table that owns the key, so each
    join keeps exactly `copies` times its matches. Only the TPC-H tables are
    replicated; events, documents and embeddings, which no 10x query reads,
    stay at sf0.1 size."""
    os.makedirs(out, exist_ok=True)
    read = lambda t: pq.read_table(f"{src}/{t}.parquet")
    stride = lambda t, c: pa.compute.max(read(t)[c]).as_py() + 1
    strides = {"orderkey": stride("orders", "o_orderkey"),
               "custkey": stride("customer", "c_custkey"),
               "partkey": stride("part", "p_partkey"),
               "suppkey": stride("supplier", "s_suppkey")}
    shifts = {
        "region": {}, "nation": {},
        "customer": {"c_custkey": "custkey"}, "supplier": {"s_suppkey": "suppkey"},
        "part": {"p_partkey": "partkey"},
        "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
        "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey",
                     "l_suppkey": "suppkey"},
        "events": {}, "documents": {}, "embeddings": {}}
    parts = {"lineitem": 8, "orders": 4, "events": 4}

    def one(name):
        t, cols = read(name), shifts[name]
        if cols:
            copies_ = []
            for i in range(copies):
                c = t
                for col, dom in cols.items():
                    idx = c.schema.get_field_index(col)
                    c = c.set_column(idx, col, pa.compute.add(c[col], i * strides[dom]))
                copies_.append(c)
            t = pa.concat_tables(copies_)
        _write(t.combine_chunks(), f"{out}/{name}.parquet", parts=parts.get(name, 1))
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(one, shifts))


def ingest_inputs(rng, out: str, n: int) -> None:
    """INGEST_DAYS template days of raw events, all dated 2024-01-01 (the
    benchmark shifts each to its target day at ingest time), and the
    datasource's first WINDOW days, rolled up to 15 minutes."""
    os.makedirs(f"{out}/days", exist_ok=True)
    rolled = []
    for d in range(INGEST_DAYS):
        ms = np.sort(EPOCH_2024 // 1000 + rng.integers(0, 86_400_000, n))
        user = rng.integers(0, 5000, n)
        etype = np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
        country = np.asarray(COUNTRIES, dtype=object)[rng.integers(0, 5, n)]
        value = np.round(rng.exponential(20, n), 2)
        with open(f"{out}/days/day_{d}.json", "w") as f:
            for r in zip(ms.tolist(), user.tolist(), etype, country, value.tolist()):
                f.write('{"ts":%d,"user_id":%d,"event_type":"%s","country":"%s","value":%r}\n' % r)
        os.makedirs(f"{out}/stream/day_{d}", exist_ok=True)
        _write(pa.table({
            "ts": _ts(ms * 1000), "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(etype, type=pa.string()),
            "country": pa.array(country, type=pa.string()),
            "value": pa.array(value),
        }), f"{out}/stream/day_{d}/part-00000.parquet")
        rolled.append(pa.table({
            "bucket": pa.array(ms // ROLLUP_MS * ROLLUP_MS), "event_type": etype.tolist(),
            "country": country.tolist(), "value": pa.array(value),
        }).group_by(["bucket", "event_type", "country"], use_threads=False)
          .aggregate([("value", "count"), ("value", "sum")])
          .sort_by([("bucket", "ascending"), ("event_type", "ascending"),
                    ("country", "ascending")]))
    for k in range(WINDOW):
        t = rolled[k % INGEST_DAYS]
        day = WINDOW_START + k
        shift_ms = (day - np.datetime64("2024-01-01", "D")).astype(np.int64) * 86_400_000
        chunk = f"{out}/window0/win/__day={day}"
        os.makedirs(chunk)
        _write(pa.table({
            "__time": pa.array((t["bucket"].to_numpy() + shift_ms) * 1000,
                               type=pa.timestamp("us", tz="UTC")),
            "event_type": t["event_type"], "country": t["country"],
            "cnt": t["value_count"], "sum_value": t["value_sum"],
        }), f"{chunk}/part-00000.parquet")


WORKLOAD_SALT = {"interactive": 1, "batch_10x": 2}


def generate(workload: str, seed: int, out: str) -> str:
    """Writes every input of one run under `out` and returns their hash."""
    size = SIZES[workload]
    rng = np.random.default_rng([WORKLOAD_SALT[workload], seed])
    star_schema(rng, f"{out}/sf")
    if size["copies"] > 1:
        scale_up(f"{out}/sf", f"{out}/sf{size['copies']}x", size["copies"])
    pipeline_inputs(rng, f"{out}/pipeline", size["docs"], size["exact"], size["near"],
                    size["corpus"], size["queries"])
    ingest_inputs(rng, out, size["day_rows"])
    manifest = dict(size, rows={t: pq.read_metadata(p).num_rows if os.path.isfile(p)
                                else sum(pq.read_metadata(f"{p}/{f}").num_rows
                                         for f in os.listdir(p))
                                for t in SF_ROWS | {"nation": 0, "region": 0}
                                for p in [f"{out}/sf{size['copies']}x/{t}.parquet"
                                          if size["copies"] > 1 else f"{out}/sf/{t}.parquet"]})
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return input_hash(out)


def input_hash(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
