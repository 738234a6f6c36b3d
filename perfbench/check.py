"""Output checker: every output of a run against a computation made apart
from graft.

  * reads: per-template DuckDB SQL over the same parquet inputs; on a 10x
    copy, DuckDB runs over the sf0.1 base and counts and sums are scaled by
    the copy count (the replication property of a key-consistent copy);
  * window reads: totals of the generator's raw days in the window;
  * ingest and retention: the datasource and the dropped day;
  * dedup: every planted exact duplicate is reported, and recall on the
    planted near duplicates meets the S-curve bound of MinHash-LSH's
    bands x rows; every SimHash pair passes its exact Jaccard threshold;
  * ANN: recall@k against a brute-force kNN computed with numpy.
"""
import datetime as dt
import json
import math
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

# Dedup.minHashLsh and Dedup.simHashPairs defaults the benchmark calls with
SHINGLE = 3
HASHES, BANDS, MINHASH_THRESHOLD = 64, 16, 0.5
SIMHASH_MIN_JACCARD = 0.3
ANN_K = 10
ANN_MIN_RECALL = 0.8
# three times the relative standard deviation (0.05) of Spark's
# HyperLogLog++, which APPROX_COUNT_DISTINCT runs on
APPROX_DISTINCT_TOLERANCE = 0.15
WINDOW_START = dt.date(2024, 2, 1)
REL_TOL = 1e-10  # double sums in another order differ far below this


def _src(path):
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def _cell(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.") + f"{v.microsecond // 1000:03d}Z"
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    return float(v)


def _key(row):
    return tuple((0, round(c, 2)) if isinstance(c, float) else (1, str(c)) for c in row)


def same_rows(got, want, tol=REL_TOL):
    """Order-insensitive row-set equality with a relative float tolerance."""
    got = sorted(([_cell(c) for c in r] for r in got), key=_key)
    want = sorted(([_cell(c) for c in r] for r in want), key=_key)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if len(g) != len(w):
            return f"row {g} has {len(g)} columns, expected {len(w)}"
        for a, b in zip(g, w):
            if isinstance(b, float) and isinstance(a, float):
                if not math.isclose(a, b, rel_tol=tol, abs_tol=1e-6):
                    return f"row {g}, expected {w}"
            elif a != b:
                return f"row {g}, expected {w}"
    return None


def normalize(text):
    """Dedup.normalize: lower-case, non-alphanumerics to spaces."""
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip()


def shingles(text, k=SHINGLE):
    toks = normalize(text).split(" ")
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a | b else 0.0


def lsh_candidate_probability(s):
    """P(a pair of true Jaccard s is reported): it shares a band (the
    S-curve 1 - (1 - s^r)^b) and its estimate over HASHES minhashes reaches
    the threshold (binomial tail)."""
    rows = HASHES // BANDS
    band = 1 - (1 - s ** rows) ** BANDS
    need = math.ceil(MINHASH_THRESHOLD * HASHES)
    tail = sum(math.comb(HASHES, j) * s ** j * (1 - s) ** (HASHES - j)
               for j in range(need, HASHES + 1))
    return band * tail


class Checker:
    def __init__(self, inputs):
        self.inputs = inputs
        with open(f"{inputs}/manifest.json") as f:
            self.manifest = json.load(f)
        self.copies = self.manifest["copies"]
        self.db = duckdb.connect()
        self.db.execute("SET TimeZone = 'UTC'")
        for t in ("region", "nation", "customer", "orders", "lineitem", "events"):
            self.db.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{_src(f'{inputs}/sf/{t}.parquet')}')")
        self.db.execute(f"""CREATE TABLE raw AS SELECT
            CAST(regexp_extract(filename, 'day_([0-9]+)', 1) AS INTEGER) AS tpl, *
            FROM read_json('{inputs}/days/day_*.json', filename = true,
              columns = {{ts: 'BIGINT', user_id: 'BIGINT', event_type: 'VARCHAR',
                          country: 'VARCHAR', value: 'DOUBLE'}})""")
        self.templates = self.db.execute("SELECT max(tpl) + 1 FROM raw").fetchone()[0]
        docs = pq.read_table(f"{inputs}/pipeline/docs.parquet").to_pydict()
        self.doc_text = dict(zip(docs["doc_id"], docs["text"]))
        self.planted = {k: {(min(i, o), max(i, o)) for i, o, kind in
                            zip(docs["doc_id"], docs["origin"], docs["kind"]) if kind == k}
                        for k in ("exact", "near")}
        vec = lambda n: pq.read_table(f"{inputs}/pipeline/{n}.parquet").to_pydict()
        corpus, queries = vec("corpus"), vec("queries")
        self.corpus_ids = np.asarray(corpus["vec_id"])
        c = np.asarray(corpus["embedding"], dtype=np.float64)
        self.corpus = c / np.linalg.norm(c, axis=1, keepdims=True)
        q = np.asarray(queries["embedding"], dtype=np.float64)
        self.queries = dict(zip(queries["vec_id"], q / np.linalg.norm(q, axis=1, keepdims=True)))

    def q(self, sql, *args):
        return self.db.execute(sql, list(args)).fetchall()

    # ------------------------------------------------------------- reads

    def dashboard(self, t, p):
        ts = lambda d: dt.datetime.fromisoformat(d)
        if t == "ts_hour":
            return self.q("""SELECT date_trunc('hour', ts), count(*), sum(value) FROM events
                WHERE ts >= ? AND ts < ? AND event_type IN (?, ?) GROUP BY 1""",
                          ts(p["lo"]), ts(p["hi"]), *p["types"])
        if t == "topn":
            return self.q("""SELECT event_type, count(*), sum(value) AS rev FROM events
                WHERE ts >= ? AND ts < ? GROUP BY 1 ORDER BY rev DESC LIMIT 3""",
                          ts(p["lo"]), ts(p["hi"]))
        if t == "groupby":
            return self.q("""SELECT o_orderstatus, o_orderpriority, count(*), sum(o_totalprice)
                FROM orders WHERE o_totalprice BETWEEN ? AND ? GROUP BY 1, 2""",
                          p["lower"], p["lower"] + 100000)
        if t == "scan":
            return self.q("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
                FROM lineitem WHERE l_orderkey = ?""", p["key"])
        if t == "search":
            return self.q("""SELECT 'event_type', event_type, count(*) FROM events
                WHERE ts >= ? AND ts < ? AND contains(lower(event_type), ?) GROUP BY 2""",
                          ts(p["lo"]), ts(p["hi"]), p["needle"])
        if t == "time_boundary":
            return self.q("SELECT min(ts), max(ts) FROM events WHERE event_type = ?", p["type"])
        if t == "segment_metadata":
            return self.q("""SELECT 'event_type', count(event_type), count(DISTINCT event_type)
                FROM events WHERE ts >= ? AND ts < ? UNION ALL
                SELECT 'user_id', count(user_id), count(DISTINCT user_id)
                FROM events WHERE ts >= ? AND ts < ?""",
                          ts(p["lo"]), ts(p["hi"]), ts(p["lo"]), ts(p["hi"]))
        if t == "sql_time_floor":
            return self.q("""SELECT date_trunc('hour', ts), event_type, count(*), sum(value)
                FROM events WHERE ts >= ? AND ts < ? AND user_id >= ? AND user_id < ?
                GROUP BY 1, 2""", ts(p["lo"]), ts(p["hi"]), p["user"], p["user"] + 500)
        if t == "sql_lookup":
            return self.q("""SELECT 'NATION_' || c_nationkey, count(*), sum(c_acctbal)
                FROM customer WHERE c_mktsegment = ? GROUP BY 1""", p["segment"])
        if t == "sql_approx_distinct":
            return self.q("""SELECT event_type, count(DISTINCT user_id) FROM events
                WHERE ts >= ? AND ts < ? GROUP BY 1""", ts(p["lo"]), ts(p["hi"]))
        if t == "sql_join":
            y = p["year"]
            return self.q("""SELECT n_name, count(*), sum(o_totalprice) AS total FROM orders
                JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
                WHERE o_orderdate >= ? AND o_orderdate < ?
                GROUP BY n_name ORDER BY total DESC LIMIT 5""",
                          dt.datetime(y, 1, 1), dt.datetime(y + 1, 1, 1))
        return None

    def row_query(self, t, p):
        """(DuckDB rows over the sf0.1 base, per-column scale: 'x' scales
        with the copy count, '1' does not)."""
        ts = dt.datetime
        if t == "b_count":
            y = p["year"]
            return self.q("""SELECT count(*) FROM lineitem
                WHERE l_shipdate >= ? AND l_shipdate < ?""", ts(y, 1, 1), ts(y + 1, 1, 1)), "x"
        if t == "b_sum":
            return self.q("""SELECT sum(l_extendedprice), sum(l_quantity) FROM lineitem
                WHERE l_discount <> ?""", p["discount"]), "xx"
        if t == "b_timeseries":
            y = p["year"]
            return self.q("""SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP), count(*),
                sum(l_extendedprice)
                FROM lineitem WHERE l_shipdate >= ? AND l_shipdate < ? GROUP BY 1""",
                          ts(y, 1, 1), ts(y + 2, 1, 1)), "1xx"
        if t == "b_topn":
            return self.q("""SELECT l_linenumber, count(*), sum(l_extendedprice) AS price
                FROM lineitem WHERE l_quantity BETWEEN ? AND ? GROUP BY 1
                ORDER BY price DESC LIMIT 3""", p["min_qty"], p["min_qty"] + 29), "1xx"
        if t == "b_groupby":
            return self.q("""SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity),
                sum(l_extendedprice) FROM lineitem WHERE l_quantity BETWEEN ? AND ?
                GROUP BY 1, 2""", p["min_qty"], p["min_qty"] + 29), "11xxx"
        if t == "tpch_q1":
            return self.q("""SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
                sum(l_extendedprice * (1 - l_discount)),
                sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
                avg(l_quantity), avg(l_discount), count(*)
                FROM lineitem WHERE l_shipdate <= ? GROUP BY 1, 2""",
                          dt.datetime.fromisoformat(p["cutoff"])), "11xxxx11x"
        if t == "tpch_q6":
            y, d = p["year"], p["discount"]
            return self.q("""SELECT sum(l_extendedprice * l_discount), count(*) FROM lineitem
                WHERE l_shipdate >= ? AND l_shipdate < ? AND l_discount BETWEEN ? AND ?
                  AND l_quantity < 24""",
                          ts(y, 1, 1), ts(y + 1, 1, 1), (d - 1) / 100.0, (d + 1) / 100.0), "xx"
        if t == "ssb_star":
            return self.q("""SELECT r_name, year(o_orderdate), count(*),
                sum(l_extendedprice * (1 - l_discount))
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE o_orderstatus = ? GROUP BY 1, 2""", p["status"]), "11xx"
        return None

    def scaled(self, rows, scale):
        return [[v * self.copies if s == "x" and v is not None else v
                 for v, s in zip(r, scale)] for r in rows]

    # ------------------------------------------------------------ window

    def window_days(self, k, window=6):
        """(day, template) pairs held after step k's ingest and retention."""
        return [(WINDOW_START + dt.timedelta(days=d), d % self.templates)
                for d in range(k - window + 1, k + 1)]

    def window_view(self, k):
        days = self.window_days(k)
        sel = " UNION ALL ".join(
            f"SELECT make_timestamp((ts + {(day - dt.date(2024, 1, 1)).days * 86400000}) * 1000) "
            f"AS t, event_type, country, value FROM raw WHERE tpl = {tpl}" for day, tpl in days)
        self.db.execute(f"CREATE OR REPLACE TEMP VIEW win AS {sel}")

    def window_read(self, t, p):
        self.window_view(p["step"])
        if t == "r_daily":
            return self.q("""SELECT CAST(date_trunc('day', t) AS TIMESTAMP), count(*), sum(value)
                FROM win GROUP BY 1""")
        if t == "r_by_type":
            return self.q("SELECT event_type, count(*), sum(value) FROM win GROUP BY 1")
        if t == "r_totals":
            return self.q("""SELECT count(DISTINCT (time_bucket(INTERVAL 15 MINUTE, t),
                event_type, country)), count(*) FROM win""")
        if t == "r_6h_us":
            return self.q("""SELECT time_bucket(INTERVAL 6 HOUR, t), count(*) FROM win
                WHERE country = 'us' GROUP BY 1""")
        return None

    # ---------------------------------------------------------- pipeline

    def minhash(self, got):
        pairs = {(min(a, b), max(a, b)) for a, b in got}
        missing = self.planted["exact"] - pairs
        if missing:
            return f"{len(missing)} planted exact duplicates not reported"
        near = sorted(self.planted["near"])
        probs = [lsh_candidate_probability(jaccard(shingles(self.doc_text[a]),
                                                   shingles(self.doc_text[b]))) for a, b in near]
        expect = sum(probs)
        sigma = math.sqrt(sum(p * (1 - p) for p in probs))
        found = sum(1 for pr in near if pr in pairs)
        if found < expect - 3 * sigma - 1e-9:
            return (f"near-duplicate recall {found}/{len(near)} below the S-curve bound "
                    f"{expect:.1f} - 3 x {sigma:.2f}")
        return None

    def simhash(self, got):
        pairs = {(min(a, b), max(a, b)) for a, b in got}
        missing = self.planted["exact"] - pairs
        if missing:
            return f"{len(missing)} planted exact duplicates not reported"
        for a, b in pairs:
            j = jaccard(shingles(self.doc_text[a]), shingles(self.doc_text[b]))
            if j < SIMHASH_MIN_JACCARD - 1e-9:
                return f"pair ({a}, {b}) has Jaccard {j:.3f} < {SIMHASH_MIN_JACCARD}"
        return None

    def ann(self, got):
        by_q = {}
        for q, n in got:
            by_q.setdefault(q, set()).add(n)
        if set(by_q) != set(self.queries):
            return f"{len(by_q)} queries answered, expected {len(self.queries)}"
        hits = 0
        for q, v in self.queries.items():
            if len(by_q[q]) != ANN_K:
                return f"query {q}: {len(by_q[q])} neighbours, expected {ANN_K}"
            sims = self.corpus @ v
            top = set(self.corpus_ids[np.argsort(-sims, kind="stable")[:ANN_K]].tolist())
            hits += len(top & by_q[q])
        recall = hits / (ANN_K * len(self.queries))
        if recall < ANN_MIN_RECALL:
            return f"recall@{ANN_K} {recall:.3f} < {ANN_MIN_RECALL}"
        return None

    # -------------------------------------------------------------- entry

    def check(self, rec):
        """None if the record's output is correct, else what is wrong."""
        t, p, got = rec["template"], rec["params"], rec["result"]
        if not rec["ok"]:
            return f"failed: {got}"
        if t in ("minhash", "simhash", "ann_ivf"):
            return getattr(self, t.split("_")[0])(got)
        if t in ("ingest_sql", "ingest_stream"):
            return None if got and got[0][0] == "win" else f"unexpected ingest body {got}"
        if t == "retention":
            want = [(WINDOW_START + dt.timedelta(days=p["step"] - 6)).isoformat()]
            return None if got == want else f"dropped {got}, expected {want}"
        want = self.window_read(t, p) if t.startswith("r_") else self.dashboard(t, p)
        if want is not None:
            if t == "sql_approx_distinct":
                return self.approx(got, want)
            return same_rows(got, want)
        want, scale = self.row_query(t, p)
        return same_rows(got, self.scaled(want, scale))

    def approx(self, got, want):
        exact = {k: v for k, v in want}
        if set(exact) != {k for k, _ in got}:
            return f"groups {sorted(k for k, _ in got)}, expected {sorted(exact)}"
        for k, v in got:
            if abs(v - exact[k]) > APPROX_DISTINCT_TOLERANCE * exact[k]:
                return f"{k}: approximate distinct {v}, exact {exact[k]}"
        return None


def check_outputs(inputs, outputs_path):
    """Checks every record of a run; returns (records checked, failures)."""
    checker = Checker(inputs)
    failures, n = [], 0
    with open(outputs_path) as f:
        for line in f:
            rec = json.loads(line)
            n += 1
            err = checker.check(rec)
            if err:
                failures.append(f"op {rec['i']} {rec['template']}: {err}")
    return n, failures
