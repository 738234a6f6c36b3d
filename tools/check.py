#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/check.py <outDir> <sfDir> [--baseline <baseDir>]
Reads <outDir>/<name>/ parquet (written by graft.Verify) and
<outDir>/oracle_sql.json, runs each oracle in DuckDB over the parquet
tables in <sfDir>, and reports row/schema/value comparison per query
(exact + tolerant float compare so we can see how close we are).

--baseline <baseDir> also compares every gate's rows with another Verify
dump (say, of the parent commit): same schema and the same multiset of
rows, value for value, with no float tolerance. Any CHANGED, NEW or GONE
gate fails the run.
"""
import json, sys, glob, math, os
import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame):
    """(exact_match, tolerant_match, detail)"""
    if sorted(a.columns) != sorted(b.columns):
        return False, False, f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return False, False, f"rowcount {len(a)} vs {len(b)}"
    a, b = norm(a), norm(b)
    # sort rows by all columns for order-insensitive compare
    try:
        key_cols = list(a.columns)
        a = a.sort_values(key_cols, kind="mergesort").reset_index(drop=True)
        b = b.sort_values(key_cols, kind="mergesort").reset_index(drop=True)
    except Exception:
        pass
    exact = True
    tol = True
    detail = []

    def is_decimal_obj(s: pd.Series) -> bool:
        """object-dtype column whose non-null values are decimal.Decimal."""
        import decimal
        if s.dtype != object:
            return False
        nn = s.dropna()
        return len(nn) > 0 and all(isinstance(v, decimal.Decimal) for v in nn)

    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            # TYPE-PARITY: one side fixed-scale Decimal, the other float.
            # The driver hashes SERIALIZED values — Decimal('0.038360') and
            # 0.03836 hash differently even though they're numerically equal.
            # Float-normalizing here would hide exactly that divergence (it
            # did for q_tpch_q08 in r11), so flag it as a hard failure: the
            # local gate must be strictly STRICTER than the driver.
            a_dec, b_dec = is_decimal_obj(av), is_decimal_obj(bv)
            a_flt = pd.api.types.is_float_dtype(av)
            b_flt = pd.api.types.is_float_dtype(bv)
            if (a_dec and b_flt) or (b_dec and a_flt):
                exact = False; tol = False
                side = "spark" if a_dec else "oracle"
                detail.append(
                    f"{c}: TYPE-PARITY {side} is Decimal vs float — "
                    "serialization-sensitive; CAST the gate to DOUBLE on both dialects")
                continue
            if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                av = av.astype(float); bv = bv.astype(float)
                eq = ((av == bv) | (av.isna() & bv.isna()))
                if not eq.all():
                    exact = False
                    close = (abs(av - bv) <= 1e-6 * (1 + abs(bv))) | (av.isna() & bv.isna())
                    if not close.all():
                        tol = False
                        i = (~close).idxmax()
                        detail.append(f"{c}[{i}]: {av[i]!r} vs {bv[i]!r}")
                    else:
                        i = (~eq).idxmax()
                        detail.append(f"{c}[{i}] ~ {av[i]!r} vs {bv[i]!r} (tol ok)")
            else:
                av2 = av.astype(str); bv2 = bv.astype(str)
                eq = (av2 == bv2)
                if not eq.all():
                    exact = False; tol = False
                    i = (~eq).idxmax()
                    detail.append(f"{c}[{i}]: {av[i]!r} vs {bv[i]!r}")
        except Exception as e:
            exact = False; tol = False
            detail.append(f"{c}: compare error {e}")
    return exact, tol, "; ".join(detail[:3])


def read_dump(gate_dir: str):
    """(schema, rows) of one gate's parquet output; rows are sorted tuples of
    repr()s, so the compare is exact (floats round-trip through repr) and
    independent of row order."""
    tables = [pq.read_table(f) for f in sorted(glob.glob(f"{gate_dir}/*.parquet"))]
    if not tables:
        return None, []
    schema = tables[0].schema.remove_metadata()
    rows = sorted(tuple(repr(r[c]) for c in schema.names)
                  for t in tables for r in t.to_pylist())
    return schema, rows


def compare_baseline(out_dir: str, base_dir: str) -> int:
    """Print one line per gate whose rows differ from the baseline dump;
    return the number of such gates."""
    def gates(d):
        return {g for g in os.listdir(d) if os.path.isdir(f"{d}/{g}")}
    ours, base = gates(out_dir), gates(base_dir)
    n_changed = 0
    for g in sorted(ours | base):
        if g not in base:
            status, detail = "NEW", "no baseline output"
        elif g not in ours:
            status, detail = "GONE", "no output"
        else:
            (sa, ra), (sb, rb) = read_dump(f"{out_dir}/{g}"), read_dump(f"{base_dir}/{g}")
            if sa != sb:
                status, detail = "CHANGED", f"schema {sa} vs {sb}".replace("\n", ", ")
            elif ra != rb:
                diff = sorted(set(ra) ^ set(rb))
                status, detail = "CHANGED", (
                    f"{len(ra)} vs {len(rb)} rows, e.g. {diff[0] if diff else 'duplicates'}")
            else:
                continue
        n_changed += 1
        print(f"BAD {status:9s} {g:28s} {detail}"[:400])
    print(f"\n{len(ours | base)} gates against the baseline, {n_changed} changed")
    return n_changed


def main():
    args = sys.argv[1:]
    base_dir = None
    if "--baseline" in args:
        i = args.index("--baseline")
        base_dir = args[i + 1]
        del args[i:i + 2]
    out_dir, sf_dir = args
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            results[name] = ("MISSING", "no spark output")
            continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        try:
            want = con.execute(sql).df()
        except Exception as e:
            results[name] = ("ORACLE_ERR", str(e)[:200])
            continue
        exact, tol, detail = compare(got, want)
        status = "EXACT" if exact else ("TOL" if tol else "FAIL")
        results[name] = (status, detail)
    # queries without oracle → rows-only
    for d in sorted(os.listdir(out_dir)):
        if os.path.isdir(f"{out_dir}/{d}") and d not in oracle:
            files = glob.glob(f"{out_dir}/{d}/*.parquet")
            n = sum(len(pd.read_parquet(f)) for f in files) if files else 0
            results[d] = ("ROWS_ONLY", f"{n} rows")
    n_bad = 0
    for name, (status, detail) in sorted(results.items()):
        flag = {"EXACT": "ok ", "TOL": "~  ", "ROWS_ONLY": "r  "}.get(status, "BAD")
        if flag == "BAD":
            n_bad += 1
        print(f"{flag} {status:9s} {name:28s} {detail}")
    print(f"\n{len(results)} queries, {n_bad} failing")
    if base_dir is not None:
        n_bad += compare_baseline(out_dir, base_dir)
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
