#!/usr/bin/env python3
"""Cross-check every `graft.Verify` output against its DuckDB oracle.

Usage: python3 tools/check_oracle.py <sfdir> <outdir> [workers=1]

Prints one line per query and a final "== N ok, M fail" summary.
workers > 1 shards the query list over that many worker processes: at
sf1 some oracles (pair-family recursive CTEs) run MINUTES in DuckDB while
most finish in seconds, and a serial sweep waits behind them. Known-heavy
families start first; the rest round-robin after them.
"""
import duckdb, json, os, sys, time
import pandas as pd
from concurrent.futures import ProcessPoolExecutor, as_completed
import multiprocessing

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']
HEAVY = ('cluster', 'minhash', 'jaccard', 'simhash', 'dup', 'semantic',
         'tfidf', 'pmi', 'asof', 'bm25')


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(sf, out, names, emit):
    """Compare each query dir in `names` with its oracle; returns (ok, fail)."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f'{out}/oracle_sql.json'))
    ok = fail = 0
    for name in names:
        d = os.path.join(out, name)
        spark_df = con.sql(f"SELECT * FROM '{d}/*.parquet'").df()
        if name not in oracle:
            emit(f"{name:22s} rows-only: {len(spark_df)} rows")
            continue
        s, o = canon(spark_df), canon(con.sql(oracle[name]).df())
        if list(s.columns) != list(o.columns):
            emit(f"{name:22s} COLUMN MISMATCH {list(s.columns)} vs {list(o.columns)}"); fail += 1; continue
        if len(s) != len(o):
            emit(f"{name:22s} ROWCOUNT {len(s)} vs {len(o)}"); fail += 1; continue
        if not s.equals(o):
            neq = (s != o) & ~(s.isna() & o.isna())
            cols = [c for c in s.columns if neq[c].any()]
            idx = neq.any(axis=1)
            emit(f"{name:22s} VALUE MISMATCH in {cols}, first rows:\n" + str(pd.concat(
                [s[idx].head(3).add_suffix('_spark'), o[idx].head(3).add_suffix('_oracle')], axis=1)))
            fail += 1; continue
        emit(f"{name:22s} OK ({len(s)} rows)"); ok += 1
    return ok, fail


def check_shard(sf, out, names):
    lines = []
    ok, fail = check(sf, out, names, lines.append)
    return lines, ok, fail


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sf, out = sys.argv[1], sys.argv[2]
    workers = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    names = sorted(n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n)))
    if workers <= 1:
        ok, fail = check(sf, out, names, print)
        print(f"== {ok} ok, {fail} fail")
        return
    t0 = time.time()
    names.sort(key=lambda n: (0 if any(k in n for k in HEAVY) else 1, n))
    shards = [s for s in (names[i::workers] for i in range(workers)) if s]
    ok = fail = 0
    with ProcessPoolExecutor(len(shards), mp_context=multiprocessing.get_context('spawn')) as pool:
        for f in as_completed([pool.submit(check_shard, sf, out, s) for s in shards]):
            try:
                lines, o, fl = f.result()
            except Exception as e:  # a crashed shard counts as one failure
                print(f"shard FAILED: {e!r}"); fail += 1; continue
            print('\n'.join(lines), flush=True)
            ok += o; fail += fl
    print(f"== {ok} ok, {fail} fail  ({time.time() - t0:.0f}s, {workers} workers)")


if __name__ == '__main__':
    main()
