"""Inputs and output checks for the curation_batch workload.

`subsample` writes a seeded ~90% row subsample of the vendored sf0.1
`documents` and `embeddings` tables. `check` compares each query's Spark
result with DuckDB running the program's own oracle SQL over the same
files, by a hash of the normalized, sorted rows. DuckDB hashes are cached
per seed and SQL text, so they are computed once per seed; the benchmark
JVM waits while they are computed, outside any timed region.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = {"documents": "doc_id", "embeddings": "vec_id"}
MASK64 = (1 << 64) - 1


def mix(x):
    """SplitMix64 finalizer, as in perfbench.Gen.mix."""
    z = (x + 0x9E3779B97F4A7C15) & MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return z ^ (z >> 31)


def keep(seed, key):
    """Whether row `key` is in the subsample of `seed` (about 9 in 10)."""
    return mix(mix(seed & MASK64) ^ (key & MASK64)) % 10 != 0


def subsample(seed, src, dst):
    """Write the subsample of `seed` to `dst`."""
    os.makedirs(dst, exist_ok=True)
    for table, key in TABLES.items():
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        mask = pa.array([keep(seed, int(k)) for k in t.column(key).to_pylist()])
        pq.write_table(t.filter(mask), os.path.join(dst, f"{table}.parquet"))


def norm(df):
    """Column order, dtypes and list cells made comparable across engines."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    if len(df):
        df = df.sort_values(list(df.columns), key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def digest(df):
    d = norm(df)
    text = "|".join(d.columns) + "\n" + d.to_csv(index=False, header=False)
    return f"{len(d)}:{hashlib.sha256(text.encode()).hexdigest()[:16]}"


def expected(seed, data, sqls, cache_dir):
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{seed}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect(config={"threads": 2})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    hashes = {q: digest(con.execute(sql).fetchdf()) for q, sql in sqls.items()}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump(hashes, f)
    return hashes


def oracle_sqls(out):
    with open(os.path.join(out, "oracle_sql.json")) as f:
        return json.load(f)


def check(out, want):
    """Problems found: one line per query whose hash differs from `want`."""
    sqls = oracle_sqls(out)
    problems = []
    for q in sorted(sqls):
        files = sorted(glob.glob(os.path.join(out, q, "*.parquet")))
        if not files:
            problems.append(f"{q}: no result written")
            continue
        got = digest(pd.concat([pd.read_parquet(f) for f in files]))
        if got != want[q]:
            problems.append(f"{q}: result hash {got}, DuckDB oracle {want[q]}")
    return problems
