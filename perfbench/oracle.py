"""DuckDB oracle check of saved query outputs, by the exact-compare
rules of tools/compare.py: columns sorted by name, row counts equal,
numeric kinds equal (int vs float), every value equal with no float
tolerance, non-numeric values compared by their string form. A query
without an oracle must return rows."""
import hashlib
import math
import os
import pickle

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(data_dir, results_dir, oracles, cache):
    """Return {query: (ok, detail)} for every saved output. Oracle
    results are kept under `cache`, keyed by the data and the SQL: the
    data directory is fixed, so an answer never changes."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    data_key = hashlib.sha256()
    for t in TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as fh:
            data_key.update(hashlib.sha256(fh.read()).digest())
    cache = os.path.join(cache, data_key.hexdigest()[:16])
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name in sorted(os.listdir(results_dir)):
        d = os.path.join(results_dir, name)
        spark = con.sql(f"SELECT * FROM '{d}/*.parquet'")
        scols = sorted(spark.columns)
        sdf = spark.df()[scols]
        if name not in oracles:
            out[name] = (len(sdf) > 0, f"{len(sdf)} rows, no oracle")
            continue
        try:
            odf = cached_oracle(con, oracles[name], cache)
            ocols = list(odf.columns)
        except Exception as e:  # an oracle that cannot run is a failure
            out[name] = (False, f"oracle error: {e}")
            continue
        out[name] = compare(sdf, odf, scols, ocols)
    return out


def compare(sdf, odf, scols, ocols):
    if scols != ocols:
        return False, f"columns {scols} vs oracle {ocols}"
    if len(sdf) != len(odf):
        return False, f"{len(sdf)} rows vs oracle {len(odf)}"
    for c in scols:
        sd, od = sdf[c].dtype, odf[c].dtype
        s_num = np.issubdtype(sd, np.number)
        o_num = np.issubdtype(od, np.number)
        if s_num != o_num or (s_num and np.issubdtype(sd, np.floating)
                              != np.issubdtype(od, np.floating)):
            return False, f"column {c}: dtype {sd} vs oracle {od}"
        if s_num and all_equal(sdf[c].to_numpy(), odf[c].to_numpy()):
            continue
        for i, (x, y) in enumerate(zip(sdf[c].tolist(), odf[c].tolist())):
            same = (equal(x, y) or (x is None and y is None)
                    or (isinstance(x, float) and isinstance(y, float)
                        and math.isnan(x) and math.isnan(y))
                    or (not s_num and str(x) == str(y)))
            if not same:
                return False, f"row {i} column {c}: {x!r} vs oracle {y!r}"
    return True, f"{len(sdf)} rows"


def all_equal(a, b):
    """Every cell of two numeric columns equal, or NaN on both sides: a
    vectorized pass that accepts only what the per-cell rules accept
    (a column it rejects is compared cell by cell for the report)."""
    try:
        same = a == b
        if np.issubdtype(a.dtype, np.floating):
            same |= np.isnan(a) & np.isnan(b)
        return bool(np.all(same))
    except (TypeError, ValueError):
        return False


SCALARS = (int, float, str, bool, type(None))


def equal(x, y):
    """x == y, for cells that hold arrays too (compared element-wise)."""
    if isinstance(x, SCALARS) and isinstance(y, SCALARS):
        return x == y
    try:
        return bool(np.all(x == y)) if np.size(x) == np.size(y) else False
    except (TypeError, ValueError):
        return False


def cached_oracle(con, sql, cache):
    """The oracle's result, columns sorted by name, from `cache` when
    this SQL ran before over the same data."""
    key = hashlib.sha256(sql.encode()).hexdigest()
    path = os.path.join(cache, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    rel = con.sql(sql)
    df = rel.df()[sorted(rel.columns)]
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(df, fh)
    os.replace(path + ".tmp", path)
    return df
