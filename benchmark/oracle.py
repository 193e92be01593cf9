"""Answer digests for the ``analyst_session`` mix.

Each query's registered DuckDB ``oracle`` is reduced to a digest in the
canonical form of ``tests/test_correctness.py``: row count, sorted column
names, and a hash of the order-free, canonicalised rows. Digests are
cached by the dataset's content fingerprint, so byte-identical copies and
repeat runs never run DuckDB again.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(value) -> str:
    """One cell as a sortable string, by the rules of the correctness test:
    NULL and NaN collapse, floats keep their dtype (53.0 is not 53) and
    nine significant digits, negative zero is zero."""
    import numpy as np
    import pandas as pd

    if isinstance(value, (bytes, bytearray)):
        return value.hex()
    if isinstance(value, (list, tuple, np.ndarray)):
        raise TypeError("non-scalar cell cannot be canonicalised")
    if value is None or value is pd.NA or (isinstance(value, float) and math.isnan(value)):
        return "\x00NULL"
    if isinstance(value, (float, np.floating)):
        v = float(value)
        if v == 0.0:
            v = 0.0
        s = f"{v:.9g}"
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"
        return s
    if isinstance(value, decimal.Decimal):
        return canon(float(value))
    return str(value)


def digest(frame) -> dict:
    """Digest of a pandas frame: ``rows``, sorted ``columns``, ``values``."""
    cols = sorted(frame.columns)
    rows = sorted(
        tuple(canon(v) for v in row) for row in frame[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return {"rows": len(rows), "columns": cols, "values": h.hexdigest()}


def fingerprint(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def oracle_digests(sf_dir: str, specs: dict, cache_dir: str) -> dict:
    """``{query: digest}`` for every spec with an oracle, from the cache
    when this dataset's fingerprint was seen before."""
    path = os.path.join(cache_dir, f"oracle-{fingerprint(sf_dir)}.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    missing = [n for n, s in specs.items() if s.oracle is not None and n not in cached]
    if missing:
        import duckdb

        con = duckdb.connect()
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
        for name in missing:
            cached[name] = digest(con.execute(specs[name].oracle).fetchdf())
        con.close()
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(cached, f)
        os.replace(path + ".tmp", path)
    return cached
