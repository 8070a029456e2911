"""Result digests with the oracle checker's canonical form: columns sorted by
name, list cells rendered `[a b c]`, float columns at `%.6g`, rows sorted.
"""
import glob
import hashlib
import json
import os

import pandas as pd


def load(result_dir):
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no result parquet in {result_dir}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def float_columns(df):
    return {c for c in df.columns if df[c].dtype.kind == "f"}


def canon(df, float_cols):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell_exact(v):
        if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
            return "[" + " ".join(str(x) for x in v) + "]"
        return str(v)

    def cell_float(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        return cell_exact(v)

    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        out[c] = df[c].map(cell_float if c in float_cols else cell_exact)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def digest(df):
    """`(rows, sha256)` of a result frame in canonical form."""
    c = canon(df, float_columns(df))
    payload = json.dumps([list(c.columns)] + c.values.tolist(), ensure_ascii=False)
    return len(c), hashlib.sha256(payload.encode()).hexdigest()
