"""Output checks: exact, row-order-insensitive comparison with the
registry's DuckDB oracle SQL, and a value hash for ops without one."""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, cells in comparable dtypes, rows sorted."""
    out = df.reindex(sorted(df.columns), axis=1)
    for c in out.columns:
        kind = str(out[c].dtype)
        if kind.startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif kind.startswith(("int", "uint", "Int")):
            out[c] = out[c].astype("int64")
        elif kind.startswith(("float", "Float")):
            out[c] = out[c].astype("float64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` exactly (row order ignored),
    else a one-line reason."""
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    gd = {c: str(t) for c, t in got.dtypes.items()}
    wd = {c: str(t) for c, t in want.dtypes.items()}
    if gd != wd:
        return f"dtypes {gd} != oracle {wd}"
    a, b = canonical(got), canonical(want)
    for c in a.columns:
        if a[c].dtype == "float64":
            for x, y in zip(a[c].to_numpy(), b[c].to_numpy()):
                if not (x == y or (math.isnan(x) and math.isnan(y))):
                    return f"column {c}: {x!r} != {y!r}"
        else:
            eq = (a[c] == b[c]) | (a[c].isna() & b[c].isna())
            if not bool(eq.all()):
                return f"column {c} differs in {int((~eq).sum())} rows"
    return None


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result's values."""
    a = canonical(df)
    h = hashlib.sha256(",".join(a.columns).encode())
    h.update(pd.util.hash_pandas_object(a.astype(str), index=False).values.tobytes())
    return h.hexdigest()
