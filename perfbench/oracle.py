"""Correctness oracles, in pandas, sharing no code with the Spark path
except the changelog's own ``expected_final_state`` reference."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
KEY = ["conv_id", "turn_idx"]

# the engine's text normalization contract: runs of (unicode)
# whitespace collapse to one space, then trim; roles are canonical
# lower-case names (the generator only emits canonical ones)
_WS = re.compile(r"[\s\u00a0\u2000-\u200b\u3000]+")


def normalize(state: pd.DataFrame) -> pd.DataFrame:
    out = state.copy()
    out["text"] = [
        None if t is None or t != t else _WS.sub(" ", t).strip(" ")
        for t in out["text"]
    ]
    out["role"] = [
        None if r is None or r != r else r.strip().lower() for r in out["role"]
    ]
    return out


def _canonical(df: pd.DataFrame) -> pd.Series:
    """One string per row, null-safe and dtype-independent."""
    ts = pd.to_datetime(df["ts"]).astype("datetime64[us]").astype("int64")
    parts = [df["conv_id"].astype(str), df["turn_idx"].astype("int64").astype(str)]
    for c in ("role", "text", "tool"):
        parts.append(df[c].map(lambda v: "\x00" if v is None or v != v else v))
    parts.append(ts.astype(str))
    out = parts[0]
    for p in parts[1:]:
        out = out + "\x1f" + p
    return out


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """Order-insensitive hash of a table state: (rows, sum of row hashes
    mod 2^64)."""
    if df.empty:
        return 0, 0
    h = pd.util.hash_pandas_object(
        _canonical(df[COLS].reset_index(drop=True)), index=False
    ).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def rows_for_keys(state: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
    return state.merge(keys[KEY].drop_duplicates(), on=KEY, how="inner")


def turn_counts(state: pd.DataFrame) -> dict[str, int]:
    return state.groupby("conv_id").size().to_dict()
