"""Single-process pandas/numpy reference implementation (SURVEY.md §5 item 3).

This oracle IS the stand-in for the unreachable reference binary: it
reimplements every pipeline stage with independent pandas/numpy primitives
(merge_asof, groupby/rolling/cumsum, numpy min-max), and the Spark engine must
match it allclose at every (conv_id, turn_idx).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def asof_oracle(
    left: pd.DataFrame,
    right: pd.DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    allow_exact: bool = True,
    tolerance_s: float | None = None,
    direction: str = "backward",
) -> pd.DataFrame:
    l = left.sort_values(left_ts, kind="mergesort").reset_index(drop=True)
    r = right.sort_values(right_ts, kind="mergesort").reset_index(drop=True)
    kw = {}
    if tolerance_s is not None:
        kw["tolerance"] = pd.Timedelta(seconds=tolerance_s)
    out = pd.merge_asof(
        l,
        r,
        left_on=left_ts,
        right_on=right_ts,
        by=on,
        direction=direction,
        allow_exact_matches=allow_exact,
        **kw,
    )
    return out.sort_values([on, "turn_idx"]).reset_index(drop=True)


def asof_dedup_oracle(
    left: pd.DataFrame,
    right: pd.DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    **kw,
) -> pd.DataFrame:
    """``asof_join``'s full contract through ``pandas.merge_asof``, nulls and
    duplicates included. Right rows with a null key or ts never match; left
    rows with a null key or ts come back unmatched; right rows sharing
    (key, ts) are first deduped to the greatest value tuple (nulls first),
    so pandas' direction-dependent tie rules never see a duplicate.
    Output is sorted by ``turn_idx``."""
    val_cols = [c for c in right.columns if c not in (on, right_ts)]
    r = right[right[on].notna() & right[right_ts].notna()]
    r = r.sort_values(
        [on, right_ts] + val_cols, kind="mergesort", na_position="first"
    ).drop_duplicates(subset=[on, right_ts], keep="last")
    ok = left[on].notna() & left[left_ts].notna()
    matched = asof_oracle(left[ok], r, on, left_ts, right_ts, **kw)
    unmatched = left[~ok].copy()
    for c in r.columns:
        if c != on:
            unmatched[c] = r[c].iloc[:0].reindex(unmatched.index)
    out = pd.concat([matched, unmatched[matched.columns]], ignore_index=True)
    return out.sort_values("turn_idx").reset_index(drop=True)


def gap_oracle(t: pd.DataFrame) -> pd.Series:
    t = t.sort_values(["conv_id", "turn_idx"])
    return t.groupby("conv_id")["ts"].transform(
        lambda s: s.astype("int64").diff() / 1e9
    )


def sessionize_oracle(t: pd.DataFrame, gap_s: int) -> pd.DataFrame:
    t = t.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    gap = gap_oracle(t)
    is_new = gap.isna() | (gap > gap_s)
    t = t.copy()
    t["session_no"] = is_new.astype(int).groupby(t["conv_id"]).cumsum()
    t["session_id"] = t["conv_id"] + "#" + t["session_no"].astype(str)
    return t


def rolling_oracle(t: pd.DataFrame, col: str, fn: str, window: int) -> pd.Series:
    t = t.sort_values(["conv_id", "turn_idx"])
    g = t.groupby("conv_id")[col].rolling(window, min_periods=1)
    out = getattr(g, fn)().reset_index(level=0, drop=True)
    return out.sort_index()


def minmax_oracle(df: pd.DataFrame, cols: list[str]):
    mins = {c: np.nanmin(df[c].values) if df[c].notna().any() else None for c in cols}
    maxs = {c: np.nanmax(df[c].values) if df[c].notna().any() else None for c in cols}
    degenerate = [
        c
        for c in cols
        if mins[c] is None or maxs[c] is None or mins[c] == maxs[c]
    ]
    survivors = [c for c in cols if c not in degenerate]
    norm = df.copy()
    for c in survivors:
        norm[c] = (norm[c] - mins[c]) / (maxs[c] - mins[c])
    return norm, survivors, mins, maxs
