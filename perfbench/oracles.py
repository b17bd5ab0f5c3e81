"""Independent oracles and output checks.

Every check returns ``(failures, hits, total)``: a list of human-readable
failure strings (empty when the output is correct) and the number of oracle
answers the output reproduced out of those checked. Checks take plain
pandas/numpy inputs so the tests can plant defects without Spark.
"""

from __future__ import annotations

import math
import re
import warnings

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

# flagship build parameters the oracle pins (PitfeatConfig defaults)
ROLLING_TURNS = 5
SESSION_GAP_S = 1800
# float tolerance for recomputed window/min-max slots and EWMA values
RTOL, ATOL = 1e-9, 1e-12

EWMA_HALFLIFE_S = 600.0

KNN_K = 10
KNN_RECALL_FLOOR = 0.9

MH_THRESHOLD = 0.7
MH_BANDS, MH_ROWS = 8, 4
# a pair this similar escapes every band with probability < 1e-7, so it
# must always be found
MH_SURE_JACCARD = (1 - 1e-7 ** (1 / MH_BANDS)) ** (1 / MH_ROWS)


def read_table(path: str, columns=None, filter=None) -> pd.DataFrame:
    """A Spark-written parquet directory as pandas; timestamps become int64
    microseconds so comparisons are exact."""
    t = ds.dataset(path, format="parquet").to_table(columns=columns, filter=filter)
    for i, f in enumerate(t.schema):
        if pa.types.is_timestamp(f.type):
            us = t.column(i).cast(pa.timestamp("us")).cast(pa.int64())
            t = t.set_column(i, f.name, us)
    return t.to_pandas()


# ---------------------------------------------------------------- pit_build


def pit_expected(transcripts: str, snapshots: str) -> dict:
    """DuckDB ASOF JOIN + SQL windows + min-max over the full input: the
    expected snapshot time and normalized feature vector of every turn."""
    con = duckdb.connect()
    try:
        fcols = [
            r[0]
            for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{snapshots}/*.parquet')").fetchall()
            if r[0].startswith("f_")
        ]
        w = "PARTITION BY conv_id ORDER BY turn_idx"
        df = con.execute(
            f"""
            WITH t AS (SELECT conv_id, turn_idx, tool, ts FROM read_parquet('{transcripts}/*.parquet')),
            s AS (SELECT * FROM read_parquet('{snapshots}/*.parquet')),
            j AS (SELECT t.*, s.snap_ts, {', '.join('s.' + c for c in fcols)}
                  FROM t ASOF LEFT JOIN s ON t.conv_id = s.conv_id AND t.ts >= s.snap_ts),
            g AS (SELECT *, epoch_us(ts) / 1e6 - lag(epoch_us(ts) / 1e6) OVER ({w}) AS gap_s FROM j)
            SELECT conv_id, turn_idx, epoch_us(ts) AS ts_us, epoch_us(snap_ts) AS snap_us,
                   {', '.join(fcols)}, gap_s,
                   avg(gap_s) OVER ({w} ROWS BETWEEN {ROLLING_TURNS - 1} PRECEDING AND CURRENT ROW) AS roll_mean,
                   max(gap_s) OVER ({w} ROWS BETWEEN {ROLLING_TURNS - 1} PRECEDING AND CURRENT ROW) AS roll_max,
                   sum(CASE WHEN tool IS NOT NULL AND tool <> '' THEN 1 ELSE 0 END)
                       OVER ({w} ROWS UNBOUNDED PRECEDING) AS tool_calls_cum,
                   sum(CASE WHEN gap_s IS NULL OR gap_s > {SESSION_GAP_S} THEN 1 ELSE 0 END)
                       OVER ({w} ROWS UNBOUNDED PRECEDING) AS session_no
            FROM g
            """
        ).df()
    finally:
        con.close()
    df = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    slots = fcols + ["gap_s", "roll_mean", "roll_max", "tool_calls_cum", "session_no"]
    X = df[slots].to_numpy(dtype=np.float64, na_value=np.nan)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # all-null columns
        mn, mx = np.nanmin(X, axis=0), np.nanmax(X, axis=0)
    keep = ~(np.isnan(mn) | (mn == mx))
    with np.errstate(invalid="ignore"):
        Xn = (X[:, keep] - mn[keep]) / (mx[keep] - mn[keep])
    return {
        "keys": df[["conv_id", "turn_idx"]],
        "ts_us": df["ts_us"].to_numpy(),
        "snap_us": df["snap_us"].to_numpy(dtype=np.float64, na_value=np.nan),
        "slots": Xn,
        "pruned": int((~keep).sum()),
    }


def check_pit(exp: dict, asof: pd.DataFrame, feats: pd.DataFrame):
    """``asof``: conv_id, turn_idx, ts, snap_ts (int64 us, NaN when
    unmatched); ``feats``: conv_id, turn_idx, features."""
    fails = []
    n = len(exp["keys"])
    if len(asof) != n or len(feats) != n:
        return [f"row count: asof {len(asof)}, features {len(feats)}, expected {n}"], 0, n
    asof = asof.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    feats = feats.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for name, got in (("asof", asof), ("features", feats)):
        if not got[["conv_id", "turn_idx"]].equals(exp["keys"]):
            fails.append(f"{name}: (conv_id, turn_idx) keys differ from the input turns")
    if fails:
        return fails, 0, n
    snap = asof["snap_ts"].to_numpy(dtype=np.float64, na_value=np.nan)
    leaks = int(np.sum(snap > asof["ts"].to_numpy()))
    if leaks:
        fails.append(f"leakage: {leaks} turns joined a snapshot taken after the turn")
    snap_ok = (snap == exp["snap_us"]) | (np.isnan(snap) & np.isnan(exp["snap_us"]))
    if not snap_ok.all():
        fails.append(f"as-of: {int((~snap_ok).sum())} turns joined another snapshot than DuckDB ASOF JOIN")
    X = np.stack(feats["features"].to_numpy()) if n else np.zeros((0, exp["slots"].shape[1]))
    if X.shape != exp["slots"].shape:
        return fails + [f"feature width {X.shape[1]}, expected {exp['slots'].shape[1]}"], 0, n
    row_ok = np.isclose(X, exp["slots"], rtol=RTOL, atol=ATOL, equal_nan=True).all(axis=1)
    if not row_ok.all():
        fails.append(f"features: {int((~row_ok).sum())} rows differ from the recomputed window/min-max slots")
    return fails, int((row_ok & snap_ok).sum()), n


# -------------------------------------------------------------- asof_hotkey


def hotkey_expected(transcripts: str, snapshots: str, convs: list[str]) -> pd.DataFrame:
    """pandas merge_asof(direction='nearest') and time-decayed ewm on the
    sampled conversations."""
    flt = ds.field("conv_id").isin(convs)
    t = read_table(transcripts, ["conv_id", "turn_idx", "ts"], flt)
    s = read_table(snapshots, filter=flt)
    m = pd.merge_asof(
        t.sort_values("ts"),
        s.assign(snap_ts_key=s["snap_ts"]).sort_values("snap_ts_key"),
        left_on="ts",
        right_on="snap_ts_key",
        by="conv_id",
        direction="nearest",
        allow_exact_matches=True,
    ).drop(columns="snap_ts_key")
    m = m.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    ewma = np.full(len(m), np.nan)
    for _, idx in m.groupby("conv_id").indices.items():
        x = m["f_0"].iloc[idx]
        ok = x.notna().to_numpy()
        if ok.any():
            times = pd.to_datetime(m["ts"].iloc[idx][ok], unit="us")
            ewma[idx[ok]] = (
                x[ok].ewm(halflife=pd.Timedelta(seconds=EWMA_HALFLIFE_S), times=times).mean().to_numpy()
            )
    m["f_0_ewma"] = ewma
    return m


def check_hotkey(exp: pd.DataFrame, got: pd.DataFrame, n_rows: int, got_rows: int):
    fails = []
    if got_rows != n_rows:
        fails.append(f"row count {got_rows}, expected {n_rows}")
    got = got.sort_values(["conv_id", "ts"]).reset_index(drop=True)
    if len(got) != len(exp) or not got[["conv_id", "turn_idx"]].equals(exp[["conv_id", "turn_idx"]]):
        return fails + [f"sampled conversations: {len(got)} rows, expected {len(exp)}"], 0, len(exp)
    fcols = [c for c in exp.columns if c.startswith("f_")]
    a = got[["snap_ts"] + fcols].to_numpy(dtype=np.float64, na_value=np.nan)
    b = exp[["snap_ts"] + fcols].to_numpy(dtype=np.float64, na_value=np.nan)
    ok = np.isclose(a, b, rtol=RTOL, atol=ATOL, equal_nan=True).all(axis=1)
    if not ok.all():
        fails.append(f"{int((~ok).sum())} sampled rows differ from merge_asof(nearest)/ewm(times=...)")
    return fails, int(ok.sum()), len(exp)


# ----------------------------------------------------------- corpus_neardup


def knn_expected(ids: np.ndarray, E: np.ndarray, sample: np.ndarray, k: int = KNN_K) -> dict:
    """Exact cosine top-k of each sampled id (self excluded; ties by id)."""
    U = E / np.linalg.norm(E, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    top = {}
    for q in sample.tolist():
        cos = U @ U[pos[q]]
        cos[pos[q]] = -np.inf
        top[q] = set(ids[np.lexsort((ids, -cos))[:k]].tolist())
    return {"U": U, "pos": pos, "top": top}


def check_knn(exp: dict, got: pd.DataFrame, n_rows: int, got_rows: int, k: int = KNN_K):
    """``got``: the neighbor rows of the sampled ids (vec_id, nbr_id,
    cosine, rank)."""
    fails = []
    if got_rows != n_rows * k:
        fails.append(f"knn: {got_rows} neighbor rows, expected {n_rows} x {k}")
    U, pos = exp["U"], exp["pos"]
    lists = {q: g for q, g in got.sort_values(["vec_id", "rank"]).groupby("vec_id")}
    hits = bad = 0
    for q, true_top in exp["top"].items():
        rows = lists.get(q, got.iloc[:0])
        nbr, cos = rows["nbr_id"].tolist(), rows["cosine"].to_numpy()
        if (
            len(rows) != k
            or not np.array_equal(rows["rank"].to_numpy(), np.arange(1, k + 1))
            or np.any(np.diff(cos) > ATOL)
            or q in nbr
            or any(b not in pos for b in nbr)
        ):
            bad += 1
            continue
        exact = U[[pos[b] for b in nbr]] @ U[pos[q]]
        if not np.allclose(cos, exact, rtol=0, atol=RTOL):
            bad += 1
        hits += len(set(nbr) & true_top)
    total = k * len(exp["top"])
    if bad:
        fails.append(f"knn: {bad} sampled neighbor lists are mis-ranked or carry a wrong cosine")
    if hits < KNN_RECALL_FLOOR * total:
        fails.append(f"knn: recall@{k} {hits / total:.4f} below {KNN_RECALL_FLOOR}")
    return fails, hits, total


def shingles(text: str, n: int = 3) -> set:
    toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def band_hit_prob(j: float) -> float:
    return 1.0 - (1.0 - j**MH_ROWS) ** MH_BANDS


def pairs_expected(docs: list[str], planted: list[tuple[int, int]]) -> dict:
    """Planted pairs at or above the threshold, with their exact Jaccard."""
    js = {p: jaccard(docs[p[0]], docs[p[1]]) for p in planted}
    return {p: j for p, j in js.items() if j >= MH_THRESHOLD}


def check_pairs(docs: list[str], exp: dict, got: pd.DataFrame):
    """``got``: all returned pairs (id_a, id_b, jaccard)."""
    fails = []
    a, b, jr = got["id_a"].to_numpy(), got["id_b"].to_numpy(), got["jaccard"].to_numpy()
    if np.any(a >= b):
        fails.append("minhash: pairs must have id_a < id_b")
    exact = np.array([jaccard(docs[x], docs[y]) for x, y in zip(a, b)])
    if np.any(exact < MH_THRESHOLD):
        fails.append(f"minhash: {int(np.sum(exact < MH_THRESHOLD))} returned pairs are below the {MH_THRESHOLD} threshold")
    if not np.allclose(jr, exact, rtol=0, atol=RTOL):
        fails.append("minhash: reported Jaccard differs from the exact Jaccard")
    found = set(zip(a.tolist(), b.tolist()))
    hit = [p in found for p in exp]
    sure_missed = [p for p, h in zip(exp, hit) if not h and exp[p] >= MH_SURE_JACCARD]
    if sure_missed:
        fails.append(f"minhash: missed {len(sure_missed)} planted pairs with Jaccard >= {MH_SURE_JACCARD:.4f}, e.g. {sure_missed[0]}")
    probs = np.array([band_hit_prob(j) for j in exp.values()])
    want, sd = probs.sum(), math.sqrt(float(np.sum(probs * (1 - probs))))
    if sum(hit) < want - 5 * sd - 1:
        fails.append(f"minhash: found {sum(hit)} planted pairs, banding predicts {want:.1f} +- {sd:.1f}")
    return fails, int(sum(hit)), len(exp)


STOP_WORDS = frozenset(["the", "and", "of", "to", "is", "el", "la", "de", "que", "los",
                        "le", "les", "des", "est", "der", "die", "und", "das", "ist"])
_PUNCT = re.compile(r"[!-/:-@\[-`{-~]")


def quality(text: str) -> float:
    length = len(text)
    toks = re.split(r"[ \t\n\x0b\f\r]+", text.lower())
    n_tok = max(len(toks), 1)
    stop = sum(t in STOP_WORDS for t in toks) / n_tok
    punct = len(_PUNCT.findall(text)) / max(length, 1)
    wlen = length / n_tok
    return (
        min(length / 500.0, 1.0)
        + 1.0 - min(punct * 5.0, 1.0)
        + min(stop * 4.0, 1.0)
        + (1.0 if 3 <= wlen <= 10 else 0.3)
    ) / 4.0


def check_quality(docs: list[str], got: pd.DataFrame, n_rows: int, got_rows: int):
    """``got``: doc_id, quality of the sampled documents."""
    fails = []
    if got_rows != n_rows:
        fails.append(f"quality: {got_rows} rows, expected {n_rows}")
    want = np.array([quality(docs[i]) for i in got["doc_id"]])
    ok = np.isclose(got["quality"].to_numpy(), want, rtol=0, atol=ATOL)
    if not ok.all():
        fails.append(f"quality: {int((~ok).sum())} sampled scores differ from the recomputed score")
    return fails, int(ok.sum()), len(got)
