"""Point-in-time (as-of) join — THE core operator (SURVEY.md §2.3 J1/J2).

Semantics: for each left row, attach the single right row with the greatest
``right_ts`` such that ``right_ts <= left_ts`` (strict ``<`` when
``allow_exact=False``). Unmatched left rows keep nulls (left outer). Zero
temporal leakage by construction: a right row with ``right_ts > left_ts`` can
never be selected (property-tested in tests/test_asof.py).

Three physical strategies, all vectorized (no per-row Python anywhere):

``window`` (DEFAULT — matches the ``strategy`` parameter default below)
    Pure-JVM union-tag fill: tag both sides, union, fill the right value
    struct along a (key, ts, tag)-sorted window with ``last(ignorenulls)``
    (preceding match) and/or ``first(ignorenulls)`` (following match). Zero
    JVM<->Python transfer; measured ~10-30x
    faster than the Python-kernel strategies. Spill-backed window sort, so
    memory is bounded regardless of key heat.

``cogroup``
    ``left.groupBy(key).cogroup(right.groupBy(key)).applyInPandas(kernel)``
    where the kernel is a numpy binary search (``np.searchsorted``) over the
    per-key sorted right timestamps. One shuffle per side; each key's data
    meets in one Python worker. Scaling hazard: a single hot key must fit in
    one worker's memory — mitigated by ``salt_buckets`` (J2) which replicates
    the right side xB and splits the left by hash salt, bounding group size.

``merge``
    The "partitioned, sort-within-partition as-of merge": both sides are
    tagged and unioned, ``repartition(key)`` (hash key co-location; r8 —
    range partitioning's boundary-sampling job re-executed the whole
    upstream once per staging for split points the kernel never needs) +
    ``sortWithinPartitions(key, ts, tag)``, then a streaming ``mapInPandas``
    forward-fills snapshot values down the sorted stream (pandas groupby-ffill,
    Cython-vectorized) carrying state across Arrow batches. The sorted stream
    is key-contiguous, so carried state is evicted down to the single key that
    can span a batch boundary: memory is bounded by the Arrow batch size plus
    ONE carried row — not by key cardinality or key heat — so this is the
    robust path for pathologically hot keys at 100TB scale.

Strategy x direction support matrix (ValueError outside it):

    =========  ========  =======  =======
    strategy   backward  forward  nearest
    =========  ========  =======  =======
    window     yes       yes      yes
    merge      yes       yes      yes
    cogroup    yes       yes      yes
    =========  ========  =======  =======

    (window: ONE sorted pass serves every direction — the right side
    enters the union once per frame the direction needs, a "prev" copy
    filled by ``last(ignorenulls)`` and a "next" copy filled by
    ``first(ignorenulls)``, and nearest picks the closer of the two
    row-locally; forward alone sorts descending and fills its copy by a
    running ``last(ignorenulls)`` — see _asof_window; merge/forward: a
    descending-ts variant of the backward fill; merge/nearest (r6): the
    backward pass's output rides as left payload through the forward pass
    — two bounded-memory sorted streams, then the same row-local
    closer-one choice — see _asof_merge_nearest.)

Tie rule: with ``allow_exact=True`` an equal-timestamp snapshot matches
(searchsorted ``side='right'``; merge sorts right-before-left at equal ts).
With ``allow_exact=False`` it does not (``side='left'``; left-before-right).

Duplicate right rows sharing (key, right_ts): the winner is the row with the
GREATEST value tuple (lexicographic over the right value columns, nulls
first) — every strategy appends the value columns to its right-side sort
keys, so the choice is deterministic and identical across window/cogroup/
merge, instead of "whatever the unstable shuffle order produced". Callers
wanting a different resolution should pre-dedup the right side.

Oracle parity: semantics match ``pandas.merge_asof(direction=...,
allow_exact_matches=..., tolerance=...)`` (backward/forward/nearest) and
DuckDB ``ASOF JOIN`` (backward/forward; nearest via a rank-by-|Δt| window
oracle) — both are used as test oracles.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _orderable(dt: T.DataType) -> bool:
    """Spark can sort by most types but not maps (at any nesting level);
    unorderable columns are excluded from duplicate-tie-break SORT KEYS only
    (they still flow through the join untouched). Duplicates differing ONLY
    in an unorderable column therefore resolve arbitrarily-but-consistently
    by the remaining keys — documented limitation."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    return True


def _result_schema(left: DataFrame, right: DataFrame, on: str, right_ts: str) -> T.StructType:
    fields = list(left.schema.fields)
    taken = {f.name for f in fields}
    for f in right.schema.fields:
        if f.name == on:
            continue
        if f.name in taken:
            raise ValueError(
                f"asof_join: column collision {f.name!r}; rename right-side columns first"
            )
        # right-side columns become nullable (unmatched left rows)
        fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def _ts_to_i8(s: pd.Series) -> np.ndarray:
    """Timestamp series -> int64 ns (NaT -> iinfo.min, never matched)."""
    v = pd.to_datetime(s)
    try:
        v = v.dt.tz_localize(None)
    except TypeError:
        pass
    return v.values.astype("datetime64[ns]").view("int64")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "snap_ts",
    allow_exact: bool = True,
    tolerance_s: float | None = None,
    direction: str = "backward",
    strategy: str = "window",
    salt_buckets: int = 0,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Point-in-time join: attach to each left row the single right row with
    the greatest ``right_ts <= left_ts`` (strict ``<`` when
    ``allow_exact=False``; earliest-following when ``direction='forward'``,
    closest-in-time when ``direction='nearest'`` (equidistant resolves to the
    preceding row, matching pandas). Every strategy supports every direction
    (the module docstring's support matrix). Left-outer: unmatched rows keep
    nulls.

    Parameters beyond the obvious:
    - ``tolerance_s``: staleness bound — a match older than this many seconds
      is nulled out (whole snapshot row, atomically).
    - ``strategy``: ``window`` (pure-JVM union-tag ffill, default) |
      ``cogroup`` (bucketed applyInPandas merge_asof) | ``merge``
      (hash-co-located, sorted streaming merge) — see module docstring.
    - ``salt_buckets``: J2 skew fanout. Alone it salts EVERY key (kept for
      the driver contract; measured 5x slower than unsalted on a 30%-hot
      zipf fixture because the right side replicates xB for all keys).
    - ``hot_threshold``: with ``salt_buckets``, engages TARGETED salting —
      a one-pass key-frequency sketch picks keys at/above the threshold,
      only those take the salted path (window and cogroup). Set it to the
      rows-per-key size above which one task's sort becomes the straggler
      (PitfeatConfig.hot_key_threshold wires 5M).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    # SQL-join null semantics, uniform across strategies: a right row with a
    # NULL key or NULL timestamp can never be "a snapshot at a known time for
    # a known entity" — previously the window/merge strategies forward-filled
    # such rows into real matches (an unknowable-age snapshot enriching a
    # feature row = leakage-contract violation) and cogroup's merge_asof
    # CRASHED on them. Left rows with NULL key/ts stay (left-outer: they come
    # back with null right columns — the null-key window partition and the
    # null pandas groupby key both find an empty right side after this).
    right = right.where(F.col(on).isNotNull() & F.col(right_ts).isNotNull())
    if strategy == "merge":
        # no salting path needed: merge's memory is bounded by the Arrow
        # batch size regardless of key heat (see module docstring)
        if direction == "nearest":
            return _asof_merge_nearest(
                left, right, on, left_ts, right_ts, allow_exact, tolerance_s
            )
        return _asof_merge(
            left, right, on, left_ts, right_ts, allow_exact, tolerance_s, direction
        )
    impl = {"window": _asof_window, "cogroup": _asof_cogroup}.get(strategy)
    if impl is None:
        raise ValueError(f"unknown strategy {strategy!r}")

    def run(lf: DataFrame, rf: DataFrame, buckets: int) -> DataFrame:
        return impl(
            lf, rf, on, left_ts, right_ts, allow_exact, tolerance_s, direction, buckets
        )

    if salt_buckets > 0 and hot_threshold:
        # targeted salting (window and cogroup alike): blanket salting
        # replicates the right side xB for every key — measured 5x slower
        # than unsalted on a 30%-hot zipf fixture — while an unsplit hot key
        # is one task's sort (window) or one in-worker pandas frame (cogroup)
        lh, lc, rh, rc = _split_hot_keys(left, right, on, hot_threshold)
        return run(lc, rc, 0).unionByName(run(lh, rh, salt_buckets))
    return run(left, right, salt_buckets)


def _split_hot_keys(left: DataFrame, right: DataFrame, on: str, hot_threshold: int):
    """TARGETED salting split (the K2 design): blanket salting replicates the
    right side xB for EVERY key and splits every cold conv into B near-empty
    streams — measured 5-8x SLOWER than unsalted on a 30%-hot zipf fixture.
    A one-pass key-frequency sketch picks the hot keys (tiny by definition =>
    broadcast); only they take the salted path, everything else the plain
    path, and the two unions are plan-compatible."""
    hot_keys = (
        left.groupBy(on).count().where(F.col("count") >= hot_threshold).select(on)
    )
    lh = left.join(F.broadcast(hot_keys), on, "left_semi")
    lc = left.join(F.broadcast(hot_keys), on, "left_anti")
    rh = right.join(F.broadcast(hot_keys), on, "left_semi")
    rc = right.join(F.broadcast(hot_keys), on, "left_anti")
    return lh, lc, rh, rc


def _salt(lt: DataFrame, rt: DataFrame, on: str, ts: str, b: int):
    """J2 salting, shared by the window and cogroup strategies: left rows
    spread over ``b`` salts by ``pmod(xxhash64(key, ts), b)`` and every right
    row is replicated into all ``b`` — one hot key becomes ``b`` independent
    groups, each still seeing the key's whole right side."""
    lt = lt.withColumn("__salt", F.pmod(F.xxhash64(F.col(on), F.col(ts)), F.lit(b)).cast("int"))
    rt = rt.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(b)])))
    return lt, rt


def _prefer_preceding(have_p, have_n, dp, dn):
    """nearest's choice between the preceding (distance ``dp``) and the
    following (``dn``) candidate: the preceding one unless the following one
    is strictly closer — equidistant resolves to preceding (pandas' rule)."""
    return have_p & (~have_n | (dp <= dn))


# --------------------------------------------------------------------------
# strategy (c, DEFAULT): pure-JVM union-tag window fill
# --------------------------------------------------------------------------
#
# Tag both sides, union, and fill the right-side value struct along a
# (key, ts, tag)-sorted window — the sort-within-partition as-of merge
# realized entirely in Tungsten: one hash Exchange + one Sort + one
# whole-stage-codegen'd Window, zero JVM<->Python Arrow transfer. Measured
# ~10-30x faster than the Python-kernel strategies at 2.8M rows because the
# full table never crosses the Python boundary; the window executor streams
# sorted rows with spill, so memory is bounded regardless of key heat.
# Time is linear per key for backward and forward (running frames only);
# nearest's following frame is re-evaluated per row, quadratic in one
# key's rows, so a hot key takes nearest through merge or salting.
#
# Salting (J2) composes: the window partitions on (key, salt), so a hot key
# becomes B independent sorted streams.


def _asof_window(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    allow_exact: bool,
    tolerance_s: float | None,
    direction: str,
    salt_buckets: int,
) -> DataFrame:
    """One sorted window pass for all three directions.

    The right side enters the union once per frame the direction needs: a
    "prev" copy (backward, nearest) carrying its row as the ``__rv`` struct,
    filled by ``last(ignorenulls)`` over (unboundedPreceding, 0), and a
    "next" copy (forward, nearest) carrying it as ``__nv``, filled by
    ``first(ignorenulls)`` over (0, unboundedFollowing). Tags
    ``(prev, left, next)`` are (0, 1, 2) with ``allow_exact`` — equal-ts
    rights sit on the visible side of the left row in both frames — and
    (2, 1, 0) without it, where they are visible to neither. Each struct is
    also the trailing sort key, ascending for prev copies and descending
    (nulls last) for next copies, so right rows tied on (key, ts) resolve to
    the greatest value tuple in both frames. Staleness nulls each candidate
    before nearest's row-local choice (``_prefer_preceding``) — equivalent
    to pandas' nearest+tolerance, since the nearest valid candidate always
    has the smaller distance.

    Forward alone runs the mirror image of that order (ts descending with
    NULL-ts rows first, tags descending, the struct ascending) and fills
    ``__nv`` with ``last(ignorenulls)`` over the running frame: Spark
    evaluates a running frame in one pass per partition, but recomputes an
    (0, unboundedFollowing) frame for every row — quadratic in the rows of
    one key. Nearest needs both frames under one order and keeps it."""
    from pyspark.sql import Window

    out_schema = _result_schema(left, right, on, right_ts)
    typ = {f.name: f.dataType for f in out_schema.fields}
    right_val_cols = [f.name for f in right.schema.fields if f.name != on]
    pass_left = [f.name for f in left.schema.fields if f.name not in (on, left_ts)]
    prev_tag, left_tag, next_tag = (0, 1, 2) if allow_exact else (2, 1, 0)
    frames = {
        "backward": {"__rv": prev_tag},
        "forward": {"__nv": next_tag},
        "nearest": {"__rv": prev_tag, "__nv": next_tag},
    }[direction]

    # The snapshot row is filled as ONE struct, not column-by-column:
    # per-column last(ignorenulls) would resurrect an older snapshot's value
    # through a newer snapshot's legitimate NULL. The struct is non-null
    # exactly when a right row exists, so the whole row carries atomically.
    rv_type = T.StructType([T.StructField(c, typ[c], True) for c in right_val_cols])
    null_rv = F.lit(None).cast(rv_type)
    lt = left.select(
        F.col(on),
        F.col(left_ts).alias("__t"),
        F.lit(left_tag).alias("__tag"),
        *[F.col(c) for c in pass_left],
        *[null_rv.alias(f) for f in frames],
    )
    rt = None
    for frame, tag in frames.items():
        copy = right.select(
            F.col(on),
            F.col(right_ts).alias("__t"),
            F.lit(tag).alias("__tag"),
            *[F.lit(None).cast(typ[c]).alias(c) for c in pass_left],
            *[(F.struct(*right_val_cols) if f == frame else null_rv).alias(f) for f in frames],
        )
        rt = copy if rt is None else rt.unionByName(copy)
    keys = [on]
    if salt_buckets > 0:
        lt, rt = _salt(lt, rt, on, "__t", salt_buckets)
        keys = [on, "__salt"]
    cols_order = keys + ["__t", "__tag"] + pass_left + list(frames)
    unioned = lt.select(*cols_order).unionByName(rt.select(*cols_order))

    # If any value column is unorderable (maps), the trailing key is the
    # orderable subset instead of failing the whole join (_orderable).
    ord_cols = [c for c in right_val_cols if _orderable(typ[c])]

    def by_value(f: str):
        if ord_cols == right_val_cols:
            return F.col(f)
        return F.struct(*[F.col(f)[c] for c in ord_cols])

    if direction == "forward":
        order = [F.col("__t").desc_nulls_first(), F.col("__tag").desc(), by_value("__nv").asc()]
    else:
        order = [F.col("__t").asc(), F.col("__tag").asc(), by_value("__rv").asc()]
        if direction == "nearest":
            order.append(by_value("__nv").desc_nulls_last())
    w = Window.partitionBy(*keys).orderBy(*order)
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    fill = {
        "__rv": F.last("__rv", ignorenulls=True).over(running),
        "__nv": F.last("__nv", ignorenulls=True).over(running)
        if direction == "forward"
        else F.first("__nv", ignorenulls=True).over(w.rowsBetween(0, Window.unboundedFollowing)),
    }
    filled = unioned.select(
        *keys, "__t", "__tag", *pass_left, *[fill[f].alias(f) for f in frames]
    ).where(F.col("__tag") == left_tag)

    lt_us = F.unix_micros(F.col("__t").cast("timestamp"))
    cand, dist = {}, {}
    for f in frames:
        rt_us = F.unix_micros(F.col(f)[right_ts].cast("timestamp"))
        dist[f] = lt_us - rt_us if f == "__rv" else rt_us - lt_us
        cand[f] = F.col(f)
        if direction == "nearest" and f == "__nv":
            # NULL-ts left rows sort first, where the following frame sees
            # every right row of the key: they must stay unmatched
            cand[f] = F.when(F.col("__t").isNotNull(), cand[f])
        if tolerance_s is not None:
            cand[f] = F.when(dist[f] > int(tolerance_s * 1_000_000), null_rv).otherwise(cand[f])
    if direction == "nearest":
        p, n = cand["__rv"], cand["__nv"]
        pick_p = _prefer_preceding(p.isNotNull(), n.isNotNull(), dist["__rv"], dist["__nv"])
        chosen = F.when(pick_p, p).otherwise(n)
    else:
        (chosen,) = cand.values()
    out = filled.withColumn("__rv", chosen).select(
        *keys,
        F.col("__t").alias(left_ts),
        *pass_left,
        *[F.col("__rv")[c].alias(c) for c in right_val_cols],
    )
    return out.select(*[f.name for f in out_schema.fields])


# --------------------------------------------------------------------------
# strategy (a): bucketed cogroup + applyInPandas, vectorized binary search
# --------------------------------------------------------------------------
#
# Keys are hashed into a bounded number of buckets and the cogroup runs on the
# BUCKET, not the raw key: one Python kernel call handles many keys at once
# via a multi-key binary-search merge (pandas merge_asof with by=, C-level).
# Rationale: per-key cogroup pays one Arrow round-trip per key — measured 23s
# vs 2s for 1500 keys / 100k rows at sf0.1 — and per-key group sizes are
# exactly the skew hazard. Buckets even that out and make the group count
# independent of key cardinality (10^9 convs still = n_buckets groups).


def _asof_cogroup(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    allow_exact: bool,
    tolerance_s: float | None,
    direction: str,
    salt_buckets: int,
) -> DataFrame:
    out_schema = _result_schema(left, right, on, right_ts)
    left_cols = [f.name for f in left.schema.fields]
    right_val_cols = [f.name for f in right.schema.fields if f.name != on]
    # tie-break sort keys: orderable columns only (maps are unsortable in
    # pandas too — dict comparisons raise); values still flow through
    rtyp = {f.name: f.dataType for f in right.schema.fields}
    ord_val_cols = [c for c in right_val_cols if _orderable(rtyp[c])]
    out_names = [f.name for f in out_schema.fields]
    tol_ns = None if tolerance_s is None else int(tolerance_s * 1e9)
    no_match = {c: pd.NaT if c == right_ts else np.nan for c in right_val_cols}

    def kernel(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        """Multi-key vectorized as-of: binary-search merge over per-key sorted
        ts arrays (pandas merge_asof C kernel; never a per-row Python loop)."""
        lpdf = lpdf[left_cols]
        if len(lpdf) == 0:
            return pd.DataFrame(columns=out_names)
        lts = pd.to_datetime(lpdf[left_ts]).astype("datetime64[ns]")
        # left rows with NULL ts: merge_asof refuses null merge keys (it
        # would abort the whole job); route them around the merge and emit
        # them left-outer style with null right columns, matching what the
        # window/merge strategies produce for the same rows
        if len(rpdf) == 0 or lts.isna().all():
            return lpdf.assign(**no_match)[out_names]
        lnull = lpdf[lts.isna()]
        l = lpdf.assign(__lts=lts)[lts.notna()]
        # right key arrives renamed __rk: Spark's cogroup drops right-side
        # columns whose names duplicate left-side ones
        r = rpdf[["__rk"] + right_val_cols].rename(columns={"__rk": on})
        r["__rts"] = pd.to_datetime(r[right_ts]).astype("datetime64[ns]")
        l = l.sort_values("__lts", kind="mergesort")
        # value columns as trailing sort keys so duplicate right rows at equal
        # (key, ts) resolve to the GREATEST value tuple in both directions:
        # merge_asof keeps the LAST tie going backward (=> sort values
        # ascending, nulls first) but the FIRST tie going forward (=> sort
        # values descending, nulls last). Without the direction split,
        # forward picked the SMALLEST tuple (ADVICE r2).
        if direction == "forward":
            r = r.sort_values(
                ["__rts"] + ord_val_cols,
                kind="mergesort",
                ascending=[True] + [False] * len(ord_val_cols),
                na_position="last",
            )
        else:
            r = r.sort_values(
                ["__rts"] + ord_val_cols, kind="mergesort", na_position="first"
            )
        if direction == "nearest":
            # nearest keeps the LAST tie on the backward side but the FIRST
            # on the forward side, so no single sort order yields the
            # greatest-tuple rule on both sides. Instead: pre-dedup right
            # rows per (key, ts) to the greatest value tuple — after which
            # pandas' side rules have nothing left to choose between, and
            # only its documented equidistant rule (prefer preceding) acts.
            r = r.drop_duplicates(subset=[on, "__rts"], keep="last")
        kw = {}
        if tol_ns is not None:
            kw["tolerance"] = pd.Timedelta(tol_ns, unit="ns")
        out = pd.merge_asof(
            l,
            r,
            left_on="__lts",
            right_on="__rts",
            by=on,
            direction=direction,
            allow_exact_matches=allow_exact,
            **kw,
        )
        out = out[out_names]
        if len(lnull):
            out = pd.concat([out, lnull.assign(**no_match)[out_names]], ignore_index=True)
        return out

    n_buckets = max(int(left.sparkSession.sparkContext.defaultParallelism) * 4, 32)
    lft = left.withColumn("__b", F.pmod(F.xxhash64(F.col(on)), F.lit(n_buckets)).cast("int"))
    rgt = right.withColumnRenamed(on, "__rk").withColumn(
        "__b", F.pmod(F.xxhash64(F.col("__rk")), F.lit(n_buckets)).cast("int")
    )
    groups = ["__b"]
    if salt_buckets > 0:
        # hot-key variant (J2): bounds the size of any single (bucket, salt)
        # group even when one key dominates; still bucketed so the group
        # count stays O(buckets x B)
        lft, rgt = _salt(lft, rgt, on, left_ts, salt_buckets)
        groups.append("__salt")
    return (
        lft.groupBy(*groups)
        .cogroup(rgt.groupBy(*groups))
        .applyInPandas(kernel, schema=out_schema)
    )


# --------------------------------------------------------------------------
# strategy (b): hash-co-located, sort-within-partition streaming merge
# --------------------------------------------------------------------------


def _asof_merge(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    allow_exact: bool,
    tolerance_s: float | None,
    direction: str = "backward",
) -> DataFrame:
    """Streaming merge kernel, both temporal directions (VERDICT r4 #4).

    ``forward`` reuses the backward machinery wholesale by sorting the
    partition stream by ts DESCENDING: "the last right row seen before this
    left row in stream order" then means "the earliest right row at/after
    this left timestamp" — the forward match — with the identical
    bounded-memory carry (one key's last snapshot across batch boundaries).
    The tag rule is unchanged ((0,1) if allow_exact else (1,0)): allow_exact
    needs the equal-ts right row visible BEFORE the left row in stream order
    in either direction. Duplicate right rows at equal (key, ts) keep the
    greatest value tuple in both directions (Spark asc sort = nulls first,
    ffill takes the last seen — matching cogroup's forward rule, which sorts
    values desc and lets merge_asof keep the FIRST tie). Only the staleness
    sign differs: a forward match is stale when right_ts - left_ts > tol."""
    out_schema = _result_schema(left, right, on, right_ts)
    left_cols = [f.name for f in left.schema.fields]
    right_val_cols = [f.name for f in right.schema.fields if f.name != on]
    fill_cols = [c for c in right_val_cols]  # includes right_ts itself
    tol_ns = None if tolerance_s is None else int(tolerance_s * 1e9)

    # tag order at equal ts decides the tie rule: right-before-left => tie matches
    right_tag, left_tag = (0, 1) if allow_exact else (1, 0)

    typ = {f.name: f.dataType for f in out_schema.fields}
    pass_left = [c for c in left_cols if c not in (on, left_ts)]
    lt = left.select(
        F.col(on),
        F.col(left_ts).alias("__t"),
        F.lit(left_tag).alias("__tag"),
        *[F.col(c) for c in pass_left],
        *[F.lit(None).cast(typ[c]).alias(c) for c in right_val_cols],
    )
    rt = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(right_tag).alias("__tag"),
        *[F.lit(None).cast(typ[c]).alias(c) for c in pass_left],
        *[F.col(c) for c in right_val_cols],
    )
    cols_order = [on, "__t", "__tag"] + pass_left + right_val_cols
    unioned = lt.select(*cols_order).unionByName(rt.select(*cols_order))
    # value columns as trailing sort keys => among right rows tied on
    # (key, ts) the ffill takes the last = greatest value tuple (see module
    # docstring); also makes the partition stream fully deterministic
    ord_cols = [c for c in right_val_cols if _orderable(typ[c])]
    # forward uses desc_NULLS_FIRST: NULL-ts left rows must sort BEFORE any
    # right row in stream order (as asc's nulls-first gives backward for
    # free) so the ffill finds nothing for them — plain desc would sort them
    # last and hand them the earliest snapshot. NULL-ts right rows are
    # already filtered at asof_join entry.
    ts_sort = (
        F.col("__t").asc() if direction == "backward" else F.col("__t").desc_nulls_first()
    )
    # HASH repartition, not repartitionByRange (r8): the kernel needs only
    # key co-location (contiguity comes from the in-partition sort), and
    # range partitioning's boundary-sampling pass RE-EXECUTES the whole
    # upstream plan — here the union + snapshot aggregation, and in the
    # nearest composition the entire backward pass including its Python
    # stream — once per staging just to pick split points. Hash co-locates
    # identically with zero sampling; output is unchanged (the kernel's
    # order comes from the sort, not the partitioner).
    staged = unioned.repartition(F.col(on)).sortWithinPartitions(
        F.col(on).asc(), ts_sort, F.col("__tag").asc(), *[F.col(c).asc() for c in ord_cols]
    )

    out_names = [f.name for f in out_schema.fields]

    def stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # key -> the key's last snapshot row. After sortWithinPartitions the
        # partition stream is key-contiguous, so ONLY the final key of each
        # Arrow batch can continue into the next batch: state is evicted down
        # to that single key at the end of every batch, making worker memory
        # O(batch size + 1 carried row) — independent of key cardinality.
        state: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            is_left = pdf["__tag"].to_numpy() == left_tag
            # inject carried state: prepend one synthetic snapshot row per
            # already-seen key appearing in this batch, so ffill continues
            # across Arrow-batch boundaries within the partition
            carry = [state[k] for k in pd.unique(pdf[on]) if k in state]
            if carry:
                head = pd.DataFrame(carry).astype(pdf[[on] + fill_cols].dtypes.to_dict())
                work = pd.concat([head[[on] + fill_cols], pdf[[on] + fill_cols]], ignore_index=True)
                inj = len(head)
            else:
                work = pdf[[on] + fill_cols]
                inj = 0
            # row-ATOMIC forward fill: ffill an index into the right rows and
            # gather whole rows — per-column ffill would resurrect an older
            # snapshot's value through a newer snapshot's legitimate NULL
            is_right_work = np.ones(len(work), dtype=bool)
            is_right_work[inj:] = ~is_left
            ridx = np.where(is_right_work, np.arange(len(work), dtype=float), np.nan)
            filled_ridx = (
                pd.Series(ridx).groupby(work[on].to_numpy(), sort=False).ffill().iloc[inj:].reset_index(drop=True)
            )
            res = pdf.copy()
            have = filled_ridx.notna().to_numpy()
            safe_idx = filled_ridx.fillna(0).astype(int).to_numpy()
            gathered = work[fill_cols].iloc[safe_idx].reset_index(drop=True)
            for c in fill_cols:
                col = gathered[c].copy()
                col[~have] = pd.NaT if str(col.dtype).startswith("datetime") else np.nan
                res[c] = col
            # carry forward ONLY the batch's final key (key-contiguous stream:
            # no other key reappears later); its last snapshot row may be in
            # this batch or already in carried state
            last_key = pdf[on].iloc[-1]
            snaps_last = pdf.loc[
                (~is_left) & (pdf[on].to_numpy() == last_key), [on] + fill_cols
            ]
            if len(snaps_last):
                state = {last_key: snaps_last.iloc[-1].to_dict()}
            elif last_key in state:
                state = {last_key: state[last_key]}
            else:
                state = {}
            res = res.loc[is_left].reset_index(drop=True)
            if tol_ns is not None and len(res):
                lts = _ts_to_i8(res["__t"])
                rts = _ts_to_i8(res[right_ts])
                delta = (lts - rts) if direction == "backward" else (rts - lts)
                stale = delta > tol_ns
                for c in fill_cols:
                    col = res[c].copy()
                    col[stale] = pd.NaT if str(col.dtype).startswith("datetime") else np.nan
                    res[c] = col
            if len(res):
                res = res.rename(columns={"__t": left_ts})
                yield res[out_names]

    return staged.mapInPandas(stream, schema=out_schema)


def _asof_merge_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    allow_exact: bool,
    tolerance_s: float | None,
) -> DataFrame:
    """Bounded-memory nearest (r6 — the last strategy x direction hole):
    two chained ``_asof_merge`` passes sharing the streaming kernel, then
    the window-nearest row-local choice.

    The backward pass attaches the latest-preceding candidate under
    ``__b_*`` names; its OUTPUT is then the left side of the forward pass,
    which attaches the earliest-following candidate under ``__f_*`` names
    (the ``__b_*`` columns ride through as inert left payload). A final
    pure-column projection picks the closer candidate row-atomically with
    ``_prefer_preceding`` — equidistant -> preceding, the same rule as
    window nearest and the cogroup kernel (pandas' rule), pinned by the
    randomized three-strategy parity test. Each pass is the merge kernel
    itself, so the hot-key story is unchanged: worker memory stays O(Arrow
    batch + 1 carried row) per pass regardless of key heat — this is the
    nearest-direction path a pathologically hot key could not take through
    window (single-task sort pressure is spill-backed there, but cogroup
    would OOM).

    allow_exact/tolerance need no extra handling: each leg applies its own
    exactness tie rule and staleness filter, so an equal-ts snapshot
    matches backward at distance 0 (and wins the <= tie) exactly when
    ``allow_exact``, and a candidate past tolerance arrives here already
    nulled. NULL-ts left rows match neither leg (asc nulls-first /
    desc-nulls-first sorts put them before any snapshot in stream order).
    """
    right_val_cols = [f.name for f in right.schema.fields if f.name != on]
    left_cols = [f.name for f in left.schema.fields]
    out_schema = _result_schema(left, right, on, right_ts)

    b_right = right.select(
        F.col(on), *[F.col(c).alias("__b_" + c) for c in right_val_cols]
    )
    res_b = _asof_merge(
        left, b_right, on, left_ts, "__b_" + right_ts, allow_exact, tolerance_s,
        "backward",
    )
    f_right = right.select(
        F.col(on), *[F.col(c).alias("__f_" + c) for c in right_val_cols]
    )
    both = _asof_merge(
        res_b, f_right, on, left_ts, "__f_" + right_ts, allow_exact, tolerance_s,
        "forward",
    )

    have_b = F.col("__b_" + right_ts).isNotNull()
    have_f = F.col("__f_" + right_ts).isNotNull()
    lt_us = F.unix_micros(F.col(left_ts).cast("timestamp"))
    dp = lt_us - F.unix_micros(F.col("__b_" + right_ts).cast("timestamp"))
    dn = F.unix_micros(F.col("__f_" + right_ts).cast("timestamp")) - lt_us
    pick_b = _prefer_preceding(have_b, have_f, dp, dn)
    chosen = [
        F.when(pick_b, F.col("__b_" + c)).when(have_f, F.col("__f_" + c)).alias(c)
        for c in right_val_cols
    ]
    out = both.select(*[F.col(c) for c in left_cols], *chosen)
    return out.select(*[f.name for f in out_schema.fields])
