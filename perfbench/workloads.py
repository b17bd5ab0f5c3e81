"""The three workloads: one repetition each, traced or not, and its checks.

A repetition reads its inputs from files and ends with its complete result
written. In a traced repetition each layer call is a span whose output is
forced by writing it; the next layer reads that written output.
"""

from __future__ import annotations

import contextlib
import os
import sys
import types

import numpy as np
import pyarrow.dataset as ds

from jobs import build_features as bf
from perfbench import inputs, oracles
from pitfeat.checkpoint import resume_or_compute
from pitfeat.config import PitfeatConfig
from pitfeat.io import read_snapshots, read_transcripts
from pitfeat.ops.asof import asof_join
from pitfeat.ops.dedup import minhash_lsh_pairs
from pitfeat.ops.ewma import ewma_time
from pitfeat.ops.similarity import knn_join
from pitfeat.ops.text import quality_score
from pitfeat.pipeline import Pipeline


def _count(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def _write(sp, df, path: str) -> None:
    sp.output(df, path=path, rows=lambda: _count(path))
    df.write.parquet(path)


# Layer of each Pipeline step build_rest may call. The traced repetition runs
# build_rest itself with these steps hooked, so its spans cover exactly the
# job's own chain; a step missing here fails the traced run.
STEP_LAYER = {
    "with_gap": "ops.windows",
    "with_lags": "ops.windows",
    "rolling": "ops.windows",
    "rolling_time": "ops.windows",
    "cumulative_tools": "ops.windows",
    "sessionize": "ops.windows",
    "role_ngrams": "ops.windows",
    "normalize": "ops.normalize",
    "assemble": "ops.vectors",
}
# Pipeline entry points of stage 1, which build_rest does not call
STAGE1 = {"from_transcripts", "from_df", "asof_snapshots"}


class StepSpans:
    """Open one span per layer while build_rest runs. A step of a new layer
    first writes the open layer's output and reads it back, so no span
    covers another's execution."""

    def __init__(self, spark, tr, out: str):
        self.spark, self.tr, self.out = spark, tr, out
        self.stack = contextlib.ExitStack()
        self.sp = self.layer = None

    def step(self, p, layer: str) -> None:
        if layer == self.layer:
            return
        if self.sp is not None:
            p.df = self.spark.read.parquet(self.finish(p.df))
        self.sp = self.stack.enter_context(self.tr.span(layer))
        self.layer = layer

    def finish(self, df) -> str:
        """Write the open layer's output, close its span; returns the path."""
        path = os.path.join(self.out, "t_" + self.layer.split(".")[-1])
        _write(self.sp, df, path)
        self.stack.close()
        return path

    @contextlib.contextmanager
    def hooked(self):
        """Route every public Pipeline step through ``step`` while inside."""
        saved = {}

        def hook(name, fn):
            def run_step(p, *args, **kwargs):
                if name not in STEP_LAYER:
                    raise KeyError(f"build_rest calls Pipeline.{name}, which has no layer in STEP_LAYER")
                self.step(p, STEP_LAYER[name])
                res = fn(p, *args, **kwargs)
                self.sp.called()
                return res

            return run_step

        for name, fn in vars(Pipeline).items():
            if callable(fn) and not name.startswith("_") and name not in STAGE1:
                saved[name] = fn
                setattr(Pipeline, name, hook(name, fn))
        try:
            yield
        except BaseException:
            self.stack.__exit__(*sys.exc_info())
            raise
        finally:
            for name, fn in saved.items():
                setattr(Pipeline, name, fn)


class PitBuild:
    """Flagship staged build of jobs/build_features.py with resume
    checkpoints: as-of, windows, normalize (prune), assemble."""

    name = "pit_build"
    rep_s = 2.5  # nominal warm repetition on 4 cores; sets the timed count

    def __init__(self, input_dir: str, seed: int):
        self.args = types.SimpleNamespace(
            transcripts=os.path.join(input_dir, "transcripts"),
            snapshots=os.path.join(input_dir, "snapshots"),
        )
        self.cfg = PitfeatConfig()
        self.inputs = [self.args.transcripts, self.args.snapshots]
        self.rows_in = _count(self.args.transcripts)

    def _ckpt(self, spark, out: str, stage: str, fn):
        return resume_or_compute(
            spark, os.path.join(out, stage), stage, self.cfg.config_hash(), fn, inputs=self.inputs
        )[0]

    def rep(self, spark, out: str, tr) -> dict:
        cfg = self.cfg
        if not tr.enabled:
            a = self._ckpt(spark, out, "asof", lambda: bf.build_asof(spark, self.args, cfg))
            self._ckpt(spark, out, "features", lambda: bf.build_rest(spark, self.args, cfg, a).df)
            return {"out": out}
        with tr.span("io") as sp:
            t = read_transcripts(spark, self.args.transcripts)
            s = read_snapshots(spark, self.args.snapshots)
            sp.called()
            sp.output(t, rows=self.rows_in + _count(self.args.snapshots))
            for df in (t, s):
                df.write.format("noop").mode("overwrite").save()
        with tr.span("ops.asof") as sp:
            df = bf.build_asof(spark, self.args, cfg)
            sp.called()
            _write(sp, df, os.path.join(out, "t_asof"))
        with tr.span("checkpoint") as sp:
            a = self._ckpt(spark, out, "asof", lambda: spark.read.parquet(os.path.join(out, "t_asof")))
            sp.output(path=os.path.join(out, "asof", "data"))
        steps = StepSpans(spark, tr, out)
        with steps.hooked():
            p = bf.build_rest(spark, self.args, cfg, a)
            final = steps.finish(p.df)
        with tr.span("checkpoint") as sp:
            self._ckpt(spark, out, "features", lambda: spark.read.parquet(final))
            sp.output(path=os.path.join(out, "features", "data"))
        return {"out": out, "counters": {"ops.normalize.pruned_cols": len(p.manifest["minmax"]["degenerate"])}}

    def expect(self) -> None:
        self.exp = oracles.pit_expected(self.args.transcripts, self.args.snapshots)

    def check(self, res: dict):
        out = res["out"]
        asof = oracles.read_table(
            os.path.join(out, "asof", "data"), ["conv_id", "turn_idx", "ts", "snap_ts"]
        )
        feats = oracles.read_table(
            os.path.join(out, "features", "data"), ["conv_id", "turn_idx", "features"]
        )
        res.setdefault("counters", {}).update({
            "ops.asof.match_rate": float(asof["snap_ts"].notna().mean()),
            "ops.asof.leaks": int((asof["snap_ts"] > asof["ts"]).sum()),
        })
        return oracles.check_pit(self.exp, asof, feats)


class AsofHotkey:
    """Merge-strategy nearest as-of join under a hot key, then event-time
    EWMA over a joined snapshot feature."""

    name = "asof_hotkey"
    rep_s = 1.6
    SAMPLE_CONVS = 30

    def __init__(self, input_dir: str, seed: int):
        self.t_path = os.path.join(input_dir, "transcripts")
        self.s_path = os.path.join(input_dir, "snapshots")
        self.rows_in = _count(self.t_path)
        ids = sorted(
            set(ds.dataset(self.t_path).to_table(columns=["conv_id"]).column(0).unique().to_pylist())
            - {"c0"}
        )
        rng = np.random.default_rng(seed)
        self.convs = ["c0"] + sorted(rng.choice(ids, size=min(self.SAMPLE_CONVS, len(ids)), replace=False).tolist())

    def rep(self, spark, out: str, tr) -> dict:
        t, s = spark.read.parquet(self.t_path), spark.read.parquet(self.s_path)
        res_path = os.path.join(out, "result")
        if not tr.enabled:
            j = asof_join(t, s, strategy="merge", direction="nearest")
            ewma_time(j, "f_0", halflife_s=oracles.EWMA_HALFLIFE_S).write.parquet(res_path)
            return {"out": res_path}
        with tr.span("ops.asof") as sp:
            j = asof_join(t, s, strategy="merge", direction="nearest")
            sp.called()
            _write(sp, j, os.path.join(out, "t_asof"))
        with tr.span("ops.ewma") as sp:
            j = spark.read.parquet(os.path.join(out, "t_asof"))
            e = ewma_time(j, "f_0", halflife_s=oracles.EWMA_HALFLIFE_S)
            sp.called()
            _write(sp, e, res_path)
        return {"out": res_path}

    def expect(self) -> None:
        self.exp = oracles.hotkey_expected(self.t_path, self.s_path, self.convs)

    def check(self, res: dict):
        cols = ["conv_id", "turn_idx", "ts", "snap_ts"] + [c for c in self.exp.columns if c.startswith("f_")]
        got = oracles.read_table(res["out"], cols, ds.field("conv_id").isin(self.convs))
        matched = oracles.read_table(res["out"], ["snap_ts"])["snap_ts"].notna()
        res["counters"] = {"ops.asof.match_rate": float(matched.mean()), "ops.asof.leaks": 0}
        return oracles.check_hotkey(self.exp, got, self.rows_in, len(matched))


class CorpusNeardup:
    """IVF corpus KNN (codebook trained in the call), MinHash-LSH near-dup
    pairs, and the quality score over a document corpus."""

    name = "corpus_neardup"
    rep_s = 2.5
    KNN = {"k": oracles.KNN_K, "method": "ivf", "nlist": 16, "nprobe": 4}
    SAMPLE_QUERIES = 200
    SAMPLE_DOCS = 500

    def __init__(self, input_dir: str, seed: int):
        self.e_path = os.path.join(input_dir, "embeddings")
        self.d_path = os.path.join(input_dir, "documents.parquet")
        self.n_vecs = _count(self.e_path)
        self.n_docs = _count(self.d_path)
        self.rows_in = self.n_vecs + self.n_docs
        self.seed = seed

    def rep(self, spark, out: str, tr) -> dict:
        e, d = spark.read.parquet(self.e_path), spark.read.parquet(self.d_path)
        paths = {k: os.path.join(out, k) for k in ("knn", "pairs", "quality")}
        steps = (
            ("ops.similarity", "knn", lambda: knn_join(e, **self.KNN)),
            (
                "ops.dedup",
                "pairs",
                lambda: minhash_lsh_pairs(d, num_hashes=32, bands=oracles.MH_BANDS, threshold=oracles.MH_THRESHOLD),
            ),
            ("ops.text", "quality", lambda: quality_score(d)),
        )
        for layer, key, call in steps:
            with tr.span(layer) as sp:
                df = call()
                sp.called()
                _write(sp, df, paths[key])
        return paths

    def expect(self) -> None:
        t = ds.dataset(self.e_path).to_table(columns=["vec_id", "embedding"])
        ids = t.column("vec_id").to_numpy()
        E = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        rng = np.random.default_rng(self.seed)
        sample = rng.choice(ids, size=min(self.SAMPLE_QUERIES, len(ids)), replace=False)
        self.knn = oracles.knn_expected(ids, E, sample)
        docs = ds.dataset(self.d_path).to_table(columns=["doc_id", "text"]).to_pandas()
        self.docs = docs.sort_values("doc_id")["text"].tolist()
        self.pairs = oracles.pairs_expected(self.docs, inputs.planted_pairs(self.n_docs))
        self.doc_sample = sorted(rng.choice(self.n_docs, size=min(self.SAMPLE_DOCS, self.n_docs), replace=False).tolist())

    def check(self, res: dict):
        knn = oracles.read_table(res["knn"], filter=ds.field("vec_id").isin(list(self.knn["top"])))
        f1, h1, t1 = oracles.check_knn(self.knn, knn, self.n_vecs, _count(res["knn"]))
        pairs = oracles.read_table(res["pairs"])
        f2, h2, t2 = oracles.check_pairs(self.docs, self.pairs, pairs)
        q = oracles.read_table(res["quality"], ["doc_id", "quality"], ds.field("doc_id").isin(self.doc_sample))
        f3, _, _ = oracles.check_quality(self.docs, q, self.n_docs, _count(res["quality"]))
        res["counters"] = {
            "ops.similarity.recall_at10": h1 / t1,
            "ops.dedup.pairs_recall": h2 / max(t2, 1),
        }
        return f1 + f2 + f3, h1 + h2, t1 + t2


WORKLOADS = {w.name: w for w in (PitBuild, AsofHotkey, CorpusNeardup)}
