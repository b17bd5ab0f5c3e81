"""Seeded benchmark inputs, written once and cached on disk.

Each input set is keyed by workload, seed, size and a hash of the generator
sources (pitfeat/synth.py and this file), so editing a generator never
reuses a stale input. The program under test sees only the written files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

from pitfeat import synth

# Rows of work per workload; "tiny" is the smoke-test size. Sizes are set by
# the time budget of a run (35-50 s on 4 cores, most of it the input session,
# a cold JVM and the first repetition). At these sizes a repetition is mostly
# per-job Spark latency: corpus_neardup at half these rows or twice the
# vectors takes about as long.
SIZES = {
    "full": {
        "pit_build": {"n_convs": 10000, "avg_turns": 20},
        "asof_hotkey": {"n_convs": 2500, "avg_turns": 20},
        "corpus_neardup": {"n_vecs": 4000, "n_docs": 10000},
    },
    "tiny": {
        "pit_build": {"n_convs": 200, "avg_turns": 10},
        "asof_hotkey": {"n_convs": 200, "avg_turns": 10},
        "corpus_neardup": {"n_vecs": 2000, "n_docs": 3000},
    },
}

NEAR_COPY_EVERY = 10  # one document in ten is a near-copy of its predecessor


def _source_hash() -> str:
    h = hashlib.sha256()
    for path in (synth.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def input_dir(work: str, workload: str, seed: int, size: str) -> str:
    key = json.dumps([workload, seed, SIZES[size][workload], _source_hash()])
    tag = hashlib.sha256(key.encode()).hexdigest()[:12]
    return os.path.join(work, "inputs", f"{workload}-{seed}-{size}-{tag}")


def cached(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_DONE"))


def ensure_inputs(spark, d: str, workload: str, seed: int, size: str) -> None:
    """Write the workload's inputs into ``d`` (see ``input_dir``)."""
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    p = SIZES[size][workload]
    if workload in ("pit_build", "asof_hotkey"):
        skew = "zipf" if workload == "asof_hotkey" else "uniform"
        t = synth.gen_transcripts(
            spark, n_convs=p["n_convs"], avg_turns=p["avg_turns"], seed=seed, skew=skew
        )
        t.write.parquet(os.path.join(d, "transcripts"))
        back = spark.read.parquet(os.path.join(d, "transcripts"))
        synth.gen_snapshots(back, seed=seed).write.parquet(os.path.join(d, "snapshots"))
    else:
        synth.gen_clustered_embeddings(spark, p["n_vecs"], seed=seed).write.parquet(
            os.path.join(d, "embeddings")
        )
        write_documents(os.path.join(d, "documents.parquet"), p["n_docs"], seed)
    with open(os.path.join(d, "_DONE"), "w") as f:
        f.write("ok")


def gen_documents(n_docs: int, seed: int) -> list[str]:
    """Word-salad documents. Every NEAR_COPY_EVERY-th document copies its
    predecessor with 0-4 word substitutions, so planted near-duplicate pairs
    span Jaccard ~0.65-1.0 around the 0.7 threshold."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=6000)
    vocab = ["".join(rng.choice(letters, size=n)) for n in lens]
    vocab += ["the", "and", "of", "to", "is", "la", "de", "der", "und"] * 40
    vocab += ["end.", "yes,", "no!", "why?", "(aside)"] * 20
    vocab = np.array(vocab, dtype=object)
    docs: list[str] = []
    for i in range(n_docs):
        if i % NEAR_COPY_EVERY == NEAR_COPY_EVERY - 1:
            words = docs[-1].split(" ")
            for pos in rng.choice(len(words), size=int(rng.integers(0, 5)), replace=False):
                words[pos] = vocab[rng.integers(len(vocab))]
        else:
            words = list(vocab[rng.integers(len(vocab), size=int(rng.integers(30, 70)))])
        docs.append(" ".join(words))
    return docs


def planted_pairs(n_docs: int) -> list[tuple[int, int]]:
    return [(i - 1, i) for i in range(NEAR_COPY_EVERY - 1, n_docs, NEAR_COPY_EVERY)]


def write_documents(path: str, n_docs: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = gen_documents(n_docs, seed)
    table = pa.table(
        {"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": pa.array(docs)}
    )
    pq.write_table(table, path)
