"""Public-surface pins: the package exports and the similarity, near-dup and
text entry points' signatures. A refactor that renames, drops or re-defaults
any of them fails here instead of silently changing what callers (the driver
contract, ``bench.py``, the jobs) get."""

import inspect

import pitfeat
from pitfeat.ops import dedup as D
from pitfeat.ops import similarity as S
from pitfeat.ops import text as T

EXPECTED_ALL = [
    "PitfeatConfig",
    "cluster_features",
    "hash_split",
    "score_clusters",
    "get_spark",
    "Pipeline",
    "asof_join",
    "connected_components",
    "exact_dedup",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "cosine_topk",
    "lsh_topk",
    "ivf_topk",
    "knn_join",
    "ewma",
    "interval_join",
    "ewma_time",
    "compute_moments",
    "normalize_minmax_grouped",
    "normalize_zscore",
    "normalize_zscore_grouped",
    "compute_quantiles",
    "compute_quantiles_multi",
    "quantile_bin",
    "__version__",
]

_Q = (
    "corpus: 'DataFrame', queries: 'DataFrame', k: 'int' = 10, "
    "id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding', "
    "query_id_col: 'str' = 'query_id', "
)

EXPECTED_SIGNATURES = {
    "cosine_topk": f"({_Q}dim: 'int | None' = None) -> 'DataFrame'",
    "lsh_topk": (
        f"({_Q}nbits: 'int' = 8, tables: 'int' = 8, dim: 'int' = 64, "
        "seed: 'int' = 42) -> 'DataFrame'"
    ),
    "ivf_topk": (
        f"({_Q}nlist: 'int' = 16, nprobe: 'int' = 4, dim: 'int' = 64, "
        "seed: 'int' = 42, centroids=None) -> 'DataFrame'"
    ),
    "knn_join": (
        "(df: 'DataFrame', k: 'int' = 10, id_col: 'str' = 'vec_id', "
        "vec_col: 'str' = 'embedding', method: 'str' = 'ivf', "
        "dim: 'int | None' = None, seed: 'int' = 42, nbits: 'int' = 2, "
        "tables: 'int' = 8, nlist: 'int' = 16, nprobe: 'int' = 4, "
        "centroids=None, max_bucket: 'int | None' = None, "
        "max_probers: 'int' = 131072) -> 'DataFrame'"
    ),
    "embedding_near_dup_pairs": (
        "(df: 'DataFrame', id_col: 'str' = 'vec_id', "
        "vec_col: 'str' = 'embedding', threshold: 'float' = 0.95, "
        "nbits: 'int' = 8, tables: 'int' = 4, dim: 'int' = 64, "
        "seed: 'int' = 42, max_bucket: 'int' = 2000, "
        "bucket_path: 'str | None' = None) -> 'DataFrame'"
    ),
    # bench.py imports this private helper directly
    "_kmeans_centroids": (
        "(corpus: 'DataFrame', vec_col: 'str', id_col: 'str', nlist: 'int', "
        "dim: 'int', seed: 'int', sample_cap: 'int' = 20000, "
        "iters: 'int' = 10)"
    ),
}


def test_package_all_is_pinned():
    assert pitfeat.__all__ == EXPECTED_ALL
    for name in pitfeat.__all__:
        assert hasattr(pitfeat, name), name


def test_similarity_signatures_are_pinned():
    for name, want in EXPECTED_SIGNATURES.items():
        assert str(inspect.signature(getattr(S, name))) == want, name


_DF = "df: 'DataFrame', "

EXPECTED_NEAR_DUP_SIGNATURES = {
    D: {
        "exact_dedup": (
            f"({_DF}text_col: 'str' = 'text', id_col: 'str' = 'doc_id') -> 'DataFrame'"
        ),
        "minhash_signatures": (
            f"({_DF}text_col: 'str' = 'text', num_hashes: 'int' = 32, "
            "shingle_n: 'int' = 3, seed: 'int' = 42) -> 'DataFrame'"
        ),
        "minhash_lsh_pairs": (
            f"({_DF}text_col: 'str' = 'text', id_col: 'str' = 'doc_id', "
            "num_hashes: 'int' = 32, bands: 'int' = 8, shingle_n: 'int' = 3, "
            "threshold: 'float' = 0.7, seed: 'int' = 42, max_bucket: 'int' = 2000, "
            "sig_path: 'str | None' = None, small_corpus_rows: 'int' = 262144, "
            "small_corpus_bytes: 'int' = 67108864) -> 'DataFrame'"
        ),
        "simhash_near_pairs": (
            f"({_DF}id_col: 'str' = 'doc_id', text_col: 'str' = 'text', "
            "max_hamming: 'int' = 3, max_bucket: 'int' = 2000, "
            "sig_path: 'str | None' = None) -> 'DataFrame'"
        ),
        "ngram_jaccard": (
            "(df_a: 'DataFrame', df_b: 'DataFrame', id_col: 'str' = 'doc_id', "
            "text_col: 'str' = 'text', shingle_n: 'int' = 3) -> 'DataFrame'"
        ),
        "connected_components": (
            "(pairs: 'DataFrame', id_a: 'str' = 'id_a', id_b: 'str' = 'id_b', "
            "out_id: 'str' = 'id', out_col: 'str' = 'component', "
            "max_iter: 'int' = 50, stats: 'dict | None' = None) -> 'DataFrame'"
        ),
        "simhash": f"({_DF}text_col: 'str' = 'text', shingle_n: 'int' = 2) -> 'DataFrame'",
        "_shingle_hash_udf": "(shingle_n: 'int')",
        # __spark_entry__.py imports this private helper from pitfeat.ops.dedup
        "_scratch_dir": f"({_DF}path: 'str | None', prefix: 'str') -> 'str'",
    },
    T: {
        "fingerprint": (
            f"({_DF}text_col: 'str' = 'text', out_col: 'str' = 'fp64') -> 'DataFrame'"
        ),
        "quality_score": f"({_DF}text_col: 'str' = 'text') -> 'DataFrame'",
    },
}


def test_near_dup_and_text_signatures_are_pinned():
    for mod, sigs in EXPECTED_NEAR_DUP_SIGNATURES.items():
        for name, want in sigs.items():
            assert str(inspect.signature(getattr(mod, name))) == want, name
