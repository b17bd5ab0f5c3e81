"""Public-surface pins: the package exports and the similarity entry points'
signatures. A refactor that renames, drops or re-defaults any of them fails
here instead of silently changing what callers (the driver contract,
``bench.py``, the jobs) get."""

import inspect

import pitfeat
from pitfeat.ops import similarity as S

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
