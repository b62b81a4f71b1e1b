from hummingbird_spark.operators.copy import copy_table, run_migration
from hummingbird_spark.operators.curate import CurationReport, curate_corpus
from hummingbird_spark.operators.cluster import (
    cluster_balanced_sample,
    kmeans_assign,
    kmeans_fit,
)
from hummingbird_spark.operators.scd import scd2_history
from hummingbird_spark.operators.search import (
    bigram_perplexity,
    bm25_topk,
    kn_trigram_perplexity,
    rrf_fuse,
)
from hummingbird_spark.operators.split import partition_for_copy

__all__ = [
    "copy_table",
    "run_migration",
    "partition_for_copy",
    "curate_corpus",
    "CurationReport",
    "bm25_topk",
    "rrf_fuse",
    "bigram_perplexity",
    "kn_trigram_perplexity",
    "kmeans_fit",
    "kmeans_assign",
    "cluster_balanced_sample",
    "scd2_history",
]
