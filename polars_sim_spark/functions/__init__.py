from polars_sim_spark.functions.text import (
    normalize_string_col,
    trigram_tokens,
    word_shingles,
)
from polars_sim_spark.functions.vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "normalize_string_col",
    "trigram_tokens",
    "word_shingles",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
