from .hashing import md5_long
from .text import (
    tokens_distinct,
    word_shingles,
    stopword_hits,
    regex_tokens,
    normalized_fingerprint,
)
from .vectors import cosine, cosine_to_literal, dot, l2_norm, hyperplane_bucket

__all__ = [
    "md5_long",
    "tokens_distinct",
    "word_shingles",
    "stopword_hits",
    "regex_tokens",
    "normalized_fingerprint",
    "cosine",
    "cosine_to_literal",
    "dot",
    "l2_norm",
    "hyperplane_bucket",
]
