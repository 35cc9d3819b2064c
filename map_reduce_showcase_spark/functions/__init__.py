from .text import (
    language_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from .vectors import dot, l2_norm

__all__ = [
    "language_id",
    "punct_ratio",
    "quality_score",
    "stopword_ratio",
    "token_count",
    "dot",
    "l2_norm",
]
