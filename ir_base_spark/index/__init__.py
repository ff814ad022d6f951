from .tokenize import tokenize_turns
from .dictionary import build_dictionary, corpus_stats
from .weights import set_feature_values

__all__ = [
    "tokenize_turns",
    "build_dictionary",
    "corpus_stats",
    "set_feature_values",
]
