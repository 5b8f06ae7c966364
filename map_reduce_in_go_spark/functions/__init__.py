from .hashing import fnv1a_32
from .text import normalize_token, tokens
from .vectors import dot, l2_norm, to_double_array

__all__ = [
    "fnv1a_32",
    "normalize_token",
    "tokens",
    "dot",
    "l2_norm",
    "to_double_array",
]
