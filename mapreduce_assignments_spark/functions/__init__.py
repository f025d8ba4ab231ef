from .hashing import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_PRIME,
    NUM_MINHASHES,
    h28,
    h60,
    log_add_exp,
)

__all__ = [
    "h28",
    "h60",
    "log_add_exp",
    "MINHASH_A",
    "MINHASH_B",
    "MINHASH_PRIME",
    "NUM_MINHASHES",
]
