"""Counter-based deterministic pseudo-randomness.

The reference fuzzer pins a PRNG seed (reference: config/fuzzinginput.json:14-15,
mainFuzzer.go:87-117) so runs reproduce. We go further: *all* synthetic
data in this engine is a pure function of (key, counter) via blake2b —
no wall clock, no stateful RNG — so the corpus generator, the
mapInPandas synthetic fetcher, and the sequential oracle regenerate
byte-identical worlds independently (SURVEY.md O79).
"""

from __future__ import annotations

import hashlib

_MASK64 = (1 << 64) - 1


def h64(*parts: object) -> int:
    """Deterministic 64-bit hash of the stringified parts (unsigned)."""
    s = "\x1f".join(map(str, parts)).encode("utf-8")
    return int.from_bytes(hashlib.blake2b(s, digest_size=8).digest(), "little")


def hchoice(seq, *parts: object):
    """Deterministically pick one element of ``seq`` keyed on parts."""
    return seq[h64(*parts) % len(seq)]


def hfloat(*parts: object) -> float:
    """Deterministic float in [0, 1)."""
    return (h64(*parts) & _MASK64) / float(1 << 64)


def hint(lo: int, hi: int, *parts: object) -> int:
    """Deterministic int in [lo, hi] inclusive."""
    return lo + h64(*parts) % (hi - lo + 1)
