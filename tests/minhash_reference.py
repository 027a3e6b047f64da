"""Reference MinHash signatures for the tests: one document at a time in
plain Python, no pandas or numpy. ``str.lower().split()`` tokens →
space-joined shingles → crc32 → distinct → per permutation the minimum
of ``(a·(x mod P) + b) mod P``. ``llm/dedup.signature_table`` (numpy
over Arrow batches) is pinned bit-identical against it: its rows are
persisted ``SIG_VERSION`` state, so this loop is the contract."""

from __future__ import annotations

import random
import zlib

P = (1 << 31) - 1


def perm_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    """The fixed (a, b) pairs of h_i(x) = (a_i·x + b_i) mod P."""
    rng = random.Random(42)
    a = [rng.randrange(1, P) for _ in range(num_hashes)]
    b = [rng.randrange(0, P) for _ in range(num_hashes)]
    return a, b


def signature(
    text: str | None, num_hashes: int = 32, shingle_n: int = 3
) -> tuple[tuple[int, ...], tuple[int, ...]] | None:
    """(mh, shash) for one document, or None when it has fewer than
    ``shingle_n`` tokens (no shingles: the doc gets no signature row)."""
    tokens = (text or "").lower().split()
    if len(tokens) < shingle_n:
        return None
    shash = sorted(
        {
            zlib.crc32(" ".join(tokens[i : i + shingle_n]).encode())
            for i in range(len(tokens) - shingle_n + 1)
        }
    )
    a, b = perm_constants(num_hashes)
    mh = tuple(
        min((ai * (x % P) + bi) % P for x in shash) for ai, bi in zip(a, b)
    )
    return mh, tuple(shash)

