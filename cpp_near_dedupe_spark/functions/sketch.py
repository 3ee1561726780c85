"""Document sketching: tokenize → k-word shingles → XXH64 → bottom-N sketch.

Reproduces the reference's fingerprint contract (SURVEY.md §2.1):

1. UTF-8 → UTF-16 code units; 4-byte (non-BMP) UTF-8 lead/continuation bytes
   each become a space (`/root/reference/CPPDeduper/Hashing.h:49-92`).
   ``transcode_oracle`` reproduces this byte-exactly; the fast path uses
   Python's ``str.encode('utf-16-le')`` which emits surrogate pairs instead —
   token-equivalent because surrogates are delimiters in the classification
   table (see functions/alphanum.py), and delimiter code units never reach a
   hash.
2. Words = maximal runs of table-alphanumeric code units
   (`/root/reference/CPPDeduper/isalphanum.h:7-9`,
   `Shingler64.hpp:145-160`).
3. Every window of K=5 consecutive words is a shingle; its hash is
   XXH64(seed) over the concatenated UTF-16LE bytes of the 5 words, no
   separators (`Shingler64.hpp:151-192`; seed=0 at `Hashing.h:41`).
   Documents with fewer than K words have an empty sketch
   (`Shingler64.hpp:182-187`).
4. The sketch is the N=256 smallest *distinct* shingle hashes, sorted
   ascending; shorter if the document has fewer distinct shingles
   (`Shingler64.hpp:189-243`). This equals ``np.unique(hashes)[:N]`` — the
   reference's fill+max-heap phases are an online computation of exactly
   that (proof sketch: the heap max only decreases, so a value rejected or
   evicted once can never re-enter).

Two implementations:

* ``sketch_oracle`` — pure Python, structured exactly like the contract
  above; the test oracle.
* ``sketch_batch`` — numpy-vectorized over blocks of about 1M code units:
  per block, one mask pass finds the word runs of all its documents, and
  all its shingle windows are hashed together, grouped by byte length,
  with the vectorized XXH64. This is the kernel the Spark Arrow UDF calls.
"""

from __future__ import annotations

import struct

import numpy as np

from .alphanum import ALPHANUM
from .fnv32 import fnv32_shingle, fnv32_u16_rows
from .xxh64 import _SCRATCH, xxh64, xxh64_rows

DEFAULT_K = 5  # shingle width in words (`/root/reference/CPPDeduper/CPPDeduper.cpp:20`)
DEFAULT_NUM_HASHES = 256  # bottom-N sketch size (`CPPDeduper.cpp:341`)
DEFAULT_SEED = 0  # XXH64 seed (`/root/reference/CPPDeduper/Hashing.h:41`)
HASH_CHUNK_WINDOWS = 1 << 14  # windows per vectorized hash call (L2-sized)
BLOCK_CODE_UNITS = 1 << 20  # UTF-16 code units per sketch pass (bounds worker memory)


# ---------------------------------------------------------------------------
# Oracle path (pure Python, reference-faithful, used only in tests)
# ---------------------------------------------------------------------------

def transcode_oracle(utf8: bytes) -> list[int]:
    """UTF-8 bytes → UTF-16 code units, per `Hashing.h:49-92`.

    1/2/3-byte sequences decode normally; any other lead byte (4-byte
    sequences, stray continuation bytes) becomes ``0x20`` and consumes one
    byte. Malformed continuation bytes inside a 2/3-byte sequence raise.
    """
    out: list[int] = []
    i = 0
    n = len(utf8)

    def require(offset: int, count: int) -> None:
        if offset + count > n:
            raise ValueError("String too short")
        for j in range(count):
            if (utf8[offset + j] & 0xC0) != 0x80:
                raise ValueError("Illegal utf8 sequence")

    while i < n:
        c = utf8[i]
        if (c & 0x80) == 0:
            out.append(c)
            i += 1
        elif (c & 0xE0) == 0xC0:
            require(i + 1, 1)
            out.append(((c & 0x1F) << 6) | (utf8[i + 1] & 0x3F))
            i += 2
        elif (c & 0xF0) == 0xE0:
            require(i + 2, 1)
            out.append(((c & 0x0F) << 12) | ((utf8[i + 1] & 0x3F) << 6) | (utf8[i + 2] & 0x3F))
            i += 3
        else:
            out.append(0x20)
            i += 1
    return out


def tokenize_oracle(code_units: list[int]) -> list[list[int]]:
    """Maximal runs of table-alphanumeric code units."""
    words: list[list[int]] = []
    cur: list[int] = []
    for c in code_units:
        if ALPHANUM[c]:
            cur.append(c)
        elif cur:
            words.append(cur)
            cur = []
    if cur:
        words.append(cur)
    return words


def sketch_oracle(
    text: str | None,
    k: int = DEFAULT_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = DEFAULT_SEED,
    hash_bits: int = 64,
) -> list[int]:
    """Bottom-N distinct shingle-hash sketch of ``text`` (sorted, unsigned).

    ``hash_bits=64`` (default): XXH64 over the shingle's UTF-16LE bytes;
    ``hash_bits=32``: the reference's FNV variant (`-s 32` mode, see
    functions/fnv32.py).
    """
    if text is None:
        return []
    words = tokenize_oracle(transcode_oracle(text.encode("utf-8")))
    if len(words) < k:
        return []
    hashes = set()
    for j in range(len(words) - k + 1):
        units = [c for w in words[j : j + k] for c in w]
        if hash_bits == 32:
            hashes.add(fnv32_shingle(units))
        else:
            payload = b"".join(struct.pack("<H", c) for c in units)
            hashes.add(xxh64(payload, seed))
    return sorted(hashes)[:num_hashes]


# ---------------------------------------------------------------------------
# Vectorized batch path (the Spark kernel)
# ---------------------------------------------------------------------------

_EMPTY_U64 = np.empty(0, dtype=np.uint64)


def sketch_batch(
    texts,
    k: int = DEFAULT_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    seed: int = DEFAULT_SEED,
    hash_bits: int = 64,
) -> list[np.ndarray]:
    """Sketch a batch of documents; returns one sorted uint64 array per doc.

    The batch is cut into consecutive blocks of about ``BLOCK_CODE_UNITS``
    UTF-16 code units (a longer document is a block of its own), each
    sketched in one vectorized pass by ``_sketch_block``. The working set,
    and so the grow-only scratch, is bounded by the block, not the batch.
    """
    out: list[np.ndarray] = []
    block: list[bytes] = []
    size = 0
    for text in texts:
        buf = text.encode("utf-16-le", "surrogatepass") if text else b""
        if block and size + len(buf) // 2 > BLOCK_CODE_UNITS:
            out += _sketch_block(block, k, num_hashes, seed, hash_bits)
            block, size = [], 0
        block.append(buf)
        size += len(buf) // 2 + 1
    if block:
        out += _sketch_block(block, k, num_hashes, seed, hash_bits)
    return out


def _sketch_block(
    bufs: list[bytes], k: int, num_hashes: int, seed: int, hash_bits: int
) -> list[np.ndarray]:
    """One pass over a block of UTF-16LE documents.

    The documents are joined with a 0 code unit (never alphanumeric) before
    each and after the last, so one mask pass finds every word run and no
    word spans two documents. Word code units are compacted into one array
    in which every k-word window is a contiguous slice; a window counts when
    its first and last words belong to the same document. All windows are
    hashed together, grouped by length (each group is one ``(m, 2L)`` uint8
    matrix → one vectorized XXH64 call). Word, and so window, document ids
    are nondecreasing, so each document's windows are one slice, whose
    ``np.unique`` is its sorted bottom-N distinct sketch.
    """
    out = [_EMPTY_U64] * len(bufs)
    codes = np.frombuffer(b"\0\0".join([b"", *bufs, b""]), dtype="<u2")
    sizes = np.fromiter((len(b) // 2 + 1 for b in bufs), np.int64, len(bufs))
    doc_start = np.cumsum(sizes) - sizes + 1
    mask = ALPHANUM[codes]
    # the stream starts and ends on a delimiter, so mask edges alternate
    # word start, word end
    edges = np.flatnonzero(mask[1:] != mask[:-1]) + 1
    starts, ends = edges[0::2], edges[1::2]
    nw = starts.size
    if nw < k:
        return out
    w_doc = np.searchsorted(doc_start, starts, side="right") - 1
    cum = np.zeros(nw + 1, dtype=np.int64)
    np.cumsum(ends - starts, out=cum[1:])
    valid = np.flatnonzero(w_doc[: nw - k + 1] == w_doc[k - 1 :])
    if valid.size == 0:
        return out
    tokens = np.compress(mask, codes, out=_SCRATCH.get("sk_all_tok", int(cum[-1]), np.uint16))
    g_start = cum[valid]
    g_len = cum[valid + k] - g_start
    g_hash = _SCRATCH.get("sk_ghash", valid.size)
    # gather windows into reused scratch (see functions/xxh64.py _Scratch).
    # Chunk size 16384 keeps the per-call working set L2-resident: measured
    # 4× faster than 128k chunks when 8 workers share the memory bus. (A
    # sliding-window strided view + np.take(axis=0) was tried instead of the
    # index matrix and is ~200× slower — numpy row-take on overlapping
    # strided views is pathological.)
    order = np.argsort(g_len)
    for idx in np.split(order, np.flatnonzero(np.diff(g_len[order])) + 1):
        L = int(g_len[idx[0]])
        for off in range(0, idx.size, HASH_CHUNK_WINDOWS):
            sub = idx[off : off + HASH_CHUNK_WINDOWS]
            mm = sub.size
            idxbuf = _SCRATCH.get("sk_idx", mm * L, np.int64).reshape(mm, L)
            np.add(g_start[sub][:, None], np.arange(L)[None, :], out=idxbuf)
            tokbuf = _SCRATCH.get("sk_tok", mm * L, np.uint16).reshape(mm, L)
            np.take(tokens, idxbuf, out=tokbuf)
            if hash_bits == 32:
                g_hash[sub] = fnv32_u16_rows(tokbuf)
            else:
                g_hash[sub] = xxh64_rows(tokbuf.view(np.uint8).reshape(mm, 2 * L), seed)

    counts = np.bincount(w_doc[valid], minlength=len(bufs))
    stop = np.cumsum(counts)
    for di in np.flatnonzero(counts):
        u = np.unique(g_hash[stop[di] - counts[di] : stop[di]])
        # a slice view would keep all of the doc's distinct hashes alive
        out[di] = u[:num_hashes].copy() if u.size > num_hashes else u
    return out
