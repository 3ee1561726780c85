"""XXH64 — independent implementations of the public xxHash64 algorithm.

The reference engine hashes every k-word shingle with XXH64(seed=0)
(`/root/reference/CPPDeduper/Shingler64.hpp:126,155-157,192` via the vendored
upstream xxhash). We need bit-identical hash values for sketch parity, but the
`xxhash` python package is not available in this environment, so this module
implements the published xxHash64 specification
(https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md) twice:

* ``xxh64`` — scalar, pure-Python big-int arithmetic. Used by the test oracle.
* ``xxh64_rows`` — numpy-vectorized over a matrix of fixed-length byte rows.
  Used by the Spark-side vectorized sketch/banding kernels: one call hashes
  every same-length shingle window in an Arrow batch at once.

The two implementations are developed independently (python ints vs uint64
numpy lanes) and cross-checked against each other and against the published
test vectors in tests/test_kernels.py.
"""

from __future__ import annotations

import numpy as np

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """Scalar XXH64 per the public spec; returns an unsigned 64-bit int."""
    n = len(data)
    p = 0
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _M64
        a2 = (seed + _P2) & _M64
        a3 = seed & _M64
        a4 = (seed - _P1) & _M64
        while n - p >= 32:
            lanes = [int.from_bytes(data[p + 8 * i : p + 8 * i + 8], "little") for i in range(4)]
            a1 = (_rotl((a1 + lanes[0] * _P2) & _M64, 31) * _P1) & _M64
            a2 = (_rotl((a2 + lanes[1] * _P2) & _M64, 31) * _P1) & _M64
            a3 = (_rotl((a3 + lanes[2] * _P2) & _M64, 31) * _P1) & _M64
            a4 = (_rotl((a4 + lanes[3] * _P2) & _M64, 31) * _P1) & _M64
            p += 32
        h = (_rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12) + _rotl(a4, 18)) & _M64
        for a in (a1, a2, a3, a4):
            h = ((h ^ (_rotl((a * _P2) & _M64, 31) * _P1) & _M64) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while n - p >= 8:
        lane = int.from_bytes(data[p : p + 8], "little")
        h = (_rotl(h ^ ((_rotl((lane * _P2) & _M64, 31) * _P1) & _M64), 27) * _P1 + _P4) & _M64
        p += 8
    if n - p >= 4:
        lane = int.from_bytes(data[p : p + 4], "little")
        h = (_rotl(h ^ ((lane * _P1) & _M64), 23) * _P2 + _P3) & _M64
        p += 4
    while p < n:
        h = (_rotl(h ^ ((data[p] * _P5) & _M64), 11) * _P1) & _M64
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


_U = np.uint64
_uP1, _uP2, _uP3, _uP4, _uP5 = (_U(_P1), _U(_P2), _U(_P3), _U(_P4), _U(_P5))


class _Scratch:
    """Grow-only reusable work buffers.

    numpy hands large arrays back to the OS when they are freed, so a fresh
    temporary per call pays its first-touch page faults every time. On a
    4-core VM (transparent huge pages on), filling a fresh 100 MB array
    took 0.027 s against 0.014 s for refilling a warm one: ~560 faults of
    ~47 µs, about 0.5 µs per 4 KiB page. Reuse saves that on every call,
    and faults taken together by several workers contend in the kernel's
    mm layer. Callers keep the sizes bounded (the sketch kernel works in
    blocks), since a buffer is never shrunk. Buffers are allocated once per
    worker process; Python workers are single-threaded, so no locking is
    needed.
    """

    def __init__(self):
        self._bufs: dict[str, np.ndarray] = {}

    def get(self, name: str, size: int, dtype=_U) -> np.ndarray:
        buf = self._bufs.get(name)
        if buf is None or buf.size < size or buf.dtype != dtype:
            cap = max(size, 1 << 14)
            if buf is not None and buf.dtype == dtype:
                cap = max(cap, buf.size * 2)
            buf = np.empty(cap, dtype=dtype)
            self._bufs[name] = buf
        return buf[:size]


_SCRATCH = _Scratch()


def _rotl_ip(x: np.ndarray, r: int, tmp: np.ndarray) -> None:
    """x = rotl(x, r) in place, using tmp as scratch."""
    np.right_shift(x, _U(64 - r), out=tmp)
    np.left_shift(x, _U(r), out=x)
    np.bitwise_or(x, tmp, out=x)


def xxh64_rows(data: np.ndarray, seed: int = 0) -> np.ndarray:
    """Vectorized XXH64 over the rows of a 2-D uint8 array.

    ``data`` is ``(m, B)`` uint8 — m independent messages, each exactly B
    bytes. Returns ``(m,)`` uint64 of XXH64(row, seed). All arithmetic is
    wrap-around uint64 (numpy semantics match the spec's mod-2^64 math);
    all hot-loop operations run in place over reused scratch buffers.
    The returned array is freshly allocated (callers keep it).
    """
    if data.ndim != 2 or data.dtype != np.uint8:
        raise ValueError("xxh64_rows expects a (m, B) uint8 array")
    m, n = data.shape
    useed = _U(seed & _M64)
    tmp = _SCRATCH.get("tmp", m)
    lane_buf = _SCRATCH.get("lane", m)
    h = np.empty(m, dtype=_U)  # result: fresh allocation
    with np.errstate(over="ignore"):
        p = 0
        if n >= 32:
            nstripes = n // 32
            body = np.ascontiguousarray(data[:, : nstripes * 32])
            lanes = body.view("<u8").reshape(m, nstripes, 4)
            acc = [_SCRATCH.get(f"acc{i}", m) for i in range(4)]
            acc[0][:] = useed + _uP1 + _uP2
            acc[1][:] = useed + _uP2
            acc[2][:] = useed
            acc[3][:] = useed - _uP1
            for s in range(nstripes):
                for i in range(4):
                    np.multiply(lanes[:, s, i], _uP2, out=lane_buf)
                    np.add(acc[i], lane_buf, out=acc[i])
                    _rotl_ip(acc[i], 31, tmp)
                    np.multiply(acc[i], _uP1, out=acc[i])
            # h = rotl(a0,1)+rotl(a1,7)+rotl(a2,12)+rotl(a3,18) without
            # mutating acc (still needed for the merge rounds)
            np.left_shift(acc[0], _U(1), out=h)
            np.right_shift(acc[0], _U(63), out=tmp)
            np.bitwise_or(h, tmp, out=h)
            for a, r in ((acc[1], 7), (acc[2], 12), (acc[3], 18)):
                np.left_shift(a, _U(r), out=lane_buf)
                np.right_shift(a, _U(64 - r), out=tmp)
                np.bitwise_or(lane_buf, tmp, out=lane_buf)
                np.add(h, lane_buf, out=h)
            for i in range(4):
                np.multiply(acc[i], _uP2, out=lane_buf)
                _rotl_ip(lane_buf, 31, tmp)
                np.multiply(lane_buf, _uP1, out=lane_buf)
                np.bitwise_xor(h, lane_buf, out=h)
                np.multiply(h, _uP1, out=h)
                np.add(h, _uP4, out=h)
            p = nstripes * 32
        else:
            h[:] = useed + _uP5
        np.add(h, _U(n), out=h)
        while n - p >= 8:
            lane8 = np.ascontiguousarray(data[:, p : p + 8]).view("<u8")[:, 0]
            np.multiply(lane8, _uP2, out=lane_buf)
            _rotl_ip(lane_buf, 31, tmp)
            np.multiply(lane_buf, _uP1, out=lane_buf)
            np.bitwise_xor(h, lane_buf, out=h)
            _rotl_ip(h, 27, tmp)
            np.multiply(h, _uP1, out=h)
            np.add(h, _uP4, out=h)
            p += 8
        if n - p >= 4:
            lane4 = np.ascontiguousarray(data[:, p : p + 4]).view("<u4")[:, 0]
            lane_buf[:] = lane4  # widen u32 -> u64 into scratch
            np.multiply(lane_buf, _uP1, out=lane_buf)
            np.bitwise_xor(h, lane_buf, out=h)
            _rotl_ip(h, 23, tmp)
            np.multiply(h, _uP2, out=h)
            np.add(h, _uP3, out=h)
            p += 4
        while p < n:
            lane_buf[:] = data[:, p]
            np.multiply(lane_buf, _uP5, out=lane_buf)
            np.bitwise_xor(h, lane_buf, out=h)
            _rotl_ip(h, 11, tmp)
            np.multiply(h, _uP1, out=h)
            p += 1
        np.right_shift(h, _U(33), out=tmp)
        np.bitwise_xor(h, tmp, out=h)
        np.multiply(h, _uP2, out=h)
        np.right_shift(h, _U(29), out=tmp)
        np.bitwise_xor(h, tmp, out=h)
        np.multiply(h, _uP3, out=h)
        np.right_shift(h, _U(32), out=tmp)
        np.bitwise_xor(h, tmp, out=h)
    return h


def xxh64_u64_rows(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """XXH64 of each row of a (m, W) uint64 array, hashing the rows'
    little-endian byte serialization (W*8 bytes per message)."""
    values = np.ascontiguousarray(values, dtype="<u8")
    m, w = values.shape
    return xxh64_rows(values.view(np.uint8).reshape(m, w * 8), seed)
