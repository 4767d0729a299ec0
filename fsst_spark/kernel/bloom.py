"""Per-chunk Bloom filters for point-predicate chunk pruning.

Zone maps prune RANGE predicates; the dict codec's dictionary prunes
exact-membership probes on LOW-NDV string columns. The remaining gap is a
point lookup on a high-NDV column in an UNCLUSTERED store — ``url ==
'https://...'`` over a web corpus whose layout doesn't sort by URL: every
string zone collapses to a shared prefix and every chunk survives, so the
probe decodes the whole store. The classic columnar answer (Parquet
bloom_filter_enabled, ORC bloom columns, Iceberg puffin blobs) is a small
per-chunk Bloom filter over the column's values: a probe tests ~10 bits
per chunk and prunes every chunk that provably lacks the value, with
false positives costing only an unpruned chunk — never a wrong result.

Layout (self-describing blob stored in the chunk table's ``bloom`` column):

    magic  b"FSB1"          4 B
    k      uint8            number of probe positions per value
    pad    3 B zero
    m_bits uint32 LE        bitmap size in bits (power of two)
    bitmap m_bits/8 B       little-endian bit order within each byte

Hashing must be identical between the vectorized build (numpy, whole
chunk) and the scalar probe (driver, one value):

  * bytes-like values hash head ``W=32`` zero-padded bytes, tail ``W``
    zero-padded bytes, then the length, through FNV-1a/64. Values <= 2*W
    bytes are covered exactly; longer values by (head, tail, length) —
    a COARSER hash whose collisions only cost pruning power (a Bloom
    filter is conservative by construction), bought so the build stays
    O(W) vectorized numpy passes instead of a per-byte Python loop.
  * int64/timestamp values hash their two's-complement uint64 bits
    through splitmix64.

h2 is derived from h1 (splitmix64, forced odd) and probe position i is
``(h1 + i*h2) mod m_bits`` — standard Kirsch–Mitzenmacher double hashing.

Reference tie: the reference is a string codec kernel with no metadata
layer (spiraldb/fsst src/lib.rs:14-17); this module is engine-side scale
surface with no reference analog, following the public Parquet/ORC
bloom-filter design.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

_MAGIC = b"FSB1"
_HEADER = struct.Struct("<4sB3xI")  # magic, k, pad, m_bits
_W = 32  # head/tail window hashed for bytes-like values

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_U64 = np.uint64(0xFFFFFFFFFFFFFFFF)

MIN_BITS = 1 << 10  # 128 B floor: header amortized, tiny chunks cheap
MAX_BITS = 1 << 21  # 256 KiB cap: a bloom never rivals its payload


def _splitmix64_vec(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _U64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _U64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _U64
    return x ^ (x >> np.uint64(31))


def _splitmix64_one(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _hash_bytes_vec(data: np.ndarray, starts: np.ndarray,
                    lens: np.ndarray) -> np.ndarray:
    """FNV-1a/64 over (head W, tail W, length) for n byte strings given as
    slices of one uint8 buffer. All W positions always fold in (zero
    padding past each value's end), so the scalar probe can replay the
    exact sequence."""
    n = len(starts)
    h = np.full(n, _FNV_OFFSET, np.uint64)
    take = np.minimum(lens, _W)
    col = np.arange(_W, dtype=np.int64)
    mask = col[None, :] < take[:, None]
    for seg_starts in (starts, np.maximum(starts, starts + lens - _W)):
        padded = np.zeros((n, _W), np.uint8)
        if data.size:
            padded[mask] = data[(seg_starts[:, None] + col[None, :])[mask]]
        for j in range(_W):
            h = ((h ^ padded[:, j].astype(np.uint64)) * _FNV_PRIME) & _U64
    h = ((h ^ lens.astype(np.uint64)) * _FNV_PRIME) & _U64
    return h


def _hash_bytes_one(b: bytes) -> int:
    h = 0xCBF29CE484222325
    prime = 0x100000001B3
    mask = 0xFFFFFFFFFFFFFFFF
    head = b[:_W]
    tail = b[max(0, len(b) - _W):][:_W]
    for seg in (head, tail):
        seg = seg + b"\0" * (_W - len(seg))
        for c in seg:
            h = ((h ^ c) * prime) & mask
    return ((h ^ len(b)) * prime) & mask


def _bytes_like(t: pa.DataType) -> bool:
    return (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t))


def _value_hashes(arr: pa.Array) -> np.ndarray | None:
    """h1 per non-null value, or None for unsupported types."""
    dense = arr.drop_null() if arr.null_count else arr
    t = dense.type
    if _bytes_like(t):
        joined = dense.cast(pa.large_binary())
        bufs = joined.buffers()
        off = np.frombuffer(bufs[1], dtype=np.int64, count=len(joined) + 1)
        data = (np.frombuffer(bufs[2], dtype=np.uint8)
                if bufs[2] is not None else np.zeros(0, np.uint8))
        return _hash_bytes_vec(data, off[:-1].copy(), (off[1:] - off[:-1]))
    if pa.types.is_integer(t) or pa.types.is_timestamp(t):
        if pa.types.is_timestamp(t):
            dense = dense.cast(pa.int64())
        v = dense.to_numpy(zero_copy_only=False).astype(np.int64)
        return _splitmix64_vec(v.view(np.uint64))
    return None


def _geometry(ndv_est: int, bits_per_value: int) -> tuple[int, int]:
    ndv = max(1, int(ndv_est))
    m_bits = 1 << max(0, int(ndv * bits_per_value) - 1).bit_length()
    m_bits = min(max(m_bits, MIN_BITS), MAX_BITS)
    k = max(1, min(8, round(0.693 * m_bits / ndv)))
    return m_bits, k


def bloom_build(arr: pa.Array, ndv_est: int,
                bits_per_value: int = 10,
                hashes: np.ndarray | None = None) -> bytes | None:
    """Bloom blob over a chunk's non-null values, or None for value types
    without a hash path (floats: equality probes are rare and NaN/-0.0
    identity is a trap; nested types). An all-null chunk gets a zero
    bitmap — every probe misses, and ``x == v`` indeed matches no row
    there. Duplicated values re-set the same bits (no unique() pass);
    sizing uses the caller's NDV estimate (chunk_stats' strided sample).
    ``hashes`` lets the encoder share one ``_value_hashes`` pass with the
    HLL sketch instead of hashing the chunk twice."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    h1 = _value_hashes(arr) if hashes is None else hashes
    if h1 is None and len(arr) != arr.null_count:
        return None  # unsupported type with actual values
    m_bits, k = _geometry(ndv_est, bits_per_value)
    bitmap = np.zeros(m_bits // 8, np.uint8)
    if h1 is not None and len(h1):
        h2 = _splitmix64_vec(h1) | np.uint64(1)
        m = np.uint64(m_bits - 1)  # power of two -> mask
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) & m
            np.bitwise_or.at(bitmap, (pos >> np.uint64(3)).astype(np.int64),
                             np.left_shift(np.uint8(1),
                                           (pos & np.uint64(7)).astype(np.uint8)))
    return _HEADER.pack(_MAGIC, k, m_bits) + bitmap.tobytes()


def _probe_hash(value) -> int:
    """h1 of one probe value: bytes hash like the chunk's byte strings,
    ints/timestamp-ticks like its int64 values. str is encoded UTF-8 the
    way Arrow stores it."""
    if isinstance(value, str):
        return _hash_bytes_one(value.encode("utf-8", "surrogatepass"))
    if isinstance(value, (bytes, bytearray, memoryview)):
        return _hash_bytes_one(bytes(value))
    if isinstance(value, bool) or not isinstance(value, int):
        raise TypeError(f"bloom probe needs str/bytes/int, got "
                        f"{type(value).__name__}")
    return _splitmix64_one(value & 0xFFFFFFFFFFFFFFFF)


def bloom_might_contain(blob: bytes, values: list) -> bool:
    """True unless the filter PROVES every probe value absent. Unknown
    blob versions return True (conservative: never prune on a filter we
    can't read)."""
    return bloom_might_contain_hashes(
        blob, np.array([_probe_hash(v) for v in values], dtype=np.uint64))


def bloom_might_contain_hashes(blob: bytes, h1: np.ndarray) -> bool:
    """:func:`bloom_might_contain` over precomputed probe hashes (``h1``
    from :func:`_value_hashes` of the probe values): one numpy pass per
    probe position however many values are probed, so a 10^5-key IN list
    costs k vector ops per chunk instead of a Python loop per key."""
    if blob is None or len(blob) < _HEADER.size:
        return True
    magic, k, m_bits = _HEADER.unpack_from(blob)
    if magic != _MAGIC or len(blob) != _HEADER.size + m_bits // 8:
        return True
    bitmap = np.frombuffer(blob, np.uint8, offset=_HEADER.size)
    h2 = _splitmix64_vec(h1) | np.uint64(1)
    m = np.uint64(m_bits - 1)
    alive = np.ones(len(h1), dtype=bool)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) & m
        byte = bitmap[(pos >> np.uint64(3)).astype(np.int64)]
        alive &= ((byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1) == 1
    return bool(alive.any())
