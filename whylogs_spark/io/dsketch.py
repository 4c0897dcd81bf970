"""Apache DataSketches binary-compatible serde for KLL / frequent-items.

The reference engine stores distribution quantiles as a DataSketches
``kll_doubles_sketch`` (reference: python/whylogs/core/metrics/metrics.py:425)
and heavy hitters as a ``frequent_strings_sketch``
(python/whylogs/core/metrics/metrics.py:446), serialized inside
``MetricComponentMessage`` oneof fields (proto/src/whylogs_messages.proto:39-56).
Profiles hold this format already: their sketches are Spark's DataSketches
aggregates (``kll_sketch_agg_double``, ``approx_top_k_accumulate``), and
the public wire format is identical across the Java/C++/Python
implementations, so WHY1 files carry the blobs as they are and reference
whylogs reads them. This module is the Python side of that format:

* decoders into ``core/sketches`` objects (same state shape — KLL levels
  with weight 2**level items, Misra-Gries counters with a global
  undercount offset — so the conversion is LOSSLESS), which the
  driver-side scorers and the reference-profile readers use;
* ``to_ds_blob``, the one converter from the engine's former
  ``WSK1``/``WFI1`` blobs (which older stores hold) and from plain
  frequent-items bytes to a profile's blob shape.

Layout was derived empirically against the datasketches-java library
bundled with Spark (used by ``hll_sketch_agg``) and matches the public
format documented at datasketches.apache.org:

KLL doubles sketch (family 15)::

    byte 0    preamble ints   (2 empty/single, 5 full)
    byte 1    serial version  (1 full/empty, 2 single-item)
    byte 2    family id       (15)
    byte 3    flags           (1=EMPTY, 2=LEVEL_ZERO_SORTED, 4=SINGLE_ITEM)
    bytes 4-5 k  (uint16 LE)
    byte 6    m  (min level width, 8)
    byte 7    unused
    -- full form only --
    bytes 8-15   n (uint64 LE)
    bytes 16-17  min_k (uint16)
    byte 18      num_levels
    byte 19      unused
    int32[num_levels]  level start offsets into the (reconstructed)
                       internal items array, whose size the reader derives
                       from the KLL capacity formula — so offsets[0] MUST
                       equal total_capacity(k, m, num_levels) - retained
                       (free space sits at the front of the array)
    float64 min_item, float64 max_item
    float64[retained] items, level 0 first, each level ascending

Frequent items sketch (family 10), ArrayOfStringsSerDe item encoding::

    byte 0    preamble longs  (1 empty, 4 otherwise)
    byte 1    serial version  (1)
    byte 2    family id       (10)
    byte 3    lg_max_map_size
    byte 4    lg_cur_map_size
    byte 5    flags           (4=EMPTY; empty files carry 5)
    -- non-empty only --
    bytes 8-15   num_active (uint32 + 4 unused)
    bytes 16-23  stream_length (uint64)
    bytes 24-31  offset (uint64; global undercount — estimate = count+offset)
    int64[num_active]  counts
    items: per item uint32 LE byte length + UTF-8 bytes
"""

from __future__ import annotations

import struct
from typing import List

import numpy as np

from ..core.sketches import FrequentStringsSketch, KllSketch

_KLL_FAMILY = 15
_FI_FAMILY = 10
_KLL_M = 8

_FLAG_EMPTY = 1
_FLAG_LEVEL_ZERO_SORTED = 2
_FLAG_SINGLE_ITEM = 4


_POW3 = [3 ** i for i in range(31)]


def _ds_level_cap(k: int, num_levels: int, height: int, m: int = _KLL_M) -> int:
    """DataSketches KllHelper.levelCapacity: round-half-up of
    k*(2/3)^depth, floored at m, where depth counts down from the top."""
    depth = num_levels - height - 1
    if depth > 30:
        return m
    tmp = ((k << 1) << depth) // _POW3[depth]
    return max(m, (tmp + 1) >> 1)


def _ds_total_cap(k: int, num_levels: int, m: int = _KLL_M) -> int:
    return sum(_ds_level_cap(k, num_levels, h, m) for h in range(num_levels))


# ------------------------------------------------------------------- KLL
def kll_to_ds_bytes(sk: KllSketch) -> bytes:
    """Serialize an engine KllSketch to DataSketches compact format."""
    k = min(max(int(sk.k), _KLL_M), 0xFFFF)
    if sk.n == 0:
        return struct.pack("<BBBBHBB", 2, 1, _KLL_FAMILY, _FLAG_EMPTY,
                           k, _KLL_M, 0)
    items_by_level = [np.sort(a) for a in sk.levels]
    retained = int(sum(a.size for a in items_by_level))
    if sk.n == 1 and retained == 1:
        single = float(next(a[0] for a in items_by_level if a.size))
        return struct.pack("<BBBBHBB", 2, 2, _KLL_FAMILY, _FLAG_SINGLE_ITEM,
                           k, _KLL_M, 0) + struct.pack("<d", single)
    # strip trailing empty levels (DataSketches: top level is non-empty)
    nlev = len(items_by_level)
    while nlev > 1 and items_by_level[nlev - 1].size == 0:
        nlev -= 1
    items_by_level = items_by_level[:nlev]
    # The reader reconstructs an internal array sized by the KLL capacity
    # formula with free space at the FRONT, so offsets[0] = total_cap -
    # retained must be >= 0. Individual levels MAY exceed their nominal
    # capacity (DataSketches compacts lazily, only when the array fills),
    # so the only constraint is the total; if our rounding (ceil vs their
    # round-half-up) ever puts us over, compact the lowest level down.
    guard = 0
    while guard < 64:
        nlev = len(items_by_level)
        retained = int(sum(a.size for a in items_by_level))
        if retained <= _ds_total_cap(k, nlev, _KLL_M):
            break
        i = next(j for j in range(nlev) if items_by_level[j].size > 1)
        arr = np.sort(items_by_level[i])
        keep = arr[:1] if arr.size % 2 else arr[:0]  # odd item stays put
        arr = arr[keep.size:]
        promoted = arr[(guard & 1)::2]  # alternate offsets: unbiased-ish
        items_by_level[i] = keep
        if i + 1 == nlev:
            items_by_level.append(promoted)
        else:
            items_by_level[i + 1] = np.sort(
                np.concatenate([items_by_level[i + 1], promoted]))
        guard += 1
    retained = int(sum(a.size for a in items_by_level))
    nlev = len(items_by_level)
    total_cap = _ds_total_cap(k, nlev, _KLL_M)
    offsets: List[int] = [total_cap - retained]
    for a in items_by_level:
        offsets.append(offsets[-1] + int(a.size))
    out = bytearray()
    out += struct.pack("<BBBBHBB", 5, 1, _KLL_FAMILY,
                       _FLAG_LEVEL_ZERO_SORTED, k, _KLL_M, 0)
    out += struct.pack("<QHBB", sk.n, k, nlev, 0)
    out += struct.pack(f"<{nlev}i", *offsets[:-1])
    out += struct.pack("<dd", float(sk.min_value), float(sk.max_value))
    if retained:
        out += np.concatenate(items_by_level).astype("<f8").tobytes()
    return bytes(out)


def kll_from_ds_bytes(blob: bytes) -> KllSketch:
    """Parse DataSketches KLL doubles compact format into a KllSketch."""
    return _kll_from_ds_bytes(blob, "<f8", 8)


def kll_floats_from_ds_bytes(blob: bytes) -> KllSketch:
    """Parse DataSketches KLL FLOATS compact format (4-byte items —
    the variant legacy v0 whylogs profiles store in
    ``NumbersMessageV0.histogram``; reference
    migration/converters.py:301-309 tries floats first, then doubles)
    into a doubles KllSketch (float→double widening is exact)."""
    return _kll_from_ds_bytes(blob, "<f4", 4)


def _kll_from_ds_bytes(blob: bytes, item_dt: str, isz: int) -> KllSketch:
    """Shared KLL compact-format parser; the floats and doubles layouts
    differ only in item width (items AND the min/max pair)."""
    if len(blob) < 8:
        raise ValueError("KLL blob too short")
    pre_ints, ser_ver, family, flags, k, m = struct.unpack_from(
        "<BBBBHB", blob, 0)
    if family != _KLL_FAMILY:
        raise ValueError(f"not a KLL sketch (family {family})")
    sk = KllSketch(k=k)
    if flags & _FLAG_EMPTY:
        return sk
    if flags & _FLAG_SINGLE_ITEM or ser_ver == 2:
        v = float(np.frombuffer(blob, dtype=item_dt, count=1, offset=8)[0])
        sk.n = 1
        sk.min_value = sk.max_value = v
        sk.levels = [np.array([v], dtype=np.float64)]
        return sk
    if pre_ints != 5:
        raise ValueError(f"unsupported KLL preamble ints {pre_ints}")
    n, _min_k, nlev = struct.unpack_from("<QHB", blob, 8)
    off = 20
    offsets = list(struct.unpack_from(f"<{nlev}i", blob, off))
    off += 4 * nlev
    mn, mx = np.frombuffer(blob, dtype=item_dt, count=2, offset=off)
    off += 2 * isz
    retained = (len(blob) - off) // isz
    offsets.append(offsets[0] + retained)
    items = np.frombuffer(blob, dtype=item_dt, count=retained, offset=off)
    base = offsets[0]
    sk.n = int(n)
    sk.min_value = float(mn)
    sk.max_value = float(mx)
    sk.levels = [
        items[offsets[i] - base:offsets[i + 1] - base].astype(np.float64)
        for i in range(nlev)
    ]
    return sk


# --------------------------------------------------------- frequent items
def fi_to_ds_bytes(sk: FrequentStringsSketch) -> bytes:
    """Serialize a FrequentStringsSketch to the DataSketches frequent
    items format with string items (the layout read by the reference's
    ``frequent_strings_sketch.deserialize``).

    Mapping is lossless: our per-item count is the DataSketches per-item
    count (the lower bound) and our global ``error`` is its ``offset``
    (estimate = count + offset on both sides).
    """
    lg_max = max(3, int(np.ceil(np.log2(max(sk.capacity, 1) / 0.75))))
    if sk.n == 0:
        # EMPTY means empty *stream*; a pruned-to-zero counter map with
        # n > 0 still carries stream_length and offset in the full form
        return struct.pack("<BBBBBBH", 1, 1, _FI_FAMILY, lg_max, 3, 5, 0)
    num_active = len(sk.counts)
    lg_cur = max(3, int(np.ceil(np.log2(max(num_active, 1) / 0.75))))
    lg_max = max(lg_max, lg_cur)
    items = sorted(sk.counts.items(), key=lambda kv: (-kv[1], kv[0]))
    out = bytearray()
    out += struct.pack("<BBBBBBH", 4, 1, _FI_FAMILY, lg_max, lg_cur, 0, 0)
    out += struct.pack("<IIQQ", num_active, 0, sk.n, sk.error)
    out += struct.pack(f"<{num_active}q", *[c for _, c in items])
    for v, _ in items:
        enc = v.encode("utf-8")
        out += struct.pack("<I", len(enc)) + enc
    return bytes(out)


def fi_from_ds_bytes(blob: bytes) -> FrequentStringsSketch:
    """Parse DataSketches frequent-strings format into our MG sketch."""
    if len(blob) < 8:
        raise ValueError("FI blob too short")
    pre_longs, ser_ver, family, lg_max, lg_cur, flags = struct.unpack_from(
        "<BBBBBB", blob, 0)
    if family != _FI_FAMILY:
        raise ValueError(f"not a frequent-items sketch (family {family})")
    capacity = int(0.75 * (1 << lg_max))
    sk = FrequentStringsSketch(capacity=max(capacity, 1))
    if _fi_empty(blob):
        return sk
    num_active, _, stream_len, offset = struct.unpack_from("<IIQQ", blob, 8)
    counts = struct.unpack_from(f"<{num_active}q", blob, 32)
    values = [blob[a:b].decode("utf-8") for a, b in _fi_item_spans(blob)]
    sk.n = int(stream_len)
    sk.error = int(offset)
    sk.counts = {v: int(c) for v, c in zip(values, counts)}
    return sk


def _fi_empty(blob: bytes) -> bool:
    """Whether a frequent-items blob is the empty form (preamble only)."""
    return bool(blob[5] & 4) or blob[0] == 1  # flag 4: EMPTY


def _fi_item_spans(blob: bytes) -> List[tuple]:
    """``(start, end)`` byte offsets of the UTF-8 items of a non-empty
    frequent-items blob, in stored order."""
    (num_active,) = struct.unpack_from("<I", blob, 8)
    pos = 32 + 8 * num_active
    spans = []
    for _ in range(num_active):
        (ln,) = struct.unpack_from("<I", blob, pos)
        spans.append((pos + 4, pos + 4 + ln))
        pos += 4 + ln
    return spans


def fi_with_null_count(blob: bytes) -> bytes:
    """A frequent-items blob in the shape of a profile's ``mg`` blob:
    DataSketches bytes followed by Spark's 8-byte null count, which
    ``approx_top_k_combine`` reads. Plain DataSketches bytes (reference
    whylogs writes them) get a zero count appended; a blob that already
    carries one, or is no frequent-items sketch, comes back unchanged."""
    if len(blob) < 8 or blob[2] != _FI_FAMILY:
        return blob
    if _fi_empty(blob):
        end = 8
    else:
        spans = _fi_item_spans(blob)
        end = spans[-1][1] if spans else 32
    return blob + bytes(8) if len(blob) == end else blob


# ------------------------------------------------------------ legacy blobs
def to_ds_blob(b) -> bytes:
    """A profile's sketch bytes as Apache DataSketches bytes: the engine's
    former ``WSK1`` KLL / ``WFI1`` frequent-items blobs are converted,
    DataSketches blobs come back unchanged. A converted or plain
    frequent-items sketch gets Spark's 8-byte null count (zero) after
    it, as the ``mg`` blob of a profile has (``fi_with_null_count``)."""
    bb = bytes(b)
    if bb[:4] == b"WSK1":
        return kll_to_ds_bytes(KllSketch.deserialize(bb))
    if bb[:4] == b"WFI1":
        return fi_to_ds_bytes(FrequentStringsSketch.deserialize(bb)) \
            + bytes(8)
    return fi_with_null_count(bb)
