"""WHY1 binary profile codec (reference interop container).

File layout (reference: python/whylogs/core/view/dataset_profile_view.py:
264-328 `_do_write`, 353-430 read path; schema
proto/src/whylogs_messages.proto:39-100):

    b"WHY1"
    <delimited DatasetSegmentHeader>      (has_segments=False)
    <delimited DatasetProfileHeader>      (properties, column offsets,
                                           interned metric-path index)
    per column, sorted by name:
        <delimited ChunkHeader{type=COLUMN, length}>
        <ChunkMessage{ map<path-index, MetricComponentMessage> }>

MetricComponentMessage is a oneof {int64 n=2, double d=3,
frequent_items=4, hll=5, kll=6} plus uint32 type_id=1
(proto/src/whylogs_messages.proto:39-56); component paths are
"namespace/component" strings interned in the header
(dataset_profile_view.py:270-276) — which gives column pruning on read:
only requested columns' chunks need parsing.

The protobuf wire format is implemented directly (varint + tag codec —
the environment has no protobuf runtime); messages emitted are
byte-valid protobuf. Interop scope, stated honestly:

* container structure, metric paths, and every scalar component
  (counts/types/ints/distribution mean+m2/…) are faithful to the spec;
* cardinality/hll bytes are genuine Apache DataSketches HLL binary
  (Spark's ``hll_sketch_agg``) — the same sketch family the reference's
  ``whylogs-sketching`` uses;
* distribution/kll and frequent_items bytes are the public Apache
  DataSketches kll_doubles_sketch / frequent_strings_sketch binary
  formats (Spark's ``kll_sketch_agg_double`` / ``approx_top_k``
  sketches, copied unchanged both ways; legacy engine blobs are
  converted losslessly by io/dsketch.py) — so a full-mode file is
  parseable end-to-end by reference whylogs, and reference-written
  files are readable here, including sketches.
"""

from __future__ import annotations

import struct
from typing import Dict, Iterator, List, Optional, Tuple

MAGIC = b"WHY1"

# ---------------------------------------------------------------- wire codec


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _varint64(n: int) -> bytes:
    """proto int64: negatives encode as 64-bit two's complement."""
    return _uvarint(n & 0xFFFFFFFFFFFFFFFF)


def _read_uvarint(buf: bytes, pos: int) -> Tuple[int, int]:
    shift = 0
    val = 0
    end = len(buf)
    while True:
        if pos >= end:
            raise ValueError("truncated varint")
        if shift > 63:
            # protobuf caps varints at 10 bytes; a run of continuation
            # bytes must not spin the loop / grow the int unboundedly
            raise ValueError("overlong varint (exceeds 64 bits)")
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _tag(field: int, wire: int) -> bytes:
    return _uvarint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _uvarint(len(payload)) + payload


def _varint_field(field: int, n: int) -> bytes:
    return _tag(field, 0) + _varint64(n)


def _double_field(field: int, d: float) -> bytes:
    return _tag(field, 1) + struct.pack("<d", d)


def _str_field(field: int, s: str) -> bytes:
    return _len_field(field, s.encode("utf-8"))


def _fields(buf: bytes) -> Iterator[Tuple[int, int, object]]:
    """Iterate (field_no, wire_type, value) over a serialized message."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = _read_uvarint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            val, pos = _read_uvarint(buf, pos)
        elif wire == 1:
            val = buf[pos:pos + 8]
            pos += 8
        elif wire == 2:
            ln, pos = _read_uvarint(buf, pos)
            val = buf[pos:pos + ln]
            pos += ln
        elif wire == 5:
            val = buf[pos:pos + 4]
            pos += 4
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


def _signed64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


# ----------------------------------------------------------- message encode

_SKETCH_FIELD = {  # (metric, component) -> oneof field for sketch bytes
    ("frequent_items", "mg"): 4,
    ("cardinality", "hll"): 5,
    ("distribution", "kll"): 6,
}
_TYPE_ID = {("ints", "min"): 1, ("ints", "max"): 2}

# on-wire metric paths follow the reference's component names
# (python/whylogs/core/metrics/metrics.py:446: "frequent_strings")
_WIRE_PATH = {("frequent_items", "mg"): "frequent_items/frequent_strings"}
_WIRE_COMP = {("frequent_items", "frequent_strings"): "mg"}


def _component_msg(metric: str, comp: str, n, d, b) -> Optional[bytes]:
    out = bytearray()
    tid = _TYPE_ID.get((metric, comp), 0)
    if tid:
        out += _varint_field(1, tid)
    if n is not None:
        out += _varint_field(2, int(n))
    elif d is not None:
        out += _double_field(3, float(d))
    elif b is not None:
        f = _SKETCH_FIELD.get((metric, comp))
        if f is None:
            return None  # unknown sketch kind: not representable
        from .dsketch import to_ds_blob

        out += _len_field(f, _len_field(1, to_ds_blob(b)))
    else:
        return None  # s-slot (derived JSON) and empty components skipped
    return bytes(out)


def _chunk_offsets(offsets: List[int]) -> bytes:
    out = bytearray()
    for off in offsets:
        out += _varint_field(1, off)
    return bytes(out)


def write_why1(view, path: str, compat: str = "full") -> None:
    """Serialize an unsegmented ProfileView to a WHY1 file.

    Compat matrix (also in README):

    * ``compat="full"`` (default): every component is written and the
      whole file is parseable by reference whylogs
      (dataset_profile_view.py:353-430). Scalars, paths, and the
      container follow the reference wire format directly; HLL bytes are
      genuine Apache DataSketches HLL; KLL and frequent-items bytes are
      the public DataSketches kll_doubles_sketch /
      frequent_strings_sketch formats, copied as the profile holds them
      (a legacy engine blob is converted losslessly, io/dsketch.py),
      under the reference's paths ``distribution/kll`` and
      ``frequent_items/frequent_strings``.
    * ``compat="reference"``: KLL/FI sketch bytes are OMITTED entirely
      (scalars, ints, distribution moments, HLL kept) — a conservative
      mode from before the DataSketches converters existed, kept for
      minimal-surface interop.
    """
    if compat not in ("full", "reference"):
        raise ValueError("compat must be 'full' or 'reference'")
    pdf = view.table().to_pandas(integer_object_nulls=True)
    segs = set(pdf["segment"].unique())
    if segs - {"{}"}:
        raise ValueError(
            "write_why1 serializes one (unsegmented) profile per file; "
            "use write_why1_segmented for a segmented view")

    from .fsio import write_bytes

    write_bytes(path, _profile_file_bytes(pdf, view, compat),
                spark=view.spark)


def _profile_file_bytes(pdf, view, compat: str,
                        seg_tags=None, seg_meta=None) -> bytes:
    """Serialize ONE profile (one segment's long-form pandas rows) to
    reference-layout WHY1 bytes.

    ``seg_tags`` (ordered (key, value) pairs, already
    ``whylogs.tag.``-prefixed) switches the DatasetSegmentHeader to the
    reference's segmented single-segment-per-file form
    (segmented_dataset_profile_view.py:196-210: has_segments=True, one
    Segment carrying the tags, offsets={0: len(first delimited
    header)}) and mirrors the tags into DatasetProperties.tags the way
    the reference reader surfaces them
    (dataset_profile_view.py:385-388 combines tags into metadata).
    ``seg_meta`` adds the reference's segp_* partition metadata
    (migration/converters.py:60-64).
    """
    import pandas as pd

    # intern metric paths (sorted, like the reference)
    engine_native = {("distribution", "kll"), ("frequent_items", "mg")}
    comps: Dict[str, Dict[str, tuple]] = {}
    for _, r in pdf.iterrows():
        if (compat == "reference"
                and (r["metric"], r["component"]) in engine_native):
            continue
        msg = _component_msg(r["metric"], r["component"],
                             None if pd.isna(r["n"]) else int(r["n"]),
                             None if pd.isna(r["d"]) else float(r["d"]),
                             r["b"])
        if msg is None:
            continue
        p = _WIRE_PATH.get((r["metric"], r["component"]),
                           f"{r['metric']}/{r['component']}")
        comps.setdefault(r["column"], {})[p] = msg
    paths = sorted({p for c in comps.values() for p in c})
    path_index = {p: i for i, p in enumerate(paths)}

    # column chunks
    body = bytearray()
    col_offsets: Dict[str, int] = {}
    for col in sorted(comps):
        col_offsets[col] = len(body)
        chunk = bytearray()
        for p, msg in sorted(comps[col].items()):
            entry = _varint_field(1, path_index[p]) + _len_field(2, msg)
            chunk += _len_field(1, entry)
        header = _varint_field(1, 2) + _varint_field(3, len(chunk))
        body += _uvarint(len(header)) + header + chunk

    # DatasetProperties (proto fields: creation_timestamp=4,
    # dataset_timestamp=5, tags=6, metadata=7 — whylogs_messages.proto:66-75)
    props = bytearray()

    def _ms(ts) -> Optional[int]:
        if ts is None:
            return None
        try:
            return int(ts.timestamp() * 1000)
        except AttributeError:
            return int(ts)

    cms = _ms(getattr(view, "creation_timestamp", None))
    dms = _ms(getattr(view, "dataset_timestamp", None))
    if cms is not None:
        props += _varint_field(4, cms)
    if dms is not None:
        props += _varint_field(5, dms)
    if seg_tags:
        # DatasetProperties.tags (field 6, map<string,string>): the
        # channel through which the reference reader surfaces segment
        # identity (dataset_profile_view.py:385-388)
        for k, v in seg_tags:
            props += _len_field(6, _str_field(1, str(k))
                                + _str_field(2, str(v)))
    merged_meta = dict(getattr(view, "metadata", {}) or {})
    if seg_meta:
        merged_meta.update(seg_meta)
    for k, v in sorted(merged_meta.items()):
        props += _len_field(7, _str_field(1, str(k)) + _str_field(2, str(v)))

    # DatasetProfileHeader
    hdr = bytearray()
    hdr += _len_field(1, bytes(props))
    for col, off in col_offsets.items():
        entry = _str_field(1, col) + _len_field(2, _chunk_offsets([off]))
        hdr += _len_field(2, entry)
    hdr += _varint_field(4, len(body))
    for p, i in path_index.items():
        hdr += _len_field(5, _varint_field(1, i) + _str_field(2, p))

    if seg_tags is None:
        seg_header = b""  # has_segments=False -> all defaults
    else:
        # reference segmented layout (whylogs_messages.proto:117-126):
        # has_segments=true (1), segments (4) = one Segment of
        # SegmentTags, offsets (5) = {0: len of the first delimited
        # header probe} — the value the reference's two-pass write
        # lands on (segmented_dataset_profile_view.py:196-208); its
        # reader never dereferences it
        seg_msg = b"".join(
            _len_field(1, _str_field(1, str(k)) + _str_field(2, str(v)))
            for k, v in seg_tags)
        probe = (_varint_field(1, 1)
                 + _len_field(5, _varint_field(1, 0)
                              + _varint_field(2, 0)))
        off0 = len(_uvarint(len(probe)) + probe)
        seg_header = (_varint_field(1, 1)
                      + _len_field(4, seg_msg)
                      + _len_field(5, _varint_field(1, 0)
                                   + _varint_field(2, off0)))

    return (MAGIC
            + _uvarint(len(seg_header)) + seg_header
            + _uvarint(len(hdr)) + bytes(hdr)
            + bytes(body))


# reference segment-tag constants (dataset_profile_view.py:40,
# migration/converters.py:60-64)
_TAG_PREFIX = "whylogs.tag."
_PARTITION_ID = "segp_id"
_PARTITION_NAME = "segp_name"
_SEGMENT_ON_COLUMN = "segp_col"
_SEGMENT_ON_COLUMNS = "segp_cols"


def write_why1_segmented(view, dir_path: str,
                         compat: str = "full") -> List[str]:
    """Serialize a SEGMENTED ProfileView as the reference does: one
    single-segment WHY1 file per segment (the reference's only
    supported segmented layout — segmented_dataset_profile_view.py:199
    "single file segments", multi-segment files are a TODO upstream).

    Each file carries ``has_segments=True``, one ``Segment`` whose
    ``whylogs.tag.<column>`` tags identify the segment, the same tags
    in ``DatasetProperties.tags``, and the reference's ``segp_*``
    partition metadata.  The partition id is a deterministic md5 of
    the partition name (the reference uses uuid4; determinism keeps
    the round-trip testable).  Returns the written file paths in
    segment-sorted order.  Read back with :func:`read_why1_segmented`.
    """
    import hashlib
    import json as _json

    from .fsio import write_bytes

    if compat not in ("full", "reference"):
        raise ValueError("compat must be 'full' or 'reference'")
    pdf = view.table().to_pandas(integer_object_nulls=True)
    segs = sorted(set(pdf["segment"].unique()))
    if segs == ["{}"] or not segs:
        raise ValueError(
            "view is not segmented; use write_why1 for one profile")
    paths_out: List[str] = []
    for i, seg in enumerate(segs):
        segd = _json.loads(seg)
        cols = list(segd)
        part_name = ",".join(cols)
        seg_tags = [(_TAG_PREFIX + k, segd[k]) for k in cols]
        seg_meta = {
            _PARTITION_ID: hashlib.md5(
                part_name.encode()).hexdigest()[:16],
            _PARTITION_NAME: part_name,
        }
        if len(cols) == 1:
            seg_meta[_SEGMENT_ON_COLUMN] = cols[0]
        else:
            seg_meta[_SEGMENT_ON_COLUMNS] = "".join(
                f"({c})" for c in cols)
        data = _profile_file_bytes(
            pdf[pdf["segment"] == seg], view, compat,
            seg_tags=seg_tags, seg_meta=seg_meta)
        path = f"{dir_path.rstrip('/')}/segment_{i:05d}.bin"
        write_bytes(path, data, spark=view.spark)
        paths_out.append(path)
    return paths_out


# ----------------------------------------------------------- message decode

_SKETCH_KIND = {4: ("frequent_items", "mg"), 5: ("cardinality", "hll"),
                6: ("distribution", "kll")}


def _parse_component(buf: bytes) -> tuple:
    """-> (n, d, b)"""
    n = d = b = None
    for field, wire, val in _fields(buf):
        if field == 2 and wire == 0:
            n = _signed64(val)
        elif field == 3 and wire == 1:
            d = struct.unpack("<d", val)[0]
        elif field in _SKETCH_KIND and wire == 2:
            for f2, w2, v2 in _fields(val):
                if f2 == 1 and w2 == 2:
                    b = bytes(v2)
            if field == 4 and b is not None:
                from .dsketch import fi_with_null_count

                b = fi_with_null_count(b)
    return n, d, b


def read_why1_rows(
    path: str, columns: Optional[List[str]] = None, spark=None
) -> List[tuple]:
    """Parse a WHY1 file -> long-form profile rows. ``columns`` prunes
    parsing to the requested columns via the header offsets (mirrors
    dataset_profile_view.py:395-430)."""
    rows, _ = _read_why1(path, columns, spark=spark)
    return rows


def _read_why1(
    path: str, columns: Optional[List[str]] = None, spark=None
) -> Tuple[List[tuple], Dict[str, object]]:
    from .fsio import read_bytes

    data = read_bytes(path, spark=spark)
    if data[:4] != MAGIC:
        raise ValueError("not a WHY1 file (bad magic)")
    pos = 4
    ln, pos = _read_uvarint(data, pos)   # DatasetSegmentHeader
    seg_buf = data[pos:pos + ln]
    pos += ln
    # segmented single-segment-per-file layout: recover the segment
    # key from the Segment's whylogs.tag.* tags (the reference reader
    # surfaces the same tags via DatasetProperties —
    # dataset_profile_view.py:369-388 reads past the header and warns
    # only on >1 offsets, which the reference itself never writes)
    seg_json = "{}"
    has_segments = False
    n_offsets = 0
    for field, wire, val in _fields(seg_buf):
        if field == 1 and wire == 0 and val:
            has_segments = True
        elif field == 5 and wire == 2:
            n_offsets += 1
        elif field == 4 and wire == 2:   # Segment
            tags: Dict[str, str] = {}
            for f2, w2, v2 in _fields(val):
                if f2 == 1 and w2 == 2:  # SegmentTag
                    tk = tv = None
                    for f3, w3, v3 in _fields(v2):
                        if f3 == 1 and w3 == 2:
                            tk = v3.decode("utf-8")
                        elif f3 == 2 and w3 == 2:
                            tv = v3.decode("utf-8")
                    if tk is not None and tk.startswith(_TAG_PREFIX):
                        tags[tk[len(_TAG_PREFIX):]] = tv or ""
            if tags:
                import json as _json
                seg_json = _json.dumps(
                    tags, separators=(",", ":"), ensure_ascii=False)
    if has_segments and n_offsets > 1:
        raise ValueError(
            "multi-segment WHY1 files are not supported (the reference "
            "writes one segment per file; so does write_why1_segmented)")
    ln, pos = _read_uvarint(data, pos)   # DatasetProfileHeader
    hdr = data[pos:pos + ln]
    pos += ln
    body_start = pos

    col_offsets: Dict[str, int] = {}
    index_to_path: Dict[int, str] = {}
    props: Dict[str, object] = {"creation_timestamp": None,
                                "dataset_timestamp": None, "metadata": {}}
    for field, wire, val in _fields(hdr):
        if field == 1 and wire == 2:     # DatasetProperties
            for f2, w2, v2 in _fields(val):
                if f2 == 4 and w2 == 0:
                    props["creation_timestamp"] = v2
                elif f2 == 5 and w2 == 0:
                    props["dataset_timestamp"] = v2
                elif f2 == 7 and w2 == 2:
                    mk = mv = None
                    for f3, w3, v3 in _fields(v2):
                        if f3 == 1 and w3 == 2:
                            mk = v3.decode("utf-8")
                        elif f3 == 2 and w3 == 2:
                            mv = v3.decode("utf-8")
                    if mk is not None:
                        props["metadata"][mk] = mv
        elif field == 2 and wire == 2:     # column_offsets entry
            name = None
            off = 0
            for f2, w2, v2 in _fields(val):
                if f2 == 1 and w2 == 2:
                    name = v2.decode("utf-8")
                elif f2 == 2 and w2 == 2:
                    for f3, w3, v3 in _fields(v2):
                        if f3 == 1 and w3 == 0:
                            off = v3
            if name is not None:
                col_offsets[name] = off
        elif field == 5 and wire == 2:   # indexed_metric_paths entry
            idx = None
            p = None
            for f2, w2, v2 in _fields(val):
                if f2 == 1 and w2 == 0:
                    idx = v2
                elif f2 == 2 and w2 == 2:
                    p = v2.decode("utf-8")
            if idx is not None and p is not None:
                index_to_path[idx] = p

    rows: List[tuple] = []
    want = set(columns) if columns is not None else None
    for col in sorted(col_offsets):
        if want is not None and col not in want:
            continue
        cpos = body_start + col_offsets[col]
        ln, cpos = _read_uvarint(data, cpos)   # ChunkHeader
        chdr = data[cpos:cpos + ln]
        cpos += ln
        chunk_len = 0
        for field, wire, val in _fields(chdr):
            if field == 3 and wire == 0:
                chunk_len = val
        chunk = data[cpos:cpos + chunk_len]
        for field, wire, val in _fields(chunk):
            if field != 1 or wire != 2:
                continue
            idx = None
            comp_buf = b""
            for f2, w2, v2 in _fields(val):
                if f2 == 1 and w2 == 0:
                    idx = v2
                elif f2 == 2 and w2 == 2:
                    comp_buf = v2
            if idx is None or idx not in index_to_path:
                continue
            metric, comp = index_to_path[idx].split("/", 1)
            comp = _WIRE_COMP.get((metric, comp), comp)
            n, d, b = _parse_component(comp_buf)
            rows.append((seg_json, col, metric, comp, n, d, None, b))
    return rows, props


def read_why1(spark, path: str, columns: Optional[List[str]] = None,
              config=None):
    """Parse a WHY1 file into a ProfileView."""
    from ..core.configs import DEFAULT_CONFIG
    from ..core.profiler import ProfileView, _profile_table

    import datetime as _dt

    rows, props = _read_why1(path, columns, spark=spark)

    def from_ms(ms):
        if ms is None:
            return None
        return _dt.datetime.fromtimestamp(ms / 1000.0, _dt.timezone.utc)

    return ProfileView(
        _profile_table(rows), config or DEFAULT_CONFIG,
        dataset_timestamp=from_ms(props["dataset_timestamp"]),
        creation_timestamp=from_ms(props["creation_timestamp"]),
        metadata=props["metadata"], spark=spark)


def read_why1_segmented(spark, paths, columns: Optional[List[str]] = None,
                        config=None):
    """Reassemble a segmented ProfileView from per-segment WHY1 files
    (the inverse of :func:`write_why1_segmented`).

    ``paths``: the list returned by the writer, or a local directory
    containing ``*.bin`` segment files.  Each file's segment key is
    recovered from its ``whylogs.tag.*`` Segment tags; the unioned
    long-form frame is a normal segmented view — ``merge_profiles`` /
    ``to_pandas`` / drift joins all apply, so the segment monoid
    survives the binary boundary segment-by-segment.
    """
    import os

    from ..core.configs import DEFAULT_CONFIG
    from ..core.profiler import ProfileView, _profile_table

    if isinstance(paths, str):
        d = paths
        paths = sorted(
            os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".bin"))
    if not paths:
        raise ValueError("no segment files to read")
    rows: List[tuple] = []
    segs_seen = set()
    for p in paths:
        seg_rows, _ = _read_why1(p, columns, spark=spark)
        if seg_rows:
            seg = seg_rows[0][0]
            if seg in segs_seen:
                raise ValueError(
                    f"duplicate segment {seg!r} across files (merge "
                    "the views before writing)")
            segs_seen.add(seg)
        rows.extend(seg_rows)
    return ProfileView(_profile_table(rows), config or DEFAULT_CONFIG,
                       spark=spark)
