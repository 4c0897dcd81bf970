"""Segmented WHY1 round-trip: one reference-layout single-segment file
per segment (segmented_dataset_profile_view.py:196-210), re-read
through the reference's own header layout (magic + delimited
DatasetSegmentHeader + delimited DatasetProfileHeader + column chunks
at header offsets, dataset_profile_view.py:264-328), proving the
segment monoid survives the binary boundary segment-by-segment."""

import json
import math

import pandas as pd
import pytest

import whylogs_spark as wsp
from whylogs_spark.io.why1 import (MAGIC, _fields, _read_uvarint,
                                   read_why1_rows, read_why1_segmented,
                                   write_why1_segmented)

_CFG = wsp.MetricConfig(quantile_impl="kll",
                        frequent_items_impl="mg")


@pytest.fixture(scope="module")
def segview(spark, lineitem):
    return wsp.profile(lineitem, segment_by=["l_returnflag"],
                       columns=["l_quantity", "l_extendedprice",
                                "l_returnflag"],
                       config=_CFG)


@pytest.fixture(scope="module")
def seg_files(segview, tmp_path_factory):
    d = tmp_path_factory.mktemp("segwhy1")
    return write_why1_segmented(segview, str(d))


def _scalar_rows(df, keep_segment=True):
    pdf = df.toPandas()
    pdf = pdf[pdf["s"].isna()]
    out = {}
    for _, r in pdf.iterrows():
        key = (r["segment"] if keep_segment else None,
               r["column"], r["metric"], r["component"])
        n = None if pd.isna(r["n"]) else int(r["n"])
        d = None if pd.isna(r["d"]) else float(r["d"])
        b = None if r["b"] is None else bytes(r["b"])
        if n is None and d is None and b is None:
            continue
        out[key] = (n, d, b)
    return out


def test_one_file_per_segment(segview, seg_files):
    segs = {r["segment"]
            for r in segview.df.select("segment").distinct().collect()}
    assert len(seg_files) == len(segs) == 3  # A / N / R


def test_reference_header_layout(seg_files):
    """Walk each file exactly as the reference reader does
    (dataset_profile_view.py:353-430): magic, delimited segment
    header (has_segments + Segment tags), delimited profile header
    (interned metric paths + column offsets), then every column
    chunk must sit AT its header offset with a COLUMN-type
    ChunkHeader whose length covers real component messages."""
    for path in seg_files:
        data = open(path, "rb").read()
        assert data[:4] == MAGIC
        pos = 4
        ln, pos = _read_uvarint(data, pos)
        seg_buf = data[pos:pos + ln]
        pos += ln
        has_segments = False
        tags = {}
        n_offsets = 0
        for field, wire, val in _fields(seg_buf):
            if field == 1 and wire == 0:
                has_segments = bool(val)
            elif field == 4 and wire == 2:
                for f2, w2, v2 in _fields(val):
                    if f2 == 1 and w2 == 2:
                        kv = {}
                        for f3, w3, v3 in _fields(v2):
                            kv[f3] = v3
                        tags[kv[1].decode()] = kv[2].decode()
            elif field == 5 and wire == 2:
                n_offsets += 1
        assert has_segments
        assert n_offsets == 1  # reference: single segment per file
        assert set(tags) == {"whylogs.tag.l_returnflag"}

        ln, pos = _read_uvarint(data, pos)
        hdr = data[pos:pos + ln]
        pos += ln
        body_start = pos

        col_offsets = {}
        paths = {}
        props_tags = {}
        props_meta = {}
        body_len = None
        for field, wire, val in _fields(hdr):
            if field == 1 and wire == 2:  # DatasetProperties
                for f2, w2, v2 in _fields(val):
                    if f2 == 6 and w2 == 2:
                        kv = {}
                        for f3, w3, v3 in _fields(v2):
                            kv[f3] = v3
                        props_tags[kv[1].decode()] = kv[2].decode()
                    elif f2 == 7 and w2 == 2:
                        kv = {}
                        for f3, w3, v3 in _fields(v2):
                            kv[f3] = v3
                        props_meta[kv[1].decode()] = kv[2].decode()
            elif field == 2 and wire == 2:
                name = None
                off = None
                for f2, w2, v2 in _fields(val):
                    if f2 == 1 and w2 == 2:
                        name = v2.decode()
                    elif f2 == 2 and w2 == 2:
                        for f3, w3, v3 in _fields(v2):
                            if f3 == 1 and w3 == 0:
                                off = v3
                col_offsets[name] = off
            elif field == 4 and wire == 0:
                body_len = val
            elif field == 5 and wire == 2:
                idx = p = None
                for f2, w2, v2 in _fields(val):
                    if f2 == 1 and w2 == 0:
                        idx = v2
                    elif f2 == 2 and w2 == 2:
                        p = v2.decode()
                paths[idx] = p

        # segment tags mirrored into properties.tags — the channel the
        # reference reader folds into metadata (lines 385-388)
        assert props_tags == tags
        assert props_meta.get("segp_col") == "l_returnflag"
        assert "segp_id" in props_meta and "segp_name" in props_meta
        # interned paths are densely indexed and sorted (lines 270-276)
        assert sorted(paths) == list(range(len(paths)))
        assert list(paths.values()) == sorted(paths.values())
        assert body_len == len(data) - body_start
        # the segment-by key is partition identity, not a profiled
        # column (reference behavior: segment columns live in tags)
        assert set(col_offsets) == {"l_quantity", "l_extendedprice"}
        for col, off in col_offsets.items():
            cpos = body_start + off
            ln, cpos = _read_uvarint(data, cpos)  # delimited ChunkHeader
            chunk_len = None
            ctype = 0
            for field, wire, val in _fields(data[cpos:cpos + ln]):
                if field == 1 and wire == 0:
                    ctype = val
                elif field == 3 and wire == 0:
                    chunk_len = val
            assert ctype == 2  # ChunkHeader.ChunkType.COLUMN
            cpos += ln
            assert chunk_len > 0 and cpos + chunk_len <= len(data)
            entries = [v for f, w, v in _fields(data[cpos:cpos + chunk_len])
                       if f == 1 and w == 2]
            assert entries, col


def test_segment_rows_roundtrip_exact(segview, seg_files):
    """Every exact component of every segment survives byte-identically
    (n and d compared exactly; sketch bytes re-read into the same
    rows by read_why1_rows)."""
    a = _scalar_rows(segview.df)
    back_rows = []
    for p in seg_files:
        back_rows.extend(read_why1_rows(p))
    bdf = pd.DataFrame(back_rows, columns=[
        "segment", "column", "metric", "component", "n", "d", "s", "b"])
    b = {}
    for _, r in bdf.iterrows():
        key = (r["segment"], r["column"], r["metric"], r["component"])
        n = None if pd.isna(r["n"]) else int(r["n"])
        d = None if r["d"] is None or (isinstance(r["d"], float)
                                       and math.isnan(r["d"])) else float(r["d"])
        bb = None if r["b"] is None else bytes(r["b"])
        if n is None and d is None and bb is None:
            continue
        b[key] = (n, d, bb)
    # reconstructed segment keys match the view's JSON keys exactly
    assert ({k[0] for k in a} == {k[0] for k in b}
            == {json.dumps({"l_returnflag": v}, separators=(",", ":"))
                for v in ("A", "N", "R")})
    exact = {k: v for k, v in a.items()
             if k[2] in ("counts", "types", "ints", "distribution")
             and k[3] in ("n", "mean", "stddev", "min", "max", "m2",
                          "null", "nan", "inf")}
    for k, (n1, d1, _) in exact.items():
        assert k in b, k
        n2, d2, _ = b[k]
        assert n1 == n2, k
        if d1 is None or d2 is None:
            assert d1 == d2, k
        else:
            assert d1 == pytest.approx(d2, rel=0, abs=0), k


def test_monoid_survives_binary_boundary(spark, lineitem, segview,
                                         seg_files, tmp_path):
    """merge(read-back segments) == profile(whole table): the segment
    monoid composed ACROSS the binary boundary equals the one-shot
    profile, component by exact component."""
    back = read_why1_segmented(spark, seg_files, config=_CFG)
    merged = wsp.merge_segments(back)  # collapses segments via ⊕
    whole = wsp.profile(lineitem,
                        columns=["l_quantity", "l_extendedprice"],
                        config=_CFG)
    a = _scalar_rows(whole.df, keep_segment=False)
    m = _scalar_rows(merged.df, keep_segment=False)
    exact_keys = [k for k in a
                  if k[2] in ("counts", "types", "ints")
                  or (k[2] == "distribution"
                      and k[3] in ("n", "mean", "min", "max"))]
    assert exact_keys
    for k in exact_keys:
        assert k in m, k
        n1, d1, _ = a[k]
        n2, d2, _ = m[k]
        assert n1 == n2, k
        if d1 is None or d2 is None:
            assert d1 == d2, k
        elif k[3] == "mean":
            # Chan merge of per-segment means: algebraically equal,
            # one fp rounding apart from the one-pass mean
            assert d2 == pytest.approx(d1, rel=1e-12), k
        else:
            assert d1 == d2, k
    # sketch tier: merged HLL estimate equals the whole-table estimate
    hk = [k for k in a if k[2] == "cardinality" and k[3] == "est"]
    mk = {k for k in m if k[2] == "cardinality" and k[3] == "est"}
    for k in hk:
        assert k in mk


def test_duplicate_segment_rejected(spark, seg_files):
    with pytest.raises(ValueError, match="duplicate segment"):
        read_why1_segmented(spark, [seg_files[0], seg_files[0]],
                            config=_CFG)


def test_unsegmented_view_rejected(spark, lineitem, tmp_path):
    v = wsp.profile(lineitem, columns=["l_quantity"], config=_CFG)
    with pytest.raises(ValueError, match="not segmented"):
        write_why1_segmented(v, str(tmp_path))
