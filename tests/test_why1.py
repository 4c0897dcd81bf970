"""WHY1 binary profile codec round-trip (format per
python/whylogs/core/view/dataset_profile_view.py:264-328 and
proto/src/whylogs_messages.proto:39-100)."""

import math

import pandas as pd
import pytest

import whylogs_spark as wsp
from whylogs_spark.io.why1 import (MAGIC, read_why1, read_why1_rows,
                                   write_why1)


@pytest.fixture(scope="module")
def view(spark, lineitem):
    return wsp.profile(lineitem)


def _scalar_rows(df):
    pdf = df.toPandas()
    pdf = pdf[pdf["s"].isna()]  # derived JSON components are not stored
    out = {}
    for _, r in pdf.iterrows():
        key = (r["column"], r["metric"], r["component"])
        n = None if pd.isna(r["n"]) else int(r["n"])
        d = None if pd.isna(r["d"]) else float(r["d"])
        b = None if r["b"] is None else bytes(r["b"])
        if n is None and d is None and b is None:
            continue
        out[key] = (n, d, b)
    return out


def test_roundtrip_exact(spark, view, tmp_path):
    from whylogs_spark.core.sketches import (FrequentStringsSketch,
                                             KllSketch)

    p = str(tmp_path / "profile.bin")
    write_why1(view, p)
    with open(p, "rb") as f:
        assert f.read(4) == MAGIC
    back = read_why1(spark, p)
    a = _scalar_rows(view.df)
    b = _scalar_rows(back.df)
    assert set(a) == set(b)
    for k, (n1, d1, b1) in a.items():
        n2, d2, b2 = b[k]
        assert n1 == n2, k
        if k[1:] == ("distribution", "kll") and b1 is not None:
            # KLL travels as public DataSketches bytes: state-equal
            s1, s2 = KllSketch.deserialize(b1), KllSketch.deserialize(b2)
            assert (s1.n, s1.min_value, s1.max_value) == \
                (s2.n, s2.min_value, s2.max_value), k
            assert s1.quantiles([0.05, 0.5, 0.95]) == \
                s2.quantiles([0.05, 0.5, 0.95]), k
        elif k[1:] == ("frequent_items", "mg") and b1 is not None:
            # FI travels as DataSketches bytes; counts/error/n are
            # lossless (capacity rounds up to the format's 0.75*2^lg)
            f1 = FrequentStringsSketch.deserialize(b1)
            f2 = FrequentStringsSketch.deserialize(b2)
            assert (f1.counts, f1.error, f1.n) == \
                (f2.counts, f2.error, f2.n), k
        else:
            assert b1 == b2, k
        if d1 is None or d2 is None:
            assert d1 == d2, k
        else:
            assert d1 == pytest.approx(d2, rel=0, abs=0) or (
                math.isnan(d1) and math.isnan(d2)), k


def test_column_pruned_read(spark, view, tmp_path):
    p = str(tmp_path / "profile.bin")
    write_why1(view, p)
    rows = read_why1_rows(p, columns=["l_quantity"])
    cols = {r[1] for r in rows}
    assert cols == {"l_quantity"}
    comp = {(r[2], r[3]): r for r in rows}
    assert ("counts", "n") in comp
    assert ("distribution", "mean") in comp
    assert ("cardinality", "hll") in comp
    # sketch bytes survive byte-exact
    orig = view.get_component("l_quantity", "distribution", "kll")
    got = comp[("distribution", "kll")][7]
    assert bytes(orig) == bytes(got)


def test_summary_usable_after_roundtrip(spark, view, tmp_path):
    p = str(tmp_path / "profile.bin")
    write_why1(view, p)
    back = read_why1(spark, p)
    # KLL-derived quantiles recomputable from deserialized sketch bytes
    assert back.get_component("l_quantity", "counts", "n") == \
        view.get_component("l_quantity", "counts", "n")
    assert back.get_component("l_quantity", "distribution", "mean") == \
        pytest.approx(
            view.get_component("l_quantity", "distribution", "mean"))


def test_segmented_view_rejected(spark, lineitem, tmp_path):
    segv = wsp.profile(
        lineitem, segment_by=["l_returnflag"],
        config=wsp.MetricConfig(quantile_impl="none",
                                frequent_items_impl="none"))
    with pytest.raises(ValueError):
        write_why1(segv, str(tmp_path / "x.bin"))


def test_properties_roundtrip(spark, lineitem, tmp_path):
    import datetime

    ts = datetime.datetime(2024, 5, 1, 12, tzinfo=datetime.timezone.utc)
    v = wsp.profile(
        lineitem, columns=["l_quantity"],
        config=wsp.MetricConfig(quantile_impl="none",
                                frequent_items_impl="none"),
        dataset_timestamp=ts, metadata={"source": "unit-test", "v": "1"})
    p = str(tmp_path / "props.bin")
    write_why1(v, p)
    back = read_why1(spark, p)
    assert back.dataset_timestamp == ts
    assert back.metadata == {"source": "unit-test", "v": "1"}
    assert back.creation_timestamp is not None


def test_reference_compat_mode(spark, view, tmp_path):
    """compat='reference' omits the engine-native KLL/FI sketch bytes
    (which reference whylogs cannot deserialize) while keeping every
    scalar + the spec-faithful HLL — the file stays fully parseable and
    round-trips here too."""
    p = str(tmp_path / "ref.bin")
    write_why1(view, p, compat="reference")
    back = read_why1(spark, p)
    assert back.get_component("l_quantity", "distribution", "kll") is None
    assert back.get_component("l_quantity", "frequent_items", "mg") is None
    assert back.get_component("l_quantity", "cardinality", "hll") is not None
    assert back.get_component("l_quantity", "counts", "n") == \
        view.get_component("l_quantity", "counts", "n")
    assert back.get_component("l_quantity", "distribution", "mean") == \
        pytest.approx(
            view.get_component("l_quantity", "distribution", "mean"))
    with pytest.raises(ValueError, match="compat"):
        write_why1(view, p, compat="bogus")


def test_unknown_oneof_arm_skipped():
    """A MetricComponentMessage carrying an arm we have no serde for
    (e.g. the CPC sketch, whylogs_messages.proto oneof) parses to an
    empty component instead of crashing the reader — reference files
    using exotic sketch components degrade gracefully."""
    from whylogs_spark.io.why1 import (_len_field, _parse_component,
                                       _varint_field)

    # type_id + a length-delimited field 7 (no serde registered)
    msg = _varint_field(1, 9) + _len_field(7, b"\x01\x02\x03")
    assert _parse_component(msg) == (None, None, None)
    # known arm still parses when mixed with an unknown one
    msg2 = _varint_field(2, 42) + _len_field(7, b"\x01")
    assert _parse_component(msg2) == (42, None, None)


def test_why1_roundtrip_through_filesystem_uri(spark, lineitem,
                                               tmp_path):
    """Cloud-writer parity: the WHY1 binary codec reads and writes
    through Hadoop FileSystem URIs (one code path for file:// s3a://
    gs:// — connectors are deployment config), exercised here with
    file:// against the local FS."""
    import whylogs_spark as wsp

    view = wsp.profile(lineitem.select("l_quantity", "l_returnflag"))
    uri = "file://" + str(tmp_path / "via_uri.bin")
    wsp.write(view, uri)
    back = wsp.read(uri, spark=spark)
    a = view.to_pandas().sort_values("column").reset_index(drop=True)
    b = back.to_pandas().sort_values("column").reset_index(drop=True)
    assert list(a["column"]) == list(b["column"])
    assert a["counts/n"].tolist() == b["counts/n"].tolist()
    am = a.set_index("column")["distribution/mean"].dropna()
    bm = b.set_index("column")["distribution/mean"].dropna()
    for col in am.index:
        assert bm[col] == pytest.approx(am[col], rel=1e-12)


def test_fsio_uri_without_session_raises(tmp_path):
    from whylogs_spark.io.fsio import read_bytes, write_bytes

    # plain paths never need a session
    p = str(tmp_path / "plain.bin")
    write_bytes(p, b"abc")
    assert read_bytes(p) == b"abc"


def test_fsio_uri_requires_active_session(monkeypatch, tmp_path):
    from pyspark.sql import SparkSession

    from whylogs_spark.io import fsio

    monkeypatch.setattr(SparkSession, "getActiveSession",
                        classmethod(lambda cls: None))
    with pytest.raises(ValueError, match="active SparkSession"):
        fsio.read_bytes("s3a://bucket/x.bin")
    with pytest.raises(ValueError, match="active SparkSession"):
        fsio.write_bytes("s3a://bucket/x.bin", b"x")
    # single-slash Hadoop form counts as a URI too
    assert fsio._is_uri("file:/tmp/x.bin")
    assert fsio._is_uri("hdfs:/a/b")
    assert not fsio._is_uri("/tmp/x.bin")
    assert not fsio._is_uri("C:/temp/x.bin")  # windows drive letter
