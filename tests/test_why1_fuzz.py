"""Property tests for the WHY1 protobuf wire codec (no Spark needed)."""

from hypothesis import example, given, settings
from hypothesis import strategies as st

from whylogs_spark.io.why1 import (_component_msg, _fields,
                                   _parse_component, _read_uvarint,
                                   _signed64, _uvarint, _varint64)


@given(st.integers(min_value=0, max_value=2 ** 64 - 1))
def test_uvarint_roundtrip(n):
    buf = _uvarint(n)
    val, pos = _read_uvarint(buf, 0)
    assert val == n and pos == len(buf)


@given(st.integers(min_value=-2 ** 63, max_value=2 ** 63 - 1))
def test_int64_roundtrip(n):
    buf = _varint64(n)
    val, pos = _read_uvarint(buf, 0)
    assert _signed64(val) == n


@settings(max_examples=200)
@given(st.one_of(
    st.tuples(st.integers(min_value=-2 ** 63, max_value=2 ** 63 - 1),
              st.none(), st.none()),
    st.tuples(st.none(),
              st.floats(allow_nan=False, width=64), st.none()),
    st.tuples(st.none(), st.none(), st.binary(max_size=256)),
))
# blobs whose third byte reads as the frequent-items family id
@example((None, None, b"\x00\x00\n\x00\x00\x00\x00\x00"))
@example((None, None, b"\x00\x00\n\x00\x00\x04\x00\x00"))
def test_component_roundtrip(slot_values):
    n, d, b = slot_values
    metric, comp = ("cardinality", "hll") if b is not None else ("counts",
                                                                 "n")
    msg = _component_msg(metric, comp, n, d, b)
    assert msg is not None
    n2, d2, b2 = _parse_component(msg)
    assert n2 == n
    assert d2 == d
    assert b2 == b


@given(st.binary(max_size=64))
def test_parser_never_reads_past_valid_fields(payload):
    # A syntactically valid message must parse; arbitrary bytes may raise
    # (truncation) but must never loop forever or return garbage fields
    # beyond the buffer.
    try:
        for field, wire, val in _fields(payload):
            assert field >= 0
    except (ValueError, IndexError):
        pass


def test_truncated_and_overlong_varints_raise_value_error():
    """A truncated varint or a run of continuation bytes must raise a
    codec ValueError, not IndexError / spin with unbounded shift
    (protobuf's 10-byte varint cap)."""
    import pytest

    from whylogs_spark.io.why1 import _read_uvarint

    with pytest.raises(ValueError, match="truncated"):
        _read_uvarint(b"\x80\x80", 0)
    with pytest.raises(ValueError, match="overlong"):
        _read_uvarint(b"\x80" * 11 + b"\x01", 0)
    with pytest.raises(ValueError):
        _read_uvarint(b"", 0)
    # healthy values still decode
    assert _read_uvarint(b"\x7f", 0) == (127, 1)
    assert _read_uvarint(b"\xff\xff\xff\xff\xff\xff\xff\xff\xff\x01", 0)[0] \
        == (1 << 64) - 1
