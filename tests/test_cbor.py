"""CBOR codec + cbors shard reader (reference cborsiterators.py:6-51)."""

from __future__ import annotations

import io
import math

import pytest

from video_data_pipeline_spark.functions.cbor import cbor_encode, cbor_iter, cbor_load


@pytest.mark.parametrize(
    "obj",
    [
        0, 1, 10, 23, 24, 25, 100, 255, 256, 65535, 65536, 2**32 - 1, 2**32, 2**63,
        -1, -10, -24, -25, -256, -257, -(2**32), -(2**63),
        b"", b"abc", b"\x00\xff" * 100,
        "", "hello", "héllo wörld ☃",
        [], [1, 2, 3], [1, [2, [3, []]]],
        {}, {"a": 1}, {"k": b"v", "nest": {"x": [1, "y", None]}},
        True, False, None,
        0.0, 1.5, -3.25, 1e300,
    ],
)
def test_cbor_roundtrip(obj):
    assert cbor_load(io.BytesIO(cbor_encode(obj))) == obj


def test_cbor_float_nan():
    out = cbor_load(io.BytesIO(cbor_encode(float("nan"))))
    assert math.isnan(out)


def test_cbor_known_vectors():
    """RFC 8949 appendix A test vectors (the committed-bytes check that the
    codec speaks real CBOR, not a private dialect)."""
    vectors = {
        0: "00", 1: "01", 10: "0a", 23: "17", 24: "1818", 25: "1819",
        100: "1864", 1000: "1903e8", 1000000: "1a000f4240",
        -1: "20", -10: "29", -100: "3863", -1000: "3903e7",
        "a": "6161", "IETF": "6449455446",
        1.1: "fb3ff199999999999a",
    }
    for obj, hexa in vectors.items():
        assert cbor_encode(obj).hex() == hexa, obj
        assert cbor_load(io.BytesIO(bytes.fromhex(hexa))) == obj
    assert cbor_encode([1, [2, 3], [4, 5]]).hex() == "8301820203820405"
    assert cbor_encode({"a": 1, "b": [2, 3]}).hex() == "a26161016162820203"


def test_cbor_decodes_foreign_encodings():
    """Encodings this codec never produces must still decode: indefinite
    strings/arrays/maps, float16/32, tags."""
    # indefinite byte string (5f ... ff), chunks "he" + "llo"
    assert cbor_load(io.BytesIO(bytes.fromhex("5f42686543" + b"llo".hex() + "ff"))) == b"hello"
    # indefinite array [1, 2]
    assert cbor_load(io.BytesIO(bytes.fromhex("9f0102ff"))) == [1, 2]
    # indefinite map {"a": 1}
    assert cbor_load(io.BytesIO(bytes.fromhex("bf616101ff"))) == {"a": 1}
    # float16 1.0 (f93c00), float32 100000.0 (fa47c35000)
    assert cbor_load(io.BytesIO(bytes.fromhex("f93c00"))) == 1.0
    assert cbor_load(io.BytesIO(bytes.fromhex("fa47c35000"))) == 100000.0
    # tag 0 (datetime string) decodes to the inner value
    ts = "2013-03-21T20:04:00Z"
    tagged = bytes.fromhex("c0") + bytes([0x60 + len(ts)]) + ts.encode()
    assert cbor_load(io.BytesIO(tagged)) == ts


def test_cbor_stream_iteration_and_eof():
    buf = io.BytesIO(b"".join(cbor_encode({"i": i}) for i in range(5)))
    assert list(cbor_iter(buf)) == [{"i": i} for i in range(5)]
    with pytest.raises(EOFError):
        cbor_load(io.BytesIO(b""))
    # truncation is CORRUPTION, not EOF: cbor_iter must raise, not
    # silently drop the partial trailing item
    with pytest.raises(ValueError, match="truncated"):
        cbor_load(io.BytesIO(cbor_encode(b"x" * 100)[:-5]))
    good = cbor_encode({"i": 1})
    with pytest.raises(ValueError, match="truncated"):
        list(cbor_iter(io.BytesIO(good + good[:-2])))


def test_cbors_to_samples_datasource(spark, tmp_path):
    """End-to-end: write two concatenated-item .cbors shards, read via the
    shard-scan kernel (one partition per shard), verify exact value round-trip
    through the map<string,binary> re-encoding."""
    from video_data_pipeline_spark.sources.cbors import cbors_to_samples

    shard_a, shard_b = tmp_path / "a.cbors", tmp_path / "b.cbors"
    samples_a = [{"__key__": f"a{i}", "txt": f"doc {i}", "n": i} for i in range(3)]
    samples_b = [{"__key__": "b0", "blob": b"\x00\x01", "meta": {"w": 2, "tags": ["x"]}}]
    shard_a.write_bytes(b"".join(cbor_encode(s) for s in samples_a))
    shard_b.write_bytes(b"".join(cbor_encode(s) for s in samples_b))

    df = cbors_to_samples(spark, [str(shard_a), str(shard_b)])
    rows = df.collect()
    assert len(rows) == 4
    assert df.rdd.getNumPartitions() == 2  # one per shard

    def decode_row(r):
        return {k: cbor_load(io.BytesIO(v)) for k, v in r.sample.items()}

    got = {decode_row(r)["__key__"]: decode_row(r) for r in rows}
    assert got["a1"] == {"__key__": "a1", "txt": "doc 1", "n": 1}
    assert got["b0"] == {"__key__": "b0", "blob": b"\x00\x01", "meta": {"w": 2, "tags": ["x"]}}
    idx = {(r["__url__"].rsplit("/", 1)[-1], r["__idx__"]) for r in rows}
    assert idx == {("a.cbors", 0), ("a.cbors", 1), ("a.cbors", 2), ("b.cbors", 0)}


def test_cbors_non_map_sample_raises(spark, tmp_path):
    shard = tmp_path / "bad.cbors"
    shard.write_bytes(cbor_encode([1, 2, 3]))
    from video_data_pipeline_spark.sources.cbors import cbors_to_samples

    with pytest.raises(Exception, match="expected map"):
        cbors_to_samples(spark, str(shard)).collect()


def test_cbor_roundtrip_property():
    """Property: any nesting of supported types round-trips exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    scalars = (
        st.integers(min_value=-(2**63), max_value=2**64 - 1)
        | st.binary(max_size=64)
        | st.text(max_size=64)
        | st.booleans()
        | st.none()
        | st.floats(allow_nan=False)
    )
    values = st.recursive(
        scalars,
        lambda children: st.lists(children, max_size=4)
        | st.dictionaries(st.text(max_size=8), children, max_size=4),
        max_leaves=20,
    )

    @given(values)
    @settings(max_examples=200, deadline=None)
    def check(obj):
        assert cbor_load(io.BytesIO(cbor_encode(obj))) == obj

    check()
