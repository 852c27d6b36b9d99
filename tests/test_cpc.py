"""CPC sketch wire format (chronon_spark/cpc_sketch.py) against the
GROUND TRUTH: the datasketches-java 6.2.0 library that ships inside
Apache Spark's own jars (reached through the test session's JVM).

The bar is BYTE-IDENTITY with `CpcUnion.getResult().toByteArray()`
across every flavor (EMPTY/SPARSE/HYBRID/PINNED/SLIDING), exact
estimate agreement, and two-way merge interop — plus committed pins
(tests/data/cpc_pins.json) so regressions are caught even without the
JVM oracle."""

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronon_spark.cpc_sketch import (
    coupon_of,
    cpc_estimate,
    cpc_from_values,
    cpc_merge,
    deserialize,
    determine_flavor,
    matrix_from_state,
    matrix_from_values,
    murmur128,
    serialize,
    _state_from_matrix,
)

_PINS = json.load(open(os.path.join(os.path.dirname(__file__), "data",
                                    "cpc_pins.json")))


def _jvm(spark):
    return spark._jvm


def test_committed_pins_byte_exact():
    for p in _PINS:
        b = cpc_from_values(range(p["n"]), p["lgk"])
        assert b.hex() == p["hex"], (p["lgk"], p["n"])
        assert cpc_estimate(b) == p["est"]


def test_murmur_vectors():
    # vectors produced by org.apache.datasketches.hash.MurmurHash3
    assert murmur128(b"hello-cpc") == (0x0946CF0BE22CFCAC,
                                       0xD875804EBA09BF4D)
    import struct
    assert murmur128(struct.pack("<q", 12345)) == (
        0x67B7283CF739CDF6, 0x5176E0D4908867C9)


def test_roundtrip_all_flavors():
    rng = np.random.default_rng(7)
    for n in (0, 1, 60, 400, 1500, 6000, 40000):
        vals = rng.integers(0, 1 << 62, n).tolist()
        m = matrix_from_values(vals, 11)
        st = _state_from_matrix(m, 11)
        blob = serialize(st)
        st2 = deserialize(blob)
        assert np.array_equal(matrix_from_state(st2), m), n
        assert st2["numCoupons"] == st["numCoupons"]


def test_error_paths():
    with pytest.raises(ValueError):
        deserialize(b"\x00" * 4)
    good = bytearray(cpc_from_values(range(100)))
    bad = bytearray(good)
    bad[2] = 15                  # family != CPC
    with pytest.raises(ValueError):
        deserialize(bytes(bad))
    with pytest.raises(ValueError):
        cpc_merge([])
    with pytest.raises(ValueError):
        cpc_merge([bytes(good), cpc_from_values(range(5), lg_k=10)])


@pytest.mark.parametrize("lgk", [10, 11, 12])
def test_byte_identity_vs_library(spark, lgk):
    jvm = _jvm(spark)
    CpcSketch = jvm.org.apache.datasketches.cpc.CpcSketch
    CpcUnion = jvm.org.apache.datasketches.cpc.CpcUnion
    for n in (0, 1, 5, 150, 500, 900, 1800, 8000, 60000):
        sk = CpcSketch(lgk)
        for v in range(n):
            sk.update(v)
        u = CpcUnion(lgk)
        u.update(sk)
        res = u.getResult()
        jb = bytes(res.toByteArray())
        mine = cpc_from_values(range(n), lgk)
        assert jb == mine, (lgk, n, determine_flavor(lgk, len(mine)))
        assert cpc_estimate(mine) == res.getEstimate()


def test_string_and_bytes_hash_like_library(spark):
    jvm = _jvm(spark)
    CpcSketch = jvm.org.apache.datasketches.cpc.CpcSketch
    CpcUnion = jvm.org.apache.datasketches.cpc.CpcUnion
    words = [f"item-{i}" for i in range(1200)]
    sk = CpcSketch(11)
    for w in words:
        sk.update(w)
    u = CpcUnion(11)
    u.update(sk)
    jb = bytes(u.getResult().toByteArray())
    assert cpc_from_values(words, 11) == jb


def test_merge_interop_both_directions(spark):
    jvm = _jvm(spark)
    CpcSketch = jvm.org.apache.datasketches.cpc.CpcSketch
    CpcUnion = jvm.org.apache.datasketches.cpc.CpcUnion
    blobs = []
    for i in range(4):
        sk = CpcSketch(11)
        for v in range(i * 3000, i * 3000 + 5000):
            sk.update(v)
        blobs.append(bytes(sk.toByteArray()))   # LIVE (HIP) sketches
    ours = cpc_merge(blobs)
    u = CpcUnion(11)
    for b in blobs:
        u.update(CpcSketch.heapify(b))
    theirs = bytes(u.getResult().toByteArray())
    assert ours == theirs
    # the library accepts and estimates our bytes
    assert CpcSketch.heapify(ours).getEstimate() == cpc_estimate(ours)


def test_spark_ir_surface(spark):
    """write_cpc_ir -> union of two days -> merge_cpc_irs: estimate
    within the CPC error envelope of the exact distinct count, and the
    per-day payload is byte-identical to the library's union of the
    same day."""
    import pandas as pd

    from chronon_spark.operators.sketches import merge_cpc_irs, write_cpc_ir

    rng = np.random.default_rng(3)
    rows = pd.DataFrame({
        "k": np.repeat(["a", "b"], 4000),
        "v": np.concatenate([rng.integers(0, 2500, 4000),
                             rng.integers(0, 900, 4000)]),
        "ds": np.tile(np.repeat(["2024-01-01", "2024-01-02"], 2000), 2),
    })
    df = spark.createDataFrame(rows)
    ir = write_cpc_ir(df, ["k"], "v").cache()
    assert ir.count() == 4
    est = {r["k"]: r["approx_unique"]
           for r in merge_cpc_irs(ir, ["k"]).collect()}
    exact = rows.groupby("k")["v"].nunique().to_dict()
    for k, e in exact.items():
        assert abs(est[k] - e) / e < 0.05, (k, est[k], e)
    # byte-identity of one day's payload vs the library
    jvm = _jvm(spark)
    CpcSketch = jvm.org.apache.datasketches.cpc.CpcSketch
    CpcUnion = jvm.org.apache.datasketches.cpc.CpcUnion
    day = rows[(rows.k == "a") & (rows.ds == "2024-01-01")]["v"]
    sk = CpcSketch(11)
    for v in day.dropna().astype(np.int64):
        sk.update(int(v))
    u = CpcUnion(11)
    u.update(sk)
    jb = bytes(u.getResult().toByteArray())
    ours = bytes(ir.where("k = 'a' AND ds = '2024-01-01'")
                 .collect()[0]["cpc_ir"])
    assert ours == jb


def test_spark_ir_rejects_fractional_values(spark):
    """datasketches-java `update(double)` hashes the canonicalized long
    bits, not the text; hashing str(value) would diverge from a
    reference deployment's sketches, so fractional value columns raise
    instead of producing silently incompatible payloads."""
    from pyspark.sql import functions as F

    from chronon_spark.operators.sketches import write_cpc_ir

    df = spark.createDataFrame(
        [("a", "2024-01-01", 1.5)], "k string, ds string, v double"
    ).withColumn("f", F.col("v").cast("float")).withColumn(
        "d", F.col("v").cast("decimal(10,2)"))
    for col in ("v", "f", "d"):
        with pytest.raises(ValueError, match="integral or string"):
            write_cpc_ir(df, ["k"], col)
    assert write_cpc_ir(df.withColumn("s", F.col("v").cast("string")),
                        ["k"], "s").count() == 1


def test_nosv_format_roundtrip(spark):
    """Formats 4 (PINNED_SLIDING_MERGED_NOSV): a coupon matrix whose
    rows are exactly default-low-bits | window byte leaves ZERO
    surprising values. Our serializer must emit the NoSv layout and the
    library must heapify it to the identical estimate."""
    lgk = 11
    k = 1 << lgk
    # c chosen so flavor > HYBRID and offset > 0
    c = 5 * k  # SLIDING regime, offset = (8*5K - 19K) >> (lgk+3) = 21K>>14
    from chronon_spark.cpc_sketch import (determine_correct_offset,
                                          icon_estimate, serialize,
                                          _state_from_matrix)
    off = determine_correct_offset(lgk, c)
    assert off > 0
    base = (1 << off) - 1
    # distribute c coupons: every row gets the default low mask plus
    # window bits chosen to make popcount exactly c
    per_row = c // k            # coupons per row
    assert per_row > off
    m = np.full(k, base | (((1 << (per_row - off)) - 1) << off),
                dtype=np.uint64)
    st = _state_from_matrix(m, lgk)
    assert st["numCoupons"] == c
    assert st["pairs"] == []    # the NoSv condition
    blob = serialize(st)
    assert not blob[5] & 8      # SUP_VAL flag clear
    assert blob[5] & 16         # WINDOW flag set
    jvm = spark._jvm
    jsk = jvm.org.apache.datasketches.cpc.CpcSketch.heapify(blob)
    assert jsk.getEstimate() == icon_estimate(lgk, c)


def test_live_hip_formats_deserialize(spark):
    """Live (HIP-updated, mergeFlag=false) sketches serialize to the
    *_HIP formats (3/7); our deserializer must recover the exact coupon
    matrix for every one."""
    from chronon_spark.cpc_sketch import deserialize, matrix_from_state, \
        matrix_from_values

    jvm = spark._jvm
    CpcSketch = jvm.org.apache.datasketches.cpc.CpcSketch
    for n in (1, 100, 400, 1500, 9000, 50000):
        sk = CpcSketch(11)
        for v in range(n):
            sk.update(v)
        st = deserialize(bytes(sk.toByteArray()))
        assert st["mergeFlag"] is False
        assert st["kxp"] is not None    # HIP fields present
        assert np.array_equal(matrix_from_state(st),
                              matrix_from_values(range(n), 11)), n


def test_cpc_mutation_fuzz():
    """Corrupted CPC payloads either deserialize to a well-formed state
    or raise ValueError — never crash or hang."""
    from chronon_spark.cpc_sketch import cpc_from_values, deserialize

    base = cpc_from_values(range(2000))
    rng = np.random.default_rng(5)
    for i in range(120):
        data = bytearray(base)
        if i % 2:
            data = data[:int(rng.integers(1, len(data)))]
        else:
            for _ in range(int(rng.integers(1, 4))):
                data[int(rng.integers(0, len(data)))] ^= 1 << int(
                    rng.integers(0, 8))
        try:
            st = deserialize(bytes(data))
        except (ValueError, struct.error, IndexError):
            continue
        assert isinstance(st, dict) and "numCoupons" in st


import struct  # noqa: E402  (used by the fuzz except clause)
