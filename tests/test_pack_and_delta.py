"""P13 byte-packing round trip and null pass-through."""

from __future__ import annotations

from pyspark.sql import functions as F

from mobilitydatalakebenchmark_spark.functions import codecs


def test_pack_unpack_roundtrip(spark):
    df = spark.createDataFrame(
        [(4.30123456, 50.85654321), (4.25, 50.79), (4.45, 50.91)], "lon double, lat double"
    )
    # offset=0: the reference's positive-coordinate domain, where the
    # paired value fits the 15-byte packing (apache_parquet_cantor.py:104)
    z = codecs.elegant_pair(F.col("lon"), F.col("lat"), offset=0)
    packed = codecs.pack_le_bytes(z)
    out = df.select(
        z.alias("z"),
        F.length(packed).alias("n_bytes"),
        codecs.unpack_le_bytes(packed).alias("z2"),
    ).collect()
    for r in out:
        assert r.n_bytes == codecs.PACK_BYTES
        assert int(r.z) == int(r.z2)


def test_pack_null_passthrough(spark):
    df = spark.createDataFrame([(None,)], "z decimal(38,0)")
    out = df.select(codecs.pack_le_bytes(F.col("z")).alias("b")).collect()
    assert out[0].b is None

