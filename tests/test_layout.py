"""Z-order layout: the Morton key must equal a pure-python interleave."""

from __future__ import annotations

import pytest

from vector_search_optimization_spark.operators import layout as LO


def _z_py(vals: list[int], bits: int = 10) -> int:
    out = 0
    k = len(vals)
    for i, v in enumerate(vals):
        v &= (1 << bits) - 1
        for b in range(bits):
            out |= ((v >> b) & 1) << (b * k + i)
    return out


def test_z_value_matches_python_interleave(spark):
    rows = [(0, 0), (1, 0), (0, 1), (1023, 1023), (513, 257), (77, 900)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = [
        r["z"]
        for r in df.select(LO.z_value(["a", "b"], 10).alias("z")).collect()
    ]
    assert got == [_z_py(list(r)) for r in rows]


def test_z_value_rejects_long_overflow(spark):
    with pytest.raises(ValueError):
        LO.z_value(["a", "b"], bits=32)
