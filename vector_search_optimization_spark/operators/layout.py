"""Data layout for scan pruning — the Z-order (Morton) key.

The 100 TB lever parquet gives away for free: min/max zone maps prune
row groups ONLY if the writer clustered the data. A single-column sort
prunes one predicate dimension; bit-interleaving k columns into one
Morton key and range-partition-sorting by it gives every interleaved
dimension a narrow per-file range simultaneously — the Delta/Iceberg
OPTIMIZE ZORDER technique.

The z-value is PURE integer bit math (unrolled shifts/masks), so it
stays inside whole-stage codegen on the Spark side and has an exact
DuckDB twin (``z_value_sql``) for value oracles. Columns must be
pre-quantized by the caller to small non-negative ints (bucket ids,
clamped dims) — quantization choice is a layout policy, not hidden
here.

Scale notes: z_value is map-only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def z_value(cols: list[Column | str], bits: int = 10) -> Column:
    """Morton key: interleave the low ``bits`` bits of each column.

    Bit b of column i lands at position b*k + i, so the key orders by
    all columns' high bits first — the locality property zone-map
    pruning needs. Inputs are masked to [0, 2^bits) (callers quantize;
    the mask makes out-of-range values wrap rather than error). Output
    fits a long for k*bits <= 63."""
    k = len(cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a signed long")
    out = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        cc = (F.col(c) if isinstance(c, str) else c).cast("long").bitwiseAND(
            F.lit((1 << bits) - 1)
        )
        for b in range(bits):
            bit = F.shiftright(cc, b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * k + i))
    return out


def z_value_sql(cols: list[str]) -> str:
    """DuckDB twin of :func:`z_value` — the same unrolled expression,
    for value oracles. Every term is FULLY parenthesized: DuckDB gives
    ``<<`` and ``|`` equal precedence (left-associative, Postgres
    style), so ``a << 3 | b << 4`` would parse as ``((a << 3) | b) <<
    4`` and overflow."""
    k = len(cols)
    mask = (1 << 10) - 1
    terms = [
        f"((((CAST({c} AS BIGINT) & {mask}) >> {b}) & 1) << {b * k + i})"
        for i, c in enumerate(cols)
        for b in range(10)
    ]
    return "(" + " | ".join(terms) + ")"
