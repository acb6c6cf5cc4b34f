"""Deterministic sampling operators for training-data curation.

A 100 TB pipeline needs samples that are (a) reproducible across reruns
(no ``rand()`` — a retried task would resample differently), (b)
stratified (per-language / per-source quotas), and (c) cheap (no global
sort). Both operators key on a cryptographic hash of the row key, so the
same rows are chosen no matter the partitioning, executor count, or
retry history — the sample is a pure function of the data.

Reference sites: the reference samples per-cluster document subsets for
LLM labeling (update-etiquetas.ipynb:171 c9 — ``np.argsort`` slicing) and
relies on pandas ``DataFrame.sample``; these operators are the
deterministic, distributed counterpart.

Scale notes (SCALING.md): ``deterministic_sample`` is a pure projection +
filter — map-only at any size, and the predicate is a scan-level filter
(hash both sides of the comparison are column expressions, no shuffle).
``stratified_sample_fixed_n`` is one window shuffle on the stratum key
with WindowGroupLimit pushdown (executors keep ≤ n rows per stratum
before the shuffle); for a pathologically hot stratum, pre-aggregate with
a salted two-level top-n (operators.topk docstring) — the hash order is
stable under salting because it depends only on the key column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .topk import top_k_per_group


def sample_hash(key: Column | str) -> Column:
    """Lowercase-hex sha256 of the (stringified) key — the deterministic
    sort/threshold handle. Identical on the DuckDB oracle side
    (``sha256(CAST(k AS VARCHAR))``; both hash the utf-8 bytes)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.sha2(c.cast("string"), 256)


def deterministic_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by hash threshold.

    The first 4 hex chars of sha256(key) are uniform over 0..65535;
    keeping rows below ``fraction * 65536`` (as a zero-padded hex literal,
    compared lexicographically) samples without rand() — reproducible,
    rerun-stable, and expressible identically in ANSI SQL. Thresholds
    nest: sample(f1) ⊆ sample(f2) whenever f1 ≤ f2 (property-tested),
    so a pipeline can grow its sample without resampling old members.
    """
    b = int(fraction * 65536)
    if b >= 65536:
        # fraction >= 1: keep everything (a 5-hex-char bound like '10000'
        # would compare lexicographically BELOW most 4-char prefixes)
        return df
    return df.where(
        F.substring(sample_hash(key), 1, 4) < F.lit(format(b, "04x"))
    )


def sample_by_rate(df: DataFrame, key: str, rate_col: Column | str) -> DataFrame:
    """Per-row deterministic keep with a COLUMN-valued rate — the
    grouped generalization of :func:`deterministic_sample` (whose rate
    is a Python literal): keep iff ``u16(key) < rate * 65536`` where
    u16 is the first 4 hex chars of sha256(key) as an integer.

    u16 and the rate expression are each bit-identical cross-engine
    (integer hash prefix; rates derived from already-identical columns),
    so the kept set is rerun-, partitioning-, and engine-stable. Rate
    resolution is 1/65536 (same as deterministic_sample); nesting holds
    per key: raising a row's rate only ever ADDS it.
    """
    u16 = F.conv(F.substring(sample_hash(key), 1, 4), 16, 10).cast("double")
    r = F.col(rate_col) if isinstance(rate_col, str) else rate_col
    return df.where(u16 < r * 65536.0)


def weighted_sample_fixed_n(
    df: DataFrame,
    key: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Efraimidis–Spirakis A-ES weighted sampling without replacement:
    rank rows by ``u^(1/w)`` (u a deterministic uniform, w the row
    weight) and keep the global top-n — each subset of size n appears
    with probability proportional to its weights (the public A-ES
    result), here with NO rand(): u comes from the first 13 hex chars of
    sha256(key) over 16^13 (= 2^52, exactly representable), so the
    sample is a pure function of the data like the other samplers.

    The ES key is rounded to 12dp BEFORE ranking with the row key as
    tie-break: libm pow differs across engines at ~1 ulp, and the
    rounding makes the top-n boundary engine-deterministic (the
    oracle-parity rounding rule). Rows with NULL or non-positive weight
    are excluded (A-ES requires w > 0). Scale shape: map-side projection
    + TakeOrdered — n·partitions rows shuffle, no global sort."""
    c = F.col(key) if isinstance(key, str) else key
    u = F.conv(F.substring(sample_hash(key), 1, 13), 16, 10).cast(
        "double"
    ) / float(16**13)
    es = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 12
    )
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("es_key", es)
        .orderBy(F.col("es_key").desc(), c.asc())
        .limit(n)
    )


def mixture_weights(sizes: DataFrame, group_col: str, size_col: str) -> DataFrame:
    """Temperature-based corpus mixture weighting (the GPT-3/LLaMA-style
    source re-weighting: w_s ∝ n_s^alpha with alpha = 0.5, which upsamples
    small high-quality sources relative to their natural share).

    Input: one row per source with its size (token count). Output adds
    ``raw_share`` (n_s / N, exported UNROUNDED — integer quotient,
    bit-identical cross-engine), ``weight`` (n^alpha / Σ n^alpha,
    rounded 6dp — the Σ of irrationals accumulates in engine-dependent
    order), and ``oversample_factor`` = weight / raw_share (derived
    unrounded from the already-identical exports).

    n^0.5 is computed via sqrt — IEEE correctly-rounded on every engine
    (pow would only be within-1-ulp cross-engine).

    One tiny frame (sources) + a one-row total broadcast — the heavy
    part (per-source token counting) happens upstream in one combinable
    agg over the corpus.
    """
    n = F.col(size_col).cast("double")
    powed = F.sqrt(n)
    # totals aggregate the same expression over the same input (rather
    # than a derived column) so the one-row join carries no shared
    # attribute lineage (Spark's self-join ambiguity)
    tot = sizes.agg(
        F.sum(size_col).alias("__N"), F.sum(powed).alias("__W")
    )
    return (
        sizes.join(F.broadcast(tot))
        .select(
            group_col,
            F.col(size_col),
            (n / F.col("__N")).alias("raw_share"),
            F.round(powed / F.col("__W"), 6).alias("weight"),
        )
        .withColumn(
            "oversample_factor", F.col("weight") / F.col("raw_share")
        )
    )


def stratified_sample_fixed_n(
    df: DataFrame, stratum: str, key: str, n: int
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, in hash order.

    Hash-order top-n per group: one window shuffle (WindowGroupLimit
    keeps ≤ n per stratum map-side); ties broken by the key itself so the
    output is total-ordered and rerun-identical.
    """
    return top_k_per_group(
        df,
        stratum,
        [sample_hash(key).asc(), F.col(key).asc()],
        n,
    )
