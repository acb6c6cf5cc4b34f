"""Scale probe: run the heavy operator stacks on a synthetic corpus N×
larger than sf0.1, watching for scale cliffs (quadratic candidate blowup,
driver collects that grow with n, bucket skew) rather than absolute time.

Generates (once, fingerprint-cached in /tmp):
- documents: SCALE × 5,000 docs of word-salad with a planted 1% near-dup
  tail (mutated copies), mirroring sf0.1's shape at ~300 chars/doc
- embeddings: SCALE × 2,000 unit vectors, dim 64, 10 soft clusters

Then times, at that scale: exact dedup, MinHash LSH → verify, PII scrub +
quality gate + unigram LM scoring (the curation stack), TF-IDF keywords,
stratified sampling, IVF build + probe, brute-force top-k.

Usage: python tools/scale_probe.py [SCALE]   (default 40 → 200k docs)
Emits one JSON line: per-stage seconds + row counts. Rerun with a larger
SCALE to check the growth curve is ~linear (shuffle-bound), not quadratic.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_search_optimization_spark.session import get_spark, release_caches

SCALE = int(sys.argv[1]) if len(sys.argv) > 1 else 40
N_DOCS = 5_000 * SCALE
N_VECS = 2_000 * SCALE
DIM = 64

# 2,000-token ZIPF-distributed vocabulary: real corpora are token-diverse
# with a rare tail, and the prefix-filter dedup path's candidate volume
# is O(Σ df²) over prefix tokens — the old 30-word uniform vocabulary
# made every 3-gram shingle's df ~320 at SCALE 40, an adversarial
# low-diversity corpus no natural text exhibits (it spilled ~10⁸
# candidate pairs; see jaccard_similarity_join's diversity contract).
# Zipf keeps common heads (so df-ordering is actually exercised) while
# the tail supplies the rare prefix tokens the filter relies on.
WORDS = [f"w{i:04d}" for i in range(2000)]

# cache key = GENERATOR fingerprint, not just the scale — editing WORDS,
# DIM, the doc shape, or the dup scheme must invalidate the cached
# corpus (CLAUDE.md: stale /tmp caches silently diverge)
# v3: 2,000-token vocabulary (diversity-realistic); v2 chunked the
# generation writes. Each content change bumps the version so stale
# /tmp caches are invalidated.
_GEN_VERSION = "v3-45w-2kvocab-1pct-dup-chunked"
# CHUNK is part of the fingerprint: the per-chunk lang/cluster rng draws
# interleave with the dup-tail mutation draws, so a different CHUNK
# generates a DIFFERENT corpus — it must invalidate the cache too
CHUNK = 200_000
_FPR = __import__("hashlib").sha256(
    f"{_GEN_VERSION}|{DIM}|{CHUNK}|{' '.join(WORDS)}".encode()
).hexdigest()[:12]
ROOT = f"/tmp/spark_graft_scale_probe/s{SCALE}-{_FPR}"


def _gen(spark) -> None:
    if os.path.exists(f"{ROOT}/_done"):
        return
    os.makedirs(ROOT, exist_ok=True)
    rng = np.random.default_rng(42)
    # documents: ~45 words each; last 1% are mutated copies of doc i-N/100.
    # Built and written in CHUNK-row slices (append mode) so driver
    # memory stays bounded at any SCALE — one full in-memory Python
    # string list grows to multi-GB at the larger SCALE values this tool
    # invites (ADVICE r3). NOTE: the per-chunk lang draws interleave
    # with the mutation draws in the rng stream, so the corpus DEPENDS
    # on CHUNK — which is why CHUNK is part of _FPR above.
    zipf = 1.0 / np.arange(3.0, 3.0 + len(WORDS)) ** 1.1
    zipf /= zipf.sum()
    # int16 (vocab < 2^15) keeps the index matrix ~90 B/doc at any SCALE
    base = rng.choice(len(WORDS), size=(N_DOCS, 45), p=zipf).astype(np.int16)
    words = np.asarray(WORDS)
    langs_all = np.asarray(["en", "es", "de", "fr", "zh"])
    rows: list = []
    lo = 0
    for i in range(N_DOCS):
        idx = base[i]
        if i >= N_DOCS - N_DOCS // 100:  # planted near-dup tail
            idx = base[i - N_DOCS // 100].copy()
            idx[rng.integers(0, 45)] = rng.integers(0, len(WORDS))
        rows.append(" ".join(words[idx]))
        if len(rows) == CHUNK or i == N_DOCS - 1:
            langs = langs_all[rng.integers(0, 5, size=len(rows))]
            spark.createDataFrame(
                list(zip(range(lo, i + 1), rows, langs.tolist())),
                "doc_id long, text string, lang string",
            ).repartition(32).write.mode(
                "overwrite" if lo == 0 else "append"
            ).parquet(f"{ROOT}/documents")
            print(f"gen docs {i + 1}/{N_DOCS}", file=sys.stderr)
            lo = i + 1
            rows = []

    cents = rng.normal(size=(10, DIM))
    for lo in range(0, N_VECS, CHUNK):
        hi = min(N_VECS, lo + CHUNK)
        X = cents[rng.integers(0, 10, size=hi - lo)] + rng.normal(
            scale=0.3, size=(hi - lo, DIM)
        )
        X = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype(np.float32)
        spark.createDataFrame(
            [(i, v.tolist()) for i, v in enumerate(X, start=lo)],
            "vec_id long, embedding array<float>",
        ).repartition(32).write.mode(
            "overwrite" if lo == 0 else "append"
        ).parquet(f"{ROOT}/embeddings")
    open(f"{ROOT}/_done", "w").write("ok")


def main() -> None:
    spark = get_spark("scale_probe")
    t0 = time.time()
    _gen(spark)
    gen_s = round(time.time() - t0, 1)

    docs = spark.read.parquet(f"{ROOT}/documents")
    emb = spark.read.parquet(f"{ROOT}/embeddings")
    out: dict[str, float | int] = {"scale": SCALE, "n_docs": N_DOCS, "n_vecs": N_VECS, "gen_s": gen_s}

    # SPARK_GRAFT_PROBE_ONLY=name1,name2 runs just those stages (the
    # corpus cache is shared, so a targeted probe costs gen + its own
    # stages, not the full battery)
    only = {
        s for s in os.environ.get("SPARK_GRAFT_PROBE_ONLY", "").split(",") if s
    }

    def stage(name: str, fn) -> None:
        if only and name not in only:
            return
        t = time.time()
        n = fn()
        out[f"{name}_s"] = round(time.time() - t, 1)
        out[f"{name}_rows"] = int(n)

    from vector_search_optimization_spark.operators import ann, dedup
    from vector_search_optimization_spark.operators import lm_quality as LM
    from vector_search_optimization_spark.operators import retrieval as RT
    from vector_search_optimization_spark.operators import sampling as SAMP

    stage("exact_dedup", lambda: dedup.dedup_exact(docs).count())

    def _minhash_verified():
        sigs = dedup.minhash_signatures_kernel(docs).persist()
        sigs.count()
        cands = dedup.minhash_lsh_candidates(sigs, num_hashes=64)
        pairs = dedup.ngram_jaccard_pairs(docs, cands, threshold=0.7)
        n = pairs.count()
        sigs.unpersist()
        return n

    stage("minhash_lsh_verified", _minhash_verified)

    def _curation():
        from vector_search_optimization_spark.operators.curation import (
            curate_columns,
        )

        clean = curate_columns(docs, keep_cols=())
        vocab = LM.train_unigram_lm(clean, "clean")
        return LM.unigram_surprisal(clean, vocab, text_col="clean").count()

    stage("curation_scrub_lm", _curation)
    stage("tfidf_keywords", lambda: RT.tfidf_keywords(docs, 3).count())
    stage(
        "stratified_sample",
        lambda: SAMP.stratified_sample_fixed_n(docs, "lang", "doc_id", 100).count(),
    )

    def _ivf():
        cents = ann.train_ivf_centroids(emb, num_cells=32)
        assigned = ann.assign_ivf_cells(emb, cents)
        q = emb.where(F.col("vec_id") == 0).first().embedding
        return ann.ivf_topk(assigned, cents, q).count()

    stage("ivf_build_probe", _ivf)
    q = emb.where(F.col("vec_id") == 0).first().embedding
    stage("brute_topk", lambda: ann.brute_force_topk(emb, q).count())

    # r3 operator families (VERDICT r3 #8): Deequ-style constraint pass,
    # the repetition gram-stats kernel, and the exact-threshold jaccard
    # prefix join. Jaccard runs LAST: it holds session-lifetime persists
    # (toks/pref/cand), which must not sit in memory under other stages.
    def _dq():
        from vector_search_optimization_spark.operators import validation as DQ

        rules = [
            DQ.non_null("doc_id"),
            DQ.unique("doc_id"),
            DQ.non_null("text"),
            DQ.accepted_values("lang", ["en", "es", "de", "fr", "zh"]),
        ]
        return DQ.check_constraints(docs, rules).count()

    stage("dq_constraints", _dq)

    def _repetition():
        from vector_search_optimization_spark.functions import text as TX

        return (
            docs.select(TX.word_gram_stats_expr("text", 2).alias("st"))
            .where(F.col("st.max_gram_count") > 1)
            .count()
        )

    stage("repetition_gram_stats", _repetition)

    # r4 follow-up probes (VERDICT r4 #7 / r5 #8): the two
    # quadratic-adjacent surfaces.
    def _source_overlap_128():
        """source_overlap_matrix at 128 sources (the registered query
        sees 20): pre-aggregation pair volume is Σ_g C(df_src(g), 2) —
        per-shingle source lists saturate at 128, so the join output is
        bounded by distinct_shingles × C(128,2) and grows LINEARLY in
        the corpus at fixed source count. A super-linear reading here
        means the distinct-(source, g) stage regressed."""
        src = docs.select(
            "doc_id",
            "text",
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(128))
            .cast("int")
            .alias("source"),
        )
        toks = dedup.shingle_hash_rows(src)
        sg = (
            toks.join(src.select("doc_id", "source"), "doc_id")
            .select("source", "g")
            .distinct()
        )
        a = sg.select(F.col("source").alias("source_a"), "g")
        b = sg.select(F.col("source").alias("source_b"), "g")
        return (
            a.join(b, "g")
            .where(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .count()
        )

    stage("source_overlap_128", _source_overlap_128)

    def _gap_fill_sparse():
        """evt_gap_fill's plan on a SPARSE MULTI-YEAR spine: 50k events
        scattered over 5 years × 20 types → the generated hourly spine
        (types × ~43.8k hours ≈ 876k rows) dwarfs the observed hourly
        aggregate. The hazard being probed: the spine is sequence+explode
        over the (tiny, persisted) aggregate's bounds — NOT a scan-join
        against the fact table — and the ffill window shuffles only the
        spine. Cost must track spine size, not event count."""
        from pyspark.sql import Window

        n = 50_000
        span_s = 5 * 365 * 24 * 3600
        ev = spark.range(n).select(
            (F.col("id") % 20).cast("int").alias("event_type"),
            F.timestamp_seconds(
                F.lit(1577836800)
                + F.pmod(F.col("id") * F.lit(2654435761), F.lit(span_s))
            ).alias("ts"),
            (F.pmod(F.col("id") * 7919, 10000) / 100.0).alias("value"),
        )
        hb = F.date_trunc("hour", F.col("ts"))
        agg = (
            ev.groupBy("event_type", hb.alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .persist()
        )
        bounds = agg.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        types = agg.select("event_type").distinct()
        spine = types.join(F.broadcast(bounds)).select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("h"),
        )
        j = spine.join(agg, ["event_type", "h"], "left")
        w = (
            Window.partitionBy("event_type")
            .orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        n_out = j.select(
            "event_type",
            "h",
            F.last("sum_value", ignorenulls=True).over(w).alias("f"),
        ).count()
        agg.unpersist()
        return n_out

    stage("gap_fill_sparse_spine", _gap_fill_sparse)

    # r6 operators: SemDeDup composition and the incremental band probe.
    def _semantic_dedup():
        """Quantizer K grows with the corpus (the SemDeDup contract:
        cells stay ~n/K rows, pair cost n²/K). K = 32 at SCALE 40 →
        ~2.5k rows/cell; doubling SCALE doubles K, holding cell size —
        cost should grow ~linearly."""
        k_cells = max(8, 32 * SCALE // 40)
        cents = ann.train_ivf_centroids(emb.orderBy("vec_id"), num_cells=k_cells)
        flagged = dedup.semantic_dedup(emb, cents, threshold=0.95)
        n = flagged.where(~F.col("keep")).count()
        release_caches(flagged)
        return n

    stage("semantic_dedup", _semantic_dedup)

    def _incremental_probe():
        """Nightly shape at scale: 90% of docs are the indexed corpus,
        10% the new batch. Cost = batch signature pass + ONE scan of
        the band index (broadcast probe) — should track corpus size
        ~linearly with a small constant."""
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        batch = docs.where(F.col("doc_id") % 10 == 0)
        bands_c = dedup.minhash_band_rows(
            dedup.minhash_signatures_kernel(corpus), num_hashes=64
        )
        return dedup.minhash_probe_corpus(batch, bands_c).count()

    stage("incremental_band_probe", _incremental_probe)

    stage(
        "jaccard_prefix_join",
        lambda: dedup.jaccard_similarity_join(docs, threshold=0.7).count(),
    )

    def _token_kl():
        """source_token_kl's shape keyed on lang (the probe corpus has no
        source column): one combinable (group, token) count shuffle +
        vocab-bounded totals join. Should track corpus tokens linearly;
        the joined frame is |vocab × groups|, constant here."""
        words = F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
        )
        counts = (
            docs.select(F.col("lang").alias("grp"), F.explode(words).alias("w"))
            .groupBy("grp", "w")
            .agg(F.count(F.lit(1)).alias("c_st"))
        )
        tok_tot = counts.groupBy("w").agg(F.sum("c_st").alias("c_t"))
        return (
            counts.join(tok_tot, "w")
            .groupBy("grp")
            .agg(
                F.sum("c_st").alias("n_tokens"),
                F.sum(
                    F.col("c_st").cast("double")
                    * (
                        F.log(F.col("c_st").cast("double"))
                        - F.log(F.col("c_t").cast("double"))
                    )
                ).alias("lnterm"),
            )
            .count()
        )

    stage("token_kl", _token_kl)

    def _ngram_novelty():
        """doc_ngram_novelty: df-count shuffle on the shingle hash + one
        equi-join back — O(corpus shingles) with no pair term, so growth
        must stay ~linear even as the planted dup tail pushes df>1."""
        rows = dedup.shingle_hash_rows(docs)
        dfc = rows.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        return (
            rows.join(dfc, "g")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
                    "n_novel"
                ),
            )
            .count()
        )

    stage("ngram_novelty", _ngram_novelty)

    # r7 probes (VERDICT r6 item 4): the four heavy r6 additions the
    # 10×/40× battery didn't cover.
    def _dup_span():
        """dup_span_coverage on the probe corpus (1% planted dup tail →
        repetitive anchors): cost contract is O(selected anchors) =
        O(corpus chars / w) with NO doc-pair term — the groupBy counts
        distinct docs per anchor and the join-back replicates only each
        anchor's own rows. A super-linear reading means the anchor
        fan-out regressed into pair materialization."""
        return (
            dedup.dup_span_coverage_frame(docs)
            .where(F.col("covered_chars") > 0)
            .count()
        )

    stage("dup_span_coverage", _dup_span)

    def _ab_bootstrap():
        """evt_ab_bootstrap's replicate expansion: n rows × 64
        sha-weighted Poisson replicates, all combinable aggregates —
        cost must scale with n·B (linear in n at fixed B), never with
        groups² or via any driver-side materialization."""
        from vector_search_optimization_spark.operators import bootstrap as BS

        n = 12_500 * SCALE
        tagged = spark.range(0, n, 1, 32).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 2 == 0).alias("is_a"),
            (F.pmod(F.col("id") * 7919, 10000) / 100.0).alias("v"),
        )
        return BS.poisson_bootstrap_mean_diff(tagged, "event_id", "is_a", "v").count()

    stage("ab_bootstrap_64rep", _ab_bootstrap)

    def _basket_rules():
        """basket_brand_rules' pair self-join under a SKEWED brand: 6
        brand rows per basket from a 25-brand vocab with brand b00 in
        ~40% of slots (the hot key). Fan-out contract: Σ C(brands_i, 2)
        ≈ baskets × C(6,2) — bounded by basket width², never by basket
        COUNT² — and the hot brand inflates only its pair-count cell
        (combinable agg), not the join volume per basket.

        Brand draws use xxhash64, NOT `id*K % 25`: basket slots share an
        id residue class mod m, and m = 2500*SCALE is divisible by 25
        and 100, so any modular mix factors through the basket id and
        collapses every basket to ONE brand (the first probe run read 0
        pair rows that way)."""
        m = 2_500 * SCALE
        raw = spark.range(0, m * 6, 1, 32).select(
            (F.col("id") % m).alias("o"),
            F.when(F.pmod(F.xxhash64(F.col("id"), F.lit(1)), 100) < 40,
                   F.lit("b00"))
            .otherwise(
                F.concat(
                    F.lit("b"),
                    F.lpad(
                        F.pmod(F.xxhash64(F.col("id"), F.lit(2)), 25)
                        .cast("string"),
                        2,
                        "0",
                    ),
                )
            )
            .alias("b"),
        )
        bk = raw.distinct()
        a = bk.select("o", F.col("b").alias("antecedent"))
        c = bk.select("o", F.col("b").alias("consequent"))
        return (
            a.join(c, "o")
            .where(F.col("antecedent") != F.col("consequent"))
            .groupBy("antecedent", "consequent")
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .count()
        )

    stage("basket_rules_skewed", _basket_rules)

    def _bitmap_rollup():
        """evt_bitmap_rollup's daily pre-agg + weekly OR-merge over a
        WIDE user-id space (ids up to 32M → ~1000 buckets of ≤32 Kbit):
        pre-agg row count is bounded by days × types × OCCUPIED buckets,
        the OR-merge reads bitmaps not events, and bucket counts are
        additive — cost tracks event count linearly and bucket width is
        a constant factor, never a cross product."""
        n = 25_000 * SCALE
        ev = spark.range(0, n, 1, 32).select(
            F.floor(F.col("id") / F.lit(n // 56 + 1)).alias("day_idx"),
            F.pmod(F.col("id") * 2654435761, 32_000_000).alias("user_id"),
            F.when(F.col("id") % 3 == 0, F.lit("view"))
            .otherwise(F.lit("purchase"))
            .alias("event_type"),
        )
        daily = ev.groupBy(
            F.floor(F.col("day_idx") / 7).alias("week_idx"),
            "day_idx",
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        ).agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "bm"
            )
        )
        return (
            daily.groupBy("week_idx", "bucket")
            .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
            .groupBy("week_idx")
            .agg(F.sum("c").alias("wau"))
            .count()
        )

    stage("bitmap_rollup_wide_ids", _bitmap_rollup)

    # r7 wave-2 probes: the two new operator families with a real data
    # slope — the two-phase skyline and the AUC value grid.
    def _skyline():
        """parts_skyline's two-phase form at fact scale: n synthetic
        (price, size) rows, 1000 price bands. Phase 1 (band-partitioned
        windows) must parallelize — cost ~ one shuffle on band + local
        sorts; phase 2 sees only band survivors (≤ bands × skyline-per-
        band). Superlinear growth means the band pruning stopped
        working."""
        from pyspark.sql import Window as W

        n = 125_000 * SCALE
        base = spark.range(0, n, 1, 32).select(
            F.col("id").alias("p_partkey"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(1)), 1_000_000).alias(
                "price_cents"
            ),
            F.pmod(F.xxhash64(F.col("id"), F.lit(2)), 50).alias("size"),
        )
        band = (F.col("price_cents") / F.lit(1000)).cast("long")

        def surv(d, part):
            wch = (
                W.partitionBy(*part)
                .orderBy("price_cents")
                .rangeBetween(W.unboundedPreceding, -1)
            )
            wsm = W.partitionBy(*part, "price_cents")
            return (
                d.withColumn("mc", F.max("size").over(wch))
                .withColumn("ms", F.max("size").over(wsm))
                .where(
                    (F.col("mc").isNull() | (F.col("mc") < F.col("size")))
                    & (F.col("ms") <= F.col("size"))
                )
                .drop("mc", "ms")
            )

        local = surv(base.withColumn("band", band), ["band"]).drop("band")
        return surv(local, []).count()

    stage("skyline_two_phase", _skyline)

    def _auc_grid():
        """exact_auc_by_grid over n rows on a 10k-cell score lattice:
        one combinable groupBy (n → cells) + a cell-space window — cost
        must track the SCAN linearly with a constant grid tail."""
        from vector_search_optimization_spark.operators import (
            ranking_stats as RKS,
        )

        n = 125_000 * SCALE
        scored = spark.range(0, n, 1, 32).select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(3)), 10_000).alias("cents"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(4)), 5) == 0).alias("pos"),
        )
        return RKS.exact_auc_by_grid(
            scored, F.col("cents"), F.col("pos")
        ).count()

    stage("auc_grid", _auc_grid)

    def _weighted_median_lattice():
        """lineitem_weighted_median's shape at fact scale: n rows with
        integer weights collapse onto a 100k-cell cents lattice (ONE
        combinable groupBy), the cumulative-weight window and quantile
        picks run over CELLS. Cost must track the scan linearly with a
        constant lattice tail; returned rows = occupied cells (the
        lattice ceiling the windows actually see)."""
        from pyspark.sql import Window as W

        n = 125_000 * SCALE
        rows = spark.range(0, n, 1, 32).select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(5)), 3).alias("flag"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(6)), 100_000).alias(
                "cents"
            ),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(7)), 50) + 1).alias("w0"),
        )
        grid = (
            rows.groupBy("flag", "cents")
            .agg(F.sum("w0").alias("wt"))
            .persist()
        )
        cells = grid.count()
        w_cum = (
            W.partitionBy("flag")
            .orderBy("cents")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        tot = grid.groupBy("flag").agg(F.sum("wt").alias("total_wt"))
        cum = grid.withColumn("cum", F.sum("wt").over(w_cum)).join(
            F.broadcast(tot), "flag"
        )
        quants = (
            cum.groupBy("flag")
            .agg(
                F.min(
                    F.when(
                        F.col("cum") * 2 >= F.col("total_wt"),
                        F.col("cents"),
                    )
                ).alias("wmedian"),
                F.min(
                    F.when(
                        F.col("cum") * 4 >= F.col("total_wt") * 3,
                        F.col("cents"),
                    )
                ).alias("wq75"),
            )
            .count()
        )
        assert quants == 3
        grid.unpersist()
        return cells

    stage("weighted_median_lattice", _weighted_median_lattice)

    def _theil_sen_pairgrid():
        """evt_theil_sen_slope / Mann-Kendall join shape: the pair
        volume is |days|²/2 per type — CALENDAR-bounded (fixed 400-day
        grid, 5 types → 399,000 pairs at EVERY scale); n feeds only the
        daily combinable agg. Growth beyond the scan term means the
        calendar bound broke."""
        n = 125_000 * SCALE
        ev = spark.range(0, n, 1, 32).select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(8)), 5).alias("t"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(9)), 400).alias("d"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(10)), 10_000).alias("c0"),
        )
        daily = (
            ev.groupBy("t", "d").agg(F.sum("c0").alias("cents")).persist()
        )
        a = daily.select(
            "t", F.col("d").alias("d1"), F.col("cents").alias("y1")
        )
        b = daily.select(
            "t", F.col("d").alias("d2"), F.col("cents").alias("y2")
        )
        n_pairs = (
            a.join(b, "t")
            .where(F.col("d1") < F.col("d2"))
            .select(
                "t",
                (F.col("y2") - F.col("y1")).alias("num"),
                (F.col("d2") - F.col("d1")).alias("den"),
            )
            .count()
        )
        daily.unpersist()
        return n_pairs

    stage("theil_sen_pairgrid", _theil_sen_pairgrid)

    def _loo_knn_cells():
        """emb_loo_knn_accuracy's PRODUCTION contract (the docstring's
        per-IVF-cell path): cells of FIXED ~1,000 vectors, cell count
        grows with scale, one GEMM per cell via applyInPandas, accuracy
        a per-cell combinable aggregate. Cost must be linear in the
        cell count — a superlinear read means the cell bound broke."""
        n_cells = 2 * SCALE
        cells = emb.select(
            (F.col("vec_id") % n_cells).alias("cell"),
            "vec_id",
            (F.col("vec_id") % 7).cast("int").alias("label"),
            "embedding",
        )

        def _cell_loo(pdf):
            import pandas as pd

            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            order = np.argsort(ids)
            mat, labs = mat[order], pdf["label"].to_numpy()[order]
            bn = (mat * mat).sum(axis=1)
            d2 = bn[:, None] + bn[None, :] - 2.0 * (mat @ mat.T)
            np.fill_diagonal(d2, np.inf)
            pick = d2.argmin(axis=1)
            return pd.DataFrame(
                {
                    "cell": [int(pdf["cell"].iloc[0])],
                    "n": [len(ids)],
                    "n_correct": [int((labs[pick] == labs).sum())],
                }
            )

        return (
            cells.groupBy("cell")
            .applyInPandas(_cell_loo, "cell long, n long, n_correct long")
            .count()
        )

    stage("loo_knn_cells", _loo_knn_cells)

    def _loo_gemm_vs_pairjoin():
        """emb_loo_knn_accuracy's two in-repo paths at a FIXED 1,200-
        vector slice (scale-independent crossover record): broadcast
        GEMM kernel vs the declarative pair-join twin. The ratio is the
        reason _LOO_KNN_BROADCAST_LIMIT sits at 100k — the pair join
        exists as the beyond-broadcast declarative twin, not a peer."""
        from vector_search_optimization_spark.functions import vector as V

        sub = emb.where(F.col("vec_id") < 1200).select(
            "vec_id",
            (F.col("vec_id") % 7).cast("int").alias("label"),
            "embedding",
        ).persist()
        sub.count()
        ref = sub.collect()
        t = time.time()
        ids = np.array([r["vec_id"] for r in ref], dtype=np.int64)
        labs = np.array([r["label"] for r in ref])
        mat = np.array([r["embedding"] for r in ref], dtype=np.float64)
        bn = (mat * mat).sum(axis=1)
        d2 = bn[:, None] + bn[None, :] - 2.0 * (mat @ mat.T)
        np.fill_diagonal(d2, np.inf)
        acc_kernel = int((labs[d2.argmin(axis=1)] == labs).sum())
        out["loo_gemm_1200_s"] = round(time.time() - t, 2)
        from pyspark.sql import Window as W

        a = sub.select(
            F.col("vec_id").alias("i"),
            F.col("label").alias("la"),
            F.col("embedding").alias("va"),
        )
        b = sub.select(
            F.col("vec_id").alias("j"),
            F.col("label").alias("lb"),
            F.col("embedding").alias("vb"),
        )
        t = time.time()
        wnn = W.partitionBy("i").orderBy("r", "j")
        nn = (
            a.crossJoin(b)
            .where(F.col("i") != F.col("j"))
            .select("i", "la", "lb", V.sq_euclidean("va", "vb").alias("r"), "j")
            .withColumn("rn", F.row_number().over(wnn))
            .where(F.col("rn") == 1)
        )
        acc_join = nn.where(F.col("la") == F.col("lb")).count()
        out["loo_pairjoin_1200_s"] = round(time.time() - t, 2)
        assert acc_kernel == acc_join, (acc_kernel, acc_join)
        sub.unpersist()
        return acc_join

    stage("loo_gemm_vs_pairjoin", _loo_gemm_vs_pairjoin)

    def _hubness_label_exponent():
        """emb_hubness_audit / emb_intrinsic_dim family: per-LABEL
        pair-join cost ~ sum(L^2). Timed at label sizes 400/800/1600
        (5 labels, fixed — scale-independent exponent record): the
        log2 time ratios of the RAW join measure the quadratic regime
        the r9 probe found engaging between 800-1600 rows/label, and
        the `hubness_capped_L*` twins run the SAME audit through the
        production `_emb_label_capped` route (r10, VERDICT r9 item 4)
        — beyond the 1024-row cap the capped timings must go FLAT
        (exponent clamped ~<=1) while raw keeps climbing."""
        import __spark_entry__ as entrymod
        from pyspark.sql import Window as W
        from vector_search_optimization_spark.functions import vector as V

        def _audit_count(frame):
            a = frame.select(
                "label",
                F.col("vec_id").alias("i"),
                F.col("embedding").alias("va"),
            )
            b = frame.select(
                "label",
                F.col("vec_id").alias("j"),
                F.col("embedding").alias("vb"),
            )
            d = (
                a.join(b, "label")
                .where(F.col("i") != F.col("j"))
                .select(
                    "label", "i", "j", V.sq_euclidean("va", "vb").alias("r")
                )
            )
            wnn = W.partitionBy("label", "i").orderBy("r", "j")
            occ = (
                d.withColumn("rn", F.row_number().over(wnn))
                .where(F.col("rn") <= 5)
                .groupBy("label", "j")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            return occ.count()

        last = 0
        for L in (400, 800, 1600):
            sub = emb.where(F.col("vec_id") < 5 * L).select(
                (F.col("vec_id") % 5).alias("label"),
                F.col("vec_id"),
                F.col("embedding"),
            ).persist()
            sub.count()
            t = time.time()
            _audit_count(sub)
            out[f"hubness_L{L}_s"] = round(time.time() - t, 2)
            t = time.time()
            last = _audit_count(entrymod._emb_label_capped(sub))
            out[f"hubness_capped_L{L}_s"] = round(time.time() - t, 2)
            sub.unpersist()
        return last

    stage("hubness_label_exponent", _hubness_label_exponent)

    def _g10_landmark_bfs():
        """g10_closeness's distributed frontier loop on a synthetic
        random graph that GROWS with scale (nodes 10k×SCALE, d̄≈10):
        4 rounds × (frontier-edge equi-join + distinct + anti-join),
        each round |frontier|·d̄ work — the whole stage must stay
        linear in the edge count, never n²."""
        n_nodes = 10_000 * SCALE
        edges = spark.range(0, 5 * n_nodes, 1, 32).select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(11)), n_nodes).alias("src"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(12)), n_nodes).alias("dst"),
        ).where(F.col("src") != F.col("dst"))
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).persist()
        sym.count()
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
        lm = (
            deg.orderBy(F.col("degree").desc(), F.col("src").asc())
            .limit(5)
            .select(F.col("src").alias("l"))
        )
        visited = lm.select("l", F.col("l").alias("node")).persist()
        frontier = visited
        caches = [sym, visited]
        reached = 0
        for _ in range(4):
            nxt = (
                frontier.join(sym, frontier["node"] == sym["src"])
                .select("l", F.col("dst").alias("node"))
                .distinct()
                .join(visited, ["l", "node"], "left_anti")
                .persist()
            )
            caches.append(nxt)
            reached += nxt.count()
            visited = visited.unionByName(nxt)
            frontier = nxt
        for c in caches:
            c.unpersist()
        return reached

    stage("g10_landmark_bfs", _g10_landmark_bfs)

    def _dau_mau_fanout():
        """evt_dau_mau_stickiness's 28× map-side fan-out rewrite at
        fact scale: n events → distinct (user, day) → explode ×28 →
        per-day distinct count. Volume is exactly 28·|user-days| —
        linear with a fixed constant, no range join anywhere."""
        n = 125_000 * SCALE
        ev = spark.range(0, n, 1, 32).select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(13)), n // 50).alias("u"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(14)), 400).alias("d"),
        )
        ud = ev.distinct()
        fan = ud.select(
            "u", F.explode(F.sequence(F.lit(0), F.lit(27))).alias("k"), "d"
        ).select("u", (F.col("d") + F.col("k")).alias("d"))
        return fan.groupBy("d").agg(
            F.countDistinct("u").alias("mau")
        ).count()

    stage("dau_mau_fanout", _dau_mau_fanout)

    def _emd_domain_bound():
        """evt_type_emd / operators/distribution.py: the claim is that
        EVERYTHING after the counts agg is bounded by the VALUE DOMAIN
        (≤56k distinct cents), not corpus rows — so timing the combine
        at 1M and 4M synthetic event rows over the SAME 56,021-cent
        domain must read ~flat (the counts agg itself is the only
        linear-scan term)."""
        from vector_search_optimization_spark.operators.distribution import (
            emd_pairs_from_counts,
        )

        last = 0
        for n_rows in (1_000_000, 4_000_000):
            ev = spark.range(0, n_rows, 1, 32).select(
                F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias(
                    "event_type"
                ),
                # deterministic value spread over a FIXED 56,021-cent
                # domain regardless of n_rows (id-hash driven)
                ((F.col("id") * 48271 + F.col("id") % 7) % 56021).alias(
                    "cents"
                ),
            )
            counts = ev.groupBy("event_type", "cents").agg(
                F.count(F.lit(1)).cast("long").alias("n")
            )
            t = time.time()
            last = emd_pairs_from_counts(counts).count()
            out[f"emd_rows{n_rows // 1_000_000}M_s"] = round(
                time.time() - t, 2
            )
        return last

    stage("emd_domain_bound", _emd_domain_bound)

    def _containment_join():
        """doc_shingle_containment's candidate core: distinct word
        3-shingles → inverted-index self-join → per-pair intersection
        counts.  Candidate volume is Σ_sh df² (the PPJoin diversity
        contract) — on the v3 Zipf-vocabulary corpus this must grow
        ~linearly with docs, never doc²; a blowup here means the
        shingle diversity collapsed (raise shingle_n, never drop
        high-df shingles)."""
        toks = docs.select(
            "doc_id",
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != "",
            ).alias("arr"),
        ).where(F.size("arr") >= 3)
        sh = (
            toks.select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("arr") - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(F.col("arr"), i),
                            F.element_at(F.col("arr"), i + 1),
                            F.element_at(F.col("arr"), i + 2),
                        ),
                    )
                ).alias("s"),
            )
            .distinct()
        )
        p1 = sh.select(F.col("doc_id").alias("d1"), "s")
        p2 = sh.select(F.col("doc_id").alias("d2"), "s")
        return (
            p1.join(p2, "s")
            .where(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("inter"))
            .where(F.col("inter") >= 2)
            .count()
        )

    stage("containment_join", _containment_join)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
