"""Engine-side search surface: BM25 keyword scoring, rank fusion, and a
SearchIndex facade mirroring the reference's search-client API.

The reference delegates retrieval to Azure AI Search — full index scans
(``search_text="*"``, update-etiquetas.ipynb:96 c6 ``get_all_docs``),
keyed lookups, hybrid keyword+vector queries (SURVEY §0), and
``merge_documents`` partial upserts (ChunkLabelingProcesor.py:49). This
module re-expresses that client surface over engine operators so a user
of the reference can switch call-for-call:

- keyword ranking  → ``bm25_keyword_scores`` (Azure's keyword ranker is
  BM25; Robertson/Lucene idf with k1/b saturation)
- vector ranking   → operators.ann (brute force here; IVF via the
  materialized index for lake scale)
- hybrid           → per-side top-N + ``rrf_fuse`` (reciprocal-rank
  fusion, Azure's hybrid combination)
- merge_documents  → operators.upsert.upsert_fields

Scale notes: corpus stats (N, df, avgdl) are one aggregated row
broadcast back; each search side is a map-side score + TakeOrdered
(k×partitions shuffle rows); fusion joins two bounded top-N lists.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V

BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60


def bm25_keyword_scores(
    df: DataFrame,
    terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(id, kw_score) — BM25 over whitespace tokens.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term saturation
    tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)). Corpus stats are a
    single aggregated row, broadcast — the scan stays map-side.
    Terms are matched case-insensitively (documents tokenize through
    lower(); terms lowercase here to match). NULL-text rows are excluded
    up front so N, df, and avgdl all describe the same scoreable corpus.
    """
    if not terms:
        raise ValueError("terms must be a non-empty sequence")
    terms = [str(t).lower() for t in terms]
    df = df.where(F.col(text_col).isNotNull())
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )

    def _tf(term: str):
        # NB: a two-arg lambda would be read as (element, index) by
        # F.filter — close over the term via a factory instead
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    tfs = [_tf(term).alias(f"tf{j}") for j, term in enumerate(terms)]
    scored = df.select(
        id_col,
        F.size(toks).cast("double").alias("dl"),
        *tfs,
    )
    stats = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{j}") > 0).cast("long")).alias(f"df{j}")
            for j in range(len(terms))
        ],
    )
    kw_expr = None
    for j in range(len(terms)):
        tf = F.col(f"tf{j}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df{j}") + 0.5) / (F.col(f"df{j}") + 0.5)
        )
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        term_score = F.when(
            F.col(f"df{j}") > 0, idf * (tf * (k1 + 1.0)) / denom
        ).otherwise(F.lit(0.0))
        kw_expr = term_score if kw_expr is None else kw_expr + term_score
    return scored.crossJoin(F.broadcast(stats)).select(
        id_col, F.round(kw_expr, 6).alias("kw_score")
    )


def tfidf_keywords(docs: DataFrame, n_keywords: int = 3) -> DataFrame:
    """Per-document top-n keywords by tf·idf (idf = ln(N/df)).

    The inverse operation of keyword *search*: surface what each doc is
    about (index enrichment / labeling features). Plan: per-doc term
    counts and document frequencies are two combinable shuffles; the
    df table is vocabulary-sized and broadcasts (truncate to a top-k
    vocabulary at 100 TB exactly like lm_quality); ranking is one
    window shuffle with WindowGroupLimit. Ties rank on the ROUNDED
    score then the word, so ordering is reproducible cross-engine.
    """
    from .lm_quality import tokenize  # ONE tokenization contract repo-wide

    base = docs.where(F.col("text").isNotNull())
    toks = base.select("doc_id", F.explode(tokenize("text")).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = base.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("dfreq")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_keywords)
    )


def top_ranked(
    df: DataFrame,
    score_col: str,
    id_col: str,
    top: int,
    rank_col: str,
) -> DataFrame:
    """(id, rank) for the top-N by score — TakeOrdered on the corpus,
    row_number only over the bounded result list."""
    w = Window.orderBy(F.desc(score_col), id_col)
    return (
        df.orderBy(F.desc(score_col), id_col)
        .limit(top)
        .withColumn(rank_col, F.row_number().over(w))
        .select(id_col, rank_col)
    )


def rrf_fuse(
    sides: dict[str, DataFrame],
    id_col: str = "doc_id",
    k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion over named rank lists: score =
    Σ 1/(k + rank_side), a side where the doc is absent contributes 0.
    Each side is (id, rank_<name>); the join is over bounded top-N lists.
    """
    fused = None
    rank_cols = []
    for name, side in sides.items():
        rank_cols.append(f"rank_{name}")
        fused = side if fused is None else fused.join(side, id_col, "full_outer")
    score = None
    for rc in rank_cols:
        contrib = F.coalesce(
            1.0 / (F.lit(k) + F.col(rc)), F.lit(0.0)
        )
        score = contrib if score is None else score + contrib
    return fused.select(
        id_col,
        *[F.coalesce(rc, F.lit(0)).alias(rc) for rc in rank_cols],
        F.round(score, 6).alias("rrf_score"),
    )


class SearchIndex:
    """Drop-in engine surface for the reference's search-client calls.

    ``docs`` is the indexed table; ``vector_col`` may be None for a
    text-only index. All methods return lazy DataFrames (the reference's
    client returns iterators — materialize with .collect() as needed).
    """

    def __init__(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        vector_col: str | None = "embedding",
    ):
        self.docs = docs
        self.id_col = id_col
        self.text_col = text_col
        self.vector_col = vector_col

    # --- scans / lookups (S4, J6) ---------------------------------------

    def get_all(self, columns: Sequence[str] | None = None) -> DataFrame:
        """search_text="*": the full index scan (S4)."""
        return self.docs.select(*(columns or self.docs.columns))

    def get_document(self, key) -> DataFrame:
        """Keyed lookup (J6) — a pushed-down point filter."""
        return self.docs.where(F.col(self.id_col) == F.lit(key))

    # --- search (keyword / vector / hybrid) -----------------------------

    def search_keyword(self, terms: Sequence[str], k: int = 10) -> DataFrame:
        scored = bm25_keyword_scores(
            self.docs, terms, self.text_col, self.id_col
        )
        return (
            scored.where(F.col("kw_score") > 0)
            .orderBy(F.desc("kw_score"), self.id_col)
            .limit(k)
        )

    def search_vector(self, query: Sequence[float], k: int = 10) -> DataFrame:
        if self.vector_col is None:
            raise ValueError("index has no vector column")
        from . import ann

        return ann.brute_force_topk(
            self.docs, query, k=k, id_col=self.id_col,
            vector_col=self.vector_col,
        )

    def search_hybrid(
        self,
        terms: Sequence[str],
        query: Sequence[float],
        k: int = 10,
    ) -> DataFrame:
        if self.vector_col is None:
            raise ValueError("index has no vector column")
        kw = bm25_keyword_scores(
            self.docs, terms, self.text_col, self.id_col
        ).where(F.col("kw_score") > 0)
        vec = self.docs.select(
            self.id_col,
            F.round(
                V.cosine_similarity(self.vector_col, query), 6
            ).alias("vec_score"),
        ).where(F.col("vec_score").isNotNull())
        fused = rrf_fuse(
            {
                "kw": top_ranked(kw, "kw_score", self.id_col, 100, "rank_kw"),
                "vec": top_ranked(vec, "vec_score", self.id_col, 100, "rank_vec"),
            },
            id_col=self.id_col,
        )
        return fused.orderBy(F.desc("rrf_score"), self.id_col).limit(k)

    # --- writeback (S11) ------------------------------------------------

    def merge_documents(self, updates: DataFrame) -> "SearchIndex":
        """merge_documents semantics: partial field upsert by key;
        returns the updated index (lazy — persist/write to pin)."""
        from .upsert import upsert_fields

        return SearchIndex(
            upsert_fields(self.docs, updates, self.id_col),
            self.id_col,
            self.text_col,
            self.vector_col,
        )


def mmr_select(ids, vectors, qvec, k: int = 10, lam: float = 0.5):
    """Shared greedy MMR kernel (Carbonell/Goldstein '98) — deterministic
    by construction: works on 6dp-ROUNDED cosines with min-id tie-breaks,
    and is run by BOTH the Spark driver (over the collected shortlist)
    and the DuckDB oracle generator (over the SQL-derived shortlist), so
    the selection literals agree as long as the shortlist does.

    Returns [(rank, id, sim_q, max_prior_sim-or-None), ...]; sims here
    are the kernel's own float64-over-float32 cosines (selection keys),
    NOT the engine-exported values — each engine re-derives its exports.
    """
    import numpy as np

    m = np.asarray(vectors, dtype=np.float32).astype(np.float64)
    q = np.asarray(qvec, dtype=np.float32).astype(np.float64)
    m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
    q_n = q / np.linalg.norm(q)
    sim_q = np.round(m_n @ q_n, 6)
    inter = np.round(m_n @ m_n.T, 6)
    ids = list(ids)
    selected: list[int] = []
    out = []
    remaining = list(range(len(ids)))
    for rank in range(1, min(k, len(ids)) + 1):
        if selected:
            penalty = inter[:, selected].max(axis=1)
        else:
            penalty = np.zeros(len(ids))
        mmr = np.round(lam * sim_q - (1.0 - lam) * penalty, 6)
        # argmax over remaining, min-id tiebreak
        best = min(remaining, key=lambda i: (-mmr[i], ids[i]))
        out.append(
            (
                rank,
                ids[best],
                float(sim_q[best]),
                float(penalty[best]) if selected else None,
            )
        )
        selected.append(best)
        remaining.remove(best)
    return out


def mmr_rerank(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    shortlist: int = 50,
    lam: float = 0.5,
) -> DataFrame:
    """Diversified top-k: exact cosine shortlist (distributed — map-side
    score + TakeOrdered, the brute_force_topk plan), then greedy MMR over
    the collected shortlist on the driver (a bounded finish: ``shortlist``
    rows by contract, the same small-side discipline as the community /
    centroid steps). Exported sims are recomputed engine-side at 6dp;
    the kernel's sims only drive the selection."""
    from .ann import brute_force_topk

    top = brute_force_topk(df, query, k=shortlist)
    rows = (
        top.join(df.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = [r[0] for r in rows]
    vecs = [list(r[1]) for r in rows]
    picks = mmr_select(ids, vecs, list(query), k=k, lam=lam)
    spark = df.sparkSession
    sel = spark.createDataFrame(
        [(r, i) for r, i, _, _ in picks], schema="rank int, __sel_id long"
    )
    scored = df.join(F.broadcast(sel), F.col("vec_id") == F.col("__sel_id")).select(
        "rank",
        F.col("vec_id"),
        F.round(V.cosine_similarity("embedding", query), 6).alias("sim_q"),
        F.col("embedding").alias("__v"),
    )
    # max cosine to any HIGHER-ranked pick, recomputed engine-side: the
    # selected set is <= k rows, so the pair join is k x k broadcast
    pairs = scored.alias("a").join(
        F.broadcast(scored.select("rank", "__v").alias("b")),
        F.col("b.rank") < F.col("a.rank"),
    ).groupBy("a.rank").agg(
        F.max(
            F.round(V.cosine_similarity("a.__v", "b.__v"), 6)
        ).alias("max_prior_sim")
    )
    lam_l = F.lit(lam)
    return (
        scored.join(pairs, "rank", "left")
        .select(
            "rank",
            "vec_id",
            "sim_q",
            "max_prior_sim",
            (
                lam_l * F.col("sim_q")
                - (1 - lam_l) * F.coalesce("max_prior_sim", F.lit(0.0))
            ).alias("mmr_score"),
        )
        .orderBy("rank")
    )
