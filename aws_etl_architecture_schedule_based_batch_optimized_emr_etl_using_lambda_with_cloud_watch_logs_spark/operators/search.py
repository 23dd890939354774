"""Full-text relevance search over a document corpus (BM25) —
LLM-data-pipeline extension (targeted corpus inspection: "show me
the top docs for this phrase" is the first debugging tool of any
curation pipeline; no counterpart in the reference, whose ad-hoc
query surface is Athena SQL, SURVEY §2 C-G).

Shape: classic two-sided term statistics, entirely as DataFrame
aggregates — no inverted index is materialized because Spark's
shuffle IS the index build (a posting list is exactly the groupBy
key's row group):

1. term frequencies: one explode + one (doc, term) hash aggregate
   over the corpus — linear, map-combined;
2. document frequencies + idf: one further shrinking aggregate on
   the term;
3. the query side is tiny (terms of the query set) — broadcast
   equi-join onto the tf rows prunes the corpus to rows whose term
   appears in SOME query: the scan never scores what it cannot
   match;
4. BM25 accumulation per (query, doc) + top-k per query via
   TakeOrdered-style window rank.

At 100 TB the tf/df frames are reusable build artifacts: persist
them partitioned by term (build once, query many) and step 3
becomes a partition-pruned probe — same contract as the persisted
LSH index (operators/similarity.py).

Scores are rounded before ranking so the ranking (and the
tie-break on doc id) is reproducible bit-for-bit across engines —
the same determinism discipline as the engine's hash sampler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.frames import local_frame
from .dedup import tokens_col


def term_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(tf, meta): per-(doc, term) counts with doc length, and the
    one-row corpus meta (n_docs, avgdl). The tf frame is the
    persistable "index"."""
    tf = (
        docs.select(
            id_col, F.explode(tokens_col(text_col)).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    tf = tf.join(dl, id_col)
    meta = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return tf, meta


def term_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(tf, meta, df): the complete reusable index triple — the
    per-(doc, term) counts with doc length, the one-row corpus meta,
    and the vocabulary-sized document frequencies. Every retrieval
    entry point accepts this triple via its ``index=`` parameter, so
    a session (or a persisted-index deployment at 100 TB) builds the
    corpus explode + two aggregates ONCE and fans out to bm25 / PRF /
    RRF / TF-IDF; kernels are unchanged, so results are bit-identical
    to the build-inline path (test-pinned).

    Blank-document convention (deliberate, shared bit-for-bit with
    every DuckDB oracle): an empty/whitespace-only doc tokenizes to a
    single ``''`` term (``split('')`` semantics), so it carries dl=1
    and one tf row, counts in n_docs, and hashes into one embedding
    bucket. Queries NEVER contain ``''`` (``_query_terms`` filters
    it), so blank docs are unmatchable lexically; they shift only
    the global stats (n_docs/avgdl/df['']) — identically in both
    engines. Real pipelines drop blank docs upstream via the quality
    gates; changing the convention here would have to change the
    shared ``tok`` CTEs inside every pinned retrieval oracle in
    lockstep."""
    tf, meta = term_stats(docs, id_col, text_col)
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    return tf, meta, df_


def _query_terms(qtext: str) -> list[str]:
    """Query-side tokenization matching the corpus-side ``tokens_col``
    EXACTLY: Java's \\s is [ \\t\\n\\x0b\\f\\r] only, while Python's
    str.split() also splits on unicode whitespace (NBSP etc.) — a
    corpus term containing an NBSP could then never be matched by any
    query, even the byte-identical string."""
    import re

    return [t for t in re.split("[ \t\n\x0b\f\r]+", qtext.lower().strip()) if t]


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    topk: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Top-k documents per query under BM25 (Robertson/Sparck Jones
    idf, the Lucene ``ln(1 + (N-df+0.5)/(df+0.5))`` form). Queries
    are ``(query_id, text)`` pairs; scoring sums over the query's
    DISTINCT terms. Returns (query_id, rank, doc_id, score).
    ``index``: a prebuilt :func:`term_index` triple to reuse instead
    of rebuilding from ``docs``."""
    spark = docs.sparkSession
    tf, meta, df_ = (
        index if index is not None else term_index(docs, id_col, text_col)
    )

    q_terms = local_frame(
        spark,
        [
            (qid, t)
            for qid, qtext in queries
            for t in sorted(set(_query_terms(qtext)))
        ],
        "query_id string, term string",
    )
    scored = _bm25_score(tf, meta, df_, q_terms, k1, b, id_col)
    return _rank_topk(scored, topk, id_col)


def _bm25_score(
    tf: DataFrame,
    meta: DataFrame,
    df_: DataFrame,
    q_terms: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 accumulation for a (query_id, term) frame against the
    prebuilt tf/df index frames — shared by the literal-query path
    (:func:`bm25_topk`) and the data-dependent expanded-query path
    (:func:`prf_expand_topk`). Returns (query_id, id, score), score
    rounded before any ranking."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    # One broadcast probe per tf row, idf precomputed per TERM on the
    # broadcast side (r14 optimization round, guide §3.2/§2.3): the
    # old form probed TWO broadcast hash tables per tf row (q_terms,
    # then the df_q stats) and re-derived the idf log/divide chain
    # per (query, term, doc) JOIN ROW even though it only depends on
    # the term. Folding q_terms ⋈ df stats ⋈ meta into ONE
    # query-vocab-bounded build side with an _idf column makes the
    # corpus-sized stream pay one probe and one multiply per row.
    # Bit-exact by construction: inner-join associativity keeps the
    # row multiset (every tf term exists in df_), the tf stream
    # order — and therefore the per-(query, doc) sum order — is
    # unchanged, and _idf is the identical IEEE expression evaluated
    # on the same (df, n_docs) values, once per term instead of per
    # row.
    qdf = (
        df_.join(F.broadcast(q_terms), "term")
        .crossJoin(F.broadcast(meta))
        .withColumn("_idf", idf)
        .select("term", "query_id", "_idf", "avgdl")
    )
    return (
        tf.join(F.broadcast(qdf), "term")
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum(F.col("_idf") * tf_norm), 6).alias("score"))
    )


def _rank_topk(scored: DataFrame, topk: int, id_col: str) -> DataFrame:
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.col(id_col)
        )
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", id_col, "score")
    )


def prf_expand_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    topk: int = 5,
    fb_docs: int = 3,
    fb_terms: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM3 shape):
    run BM25, take each query's top ``fb_docs`` documents, harvest
    their ``fb_terms`` strongest terms (summed tf over the feedback
    docs, ties on the term — deterministic integers), expand the
    query with them, and re-score. Two passes over the SAME tf/df
    index frames — the corpus is scanned once to build them (or
    zero times with a prebuilt ``index``); the feedback frame is
    |Q|·fb_terms rows, broadcast into round two exactly like the
    literal terms. Both rounds round scores before ranking, so the
    final ranking is engine-reproducible."""
    spark = docs.sparkSession
    tf, meta, df_ = (
        index if index is not None else term_index(docs, id_col, text_col)
    )
    q_terms = local_frame(
        spark,
        [
            (qid, t)
            for qid, qtext in queries
            for t in sorted(set(_query_terms(qtext)))
        ],
        "query_id string, term string",
    )
    top1 = _rank_topk(
        _bm25_score(tf, meta, df_, q_terms, k1, b, id_col),
        fb_docs,
        id_col,
    ).select("query_id", id_col)
    fb_rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.desc("_w"), F.col("term").asc()
        )
    )
    fb = (
        top1.join(tf.select(id_col, "term", "tf"), id_col)
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("_w"))
        .withColumn("_r", fb_rank)
        .filter(F.col("_r") <= fb_terms)
        .select("query_id", "term")
    )
    # cut the expanded-query lineage (r13 optimization round):
    # q2's lineage contains the whole round-1 scoring + window
    # chain. Pre-r14, round 2 referenced q2 TWICE inside
    # _bm25_score (tf probe + df_q term filter — two different
    # broadcast subtrees, no exchange reuse) and each broadcast
    # build re-executed round 1; the r14 fused single-probe form
    # references it once, but the checkpoint stays: it still cuts
    # the analyzed round-2 plan to a leaf (the round-1 tree would
    # otherwise be re-inlined and re-analyzed inside round 2's
    # build side). |Q|·(query_terms + fb_terms) rows — metadata-
    # scale — materializing inside the broadcast build.
    q2 = (
        q_terms.unionByName(fb)
        .distinct()
        .localCheckpoint(eager=False)
    )
    return _rank_topk(
        _bm25_score(tf, meta, df_, q2, k1, b, id_col), topk, id_col
    )


def tfidf_keywords(
    docs: DataFrame,
    topk: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-document keyword extraction: the top-k terms by TF-IDF
    (ln-smoothed idf = ln((1+N)/(1+df)) + 1, sklearn's convention)
    — the tagging pass that labels corpus documents for routing and
    mixing reports. Reuses the BM25 index frames: one tf aggregate,
    one vocabulary-sized df aggregate joined back on the term key,
    one per-doc window. Scores are quantized to 1e-6 BEFORE ranking
    so the (score, term) order — and therefore the selected
    keywords — is engine-identical."""
    tf, meta, dfreq = (
        index if index is not None else term_index(docs, id_col, text_col)
    )
    score = F.round(
        (F.col("tf") / F.col("dl"))
        * (
            F.log(
                (F.lit(1.0) + F.col("n_docs"))
                / (F.lit(1.0) + F.col("df"))
            )
            + F.lit(1.0)
        ),
        6,
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(dfreq, ["term"])
        .crossJoin(F.broadcast(meta.select("n_docs")))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            id_col, F.col("rank").cast("int").alias("rank"), "term", "score"
        )
    )


def hashed_embeddings(
    docs: DataFrame,
    dim: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic hashed bag-of-words embedding: each token lands
    in an md5 bucket in [0, dim) (scoring.feature_bucket — the same
    engine-portable hash the classifier gate uses) and the vector is
    the INTEGER bucket-count array. Counts are kept un-normalized so
    downstream exact-integer scoring (similarity.local_topk_exact_int)
    is bit-reproducible across engines.

    One explode + one (id, bucket) map-side-combined aggregate + one
    per-id fold into the dense array — linear, expression-only."""
    from .scoring import feature_bucket

    toks = docs.select(
        id_col, F.explode(tokens_col(text_col)).alias("term")
    )
    counts = toks.groupBy(
        id_col, feature_bucket(F.col("term"), dim).alias("_b")
    ).agg(F.count(F.lit(1)).alias("_c"))
    m = F.map_from_entries(F.collect_list(F.struct("_b", "_c")))
    return counts.groupBy(id_col).agg(m.alias("_m")).select(
        id_col,
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), F.lit(dim - 1).cast("bigint")),
            lambda i: F.coalesce(F.element_at("_m", i), F.lit(0).cast("bigint")),
        ).alias("embedding"),
    )


def hash_retrieval_topk(
    docs: DataFrame,
    query_ids: list[int],
    k: int = 3,
    dim: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end lexical-vector retrieval: hash-embed the corpus,
    score every document against the query documents with the
    exact-integer Arrow kernel, rank top-k per query. The global rank
    runs over the kernel-reduced partitions × queries × k frame with
    the SAME (dot²/(na·nb) DESC, n_id) total order the kernel used,
    so results are deterministic — ties included — and identical to a
    reference engine's. ``sim`` is the cosine, rounded for display
    (the RANKING never touches the rounded value)."""
    from .similarity import local_topk_exact_int

    emb = hashed_embeddings(docs, dim=dim, id_col=id_col, text_col=text_col)
    scored = local_topk_exact_int(
        emb, query_ids, k, id_col=id_col, vec_col="embedding"
    )
    # cast BEFORE multiplying: the operands are exact bigints, and a
    # bigint product overflows int64 for high-norm count vectors
    # (sum-of-squares >= 2^31 — a book-length doc), silently wrapping
    # the ranking key; double(x)*double(y) is identical for all
    # in-range values (single rounding of exact inputs) and safe past
    # the overflow point
    skey = (
        F.col("dot").cast("double") * F.col("dot").cast("double")
    ) / (F.col("na").cast("double") * F.col("nb").cast("double"))
    w = Window.partitionBy("q_id").orderBy(skey.desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "n_id",
            "rank",
            F.round(
                # cast BEFORE the multiply: na*nb as raw bigint is
                # the exact int64 overflow the skey comment above
                # engineers against (r12 review find; the oracle SQL
                # already casts first)
                F.col("dot")
                / F.sqrt(
                    F.col("na").cast("double") * F.col("nb").cast("double")
                ),
                6,
            ).alias("sim"),
        )
    )


def hash_query_matrix(
    queries: list[tuple[str, str]], dim: int = 32
) -> "np.ndarray":
    """Driver-side hashed bag-of-words embedding of literal query
    strings — the SAME md5 bucket fold as ``scoring.feature_bucket``
    (first 32 bits of md5(token) mod dim), computed in plain Python
    because the queries are plan-time literals (a handful of rows,
    never data). Returns an int64 (n_queries × dim) count matrix."""
    import hashlib

    import numpy as np

    mat = np.zeros((len(queries), dim), dtype=np.int64)
    for i, (_, qtext) in enumerate(queries):
        for t in _query_terms(qtext):
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dim
            mat[i, b] += 1
    return mat


def hybrid_rrf_topk(
    docs: DataFrame,
    queries: list[tuple[str, str]],
    topk: int = 5,
    k_arm: int = 10,
    k_rrf: int = 60,
    dim: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (the standard
    two-arm RAG retriever): a LEXICAL arm (BM25 top-``k_arm``) and a
    VECTOR arm (hashed-BoW cosine top-``k_arm`` via the exact-integer
    Arrow kernel) are fused per (query, doc) as

        rrf = Σ_arm 1 / (k_rrf + rank_arm)

    (Cormack et al.'s RRF, k=60), missing-arm terms contributing 0.
    Both arm rankings are engine-reproducible by construction (BM25
    rounds scores before ranking; the vector arm's key is exact
    integer arithmetic), and the fused score is a sum of two doubles
    computed from INTEGER ranks by one division each — identical in
    any IEEE engine — so the fused ranking (rrf DESC, doc ASC) is
    bit-reproducible too.

    Plan shape: the two arms share the corpus scan lineage but are
    independent sub-plans (each linear: explode→agg for BM25,
    embed→one Arrow matmul pass for the vector arm); fusion is a
    full-outer join of two ≤ |Q|·k_arm frames — broadcast-sized, the
    corpus is never rescanned for fusion. Query vectors use ids
    DISJOINT from the corpus id space (negative) so the kernel's
    self-match exclusion never fires against a real document."""
    import numpy as np

    from .similarity import local_topk_exact_int_mat

    spark = docs.sparkSession
    lex = bm25_topk(
        docs, queries, topk=k_arm, id_col=id_col, text_col=text_col,
        index=index,
    ).select(
        "query_id",
        F.col(id_col).alias("_doc"),
        F.col("rank").alias("_rank_lex"),
    )

    emb = hashed_embeddings(docs, dim=dim, id_col=id_col, text_col=text_col)
    q_ids = -1 - np.arange(len(queries), dtype=np.int64)
    scored = local_topk_exact_int_mat(
        emb,
        q_ids,
        hash_query_matrix(queries, dim),
        k_arm,
        id_col=id_col,
        vec_col="embedding",
    )
    # cast BEFORE multiplying: the operands are exact bigints, and a
    # bigint product overflows int64 for high-norm count vectors
    # (sum-of-squares >= 2^31 — a book-length doc), silently wrapping
    # the ranking key; double(x)*double(y) is identical for all
    # in-range values (single rounding of exact inputs) and safe past
    # the overflow point
    skey = (
        F.col("dot").cast("double") * F.col("dot").cast("double")
    ) / (F.col("na").cast("double") * F.col("nb").cast("double"))
    wv = Window.partitionBy("q_id").orderBy(skey.desc(), F.col("n_id").asc())
    qmap = local_frame(
        spark,
        [(int(q_ids[i]), queries[i][0]) for i in range(len(queries))],
        "q_id bigint, query_id string",
    )
    vec = (
        scored.withColumn("_rank_vec", F.row_number().over(wv))
        .filter(F.col("_rank_vec") <= k_arm)
        .join(F.broadcast(qmap), "q_id")
        .select("query_id", F.col("n_id").alias("_doc"), "_rank_vec")
    )

    fused = lex.join(vec, ["query_id", "_doc"], "full_outer").withColumn(
        "_rrf",
        F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("_rank_lex")), F.lit(0.0))
        + F.coalesce(
            F.lit(1.0) / (F.lit(k_rrf) + F.col("_rank_vec")), F.lit(0.0)
        ),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("_rrf").desc(), F.col("_doc").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "rank",
            F.col("_doc").alias(id_col),
            F.round("_rrf", 6).alias("rrf"),
        )
    )


def mmr_rerank(
    cand: DataFrame,
    sims: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rel_col: str = "rel",
) -> DataFrame:
    """Maximal-marginal-relevance diversified reranking (Carbonell &
    Goldstein): greedily select k documents per query maximizing
    ``λ·rel − (1−λ)·max_sim(candidate, already-selected)``. The k
    selection rounds are statically unrolled — each round is an
    anti-join (drop selected), an inner join onto the candidate-pair
    similarity frame grouped to the running max, and a rank-1 pick;
    every frame is ≤ |Q|·n_candidates rows, so the unrolling costs
    driver-side plan size only, never data movement.

    Engine-reproducibility: ``rel`` must be pre-rounded (BM25 here),
    ``sim`` built from exact integers via one correctly-rounded sqrt
    and division (hashed-BoW cosine), and the MMR combination is two
    multiplies and a subtract evaluated identically in any IEEE
    engine — so the greedy choice sequence, ties included (broken on
    the doc id), is bit-identical to the oracle's.

    ``cand``: (query, id, rel); ``sims``: (query, id_a, id_b, sim),
    symmetric, no self-pairs. ``sims`` MAY be sparse/thresholded — a
    (candidate, selected) pair with no row scores max_sim = 0 (fully
    dissimilar), per the MMR definition — BUT a candidate with SOME
    sims rows against the selection takes the max over the rows it
    HAS (which may be negative); the missing-pair zero applies only
    when no pair exists at all, exactly as the previous join form
    (``coalesce(max(sim), 0)``) behaved. Returns
    (query, rank, id, mmr) with mmr rounded for display — ranking
    happens on the unrounded value.

    Execution (r13 optimization round, guide §2.4/§4.2): the greedy
    loop is PER-QUERY-sequential but cross-query-parallel, and both
    inputs are bounded by |Q|·n_candidates rows — so the whole
    selection runs as ONE cogrouped Arrow stage (group both frames by
    the query key, run the k rounds vectorized in numpy inside the
    task) instead of k statically-unrolled rounds of
    anti-join + semi-join + window + eager localCheckpoint. The
    unrolled form cost 2 + k eager jobs — each a cluster-wide barrier
    (measured 2.8 s of the gate's 2.9 s at sf0.1) — and its per-round
    checkpoints were the only thing keeping the re-referenced lineage
    from exploding (~3^k re-execution without them). The cogrouped
    form moves each query's ≤ n_candidates² sim rows exactly once
    through one exchange, needs no checkpoint at any |Q|, and scales
    out with the query set rather than serializing k global barriers.

    Bit-exactness is preserved: the kernel evaluates the same IEEE
    double expression tree Spark's codegen did — ``lam·rel`` (one
    multiply) in round 1, ``lam·rel − (1−lam)·max_sim`` (two
    multiplies, one subtract, constants computed identically in
    Python) afterwards — the running max over the selection is the
    same set-max the join+agg computed, and the argmax over the
    id-ascending candidate order reproduces the
    ``row_number() over (order by _mmr desc, id asc)`` pick, NaN
    ordering included (numpy argmax returns the first NaN; Spark
    sorts NaN greatest and breaks ties on the ascending id). Rounding
    stays in Spark (``F.round``), outside the kernel."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cand_types = {f.name: f.dataType for f in cand.schema.fields}
    out_schema = StructType(
        [
            StructField(query_col, cand_types[query_col]),
            StructField(id_col, cand_types[id_col]),
            StructField("rank", IntegerType()),
            StructField("mmr", DoubleType()),
        ]
    )
    lam64 = float(lam)
    # computed HERE (driver, Python float) exactly as the previous
    # form computed F.lit(1.0 - lam) — the same shipped constant
    one_m_lam = 1.0 - lam64
    empty = pd.DataFrame(columns=[query_col, id_col, "rank", "mmr"])

    def greedy(cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0:
            return empty
        # id-ascending candidate order makes argmax's first-max the
        # smallest-id tiebreak of the window form
        cdf = cdf.sort_values(id_col, kind="mergesort")
        # distinct-candidate contract ENFORCED (r14, advisor find):
        # the pre-kernel anti-join removed every copy of a picked id,
        # but the positional alive-mask would let a duplicated
        # (query, id) row be selected twice; gate inputs are distinct
        # by construction, so this is a no-op there
        cdf = cdf.drop_duplicates(subset=[id_col], keep="first")
        ids = cdf[id_col].to_numpy()
        rels = cdf[rel_col].to_numpy(dtype=np.float64)
        n = len(ids)
        kk = min(k, n)
        pos = {v: i for i, v in enumerate(ids.tolist())}
        # per selected-id lookup: candidate row indices + sims, built
        # once (sims rows whose id_a is not a candidate can never
        # score and are dropped, same as the previous inner probe)
        by_sel: dict = {}
        if sdf is not None and len(sdf):
            a_pos = sdf["id_a"].map(pos)
            sub = sdf[a_pos.notna()]
            # NULL sims arrive as NaN and np.maximum.at would
            # propagate NaN into the running max, poisoning the
            # candidate's mmr (first-NaN then WINS argmax) — the old
            # join form's max() ignored NULLs; match it (r14,
            # advisor find; gate sims are non-null by construction)
            sub = sub[sub["sim"].notna()]
            if len(sub):
                a_idx = sub["id_a"].map(pos).to_numpy(dtype=np.int64)
                svals = sub["sim"].to_numpy(dtype=np.float64)
                b_keys = sub["id_b"].to_numpy()
                order = np.argsort(b_keys, kind="stable")
                b_sorted = b_keys[order]
                bounds = np.flatnonzero(
                    np.r_[True, b_sorted[1:] != b_sorted[:-1], True]
                )
                for s, e in zip(bounds[:-1], bounds[1:]):
                    by_sel[b_sorted[s]] = (
                        a_idx[order[s:e]],
                        svals[order[s:e]],
                    )
        # running max over PRESENT (candidate, selected) pairs;
        # -inf marks "no pair yet" → scores as 0.0 (the MMR
        # missing-pair convention), while a present negative sim
        # stays the max of what exists — identical to
        # coalesce(max(sim), 0) over the grown selection
        msp = np.full(n, -np.inf)
        alive = np.ones(n, dtype=bool)
        picked_idx = []
        mmr_out = []
        for i in range(kk):
            if i == 0:
                mmr_vals = lam64 * rels
            else:
                ms_eff = np.where(np.isneginf(msp), 0.0, msp)
                mmr_vals = lam64 * rels - one_m_lam * ms_eff
            masked = np.where(alive, mmr_vals, -np.inf)
            p = int(np.argmax(masked))
            picked_idx.append(p)
            mmr_out.append(mmr_vals[p])
            alive[p] = False
            hit = by_sel.get(ids[p])
            if hit is not None:
                np.maximum.at(msp, hit[0], hit[1])
        qval = cdf[query_col].iloc[0]
        return pd.DataFrame(
            {
                query_col: [qval] * kk,
                id_col: ids[picked_idx],
                "rank": np.arange(1, kk + 1, dtype=np.int32),
                "mmr": np.asarray(mmr_out, dtype=np.float64),
            }
        )

    # the right side's key is RENAMED before grouping: cogroup
    # matches groups by key VALUE, and ``sims`` is routinely derived
    # from ``cand`` (same lineage), which would otherwise trip
    # Spark's ambiguous-self-join detection on the shared column
    out = (
        cand.select(query_col, id_col, rel_col)
        .groupBy(query_col)
        .cogroup(
            sims.select(
                F.col(query_col).alias("_mmr_q"), "id_a", "id_b", "sim"
            ).groupBy("_mmr_q")
        )
        .applyInPandas(greedy, out_schema)
    )
    return out.select(
        query_col, "rank", id_col, F.round("mmr", 6).alias("mmr")
    )
