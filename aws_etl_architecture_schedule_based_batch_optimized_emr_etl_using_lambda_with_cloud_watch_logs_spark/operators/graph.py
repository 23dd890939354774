"""Similarity-graph analytics over document embeddings — LLM-data-
pipeline extension (no counterpart in the reference, whose query
surface is Athena SQL over flat tables, SURVEY §2 C–G; graph signals
— "which documents sit at the center of a near-duplicate / topical
neighborhood" — are a standard curation lever: PageRank-weighted
sampling and kNN-graph community pruning both need exactly these two
primitives).

Two operators:

1. :func:`knn_edges_exact_int` — the exact k-nearest-neighbor edge
   list over INTEGER count vectors (hashed bag-of-words, the same
   engine-portable embedding the retrieval gates use). Scoring stays
   entirely JVM-side: the integer dot product is a ``zip_with`` +
   ``aggregate`` expression inside whole-stage codegen, and the
   ranking key ``dot²/(na·nb)`` is one correctly-rounded double
   division of exact int64-in-double values — so the TOTAL ORDER
   (key DESC, dst ASC) is bit-reproducible across engines, ties
   included (same determinism contract as
   ``similarity.local_topk_exact_int``).

   The pair join is the documented O(n²) exact baseline, meant for
   node sets that are a bounded sample/slice of the corpus (the gate
   samples one document in five). The 100 TB path for a FULL-corpus
   graph is candidate blocking — LSH multi-table buckets
   (``similarity.cosine_near_dup_pairs``) or IVF cells
   (``similarity.ivf_topk``) bound the pair fan-out to bucket-local
   joins; the exact variant here is their truth side, exactly as the
   ANN recall gates are structured.

2. :func:`pagerank` — power iteration with a fixed, statically
   unrolled iteration count (deterministic plan, no driver-side
   convergence loop). Per iteration: one hash join of ranks onto the
   edge list keyed by src + one map-side-combined aggregate on dst —
   both linear in |E|, the textbook Pregel schedule expressed as
   DataFrame ops. Dangling mass: nodes with zero OUT-degree
   contribute their rank mass uniformly (the standard correction),
   carried as a 1-row broadcast aggregate per iteration, never a
   collect. At scale, pre-partitioning edges and ranks on the same
   key makes every iteration's join co-located (one shuffle per
   iteration for the dst aggregate is inherent to PageRank).

All frames are expression-only: zero Python stages, zero collects
(the node count and dangling mass ride as broadcast 1-row frames).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.frames import local_frame


def _banded_rows(
    base: DataFrame,
    tables: list[list[list[float]]],
    biases: list[list[float]],
    n_probes: int = 0,
) -> DataFrame:
    """Mean-centered multi-table sign-hash banding in ONE Arrow pass
    that emits the rows already exploded and ID-ONLY: (_gid, tbl,
    bucket, probe), one row per (vector, table, probe) — vectors do
    NOT ride the banded rows (a vector would be serialized
    tables·(1+probes) times through Arrow; consumers re-join ids to
    the narrow corpus frame after candidate dedup instead). Bucket =
    sign(W·x − W·μ) bit-packed per table — the
    ``similarity.multitable_bucket_pudf`` hash family with the
    hyperplanes biased to the corpus centroid (see knn_edges_lsh
    docstring for why count vectors need this).

    ``n_probes`` > 0 additionally emits, per (vector, table), the
    single-bit flips of the ``n_probes`` LOWEST-MARGIN planes
    (smallest |W·x − W·μ|) tagged probe=1..n_probes — multi-probe
    LSH (Lv et al., VLDB'07): a true neighbor whose hash differs
    only on a near-boundary plane is recovered by probing the
    adjacent bucket, WITHOUT adding hash tables. Consumers use probe
    rows on the QUERY side of the candidate join only (probe=0
    filters the candidate side), so the join stays bucket-local and
    the row blow-up is the linear factor (1 + n_probes).

    Emitting exploded rows from the kernel (instead of an
    array<long> column + posexplode) matters twice: Catalyst's
    project-into-generator collapse DOUBLE-evaluated the udf around
    the explode (2 evals × 2 join branches = 4 Arrow stages, seen in
    the plan audit), and the generator itself is a second pass over
    the banded frame. One kernel, one pass, one Arrow node per
    consumer branch."""
    import pandas as pd

    from pyspark.sql.types import (
        LongType as _LT,
        StructField,
        StructType,
    )

    mats = np.asarray(tables, dtype=np.float64)  # (L, planes, dim)
    offs = np.asarray(biases, dtype=np.float64)  # (L, planes)
    n_planes = mats.shape[1]
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    n_tables = mats.shape[0]
    n_probes = min(n_probes, n_planes)
    reps = 1 + n_probes  # rows emitted per (vector, table)
    schema = StructType(
        [
            StructField("_gid", _LT(), False),
            StructField("tbl", _LT(), False),
            StructField("bucket", _LT(), False),
            StructField("probe", _LT(), False),
        ]
    )

    def band(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_gvec"]]
            )
            proj = np.einsum("nd,lpd->nlp", mat, mats)
            margins = proj - offs[None, :, :]  # (n, L, planes)
            bks = (margins > 0) @ weights  # (n, L)
            n = len(pdf)
            # (n, L, reps): original bucket then the n_probes
            # lowest-|margin| single-bit flips, XOR of that plane's
            # weight. kind='stable' so exactly-tied |margin| planes
            # keep index order across numpy versions (default
            # quicksort is not stable — tied planes could swap probe
            # order and change the emitted edge set).
            all_bks = np.empty((n, n_tables, reps), dtype=np.int64)
            all_bks[:, :, 0] = bks
            if n_probes:
                order = np.argsort(
                    np.abs(margins), axis=2, kind="stable"
                )
                for j in range(n_probes):
                    all_bks[:, :, j + 1] = bks ^ weights[
                        order[:, :, j]
                    ]
            per_vec = n_tables * reps
            yield pd.DataFrame(
                {
                    "_gid": np.repeat(
                        pdf["_gid"].to_numpy(dtype=np.int64), per_vec
                    ),
                    "tbl": np.tile(
                        np.repeat(
                            np.arange(n_tables, dtype=np.int64), reps
                        ),
                        n,
                    ),
                    "bucket": all_bks.reshape(-1),
                    "probe": np.tile(
                        np.arange(reps, dtype=np.int64), n * n_tables
                    ),
                }
            )

    return base.select("_gid", "_gvec").mapInPandas(band, schema)


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int64 array columns — pure
    expression (zip_with + aggregate), whole-stage-codegen'd. Exact
    in int64 for hashed-BoW counts (values ≪ 2^31)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def knn_edges_exact_int(
    vecs: DataFrame,
    k: int = 5,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact kNN edge list (src, dst, rank) over integer count
    vectors under the squared-cosine key dot²/(na·nb) — see module
    docstring for the determinism and scale contract. Self-pairs are
    excluded; every node with ≥k peers gets out-degree exactly k."""
    base = vecs.select(
        F.col(id_col).alias("_gid"), F.col(vec_col).alias("_gvec")
    ).withColumn("_gn2", int_dot(F.col("_gvec"), F.col("_gvec")))
    a = base.select(
        F.col("_gid").alias("src"),
        F.col("_gvec").alias("_va"),
        F.col("_gn2").alias("_na"),
    )
    b = base.select(
        F.col("_gid").alias("dst"),
        F.col("_gvec").alias("_vb"),
        F.col("_gn2").alias("_nb"),
    )
    dot = int_dot(F.col("_va"), F.col("_vb"))
    pairs = (
        a.join(b, F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            (
                # cast operands, not products: bigint dot*dot / na*nb
                # overflow int64 for high-norm count vectors; the
                # double form is bit-identical in range (single
                # rounding of exact inputs)
                (dot.cast("double") * dot.cast("double"))
                / (
                    F.col("_na").cast("double")
                    * F.col("_nb").cast("double")
                )
            ).alias("_skey"),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("_skey").desc(), F.col("dst").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "rank")
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 8,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    dangling: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list, ``n_iter`` statically
    unrolled power-iteration steps (see module docstring for the
    plan shape). Returns (id, pr) for every node appearing as src or
    dst; ranks sum to 1 when ``dangling=True`` OR when the graph has
    no zero-out-degree node (the kNN-graph case: every node is a src).
    With ``dangling=False`` on a graph that DOES contain dangling
    nodes, their mass leaks every iteration and the total deflates —
    nothing asserts the precondition (that would cost an extra
    aggregate per call), so callers on arbitrary edge lists should
    pass ``dangling=True``.

    ``dangling=False`` (the kNN-graph case: every node is a src with
    out-degree ≥1, so no node loses mass) keeps each iteration to a
    SINGLE reference of the previous ranks frame — the unrolled plan
    grows linearly in ``n_iter``. ``dangling=True`` adds the uniform
    redistribution of zero-out-degree mass; that needs the ranks
    frame twice per step (mass aggregate + contribution join), which
    would nest the logical plan exponentially, so each iteration is
    cut with an eager ``localCheckpoint`` (tiny rank frames; at real
    scale this is the standard iterate-and-checkpoint Pregel
    schedule).

    The update, written identically in the DuckDB oracle so the two
    engines differ only in float SUM order (≤ a few ulp, absorbed by
    the gate's 6-decimal rounding)::

        pr'(v) = (1-d)/n + d * (Σ_{u→v} pr(u)/outdeg(u) [+ dangle/n])
    """
    # cut the edge lineage ONCE (r13 optimization round, lazy so no
    # job fires at construction): the edge frame is referenced by the
    # node set, the out-degree aggregate AND every one of the n_iter
    # unrolled contribution joins — without the cut the caller's edge
    # lineage (for the kNN gate, the whole exact-kNN pair join) is
    # re-inlined into the analyzed tree once per reference, and
    # analysis cost dominated the gate's wall at toy SF. Caching the
    # edge list is also the standard schedule for iterative graph
    # algorithms at scale — it is read n_iter times.
    edges = edges.select(
        F.col(src).alias(src), F.col(dst).alias(dst)
    ).localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    outdeg = edges.groupBy(F.col(src).alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # (id, outdeg|null, _n) — null outdeg marks a dangling node. The
    # 1-row node-count frame is attached ONCE here (r13 optimization
    # round): the previous form crossJoined it inside every unrolled
    # iteration, which cost nothing at execution (ReusedExchange) but
    # re-grew the analyzed tree by a broadcast subtree per step —
    # plan construction/analysis was over half the gate's wall at toy
    # SF. Same expressions, same values, 8 fewer crossJoin nodes.
    node_deg = (
        nodes.join(outdeg, "id", "left")
        .crossJoin(
            F.broadcast(nodes.agg(F.count(F.lit(1)).alias("_n")))
        )
    )

    ranks = node_deg.select(
        "id", "outdeg", "_n", (F.lit(1.0) / F.col("_n")).alias("pr")
    )
    e = edges.select(F.col(src).alias("id"), F.col(dst).alias("_to"))
    for _ in range(n_iter):
        if dangling:
            ranks = ranks.localCheckpoint()
            dangle_mass = F.broadcast(
                ranks.agg(
                    F.coalesce(
                        F.sum(
                            F.when(F.col("outdeg").isNull(), F.col("pr"))
                        ),
                        F.lit(0.0),
                    ).alias("_dangle")
                )
            )
        contrib = (
            e.join(ranks, "id")
            .groupBy(F.col("_to").alias("id"))
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("_c"))
        )
        base = F.lit(1.0 - damping) / F.col("_n")
        carried = F.coalesce(F.col("_c"), F.lit(0.0))
        if dangling:
            carried = carried + F.col("_dangle") / F.col("_n")
        nxt = node_deg.join(contrib, "id", "left")
        if dangling:
            nxt = nxt.crossJoin(dangle_mass)
        ranks = nxt.select(
            "id",
            "outdeg",
            "_n",
            (base + F.lit(damping) * carried).alias("pr"),
        )
    return ranks.select("id", "pr")


def knn_edges_lsh(
    vecs: DataFrame,
    k: int = 5,
    id_col: str = "id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket_candidates: int | None = 256,
    n_probes: int = 2,
) -> DataFrame:
    """The 100 TB path for FULL-CORPUS kNN graphs: multi-table
    sign-LSH candidate blocking (OR-construction — a pair is a
    candidate if it shares a bucket in ANY table), then the exact
    integer rerank of :func:`knn_edges_exact_int` applied only to
    bucket-local candidates. Adaptive plane count like
    ``similarity.cosine_near_dup_pairs`` but targeting occupancy 64
    (ceil(log2(n/64)) clamped to [2, 16]) — kNN recall needs larger
    buckets than near-dup pair detection, where occupancy 32 is
    enough because any shared band suffices (round-9 measurement at
    sf0.1: occupancy 32 recalled 0.85 with 2 probes where occupancy
    64 recalled 0.94). Expected bucket occupancy — and therefore the
    per-bucket candidate join — stays roughly constant as the corpus
    grows, so total candidate volume grows near-linearly instead of
    n². Approximate: a true neighbor sharing no bucket is missed
    (recall quantified against the exact edges in the pytest suite);
    out-degree is ≤ k (< k when a node's candidate set is small).

    Two guards the 25× scale probe flushed out (hashed-BoW count
    vectors are NOT centered Gaussian embeddings):

    * **Centered hyperplanes** — count vectors live in the positive
      orthant and, on low-entropy corpora, cluster tightly, so
      through-origin sign hashes put nearly everything on the same
      side of every plane (few giant buckets, quadratic join). The
      hyperplanes are biased by the corpus mean — sign(W·x − W·μ) —
      which is the same hash family re-centered where the data
      actually is; candidate recall is unaffected (rerank is exact).
      μ is one 1-row aggregate (bounded metadata collect).
    * **Capped candidate pool** — a clone-heavy corpus (every doc
      with many near-identical siblings) legitimately concentrates
      whole clone clusters into shared buckets in EVERY table; the
      per-bucket CANDIDATE side is capped to a deterministic
      hash-ranked ``max_bucket_candidates`` subset, bounding join
      work to rows·cap (linear) while every node still probes. With
      a cap ≫ k, dropped candidates are overwhelmingly tie-ranked
      clones of kept ones.

    Plus multi-probe (Lv et al., VLDB'07), which the round-9
    tie-aware recall measurement forced: at sf0.1 the plain recall
    was 0.67 and the tie-adjusted recall was IDENTICAL — the misses
    were not tie swaps but true neighbors landing in no shared
    bucket in any of 8 tables (cap=None changed nothing; 16 tables
    only reached 0.79). The query side therefore also probes, per
    table, the ``n_probes`` adjacent buckets obtained by flipping
    the lowest-|margin| planes (the bits most likely to disagree
    between near neighbors); the candidate side stays single-bucket
    (probe=0), so the join is still bucket-local and the candidate
    volume grows only by the constant (1 + n_probes). Measured at
    sf0.1 (1000 nodes, tie-dense 31-word-type fixture, 8 tables):
    0.67 → 0.85 with n_probes=2 at occupancy 32, → 0.944 with the
    occupancy-64 planes, 1.0 at sf0.01 — at ~3× the (linear)
    candidate join volume.
    """
    import math

    from .similarity import _lsh_tables

    # The narrow (id, vec, n2) projection is referenced five times
    # (plane-count sizing, corpus mean, banding kernel, and the two
    # vector fetches for the unique candidate pairs) — cut it once so
    # the upstream lineage (e.g. the hashed-BoW embed's tokenize +
    # aggregate) executes once, not per reference. At cluster scale
    # this pins exactly the projection an ANN build would persist
    # anyway. eager=False: no Spark job fires at operator-construction
    # time — the checkpoint materializes only when the returned plan
    # actually executes (constructing-but-not-consuming the frame is
    # free).
    base = (
        vecs.select(
            F.col(id_col).alias("_gid"), F.col(vec_col).alias("_gvec")
        )
        .withColumn("_gn2", int_dot(F.col("_gvec"), F.col("_gvec")))
        .localCheckpoint(eager=False)
    )
    if n_planes is None:
        # occupancy-64 target with a floor of 2 (not near-dup's 6:
        # that floor over-partitions small node sets — 100 nodes into
        # 64 buckets/table left ~1.6 members/bucket and top-5 recall
        # collapsed to 0.25; see the docstring for why kNN wants
        # double near-dup's occupancy-32)
        n_corpus = base.count()
        n_planes = min(
            16, max(2, math.ceil(math.log2(max(2.0, n_corpus / 64))))
        )
    first = base.select(F.size("_gvec").alias("d")).first()
    if first is None:
        # empty input (upstream filter/sample produced zero rows):
        # return an empty edge frame instead of subscripting None
        return local_frame(
            base.sparkSession, [], "src bigint, dst bigint, rank int"
        )
    dim = first["d"]
    # Corpus mean as ONE posexplode → (dim) hash-aggregate expression
    # (the similarity.py centroid idiom), not dim separate avg()
    # columns: at real embedding dims (1-4k) a per-dim fan-out is
    # thousands of aggregate expressions in a single plan, which
    # Catalyst accepts but analyzes/codegens slowly. This form stays
    # one expression at any dim; the shuffle after map-side combine
    # is dim rows. The collect is 1 row of dim doubles (bounded
    # metadata, same as before).
    mu_row = (
        base.select(
            F.posexplode(
                F.expr("transform(_gvec, x -> cast(x AS double))")
            ).alias("_mdim", "_mv")
        )
        .groupBy("_mdim")
        .agg(F.avg("_mv").alias("_m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_mdim", "_m"))),
                lambda s: s["_m"],
            ).alias("_mu")
        )
        .first()
    )
    mu = [float(x) for x in mu_row["_mu"]]
    tables = _lsh_tables(dim, n_planes, n_tables, seed)
    biases = [
        [sum(w * m for w, m in zip(plane, mu)) for plane in tbl]
        for tbl in tables
    ]
    # The candidate join runs on ID-ONLY banded rows and dedups the
    # (src, dst) pairs BEFORE any vector work: a pair sharing
    # buckets in several tables/probes used to have its 32-dim
    # integer dot evaluated once per co-occurrence (up to
    # tables·(1+probes) times) — the round-9 bench caught that as
    # the dominant cost. Ids-only rows also keep the (tbl, bucket)
    # shuffle narrow; the vectors are fetched by two id joins
    # against the corpus frame only for the unique pairs.
    banded = _banded_rows(base, tables, biases, n_probes=n_probes)
    a = banded.select(F.col("_gid").alias("src"), "tbl", "bucket")
    b = banded.filter(F.col("probe") == 0).select(
        F.col("_gid").alias("dst"), "tbl", "bucket"
    )
    if max_bucket_candidates is not None:
        wb = Window.partitionBy("tbl", "bucket").orderBy(
            F.xxhash64("dst"), F.col("dst")
        )
        b = (
            b.withColumn("_bpos", F.row_number().over(wb))
            .filter(F.col("_bpos") <= max_bucket_candidates)
            .drop("_bpos")
        )
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )
    va = base.select(
        F.col("_gid").alias("src"),
        F.col("_gvec").alias("_va"),
        F.col("_gn2").alias("_na"),
    )
    vb = base.select(
        F.col("_gid").alias("dst"),
        F.col("_gvec").alias("_vb"),
        F.col("_gn2").alias("_nb"),
    )
    dot = int_dot(F.col("_va"), F.col("_vb"))
    pairs = (
        cand.join(va, "src")
        .join(vb, "dst")
        .select(
            "src",
            "dst",
            (
                # cast operands, not products: bigint dot*dot / na*nb
                # overflow int64 for high-norm count vectors; the
                # double form is bit-identical in range (single
                # rounding of exact inputs)
                (dot.cast("double") * dot.cast("double"))
                / (
                    F.col("_na").cast("double")
                    * F.col("_nb").cast("double")
                )
            ).alias("_skey"),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("_skey").desc(), F.col("dst").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "rank")
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 3,
    src: str = "src",
    dst: str = "dst",
    rank_col: str = "rank",
) -> DataFrame:
    """Deterministic hash-driven random walks over a RANKED edge list
    (the kNN graph): from every source node, ``walk_len`` steps; at
    step ``i`` standing on node ``v`` the walker takes the edge with
    rank ``1 + hash32((v mod 2³²)·1000003 + i) mod outdeg(v)`` — the
    node2vec-style positive-pair sampler (walk co-occurrences are the
    positive pairs for embedding training), made ENGINE-REPRODUCIBLE
    by replacing the RNG with the repo's portable 32-bit multiplier
    hash (mixing.hash32_expr; exact under ANSI for any bigint id).

    Plan: ``walk_len`` statically chained hash joins on the edge key
    (src, rank) — each step is one broadcast/hash join + projection,
    linear in nodes, no shuffle growth per step beyond the join
    itself; at scale the edge frame is the persisted kNN index,
    bucketed by src so every step is a co-located probe. Returns
    (start, step, node) — step 0 rows are omitted (trivially the
    start node).
    """
    from .mixing import hash32_expr

    deg = edges.groupBy(F.col(src).alias("_wv")).agg(
        F.count(F.lit(1)).alias("_wdeg")
    )
    e = edges.select(
        F.col(src).alias("_wsrc"),
        F.col(dst).alias("_wdst"),
        F.col(rank_col).alias("_wrank"),
    )
    cur = deg.select(F.col("_wv").alias("start"), F.col("_wv").alias("cur"))
    steps = []
    for i in range(1, walk_len + 1):
        pick = F.lit(1) + F.pmod(
            # fold cur to 32 bits BEFORE the multiply (hash32_expr
            # folds its INPUT, but cur*1000003 itself overflows int64
            # for ids >= ~9.2e12); identical for all ids < 2^32
            hash32_expr(
                F.pmod(F.col("cur"), F.lit(1 << 32)) * F.lit(1000003)
                + F.lit(i)
            ),
            F.col("_wdeg"),
        )
        stepped = (
            cur.join(deg, F.col("cur") == F.col("_wv"))
            .withColumn("_wpick", pick)
            .join(
                e,
                (F.col("cur") == F.col("_wsrc"))
                & (F.col("_wpick") == F.col("_wrank")),
            )
            .select("start", F.col("_wdst").alias("cur"))
        )
        steps.append(
            stepped.select(
                "start",
                F.lit(i).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
        cur = stepped
    out = steps[0]
    for s in steps[1:]:
        out = out.union(s)
    return out


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED closure of a
    directed edge list (the standard clustering/community-density
    signal). Classic ordered wedge-close plan:

    1. symmetrize + orient: keep each undirected edge once as
       (a < b) — halves the join fan-out and makes every triangle
       countable exactly once as a < b < c;
    2. wedges: self-join oriented edges on the middle vertex
       ((a,b) ⋈ (b,c), a < b < c);
    3. close: hash-join wedges against the oriented edge set on
       (a, c).

    On a kNN graph the degree is bounded by 2k, so wedges ≤ |V|·(2k)²
    and the whole plan is linear in nodes — the scale-correct shape
    (no unbounded skew; a power-law graph would first cap degrees,
    the standard Cohen trick). All-integer, so engine-exact. Returns
    (id, n_triangles) for EVERY node in the graph, zeros included."""
    a, b = F.col(src), F.col(dst)
    und = edges.select(
        F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
    ).filter(F.col("a") != F.col("b")).distinct()
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y")
    tri = wedges.join(
        und,
        (F.col("x") == F.col("a")) & (F.col("z") == F.col("b")),
    ).select("x", "y", "z")
    member = tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
    counts = member.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    nodes = (
        edges.select(a.alias("id")).union(edges.select(b.alias("id")))
        .distinct()
    )
    return nodes.join(counts, "id", "left").select(
        "id",
        F.coalesce("n_triangles", F.lit(0).cast("bigint")).alias(
            "n_triangles"
        ),
    )
