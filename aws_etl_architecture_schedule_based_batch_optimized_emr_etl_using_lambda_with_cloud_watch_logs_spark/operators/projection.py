"""Random-projection dimensionality reduction (Achlioptas-style
sign JL) — LLM-data-pipeline extension. High-dimensional embedding
columns are expensive to shuffle, index, and brute-force; the
standard pre-step for ANN/clustering at scale is projecting to a
few dozen dimensions with a random ±1 matrix, which preserves
pairwise distances to (1±ε) w.h.p. (Johnson-Lindenstrauss).

Spark-native formulation with NO stored matrix: entry (j, k) of the
projection is ``sign(md5(k:j))`` — derived from the engine-portable
hash, so every executor (and every engine) regenerates the same
matrix from the two dimensions alone; nothing is broadcast or
persisted, and the projection of a row is reproducible forever.

    proj_k(v) = Σ_j q(v_j) · s(j,k)     s ∈ {−1, +1}

with ``q`` the 1e-6 integer quantization of the component — the
per-term products are exact integers, so each output component is
an exact integer sum: partitioning-invariant and byte-identical to
the SQL oracle (float folds would depend on summation order).
Everything is ``zip_with``/``aggregate`` higher-order expressions —
JVM codegen, no Python, one scan, zero shuffle.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.frames import local_frame


def _sign(j: int, k: int) -> int:
    """±1 from the first byte of md5("k:j") — tiny host-side helper
    used to BUILD the literal sign vectors; the hash is the same
    engine-portable md5 the SQL twin evaluates, precomputed here
    because the matrix is (d_in × d_out) small and constant."""
    h = hashlib.md5(f"{k}:{j}".encode()).hexdigest()
    return 1 if int(h[:2], 16) % 2 == 0 else -1


def sign_matrix(d_in: int, d_out: int) -> list[list[int]]:
    """The full ±1 matrix as plain literals: column k is
    ``[_sign(j, k) for j in range(d_in)]``."""
    return [[_sign(j, k) for j in range(d_in)] for k in range(d_out)]


def rp_project(
    df: DataFrame,
    d_in: int,
    d_out: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project ``vec_col`` (length ``d_in``) to ``d_out`` quantized
    components ``p0..p{d_out-1}`` (exact integer sums of
    ±quantized-component terms; divide by 1e6·√d_out for the
    JL-scaled float form).

    r06 form: ONE Arrow ``mapInPandas`` pass — quantize each batch
    to int64 and multiply by the ±1 sign matrix with a single
    ``(batch × d_in) @ (d_in × d_out)`` int64 matmul. Integer
    arithmetic is exact in both numpy and the JVM, so the output is
    byte-identical to the previous data-side form (posexplode →
    broadcast join → pivot) while removing its d_in-fold row
    explosion and the groupBy/pivot SHUFFLE entirely: the
    projection is now a narrow map — measured 1.1 s → 0.1 s at
    sf0.1, and at 100 TB it pipelines into whatever consumes it
    with no exchange. (A column-expression fold was rejected
    earlier for plan-size reasons — ~2 s of driver analysis per
    call at d_out=32; the history matters because all three forms
    are semantically identical, integer-exact, and oracle-pinned by
    the same SQL twin.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    signs = np.array(sign_matrix(d_in, d_out), dtype=np.int64).T  # (d_in, d_out)

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # Dirty-input contract (matches the earlier posexplode/
            # pivot form, ADVICE r06): a null or wrong-length vector
            # contributes NO output row — np.stack on a ragged batch
            # would otherwise kill the whole job.
            # isfinite too: a NaN/inf component passes the
            # length/None test but astype(int64) on NaN yields
            # platform garbage (-2^63 on x86) — every projected
            # output for the row would be enormous wrong integers
            # emitted silently, where the SQL twin propagates NULL
            ok = np.fromiter(
                (
                    v is not None
                    and len(v) == d_in
                    and np.isfinite(
                        np.asarray(v, dtype=np.float64)
                    ).all()
                    for v in pdf[vec_col]
                ),
                dtype=bool,
                count=len(pdf),
            )
            if not ok.all():
                pdf = pdf[ok]
                if len(pdf) == 0:
                    continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            p = mat * 1e6
            # HALF_UP (away from zero), matching JVM/DuckDB ROUND —
            # np.rint would be half-even and could differ at an
            # exact .5 product
            q = (np.sign(p) * np.floor(np.abs(p) + 0.5)).astype(
                np.int64
            )  # (batch, d_in)
            out = q @ signs  # exact int64 (|q| ≤ ~1e6·d_in per term)
            res = pd.DataFrame({id_col: pdf[id_col].to_numpy()})
            for k in range(d_out):
                res[f"p{k}"] = out[:, k]
            yield res

    schema = StructType(
        [StructField(id_col, LongType(), False)]
        + [StructField(f"p{k}", LongType(), True) for k in range(d_out)]
    )
    return df.select(id_col, vec_col).mapInPandas(project, schema)


def scalar_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Per-dimension scalar quantization (SQ8): map each float
    component to an integer code in [0, 2^bits) using the corpus
    per-dimension min/max — the standard memory-bandwidth lever for
    vector search at scale (8-bit codes cut the scan bytes 4× vs
    float32; FAISS's SQ8 / Lucene's int8 HNSW use exactly this
    shape). Returns ``(codes_df, stats_df)``:

    * codes_df — (id, qvec array<int>), code = floor((v − mn_i)·L /
      (mx_i − mn_i)) clamped to [0, L], L = 2^bits − 1. Constant
      dimensions (mx = mn) code to 0.
    * stats_df — ONE row holding the sorted (pos, mn, mx) struct
      array; broadcast wherever codes are dequantized. Reconstruct
      with :func:`dequantize_col`; |v − v̂| < (mx−mn)/L per dim.

    Plan shape: one posexplode aggregate for the stats (map-side
    combined, 2·d values), then a broadcast cross join + one
    ``transform`` over the vector — no shuffle of the corpus, no
    Python. Codes are exact integers (floor of deterministic double
    arithmetic), so quantization is reproducible across engines and
    partitionings."""
    levels = (1 << bits) - 1
    stats = (
        df.select(F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mn", "mx"))
            ).alias("_st")
        )
        # ONE row, but computing it scans the corpus (posexplode
        # aggregate) — persist so the codes frame and every
        # dequantize consumer reuse it instead of re-scanning.
        # Lifecycle caller-owned (see lm.py note): a single
        # d-struct row, LRU-evictable, clearCache() reclaims it.
        .persist()
    )

    def _code(x, i):
        st = F.element_at(F.col("_st"), i + 1)
        mn, mx = st.getField("mn"), st.getField("mx")
        raw = F.floor(
            (x.cast("double") - mn) * F.lit(float(levels)) / (mx - mn)
        )
        return (
            F.when(mx == mn, F.lit(0))
            .otherwise(F.least(F.lit(levels), F.greatest(F.lit(0), raw)))
            .cast("int")
        )

    codes = (
        df.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.transform(F.col(vec_col), _code).alias("qvec"),
        )
    )
    return codes, stats


def dequantize_col(qvec: Column, st: Column, bits: int = 8) -> Column:
    """Reconstruct the float vector from SQ codes + the stats struct
    array: v̂_i = mn_i + code_i · (mx_i − mn_i)/L (midpointless floor
    convention, matching :func:`scalar_quantize`)."""
    levels = float((1 << bits) - 1)

    def _deq(c, i):
        s = F.element_at(st, i + 1)
        mn, mx = s.getField("mn"), s.getField("mx")
        return mn + c.cast("double") * (mx - mn) / F.lit(levels)

    return F.transform(qvec, _deq)


def _pq_codebooks(
    sample: "np.ndarray", m: int, kc: int, n_iter: int = 8, seed: int = 13
) -> "np.ndarray":
    """Per-subspace Lloyd k-means on a driver-side sample →
    (m, kc, d/m) codebooks. Deterministic: fixed seed init, fixed
    iteration count, empty clusters keep their previous centroid.
    Codebooks are metadata-scale (m·kc·(d/m) = kc·d floats)."""
    import numpy as np

    n, d = sample.shape
    sub_d = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, kc, sub_d))
    for j in range(m):
        sub = sample[:, j * sub_d : (j + 1) * sub_d]
        cent = sub[rng.choice(n, size=min(kc, n), replace=False)].copy()
        if len(cent) < kc:  # degenerate tiny sample: pad by repeat
            cent = np.resize(cent, (kc, sub_d))
        for _ in range(n_iter):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kc):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def pq_encode_pudf(codebooks: "np.ndarray"):
    """PQ encoder: per vector, the nearest-centroid id in each
    subspace — (m,) int codes, one Arrow pass, vectorized per
    subspace. 8×16 codebooks compress a 64-d float32 vector 32×
    (8 nibbles vs 256 bytes) — the FAISS-IVFPQ memory lever."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType

    books = np.asarray(codebooks)
    m, kc, sub_d = books.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            sub = mat[:, j * sub_d : (j + 1) * sub_d]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(
                axis=2
            )
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return _enc


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 100,
    m: int = 8,
    kc: int = 16,
    sample_size: int = 512,
    n_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the FAISS-PQ scale path alongside LSH/IVF/RP/SQ8:

    * TRAIN per-subspace codebooks on a bounded driver-side sample
      (the only corpus data that leaves executors);
    * ENCODE every corpus vector to m nibble codes in one Arrow pass
      (the 32× memory-bandwidth lever: the ADC scan reads codes, not
      floats);
    * SEARCH: each query precomputes (m × kc) dot and norm² tables
      against the codebooks — scoring a corpus vector is m table
      lookups, no float vector touched — local top-``shortlist`` per
      Arrow batch (the same partitions×|Q|×shortlist reduction as
      every kernel here, no full scored frame shuffles);
    * RERANK the shortlist with exact float cosine (JVM expression)
      and return the top-k.

    Approximation error comes only from the codebook reconstruction;
    recall is quantified against the exact top-k by the gate/pytest
    (same contract as the other ANN paths)."""
    import numpy as np

    from .similarity import non_null_vecs

    # NULL embeddings have no geometry: exclude before the driver-side
    # codebook sample (np.stack dies on a None row) and the encode pass
    embeddings = non_null_vecs(embeddings, vec_col)
    sample_rows = (
        embeddings.select(vec_col)
        .orderBy(F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    sample = np.stack(
        [np.asarray(r[0], dtype=np.float64) for r in sample_rows]
    )
    if sample.shape[1] % m != 0:
        # training/encode would silently drop the tail dimensions
        # and the query reshape would crash after the expensive
        # encode pass — fail fast like rp_project/minhash do on
        # analogous misconfiguration
        raise ValueError(
            f"pq_topk requires dim % m == 0 (dim={sample.shape[1]}, "
            f"m={m}); pad the vectors or pick a divisor m"
        )
    books = _pq_codebooks(sample, m, kc, n_iter=n_iter, seed=seed)
    enc = pq_encode_pudf(books)
    codes = embeddings.select(
        F.col(id_col).alias("n_id"), enc(F.col(vec_col)).alias("codes")
    )

    q_rows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    if not q_rows:
        raise ValueError("no query vectors found for the given ids")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    sub_d = q_mat.shape[1] // m
    # (Q, m, kc) dot tables and (m, kc) centroid norm² table
    dt = np.einsum(
        "qjd,jcd->qjc",
        q_mat.reshape(len(q_mat), m, sub_d),
        books,
    )
    nt = (books**2).sum(axis=2)
    q_norms = np.linalg.norm(q_mat, axis=1)
    bc = embeddings.sparkSession.sparkContext.broadcast(
        (q_ids, dt, nt, q_norms)
    )

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("q_id", LongType(), False),
            StructField("n_id", LongType(), False),
            StructField("adc", DoubleType(), True),
        ]
    )

    def score(batches):
        bq_ids, bdt, bnt, bqn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["n_id"].to_numpy(dtype=np.int64)
            cmat = np.stack(
                [np.asarray(c, dtype=np.int64) for c in pdf["codes"]]
            )  # (n, m)
            cols = np.arange(cmat.shape[1])
            n2 = bnt[cols, cmat].sum(axis=1)  # (n,)
            denom = np.sqrt(np.maximum(n2, 1e-12))
            for qi, qid in enumerate(bq_ids):
                dots = bdt[qi][cols, cmat].sum(axis=1)  # (n,)
                adc = dots / (denom * bqn[qi])
                keep = np.nonzero(ids != qid)[0]
                if keep.size == 0:
                    continue
                kk = min(shortlist, keep.size)
                top = keep[np.argpartition(-adc[keep], kk - 1)[:kk]]
                yield pd.DataFrame(
                    {"q_id": qid, "n_id": ids[top], "adc": adc[top]}
                )

    short = codes.mapInPandas(score, out_schema).select("q_id", "n_id")

    # exact float rerank of the shortlist, JVM-side
    from pyspark.sql import Window

    from .similarity import cosine_col

    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    full = embeddings.select(
        F.col(id_col).alias("n_id"), dvec.alias("_fn")
    )
    spark = embeddings.sparkSession
    qf = local_frame(
        spark,
        [(int(q_ids[i]), [float(x) for x in q_mat[i]]) for i in range(len(q_ids))],
        f"q_id bigint, _fq array<double>",
    )
    rer = (
        short.join(full, "n_id")
        .join(F.broadcast(qf), "q_id")
        .select(
            "q_id",
            "n_id",
            cosine_col(F.col("_fq"), F.col("_fn")).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("n_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank")
    )
