"""Deduplication operators (SURVEY §2.M1/M2 — LLM-data-pipeline
extensions; no counterpart in the reference, which only has metadata
``distinct()`` at ``emr_json_parquet_schema_drift_etl.py:41,187``).

Execution split, chosen by measurement:

* Set algebra, joins, exact verification → JVM built-ins (hash
  aggregates, hash joins, ``array_intersect``) — Catalyst-planned,
  shuffle-aware.
* Per-document signature math (64 minhashes, 64-bit simhash votes)
  → ONE Arrow-batched ``mapInPandas`` pass with vectorized numpy.
  The all-JVM alternative (a 64-column hash aggregate, or 64
  ``array_min(transform(...))`` lambdas) was measured 10-40× slower
  *and unstable* (9-340 s run-to-run on identical input — wide
  generated methods fall out of JIT compilation), while the numpy
  kernel is a constant ~100 µs per Arrow batch. Signatures are
  deterministic (blake2b base hash + fixed multiply-shift mixing),
  independent of partitioning and session config.
"""

from __future__ import annotations

import re
from hashlib import blake2b

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup keeping the lowest id per key group.

    One hash aggregate (map-side combined) — the canonical 100 TB
    dedup: shuffle is on the dedup key, partial aggregation halves
    the shuffle volume, AQE coalesces the result.
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    )


def exact_dedup_rows(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Full-row variant: keep the first row per key — window
    row_number, single shuffle on the key. Deterministic ONLY when
    ``order_col`` is unique within each key group; among exact ties
    row_number picks an arbitrary survivor that can differ across
    runs/partitionings (pass a unique ordering column, as every
    caller in this repo does)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
    delimiter: str | None = None,
) -> DataFrame:
    """Paragraph-level exact dedup (the RefinedWeb/FineWeb recipe):
    drop REPEATED paragraphs corpus-wide — boilerplate headers,
    license blocks, navigation chrome — while keeping each document's
    first-occurrence content, then reassemble the cleaned documents.

    ``delimiter`` splits real corpora (e.g. ``"\\n\\n"``); when None,
    documents are segmented into fixed ``chunk_tokens``-token chunks
    (the fixtures carry no paragraph breaks). A paragraph occurrence
    survives iff it is the globally FIRST occurrence of that exact
    text, ordered by (doc id, position) — later copies anywhere in
    the corpus, including within the same document, are dropped.

    Output: (id, n_paragraphs, n_kept, cleaned_text).

    Scale shape — three linear shuffles, no pair explosion:
    paragraph explode (flat map), one window keyed on the paragraph
    text (balanced: key cardinality ~ distinct paragraphs; the
    heaviest key costs its own duplicate count, same bound as
    exact_dedup), and one reassembly aggregate keyed on the doc id
    (array_sort over ≤ doc-length structs, no per-doc window).
    """
    if delimiter is None:
        parts = F.split(F.trim(F.col(text_col)), r"\s+")
    else:
        # F.split takes a Java REGEX — quote the delimiter so '.',
        # '||', '\n\n' etc. all split literally. A literal \E inside
        # the delimiter would TERMINATE the quote early and leak the
        # remainder as live regex (r12 review find) — re-open the
        # quote around it, the java.util.regex.Pattern.quote rule.
        quoted = delimiter.replace("\\E", "\\E\\\\E\\Q")
        parts = F.split(F.col(text_col), "\\Q" + quoted + "\\E", -1)
    per_chunk = 1 if delimiter is not None else chunk_tokens
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.size(F.col("_parts")) / F.lit(per_chunk))
    ).cast("int")
    para = F.array_join(
        F.slice(
            F.col("_parts"), F.col("_i") * per_chunk + 1, per_chunk
        ),
        " " if delimiter is None else delimiter,
    )
    chunks = (
        df.select(F.col(id_col), parts.alias("_parts"))
        .select(
            F.col(id_col),
            F.col("_parts"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("_i"),
        )
        .select(F.col(id_col), F.col("_i"), para.alias("_p"))
    )
    rn = F.row_number().over(
        Window.partitionBy("_p").orderBy(F.col(id_col), F.col("_i"))
    )
    kept = chunks.withColumn("_keep", rn == 1)
    joiner = " " if delimiter is None else delimiter
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct(
                                    F.col("_i"), F.col("_p").alias("_t")
                                ),
                            )
                        )
                    ),
                    lambda s: s["_t"],
                ),
                joiner,
            ).alias("cleaned_text"),
        )
    )


# ---------------------------------------------------------- shingling


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokenization of a text column (lowercased)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(col)), r"\s+")


def ngrams_col(tokens: Column, n: int = 3) -> Column:
    """Word n-grams WITH multiplicity (one per position), built by
    iterated ``zip_with`` against the shifted array: O(n·tokens)
    work per row. The transform-over-sequence formulation
    (``slice(tokens, i, n)`` + ``concat_ws`` per index) re-walks the
    array per position — O(tokens²) — measured 5× slower on the
    boilerplate doc-frequency scan at sf0.1. Short docs (< n tokens)
    fall back to one whole-text gram."""
    if n == 1:
        return tokens
    size = F.size(tokens)
    acc = tokens
    for j in range(1, n):
        acc = F.zip_with(
            F.slice(acc, 1, size - j),
            F.slice(tokens, j + 1, size - j),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(size >= n, acc).otherwise(
        F.array(F.concat_ws(" ", tokens))
    )


def shingles_col(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (the set form of
    :func:`ngrams_col`; equivalence with the old transform+slice
    formulation was verified doc-by-doc at n=2 and n=3)."""
    return F.array_distinct(ngrams_col(tokens, n))


def jaccard_col(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return (inter / union).cast("double")


# ------------------------------------------------- exact n-gram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard ≥ threshold. O(n²) — this is the
    *correctness oracle* for the LSH path, usable at small scale only.
    At 100 TB use :func:`minhash_lsh_dedup` (candidates via banding,
    exact verify only on candidates)."""
    sh = df.select(
        F.col(id_col), shingles_col(tokens_col(text_col), n).alias("shingles")
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jaccard_col(F.col("a.shingles"), F.col("b.shingles")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------- candidate pairing


def bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_members: int | None = 1024,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs of ids sharing any bucket.

    ONE scan + one shuffle: group by bucket key, sort the member-id
    array, expand in-bucket combinations with array lambdas. The
    naive alternative — a banded-self-join — scans and recomputes the
    upstream (signature) stage twice and shuffles both sides.

    Giant-bucket guard (automatic): bucket keys are uniform hashes,
    so member arrays are tiny on real corpora — but a pathological
    corpus (thousands of identical docs) collapses into ONE bucket
    whose full expansion is O(m²) pairs materialized in a single
    task. Buckets larger than ``max_bucket_members`` therefore emit a
    STAR (min-member hub → every other member, O(m) pairs) instead
    of all combinations. For dedup purposes the star is
    connectivity-equivalent: every member still joins the hub's
    connected component, so cluster assignment and keep-one filtering
    are unchanged; only the exhaustive pair list is thinned, and only
    inside buckets so similar that LSH hashed them identically.
    ``max_bucket_members=None`` restores unconditional full
    expansion (the exhaustive-oracle mode).

    Caveat (precision of the equivalence claim): connectivity is
    preserved over the CANDIDATE pairs. A downstream exact-verify
    filter (minhash_lsh_dedup's Jaccard threshold) can fail the
    hub's pairs while a member-member pair would have passed — band
    collision needs only r matching minima, not threshold
    similarity — so above the cap, verified-pair recall can drop
    for hub-dissimilar members. The cap is a bounded-work guard
    against adversarial buckets, priced by the recall gates; set
    ``max_bucket_members=None`` where exact pair completeness
    matters more than the O(m²) bound.
    """
    members = (
        banded.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    full = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    if max_bucket_members is None:
        pairs = full
    else:
        star = F.transform(
            F.slice(F.col("ids"), 2, F.size(F.col("ids")) - 1),
            lambda y: F.struct(
                F.col("ids")[0].alias("id_a"), y.alias("id_b")
            ),
        )
        pairs = F.when(
            F.size("ids") <= F.lit(max_bucket_members), full
        ).otherwise(star)
    return (
        members.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------- minhash LSH


def _require_integral_id(df: DataFrame, id_col: str, op: str) -> None:
    """Plan-time fail-fast shared with signatures.combined_signatures:
    the Arrow kernels pack ids with np.int64 and declare LongType —
    a non-integral id would die executor-side mid-job with an opaque
    numpy/Arrow error instead of this clear TypeError."""
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"{op} requires an integral {id_col!r} (got {id_type}); "
            f"hash or dense-rank string ids first"
        )


_ASCII_WS_RE = re.compile(r"\s+", re.ASCII)


def _python_tokens(text: str | None) -> list[str]:
    """Python twin of :func:`tokens_col` (``split(lower(trim(s)),
    '\\s+')``), used inside Arrow batches. Matching the JVM exactly
    requires ASCII semantics: Java's ``\\s`` and SQL ``trim`` are
    ASCII-only, while Python's default ``str.split``/``strip`` treat
    unicode whitespace (NBSP etc.) as separators — a silent
    signature divergence on non-ASCII corpora otherwise.
    """
    # SQL trim strips only ' ' — but lower+split on \s+ makes the
    # practical difference only leading/trailing ASCII whitespace,
    # which yields an empty first/last token in BOTH engines when
    # not a plain space. Mirror Spark: trim spaces, then split.
    stripped = (text or "").strip(" ").lower()
    if stripped == "":
        return [""]
    return _ASCII_WS_RE.split(stripped)


def _python_shingles(text: str | None, n: int) -> set[str]:
    """Python twin of :func:`shingles_col`: distinct word n-grams,
    whole-text fallback for short docs."""
    toks = _python_tokens(text)
    if len(toks) >= n:
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return {" ".join(toks)}


def _hash64(s: str) -> int:
    """Deterministic 64-bit string hash (process- and
    partition-independent)."""
    return int.from_bytes(blake2b(s.encode(), digest_size=8).digest(), "little")


def jaccard_texts_pudf(n: int):
    """Arrow-batched exact n-gram Jaccard over raw text pairs.

    Used for candidate verification instead of
    ``jaccard_col(shingles_col(...), ...)``: Catalyst collapses the
    shingle higher-order expression through joins, so the column form
    re-derives the whole shingle construction (including a re-split
    per array element) for EVERY jaccard subterm of every pair —
    measured 60-500 s on 3.4k candidates where this kernel takes
    milliseconds. A Python UDF is a hard materialization boundary.
    """

    @F.pandas_udf("double")
    def _jacc(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ta, tb in zip(a, b):
            sa, sb = _python_shingles(ta, n), _python_shingles(tb, n)
            union = len(sa | sb)
            out.append(len(sa & sb) / union if union else 0.0)
        return pd.Series(out)

    return _jacc


def _mix_constants(num_hashes: int, seed: int = 0x5EED) -> tuple[np.ndarray, np.ndarray]:
    """Fixed multiply-shift constants: h_i(x) = A_i*x + B_i mod 2^64,
    A_i odd — a universal-style family over one 64-bit base hash."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 2**62, size=num_hashes).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 2**62, size=num_hashes).astype(np.uint64)
    return a, b


_BANDS_SCHEMA_FIELDS = [
    StructField("band", IntegerType(), False),
    StructField("band_hash", LongType(), False),
]


def _parallelize_narrow(df: DataFrame) -> DataFrame:
    """Ensure a narrow per-row stage can use the cluster: single-file
    inputs arrive as 1 partition, serializing the Arrow kernel onto
    one core. Repartition only when clearly under-parallel — at real
    scale inputs already have enough partitions and this is a no-op.
    """
    # Cap the fan-out: each concurrent python task costs a worker
    # process: one that has run a mapInPandas task holds 107 MB RSS,
    # 76 MB PSS, 46 MB of it private (measured on CPython 3.11,
    # pyspark 4.1). 8 ways saturates the per-doc kernels at local
    # scale without a worker storm.
    target = min(8, df.sparkSession.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _minhash_fold_doc(
    text: str | None,
    n: int,
    a_const: np.ndarray,
    b_const: np.ndarray,
    bands: int,
    rows_per_band: int,
    fold_mult: np.uint64,
) -> np.ndarray:
    """Per-doc minhash banding kernel: shingle → blake2b base hashes
    → multiply-add derived minima → per-band fold. Shared verbatim by
    :func:`minhash_bands` and the combined-signature pass so both
    paths are bit-identical by construction."""
    shingles = _python_shingles(text, n)
    base = np.fromiter(
        (_hash64(s) for s in shingles), dtype=np.uint64, count=len(shingles)
    )
    derived = base[:, None] * a_const[None, :] + b_const[None, :]
    sig = derived.min(axis=0)  # (num_hashes,)
    folded = np.zeros(bands, dtype=np.uint64)
    for r in range(rows_per_band):
        folded = folded * fold_mult + sig[r::rows_per_band][:bands]
    return folded.view(np.int64)


_SIMHASH_SHIFTS = np.arange(64, dtype=np.uint64)


def _simhash_doc(text: str | None) -> np.int64:
    """Per-doc 64-bit SimHash kernel (see :func:`simhash_df` for the
    scheme); shared by the single and combined signature passes."""
    toks = _python_tokens(text)
    if not toks:
        toks = [""]
    base = np.fromiter(
        (_hash64(t) for t in toks), dtype=np.uint64, count=len(toks)
    )
    bits = (base[:, None] >> _SIMHASH_SHIFTS[None, :]) & np.uint64(1)
    votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
    packed = ((votes > 0).astype(np.uint64) << _SIMHASH_SHIFTS).sum(
        dtype=np.uint64
    )
    return packed.astype(np.int64)


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
) -> DataFrame:
    """(id, band, band_hash) rows: the LSH banding of each document's
    minhash signature, computed per Arrow batch in numpy.

    Per batch: shingle each doc (python set ops), blake2b each
    distinct shingle once, derive all ``num_hashes`` hash functions
    with one (shingles × num_hashes) multiply-add, column-min →
    signature, fold ``rows_per_band`` minima per band into one
    64-bit band key. ~10 µs/doc, independent of session config —
    the equivalent 64-column JVM aggregate was 10-40× slower with
    9-340 s run-to-run JIT variance.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}); a remainder would silently drop hashes from "
            "the banding"
        )
    _require_integral_id(df, id_col, "minhash_bands")
    rows_per_band = num_hashes // bands
    a_const, b_const = _mix_constants(num_hashes)
    fold_mult = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd mix

    schema = StructType(
        [StructField(id_col, LongType(), False), *_BANDS_SCHEMA_FIELDS]
    )

    def gen(batches):
        band_idx = np.arange(bands, dtype=np.int32)
        for pdf in batches:
            ids, band_cols, hash_cols = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                folded = _minhash_fold_doc(
                    text, n, a_const, b_const, bands, rows_per_band, fold_mult
                )
                ids.append(np.full(bands, doc_id, dtype=np.int64))
                band_cols.append(band_idx)
                hash_cols.append(folded)
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids),
                        "band": np.concatenate(band_cols),
                        "band_hash": np.concatenate(hash_cols),
                    }
                )

    return _parallelize_narrow(df.select(id_col, text_col)).mapInPandas(
        gen, schema
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket_members: int | None = 1024,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash + LSH banding, exact-verified.

    Pipeline (one Arrow pass + two shuffles):
      1. per-doc signature + banding in numpy (``minhash_bands``),
      2. self-join on (band, band_hash) → candidate pairs (shuffle 1,
         hash join on uniformly-distributed keys — no skew),
      3. distinct candidates (shuffle 2) + exact Jaccard verify on
         the shingle sets — only candidates pay the verify cost.

    With b=32, r=2: P(candidate) = 1-(1-j²)^32 → ≈99.99% recall at
    j=0.5. At 100 TB: signatures are 32×8 bytes/doc, and the O(n²)
    blowup is confined to near-identical buckets — which
    ``bucket_pairs`` automatically caps to star pairing above
    ``max_bucket_members`` members, bounding per-task expansion to
    O(m) on adversarial corpora.

    ``banded`` injects a precomputed (id, band, band_hash) frame —
    e.g. a persisted :func:`signatures.combined_signatures` view — so
    a job that also needs other sketches pays ONE corpus Arrow pass.
    """
    if banded is None:
        banded = minhash_bands(
            df, id_col=id_col, text_col=text_col, n=n,
            num_hashes=num_hashes, bands=bands,
        )
    candidates = bucket_pairs(
        banded, ["band", "band_hash"], id_col,
        max_bucket_members=max_bucket_members,
    )

    # Exact verify only on candidates: join the raw texts back and
    # shingle in an Arrow batch (see jaccard_texts_pudf for why not
    # the column-expression form).
    t_a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    t_b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    jacc = jaccard_texts_pudf(n)
    return (
        candidates.join(t_a, "id_a")
        .join(t_b, "id_b")
        .select("id_a", "id_b", jacc(F.col("_ta"), F.col("_tb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        # one row per pair even when the CORPUS carries verbatim-
        # duplicated rows (the at-least-once ingestion-retry shape,
        # streaming-poison probe): a duplicated (id, text) row fans
        # out the verify join, not the candidate set — dedup on the
        # O(pairs) output, never a corpus-wide distinct
        .dropDuplicates(["id_a", "id_b"])
    )


# ------------------------------------------- incremental (band store)


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store_path: str,
    old_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket_members: int | None = 1024,
    update_store: bool = True,
    batch_id: int | None = None,
) -> DataFrame:
    """Near-dup pairs for an incoming batch against a PERSISTENT band
    store — the recompute-free growth path for a corpus that gains
    batches forever.

    One-shot :func:`minhash_lsh_dedup` re-signatures the whole corpus
    every run: O(corpus) Arrow work per batch, quadratic total over
    the corpus lifetime. Here the Arrow signature pass covers ONLY
    the new batch; historical signatures come from the parquet band
    store (O(docs × bands × 16 B) — tiny next to the corpus), and
    candidate generation is the same uniform-key bucket join:

      1. band the new docs (one Arrow pass over the batch),
      2. candidate pairs via :func:`bucket_pairs` over the union of
         the new bands and the stored bands RESTRICTED to buckets
         containing ≥1 new doc (a semi-join — O(matching buckets),
         not O(store)), filtered to pairs that touch a new doc;
         the giant-bucket guard therefore applies to new×old
         candidates exactly as it does in the one-shot path,
      3. exact-Jaccard verify on candidates only (texts from the
         new batch plus ``old_docs``, the historical corpus table),
      4. append the new bands to the store (the next batch's
         "old").

    Invariant (pinned in tests): running batches B1, B2, … through
    this and unioning the per-batch pairs yields exactly the pairs
    of a one-shot run over the full corpus while no bucket exceeds
    ``max_bucket_members`` — order of arrival does not change the
    answer. Old↔old pairs were already reported when those docs were
    new, so each run reports only pairs touching the incoming batch.
    When the star-pairing guard fires inside a giant bucket the
    per-batch union is a connectivity-equivalent superset of the
    one-shot star (the star hub can differ by arrival order), so
    cluster assignments still agree; exact pair-list equality is
    guaranteed only below the cap.

    ``update_store=False`` makes the call read-only (a dry-run
    audit). First contact (no store yet) degrades to the one-shot
    semantics on the batch alone.
    """
    spark = new_docs.sparkSession
    new_bands = minhash_bands(
        new_docs, id_col=id_col, text_col=text_col, n=n,
        num_hashes=num_hashes, bands=bands,
    ).persist()

    try:
        old_bands = spark.read.parquet(store_path)
        have_store = True
    except AnalysisException as exc:
        # ONLY "no committed store yet" is first contact: a missing
        # path, or a directory holding nothing durable (a crashed
        # first commit leaves _temporary only → UNABLE_TO_INFER_
        # SCHEMA). Anything else — CONFLICTING_DIRECTORY_STRUCTURES,
        # permission faults — must raise: degrading silently would
        # dedup the batch against itself only and permanently
        # under-report duplicates (the per-batch pairs are never
        # recomputed), same contract as the streaming corpus-sink
        # read (r12 review find: the bare catch swallowed them all).
        msg = str(exc)
        if not (
            "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            raise
        old_bands = None
        have_store = False
    if have_store:
        if batch_id is not None and "ingest_batch" in old_bands.columns:
            # a replayed micro-batch may find its OWN bands already
            # committed (crash after the store commit); treating them
            # as history would double-count bucket members against
            # the giant-bucket guard — partition-pruned filter
            old_bands = old_bands.filter(
                F.col("ingest_batch") != batch_id
            )
        # tolerate provenance columns a partitioned store adds (e.g.
        # the streaming path's ingest_batch) — band logic needs only
        # the new_bands schema. Outside the try: a SCHEMA-mismatched
        # store is corruption and must raise, not pass as "no store".
        old_bands = old_bands.select(*new_bands.columns)
        if old_docs is None:
            if old_bands.isEmpty():
                # A replayed FIRST batch (crash between its store
                # commit and the corpus-sink write) finds a store
                # holding ONLY its own partition: after the batch_id
                # filter there is no history at all, so this is
                # first contact, not an error — raising here put the
                # stream in a permanent crash loop on batch 0 (r12
                # review find).
                have_store = False
            else:
                # Without the historical texts the cross-batch
                # candidates cannot be verified; silently falling
                # back to batch-only dedup would skip every
                # new-vs-history pair while still growing the store —
                # the order-independence invariant would break
                # undetectably.
                raise ValueError(
                    "incremental_minhash_dedup: band store exists at "
                    f"{store_path!r} but old_docs was not provided — "
                    "pass the historical corpus frame (ids + texts) "
                    "so cross-batch candidates can be verified"
                )

    if have_store:
        new_buckets = new_bands.select("band", "band_hash").distinct()
        relevant = new_bands.unionByName(
            old_bands.join(new_buckets, ["band", "band_hash"], "left_semi")
        )
        new_ids = new_bands.select(F.col(id_col).alias("_nid")).distinct()
        all_pairs = bucket_pairs(
            relevant, ["band", "band_hash"], id_col,
            max_bucket_members=max_bucket_members,
        )
        # Keep only pairs touching the incoming batch — old↔old
        # pairs inside these buckets were reported when those docs
        # were new. Two semi-join probes against the tiny new-id
        # frame, unioned and deduped.
        cand_a = all_pairs.join(
            new_ids, F.col("id_a") == F.col("_nid"), "left_semi"
        )
        cand_b = all_pairs.join(
            new_ids, F.col("id_b") == F.col("_nid"), "left_semi"
        )
        candidates = cand_a.unionByName(cand_b).dropDuplicates(
            ["id_a", "id_b"]
        )
        texts = old_docs.select(id_col, text_col).unionByName(
            new_docs.select(id_col, text_col)
        )
    else:
        candidates = bucket_pairs(
            new_bands, ["band", "band_hash"], id_col,
            max_bucket_members=max_bucket_members,
        )
        texts = new_docs.select(id_col, text_col)

    t_a = texts.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    t_b = texts.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    jacc = jaccard_texts_pudf(n)
    pairs = (
        candidates.join(t_a, "id_a")
        .join(t_b, "id_b")
        .select(
            "id_a", "id_b", jacc(F.col("_ta"), F.col("_tb")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
        # duplicated (id, text) rows in the batch or the corpus sink
        # (at-least-once retries) fan out the verify join — dedup on
        # the O(pairs) output (see minhash_lsh_dedup)
        .dropDuplicates(["id_a", "id_b"])
    )
    # Materialize pairs BEFORE any append, so the returned frame
    # (lazy) can't double-count the batch against its own stored
    # bands if evaluated after the append — and so the band cache can
    # be released on BOTH paths (a dry-run audit loop would otherwise
    # pin one dead persisted frame per call for the session life).
    pairs = pairs.localCheckpoint(eager=True)
    if update_store:
        if batch_id is None:
            new_bands.write.mode("append").parquet(store_path)
        else:
            # Idempotent append for replayed micro-batches (the
            # foreachBatch recipe): the batch's bands live in their
            # own ingest_batch partition and a replay dynamically
            # OVERWRITES exactly that partition — a crash between
            # this commit and the caller's sink commit cannot
            # double-append bands.
            (
                new_bands.withColumn("ingest_batch", F.lit(batch_id))
                .write.option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest_batch")
                .mode("overwrite")
                .parquet(store_path)
            )
    new_bands.unpersist()
    return pairs


# ------------------------------------------------------------- simhash


def _signed_bit(i: int) -> int:
    # two's-complement value of bit i in a 64-bit long (bit 63 is
    # the sign bit — 1 << 63 overflows a JVM long otherwise)
    return (1 << i) - (1 << 64) if i == 63 else (1 << i)


def simhash_col(tokens: Column, bits: int = 64) -> Column:
    """64-bit SimHash of a token array, expression-only.

    Per bit i: sum over tokens of ±1 by whether bit i of
    ``xxhash64(token)`` is set; bit set in the output if the sum > 0.
    Builds 64 aggregate expressions at plan time — wide but flat
    (single project, no shuffle, no UDF). Prefer :func:`simhash_df`
    on large inputs (flat-codegen relational form).

    NOT signature-compatible with :func:`simhash_df`: this form
    hashes tokens with JVM ``xxhash64`` while the Arrow kernel uses
    blake2b, so the two produce unrelated bit patterns — never mix
    them within one store or comparison (Hamming distance across
    families is ~32 random bits). Pick one form per pipeline.
    """
    signed_bit = _signed_bit
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    bit_votes = [
        F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(signed_bit(i))) != 0, 1).otherwise(-1),
        )
        for i in range(bits)
    ]
    out = F.lit(0).cast("long")
    for i, vote in enumerate(bit_votes):
        out = out + F.when(vote > 0, F.lit(signed_bit(i)).cast("long")).otherwise(
            F.lit(0)
        )
    return out


def simhash_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document 64-bit SimHash, one Arrow pass.

    Per batch: hash each token (with multiplicity) to 64 bits, expand
    to a ±1 vote matrix ((tokens × 64) via vectorized bit shifts),
    column-sum, sign → packed int64. Same measured rationale as
    :func:`minhash_bands` — the 64-aggregate JVM form is slower and
    JIT-unstable."""
    _require_integral_id(df, id_col, "simhash_df")
    schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("simhash", LongType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            out_ids, out_hashes = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                out_ids.append(doc_id)
                out_hashes.append(_simhash_doc(text))  # wrap, not raise
            if out_ids:
                yield pd.DataFrame({id_col: out_ids, "simhash": out_hashes})

    return _parallelize_narrow(df.select(id_col, text_col)).mapInPandas(
        gen, schema
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ ``max_hamming``.

    Pigeonhole blocking: split 64 bits into ``max_hamming+1`` chunks —
    any pair within the radius agrees on ≥1 chunk, so the self-join
    runs per-chunk on chunk equality (uniform hash keys, no skew),
    then exact Hamming (bit_count of xor) filters.

    Shape note: this keeps the banded SELF-JOIN rather than
    :func:`bucket_pairs`-style grouped pair expansion — the members
    would have to be (id, simhash) structs, and struct
    collect_set/array_sort/nested-transform costs more than a second
    read of the signature frame. The signature frame IS persisted
    (MEMORY_AND_DISK) before the self-join so the corpus Arrow pass
    runs exactly once at any scale — it is 16 bytes/doc, far smaller
    than the corpus. The cache is released when the caller's action
    finishes via ``spark.catalog.clearCache()`` or session end; plan
    shape (one python stage, both join sides from cache) is pinned in
    tests.

    ``signatures`` injects a precomputed (id, simhash) frame (e.g. a
    persisted combined-signature view); when given, the caller owns
    its caching."""
    if not 0 <= max_hamming <= 63:
        # >63 would make chunk_bits 0: every chunk_val collapses to
        # 0 and the banded self-join degenerates to a full cartesian
        # product per chunk — fail fast
        raise ValueError(
            f"max_hamming must be in [0, 63], got {max_hamming}"
        )
    chunks = max_hamming + 1
    chunk_bits = 64 // chunks
    if signatures is None:
        sh = simhash_df(df, id_col=id_col, text_col=text_col).persist()
    else:
        sh = signatures

    def _chunk_val(i: int):
        shifted = F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
        if chunk_bits == 64:
            # max_hamming=0 (exact-simhash mode): the single chunk is
            # the whole signature; the (1<<64)-1 mask literal would
            # overflow a JVM long
            return shifted
        return shifted.bitwiseAND(F.lit((1 << chunk_bits) - 1))

    banded = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(*[_chunk_val(i) for i in range(chunks)])
        ).alias("chunk", "chunk_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------ dedup cluster graph


def _fits_one_task(df: DataFrame, row_bytes: Column) -> tuple[DataFrame, bool]:
    """Materialize ``df`` with an eager ``localCheckpoint`` and say
    whether it fits the single-task budget. Its size, ``sum(row_bytes)``,
    is an ``Observation`` riding the checkpoint job, so deciding adds
    no job. The budget is ``spark.sql.autoBroadcastJoinThreshold``: a
    frame small enough to ship to every executor is small enough for
    one task; -1 (broadcast off) keeps every input on the distributed
    path. Returns (the checkpointed frame, fits)."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    budget = conf.autoBroadcastJoinThreshold()
    size = Observation()
    ckpt = df.observe(size, F.sum(row_bytes).alias("bytes")).localCheckpoint()
    return ckpt, 0 <= (size.get["bytes"] or 0) <= budget


def _min_roots(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Min-root union-find over ``n`` nodes and the edges (a[i], b[i]),
    vectorized: every round hooks the larger root of each edge whose
    ends still differ under the smaller (``minimum.at``, so a root
    takes its smallest candidate), then compresses every path to its
    root. parent[i] <= i throughout, so the root a component ends on
    is its minimum node; each round retires at least one root."""
    parent = np.arange(n)
    while True:
        ra, rb = parent[a], parent[b]
        open_ = ra != rb
        if not open_.any():
            return parent
        np.minimum.at(
            parent, np.maximum(ra, rb)[open_], np.minimum(ra, rb)[open_]
        )
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _components_kernel(batches):
    """mapInArrow kernel for the single-task path of
    ``connected_components``: gathers every (src, dst) edge of its
    (one) partition and emits (doc_id, cluster_id) for every node,
    cluster_id = the minimum id of its component. Ids are sorted into
    dense indices (``np.unique``), so the min-index root is the min-id
    one. Like the distributed loop, a NULL end joins no edge and NULL
    is a node of its own, labelled NULL."""
    src, dst = [], []
    for b in batches:
        src.append(b.column(0))
        dst.append(b.column(1))
    if not src:
        return
    id_type = src[0].type
    src, dst = pa.concat_arrays(src), pa.concat_arrays(dst)
    both = pc.and_(src.is_valid(), dst.is_valid())
    ids = np.unique(
        np.concatenate(
            [
                src.drop_null().to_numpy(zero_copy_only=False),
                dst.drop_null().to_numpy(zero_copy_only=False),
            ]
        )
    )
    roots = _min_roots(
        len(ids),
        np.searchsorted(ids, src.filter(both).to_numpy(zero_copy_only=False)),
        np.searchsorted(ids, dst.filter(both).to_numpy(zero_copy_only=False)),
    )
    cols = [pa.array(ids, id_type), pa.array(ids[roots], id_type)]
    if src.null_count or dst.null_count:
        cols = [pa.concat_arrays([c, pa.nulls(1, id_type)]) for c in cols]
    table = pa.table(cols, names=["doc_id", "cluster_id"])
    yield from table.to_batches(max_chunksize=65_536)


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components of the near-dup pair graph. Returns
    (doc_id, cluster_id) for every node that appears in ``pairs``;
    cluster_id = min node id in the component. Ids keep the pair
    columns' (common) type.

    The edge frame is checkpointed once, its size observed on that
    job (``_fits_one_task``). Within the budget and with integral ids,
    ONE executor task runs a min-root union-find over all edges
    (``_components_kernel``) and its output is checkpointed: two Spark
    jobs on a checkpointed input, whatever the diameter.

    Above the budget (or with non-integral ids) the distributed loop
    runs: min-label propagation WITH pointer jumping — each round a
    node takes the min of (its label, its neighbors' labels, its
    label's label). The neighbor step alone needs diameter rounds —
    a length-d dup chain would need d iterations; the label-of-label
    shortcut doubles the effective propagation distance per round, so
    convergence is O(log diameter) (a 64-node path converges in ~7
    rounds, test-pinned). Convergence detector: the global label sum,
    strictly decreasing while any label can improve.

    Each round is two joins + one shuffle of the (tiny relative to
    the corpus) edge/label frames. ``localCheckpoint`` truncates the
    iterative lineage so the plan doesn't grow per round; on a
    cluster with a checkpoint dir, ``checkpoint`` would make rounds
    restartable. The PER-ROUND checkpoint is LAZY (``eager=False``)
    so it materializes inside the convergence-sum collect that
    immediately follows — one Spark job per round instead of two
    (the ``bpe._train`` idiom; r13 optimization round, guide §1.2
    "remove unnecessary passes"). The two INIT checkpoints are EAGER
    again (r14): lazy, they chained (labels derives from sym) and
    both materialized inside the first convergence collect in one
    job — the form on which the driver's 32-core bench regressed
    knn_components_docs 0.78×; the r14 interleaved A/B at local[32]
    read init-eager ≤ all-lazy in 3 of 4 reps (min 3.42 vs 3.52 s,
    medians 4.1 vs 4.5 s) with the in-loop fusion retained.
    """
    edges = pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # the union's widened type (int + bigint -> bigint), as the
    # distributed loop's node column has it
    id_type = edges.select("src").union(edges.select("dst")).schema[0].dataType
    edges, fits = _fits_one_task(
        edges.select(F.col("src").cast(id_type), F.col("dst").cast(id_type)),
        # two ids as the kernel holds them (int64)
        F.lit(16),
    )
    if fits and isinstance(id_type, IntegralType):
        return (
            edges.coalesce(1)
            .mapInArrow(
                _components_kernel,
                StructType(
                    [
                        StructField("doc_id", id_type),
                        StructField("cluster_id", id_type),
                    ]
                ),
            )
            .localCheckpoint()
        )
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    # decimal(38,0) sum: raw 64-bit ids summed in a LongType
    # aggregate overflow int64 at ~1e9 nodes of large ids — an
    # ARITHMETIC_OVERFLOW crash under ANSI mode at exactly the scale
    # this operator targets (r12 review find)
    _lbl_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(_lbl_sum).collect()[0][0]
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr, labels.node == nbr.src, "left_outer")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("cand"),
            )
        )
        jump = labels.select(
            F.col("node").alias("j_node"), F.col("label").alias("j_label")
        )
        labels = (
            stepped.join(jump, stepped.cand == jump.j_node, "left_outer")
            .select(
                "node",
                F.least(
                    F.col("cand"), F.coalesce("j_label", F.col("cand"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(_lbl_sum).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    test_fraction: float = 0.1,
) -> DataFrame:
    """Contamination-aware train/test split: near-duplicate documents
    NEVER straddle the boundary. A hash split on the raw doc id
    leaks — a test doc's near-copy lands in train and the eval
    overstates generalization — so the split key is the near-dup
    CLUSTER id (connected components over ``pairs``; docs in no pair
    are their own singleton cluster), and the whole cluster goes
    wherever its deterministic Bernoulli sends it.

    Output: (id, cluster_id, split∈{train,test}). By construction
    every cluster is entirely on one side — the gate's oracle checks
    the assignment doc-by-doc, and ``COUNT(DISTINCT split) = 1`` per
    cluster is a trivially provable invariant of the plan (split is
    a function of cluster_id alone).

    Scale shape: the CC label frame is O(docs-in-pairs) ≪ corpus;
    the join back is one shuffle on the id; the split itself is a
    pure filter expression (same engine-reproducible hash as the
    samplers)."""
    from .mixing import keep_fraction_expr

    clusters = connected_components(pairs, src_col, dst_col)
    return (
        df.select(F.col(id_col))
        .join(
            clusters.withColumnRenamed("doc_id", id_col), [id_col], "left"
        )
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .withColumn(
            "split",
            F.when(
                keep_fraction_expr("cluster_id", test_fraction),
                F.lit("test"),
            ).otherwise(F.lit("train")),
        )
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.5,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup cluster assignment: MinHash+LSH pairs → connected
    components. The canonical keep-one-per-cluster filter is then a
    ``doc_id == cluster_id`` predicate (cluster_id is the min member,
    so exactly one survivor per cluster).

    NOTE the deliberate looser default ``threshold=0.5`` vs the pair
    operators' 0.8: transitive closure already merges borderline
    chains, and cluster consumers (leakage-safe splits, topical
    grouping) want the RECALL side of the trade — callers deduping
    for deletion should pass the stricter pair threshold explicitly
    (the driver gate does)."""
    pairs = minhash_lsh_dedup(
        df, id_col=id_col, text_col=text_col, n=n,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        banded=banded,
    )
    return connected_components(pairs, "id_a", "id_b")
