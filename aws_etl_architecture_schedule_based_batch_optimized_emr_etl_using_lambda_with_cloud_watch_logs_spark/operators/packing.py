"""Sequence packing (LLM-data-pipeline extension): assign documents
to fixed-token-budget training sequences so the trainer reads dense
batches instead of one padded example per document.

Partition-local greedy first-fit in doc-id order: deterministic
(explicit hash repartition + sortWithinPartitions), shuffle-free
beyond the one repartition, and sequential only over the tiny
(doc_id, n_tokens) metadata frame — the text itself never moves.
Packs never span partitions; the loss vs a global optimum is bounded
by one partial pack per partition, negligible at real partition
sizes. Documents longer than the budget get a singleton pack with
``oversize=true`` (the trainer's truncation policy owns those).

Invariants (gate-checkable): every document appears exactly once;
multi-doc packs sum to ≤ ``max_tokens``; token totals are conserved.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from ..functions.frames import local_frame
from .dedup import tokens_col

PACK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("pack_id", LongType(), False),
        StructField("oversize", BooleanType(), False),
    ]
)


# Greedy packing is a sequential per-partition loop over (doc_id,
# n_tokens) rows; this bounds how many rows one task chews through.
# Loss vs a global pack is ≤ one partial pack per partition, so more
# partitions trade a negligible density loss (n_partitions packs out
# of ~n_docs·avg_tokens/max_tokens) for linear speedup.
_DOCS_PER_PACK_PARTITION = 50_000_000


def pack_sequences(
    df: DataFrame,
    max_tokens: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, pack_id, oversize) — ``pack_id`` is the
    first doc_id placed in the pack (globally unique because packs
    are disjoint doc sets).

    ``n_partitions=None`` (default) derives the fan-out from the
    corpus size — ceil(n_docs / 50M), floor 8 — via one metadata-only
    count (column-pruned to the id; the packing pass re-scans the
    same metadata anyway). Pass an explicit value to skip the count
    or pin a layout."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        # NULL text counts as the empty document (1 token, like "").
        # Unguarded, size(split(NULL)) is NULL → NaN in the Arrow
        # batch, and NaN poisons the greedy state: budget_left -= NaN
        # sticks at NaN and every later comparison is False, so the
        # partition collapses into one unbounded pack.
        F.size(tokens_col(F.coalesce(F.col(text_col), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )
    if n_partitions is None:
        n_docs = toks.count()
        n_partitions = max(8, -(-n_docs // _DOCS_PER_PACK_PARTITION))
    parted = toks.repartition(n_partitions, "doc_id").sortWithinPartitions(
        "doc_id"
    )

    def greedy(batches):
        # state persists across Arrow batches of the same partition:
        # a pack may span batch boundaries but never partitions.
        pack_id, budget_left = None, 0
        for pdf in batches:
            ids, nts, packs, oversize = [], [], [], []
            for doc_id, n_tokens in zip(pdf["doc_id"], pdf["n_tokens"]):
                if n_tokens > max_tokens:
                    ids.append(doc_id)
                    nts.append(n_tokens)
                    packs.append(doc_id)
                    oversize.append(True)
                    continue
                if pack_id is None or n_tokens > budget_left:
                    pack_id, budget_left = doc_id, max_tokens
                ids.append(doc_id)
                nts.append(n_tokens)
                packs.append(pack_id)
                oversize.append(False)
                budget_left -= n_tokens
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "n_tokens": nts,
                        "pack_id": packs,
                        "oversize": oversize,
                    }
                )

    return parted.mapInPandas(greedy, PACK_SCHEMA)


def packing_invariants(packed: DataFrame, max_tokens: int) -> DataFrame:
    """One-row invariant summary an independent engine can pin:
    (n_docs, total_tokens) are corpus facts; the two flags assert the
    packing is well-formed (multi-doc packs within budget; every doc
    packed exactly once → totals conserved by construction)."""
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("pack_tokens"),
        F.count("*").alias("n_docs_in_pack"),
    )
    pack_ok = per_pack.agg(
        F.min(
            F.when(
                (F.col("n_docs_in_pack") > 1)
                & (F.col("pack_tokens") > max_tokens),
                0,
            ).otherwise(1)
        ).alias("_packs_ok")
    )
    totals = packed.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("doc_id").alias("_n_distinct"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return totals.crossJoin(pack_ok).select(
        "n_docs",
        "total_tokens",
        # min over zero packs is NULL; an empty corpus is vacuously
        # well-formed on both engines (the oracle pins TRUE)
        F.coalesce(F.col("_packs_ok") == 1, F.lit(True)).alias(
            "packs_within_budget"
        ),
        (F.col("n_docs") == F.col("_n_distinct")).alias("docs_packed_once"),
    )


def pack_boundaries(packed: DataFrame) -> DataFrame:
    """Per-pack trainer manifest: the ordered doc list and the token
    BOUNDARY offsets inside each packed sequence — the contract a
    trainer needs to build block-diagonal attention masks (tokens
    must not attend across document boundaries within a pack).

    Docs within a pack are ordered by doc_id (the greedy packer
    assigns in doc_id order, so this reproduces placement order);
    ``boundaries[i]`` is the END offset of doc i, with the last
    boundary equal to the pack's token total. One shuffle on
    pack_id; the per-pack sort is bounded by docs-per-pack (≤
    max_tokens / min-doc-len), never the corpus."""
    per = packed.groupBy("pack_id").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "n_tokens"))
        ).alias("_docs")
    )
    # single O(n) running-total fold (a transform-over-slice form
    # re-sums a prefix per element — O(n²) per pack, which bites
    # when max_tokens/min-doc-len is large)
    ends = F.expr(
        """
        aggregate(
          _docs,
          struct(CAST(0 AS BIGINT) AS run,
                 CAST(array() AS ARRAY<BIGINT>) AS ends),
          (acc, x) -> struct(acc.run + x.n_tokens AS run,
                             array_append(acc.ends,
                                          acc.run + x.n_tokens) AS ends),
          acc -> acc.ends)
        """
    )
    # total_tokens derives from the ALIASED boundaries column in a
    # second projection: higher-order folds are CodegenFallback (no
    # subexpression elimination), so naming `ends` twice in one
    # select evaluates the O(docs-per-pack) fold twice per row.
    # CollapseProject keeps the two-step form because the alias is
    # referenced more than once above it.
    return per.select(
        "pack_id",
        F.size("_docs").alias("n_docs"),
        F.transform(F.col("_docs"), lambda d: d["doc_id"]).alias("doc_ids"),
        ends.alias("boundaries"),
    ).withColumn("total_tokens", F.element_at(F.col("boundaries"), -1))


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping sliding-window chunking (the RAG / long-context
    preprocessing step): split each document into ``chunk_size``-token
    windows advancing by ``stride`` tokens (overlap = size − stride),
    so retrieval-time context never loses a span to a hard boundary.

    Chunk i covers tokens [i·stride, i·stride + size), for
    i < n_chunks = ceil((n − size)/stride) + 1 (one chunk when
    n ≤ size) — i.e. windows advance until one REACHES the document
    end; no extra window starts past n − size, so the final chunk is
    the only possibly-shorter one and every token is covered
    (property-tested). Output:
    (id, chunk_id, start_token, n_tokens, chunk_text) — chunk count
    and offsets are a pure function of the token count, so the
    trainer/indexer can locate any chunk without re-reading.

    Scale shape: one ``sequence``+``explode`` fan-out (plan-time,
    no UDF), no shuffle at all — chunking is embarrassingly parallel
    and stays in whole-stage codegen; downstream embed/index stages
    consume the chunk table directly."""
    if stride <= 0 or stride > chunk_size:
        raise ValueError("need 0 < stride <= chunk_size")
    toks = tokens_col(text_col)
    n = F.size(F.col("_toks"))
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.ceil((n - chunk_size) / F.lit(stride)) + 1
    ).cast("int")
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            F.col(id_col),
            F.col("_toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            (F.col("chunk_id") * stride).cast("bigint").alias("start_token"),
            F.least(
                F.lit(chunk_size),
                F.size(F.col("_toks")) - F.col("chunk_id") * stride,
            )
            .cast("bigint")
            .alias("n_tokens"),
            F.array_join(
                F.slice(
                    F.col("_toks"),
                    F.col("chunk_id") * stride + 1,
                    chunk_size,
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


def shard_column(id_col: str | Column, n_shards: int) -> Column:
    """Deterministic doc → shard assignment: hash32(id) mod
    n_shards. Engine-reproducible (overflow-safe two-limb multiply,
    see mixing.hash32_expr) and stable across reruns — re-exporting
    the corpus places every document in the same shard, so
    downstream training-resume bookkeeping keyed on (shard, doc)
    survives a rewrite."""
    from .mixing import hash32_expr

    return F.pmod(hash32_expr(id_col), F.lit(n_shards)).cast("int")


def _shard_agg(
    frame: DataFrame, shard: Column, id_col: str, text_col: str
) -> DataFrame:
    """The one manifest aggregate both `shard_manifest` (pre-run
    check over the source) and `write_training_shards` (read-back
    over the written files) use — a shared body so the trainer's
    contract schema can never silently diverge between the two."""
    toks = F.size(tokens_col(text_col))
    return (
        frame.select(
            shard.alias("shard"),
            F.col(id_col).alias("_id"),
            toks.alias("_nt"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("n_tokens"),
            F.min("_id").alias("min_doc_id"),
            F.max("_id").alias("max_doc_id"),
        )
    )


def shard_manifest(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard accounting frame: (shard, n_docs, n_tokens,
    min_doc_id, max_doc_id) — one map-side-combined aggregate. The
    manifest is the contract the trainer checks before a run
    (complete? balanced? token totals match the curation report?)."""
    return _shard_agg(df, shard_column(id_col, n_shards), id_col, text_col)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    fmt: str = "parquet",
) -> DataFrame:
    """Export the corpus as ``n_shards`` hive directories
    (``shard=K/``) plus a ``_manifest`` dataset, the layout
    training jobs consume shard-by-shard. ``fmt`` is "parquet"
    (default) or "json" — newline-delimited JSON, the interchange
    format tokenizer/training stacks outside the Spark ecosystem
    read; optionally add ``.option("compression", ...)`` semantics
    by recompacting downstream. One shuffle (repartition on the
    shard key) so each shard's rows land together; at 100 TB raise
    parallelism by writing each shard from several tasks —
    correctness only depends on the deterministic shard column, not
    file counts.

    The manifest is computed by READING BACK the written dataset,
    not by re-scanning ``df``: a second scan of the source could
    disagree with the files on disk if the upstream table changed
    between the two actions, and the manifest is the trainer's
    contract about exactly those files. Reading back also makes the
    manifest self-verifying — it counts what a consumer will see."""
    sharded = df.withColumn("shard", shard_column(id_col, n_shards))
    sharded.repartition(n_shards, "shard").write.mode(
        "overwrite"
    ).partitionBy("shard").format(fmt).save(path)
    reader = df.sparkSession.read.format(fmt)
    if fmt == "json":
        # the writer's schema is known — supplying it skips the JSON
        # reader's full-corpus inference scan (a second complete read
        # of the just-written 100 TB before the aggregate even runs);
        # parquet needs nothing (footer-only inference)
        reader = reader.schema(sharded.schema)
    written = reader.load(path)
    manifest = _shard_agg(
        written, F.col("shard").cast("int"), id_col, text_col
    )
    # materialize the read-back agg BEFORE overwriting _manifest so
    # a stale manifest can never feed its own replacement
    rows = manifest.collect()
    out = local_frame(df.sparkSession, rows, manifest.schema)
    out.coalesce(1).write.mode("overwrite").parquet(f"{path}/_manifest")
    return out


def length_packing_report(
    df: DataFrame,
    max_seq: int = 512,
    text_col: str = "text",
) -> DataFrame:
    """Sequence-length histogram + packing-efficiency bounds — the
    report a pipeline reads BEFORE choosing ``max_seq``: per
    power-of-2 length bucket, how many documents/tokens land there
    and what a chunk-to-``max_seq``-and-pad layout would waste
    (n_chunks = Σ ceil(len/max_seq); pad_waste = n_chunks·max_seq −
    tokens; efficiency = tokens/(n_chunks·max_seq)).

    Exact integer math throughout: the bucket is
    ``length(bin(n)) − 1`` (= floor(log2 n) without float log —
    both engines' ``bin()`` agree bit-for-bit), ceil-division is
    ``(n + max_seq − 1) div max_seq``, and the efficiency ratio is
    an integer-scaled floor division. One map-side-combined
    aggregate over the (doc, n_tokens) metadata; the text never
    shuffles."""
    n = F.size(tokens_col(text_col))
    chunks = F.floor((n + F.lit(max_seq) - 1) / F.lit(max_seq))
    per_doc = df.select(
        (F.length(F.bin(n.cast("bigint"))) - 1).alias("len_bucket"),
        n.cast("bigint").alias("_n"),
        chunks.cast("bigint").alias("_chunks"),
    )
    return (
        per_doc.groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("n_tokens"),
            F.sum("_chunks").alias("n_chunks"),
        )
        .select(
            F.col("len_bucket").cast("int").alias("len_bucket"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            (F.col("n_chunks") * max_seq - F.col("n_tokens"))
            .cast("bigint")
            .alias("pad_waste"),
            # integer floor-div (DIV), not double `/` + cast: exact
            # and engine-identical at any magnitude
            F.expr(
                f"CAST((n_tokens * 1000000) DIV (n_chunks * {max_seq})"
                " AS BIGINT)"
            ).alias("efficiency_q"),
        )
    )


def cdc_chunk_stats(
    df: DataFrame,
    window: int = 16,
    divisor: int = 64,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (CDC) block-dedup audit: cut each
    document where the hash of the trailing ``window`` characters
    ≡ 0 (mod ``divisor``) — boundaries move WITH the content, so an
    insertion only re-chunks its neighborhood (the property that
    makes block-level dedup robust where fixed-size blocks shift) —
    then report, per group, how much chunk-level duplication a
    block store would reclaim: chunk counts, distinct chunk hashes,
    the duplicate ratio and mean chunk length (integer-scaled).

    Boundaries are WORD-ALIGNED: only positions whose window ends
    at a whitespace character — the explicit class space/tab/
    newline/CR/FF (engine-portable: Java ``\\s`` adds vertical tab,
    RE2 doesn't, so the class is spelled out), so tab/newline-
    separated documents chunk too (ADVICE r06) — are candidates (chunks then
    align to token boundaries — what text block-dedup wants, since
    an edit inside a word can't smear hashes across the neighboring
    chunks)
    — and the short-circuit cuts the hash evaluations to the space
    density (~1/6 of positions in natural text). The boundary hash
    is the same engine-portable md5-fold the classifier's feature
    hash uses (first 32 bits), evaluated as a JVM
    ``transform``/``filter`` over positions, embarrassingly
    parallel, oracle-reproducible in any SQL engine. The production
    100 TB swap is :func:`gear_cdc_chunk_stats` below — a Gear
    ROLLING hash in an Arrow kernel, O(len) with vectorized numpy
    (measured 1.3 s vs 1.7 s here at sf0.1; the gap widens with
    document length); the plan shape — map-side chunking, one
    (group, hash)-keyed distinct aggregate — is identical.
    Expected chunk length ≈ ``divisor`` qualifying windows; min
    length 1, no max (a doc with no matching window is one chunk).
    """
    text = F.col(text_col)
    n = F.length(text)
    whash = lambda p: F.pmod(  # noqa: E731 — window-end position → hash
        F.conv(
            F.md5(text.substr(p - window + 1, F.lit(window))).substr(1, 8),
            16,
            10,
        ).cast("bigint"),
        F.lit(divisor),
    )
    # Candidate positions = the whitespace offsets, derived from the
    # word lengths with one O(n_words) fold — NOT a filter over a
    # length-of-text sequence, which pays a per-CHARACTER lambda
    # eval (measured 1.4× slower at sf0.1 even with the whitespace
    # short-circuit first in the conjunction). The split class holds
    # the literal \s characters (each separator is exactly ONE char,
    # which the run arithmetic requires) rather than an escape
    # sequence, dodging the SQL-literal/regex double-escape.
    ws_class = "[ \t\n\f\r]"
    spaces = F.expr(
        f"""
        aggregate(
          slice(split(`{text_col}`, '{ws_class}'),
                1, greatest(size(split(`{text_col}`, '{ws_class}')) - 1, 0)),
          struct(CAST(0 AS INT) AS run, CAST(array() AS ARRAY<INT>) AS pos),
          (acc, w) -> struct(acc.run + length(w) + 1,
                             array_append(acc.pos,
                                          acc.run + length(w) + 1)),
          acc -> acc.pos)
        """
    )
    cuts = F.when(
        n >= window,
        F.filter(spaces, lambda p: (p >= window) & (whash(p) == 0)),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(
        F.array(F.lit(1)), F.transform(cuts, lambda c: c + 1)
    )
    ends = F.concat(cuts, F.array(n))
    chunks = F.filter(
        F.zip_with(
            starts, ends, lambda s, e: text.substr(s, e - s + 1)
        ),
        lambda c: F.length(c) > 0,
    )
    per_chunk = df.select(
        F.col(group_col).alias("grp"), F.explode(chunks).alias("chunk")
    ).select("grp", F.md5("chunk").alias("h"), F.length("chunk").alias("l"))
    return _cdc_report(per_chunk, df, group_col)


def _cdc_report(
    per_chunk: DataFrame, df: DataFrame, group_col: str
) -> DataFrame:
    """Shared report tail of the two CDC variants (the 'swap the two
    functions freely' contract needs ONE definition). Doc counts on
    the LEFT of the join: a group whose documents are all empty/NULL
    yields no chunk rows, and the old inner join dropped it from the
    report entirely — summing n_docs over the report then disagreed
    with df.count(). Such a group now reports n_chunks=0 with the
    quantized ratios conventionally 0."""
    chunk_aggs = per_chunk.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("h").alias("n_distinct"),
        F.sum("l").alias("_chars"),
    )
    return (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(chunk_aggs, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.coalesce(F.col("n_chunks").cast("bigint"), F.lit(0)).alias(
                "n_chunks"
            ),
            F.coalesce(F.col("n_distinct").cast("bigint"), F.lit(0)).alias(
                "n_distinct"
            ),
            F.coalesce(
                F.expr(
                    "CAST(((n_chunks - n_distinct) * 1000000) DIV n_chunks"
                    " AS BIGINT)"
                ),
                F.lit(0),
            ).alias("dup_ratio_q"),
            F.coalesce(
                F.expr(
                    "CAST((_chars * 1000000) DIV n_chunks AS BIGINT)"
                ),
                F.lit(0),
            ).alias("avg_chunk_len_q"),
        )
    )


_GEAR_SEED = 0x9E3779B97F4A7C15


def _gear_table() -> "np.ndarray":
    """Deterministic 256-entry uint64 gear table (splitmix64 over the
    byte value) — fixed across engines/runs so boundaries are stable
    artifacts, like every other hash seed in this repo."""
    import numpy as np

    x = (np.arange(256, dtype=np.uint64) + np.uint64(1)) * np.uint64(
        _GEAR_SEED
    )
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def gear_cdc_chunk_stats(
    df: DataFrame,
    divisor: int = 64,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The PRODUCTION form of :func:`cdc_chunk_stats`: a Gear rolling
    hash (FastCDC's hash family) over the utf-8 bytes, evaluated in
    one Arrow ``mapInPandas`` pass — O(len) per document with ~64
    vectorized numpy ops per batch, vs the md5-per-candidate JVM
    variant whose virtue is DuckDB-reproducibility. Same plan shape
    and output schema: map-side chunking → one (group, chunk-hash)
    distinct aggregate; swap the two functions freely.

    Gear recurrence h_i = (h_{i-1} << 1) + gear[b_i] means byte at
    age k contributes gear[b] << k, so only the trailing 64 bytes
    matter and the whole hash column vectorizes as 64 shifted adds —
    no per-byte Python loop. Cut after position i when
    h_i ≡ 0 (mod ``divisor``); no min/max-length clamps (contract
    matches the md5 variant: expected chunk ≈ divisor windows, min
    1, a never-matching doc is one chunk)."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField as SF_,
        StructType as ST_,
    )

    gear = _gear_table()
    div = np.uint64(divisor)

    def chunk(batches):
        for pdf in batches:
            grps, hashes, lens = [], [], []
            for grp, txt in zip(pdf["grp"], pdf["txt"]):
                if txt is None:
                    continue
                b = np.frombuffer(txt.encode("utf-8"), dtype=np.uint8)
                n = b.size
                if n == 0:
                    continue
                g = gear[b]
                h = np.zeros(n, dtype=np.uint64)
                for k in range(min(64, n)):
                    h[k:] += g[: n - k] << np.uint64(k)
                cut_after = np.nonzero(h % div == 0)[0] + 1
                starts = np.concatenate(([0], cut_after))
                ends = np.concatenate((cut_after, [n]))
                for s, e in zip(starts, ends):
                    if e > s:
                        grps.append(grp)
                        hashes.append(
                            hashlib.md5(b[s:e].tobytes()).hexdigest()
                        )
                        lens.append(int(e - s))
            if grps:
                yield pd.DataFrame(
                    {"grp": grps, "h": hashes, "l": lens}
                )

    schema = ST_(
        [
            # mirror the caller's group-column type — hardcoding
            # StringType broke the 'swap the two functions freely'
            # contract for non-string group columns (the md5 variant
            # never fixes the type)
            SF_("grp", df.schema[group_col].dataType),
            SF_("h", StringType()),
            SF_("l", LongType()),
        ]
    )
    per_chunk = df.select(
        F.col(group_col).alias("grp"), F.col(text_col).alias("txt")
    ).mapInPandas(chunk, schema)
    return _cdc_report(per_chunk, df, group_col)
