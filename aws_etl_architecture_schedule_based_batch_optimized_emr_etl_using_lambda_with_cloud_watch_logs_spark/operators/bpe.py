"""BPE vocabulary training (Sennrich et al. 2016) —
LLM-data-pipeline extension. `text.py`'s bpe_token_stats APPLIES a
given merge list; this module LEARNS the merges from the corpus —
the tokenizer-training step of a data pipeline.

Scale shape (the part that matters at 100 TB): classic BPE training
iterates over WORD TYPES, not the corpus. One corpus pass builds the
(word, count) type frame — vocabulary-bounded, orders of magnitude
smaller than the corpus — and the k merge iterations run on that
model-sized frame; the corpus is never rescanned after the first
aggregate. The type frame is materialized once, and its size (an
``Observation`` on that same job) picks where the k iterations run:

* within the single-task budget (``dedup._fits_one_task``): ONE
  executor task runs the whole greedy loop with incremental pair
  counts — after a merge only the words holding the merged pair are
  re-counted — so k merges cost one Spark job, not 2k;
* above it: the distributed loop — per merge an explode of adjacent
  symbol pairs, a weighted count, a 1-row argmax collected to the
  driver (bounded metadata, the same class as a convergence scalar),
  and a JVM fold that applies the merge inside each word's symbol
  array.

Determinism: the winning pair is (max weighted count, then
lexicographic (left, right)) — partitioning-invariant because the
count is an exact integer aggregate; both paths learn the same merges
(test-pinned).
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, functions as F

from ..functions.frames import local_frame
from .dedup import _fits_one_task, tokens_col

# the single-task kernel's output: the merge table rows (step set)
# followed by the segmented word types (step NULL)
_KERNEL_SCHEMA = (
    "step int, l string, r string, n bigint, syms array<string>, cnt bigint"
)
_KERNEL_ARROW = pa.schema(
    [
        ("step", pa.int32()),
        ("l", pa.string()),
        ("r", pa.string()),
        ("n", pa.int64()),
        ("syms", pa.list_(pa.string())),
        ("cnt", pa.int64()),
    ]
)


def _pairs_expr():
    """symbols array → array of adjacent (l, r) structs."""
    return F.expr(
        """
        CASE WHEN size(syms) >= 2 THEN
          zip_with(slice(syms, 1, size(syms) - 1),
                   slice(syms, 2, size(syms) - 1),
                   (l, r) -> struct(l AS l, r AS r))
        ELSE CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>) END
        """
    )


def _merge_expr(left: str, right: str):
    """One left-to-right merge pass of (left, right) → left||right
    inside the symbol array: a single fold with one-symbol lookahead
    state (pending), O(symbols) per word.

    The learned symbols are bound as ``F.lit`` columns — never
    interpolated into a SQL string — so corpus tokens containing
    quotes, backslashes, or any other metacharacter (common in
    web/code text) can't break or corrupt the expression (ADVICE r06
    low finding)."""
    l, r = F.lit(left), F.lit(right)
    merged = F.lit(left + right)
    syms = F.col("syms")
    tail = F.slice(syms, 2, F.size(syms) - 1)
    init = F.struct(
        F.expr("CAST(array() AS ARRAY<STRING>)").alias("out"),
        syms[0].alias("pending"),
    )

    def step(acc, x):
        return (
            F.when(
                (acc["pending"] == l) & (x == r),
                F.struct(
                    F.array_append(acc["out"], merged).alias("out"),
                    F.lit(None).cast("string").alias("pending"),
                ),
            )
            .when(
                acc["pending"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pending")),
            )
            .otherwise(
                F.struct(
                    F.array_append(acc["out"], acc["pending"]).alias("out"),
                    x.alias("pending"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["pending"].isNull(), acc["out"]).otherwise(
            F.array_append(acc["out"], acc["pending"])
        )

    return F.when(F.size(syms) == 0, syms).otherwise(
        F.aggregate(tail, init, step, finish)
    )


def _merge_word(syms: list[str], left: str, right: str) -> list[str]:
    """``_merge_expr``'s left-to-right fold on one Python word."""
    out, i, last = [], 0, len(syms) - 1
    while i <= last:
        if i < last and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _greedy_merges(
    words: list[list[str]], cnts: list[int], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The greedy merge loop on in-memory word types, with incremental
    pair counts: the weighted count of every adjacent pair is built
    once, and a merge re-counts only the words that hold the merged
    pair. Same winner rule as the distributed loop — highest count,
    then the smallest (left, right) (Python compares str by code
    point, Spark by UTF-8 bytes: the same order) — and the same stop
    rule, n < 2. Segments ``words`` in place; returns the merges."""
    pair_n: defaultdict[tuple[str, str], int] = defaultdict(int)
    holders: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, (syms, cnt) in enumerate(zip(words, cnts)):
        for p in zip(syms, syms[1:]):
            pair_n[p] += cnt
            holders[p].add(i)
    # max-heap on (n, then smallest pair) with lazy deletion: an entry
    # is live while its count is still the pair's current count
    heap = [(-n, p) for p, n in pair_n.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        while heap and pair_n.get(heap[0][1]) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap or -heap[0][0] < 2:
            break  # nothing left worth merging
        neg_n, (l, r) = heapq.heappop(heap)
        merges.append((step, l, r, -neg_n))
        touched: set[tuple[str, str]] = set()
        for i in holders.pop((l, r)):
            cnt = cnts[i]
            old = Counter(zip(words[i], words[i][1:]))
            words[i] = _merge_word(words[i], l, r)
            new = Counter(zip(words[i], words[i][1:]))
            for p, k in old.items():
                pair_n[p] -= k * cnt
                if p not in new and p in holders:
                    holders[p].discard(i)
            for p, k in new.items():
                pair_n[p] += k * cnt
                holders[p].add(i)
            touched.update(old, new)
        for p in touched:
            if pair_n[p] > 0:
                heapq.heappush(heap, (-pair_n[p], p))
            else:
                del pair_n[p]
    return merges


def _bpe_kernel(n_merges: int):
    """mapInArrow kernel for the single-task path: gathers every word
    type of its (one) partition, runs ``_greedy_merges`` and emits the
    merge table, then the segmented types (``_KERNEL_SCHEMA``)."""

    def run(batches):
        words: list[list[str]] = []
        cnts: list[int] = []
        for b in batches:
            words += b.column("syms").to_pylist()
            cnts += b.column("cnt").to_pylist()
        merges = _greedy_merges(words, cnts, n_merges)
        none_m, none_w = [None] * len(merges), [None] * len(words)
        merge_cols = [list(c) + none_w for c in zip(*merges)] or [none_w] * 4
        table = pa.table(
            [*merge_cols, none_m + words, none_m + cnts], schema=_KERNEL_ARROW
        )
        yield from table.to_batches(max_chunksize=65_536)

    return run


def _train(
    df: DataFrame,
    n_merges: int,
    text_col: str,
    end_of_word: str,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Shared training loop: returns (merge table, the final
    segmented word-type frame) — bpe_train ships the former,
    bpe_symbol_stats aggregates the latter. The word-type frame carries an
    ``end_of_word`` sentinel symbol (standard: prevents merges
    across word boundaries from absorbing prefixes of other words).

    The type frame is checkpointed once (its size observed on that
    job). Within the budget, one task runs all k merges
    (``_bpe_kernel``) and its output is checkpointed with the merge
    table riding the job as an observed ``collect_list``: three Spark
    jobs in all, whatever k is. Above the budget, the distributed loop
    runs: driver work per iteration is ONE collected row (the argmax
    pair); executor work per iteration is pair explode + hash
    aggregate + the merge fold, all on the vocabulary-bounded type
    frame."""
    types = (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        # empty/whitespace-only documents tokenize to [''] — drop the
        # empty word type: a merge has no meaning there, and Spark's
        # split('', '') -> [''] vs an oracle's char-extract -> []
        # would otherwise let it learn a bogus ('', '</w>') merge
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.split(F.col("w"), ""),
                F.array(F.lit(end_of_word)),
            ).alias("syms"),
            "cnt",
        )
        # the type frame is vocabulary-bounded (~1e5 rows even at
        # web scale) — 32+ post-shuffle partitions are pure per-task
        # overhead across the k iteration jobs; narrow without a
        # shuffle
        .coalesce(8)
    )
    # bytes of the type frame as the kernel holds it: symbol octets,
    # one offset per symbol, the count and the list offset per type
    type_bytes = (
        F.octet_length(F.array_join("syms", "")) + 4 * F.size("syms") + 12
    )
    current, fits = _fits_one_task(types, type_bytes)
    if fits:
        seen = Observation()
        out = (
            current.coalesce(1)
            .mapInArrow(_bpe_kernel(n_merges), _KERNEL_SCHEMA)
            .observe(
                seen,
                F.collect_list(
                    F.when(
                        F.col("step").isNotNull(),
                        F.struct("step", "l", "r", "n"),
                    )
                ).alias("merges"),
            )
            .localCheckpoint()
        )
        merges = sorted(tuple(m) for m in seen.get["merges"])
        return merges, out.filter(F.col("step").isNull()).select("syms", "cnt")
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        top = (
            current.select(F.explode(_pairs_expr()).alias("p"), "cnt")
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break  # nothing left worth merging
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((step, l, r, n))
        # localCheckpoint: truncate the lineage each step so the plan
        # doesn't grow k folds deep (same pattern as connected
        # components' iteration). eager=False — the checkpoint
        # materializes inside the next step's argmax job instead of
        # scheduling a second job per iteration
        current = current.select(
            _merge_expr(l, r).alias("syms"), "cnt"
        ).localCheckpoint(eager=False)
    return merges, current


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    end_of_word: str = "</w>",
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the
    ordered merge table ``[(step, left, right, weighted_count)]``."""
    return _train(df, n_merges, text_col, end_of_word)[0]


def bpe_symbol_stats(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    top_k: int = 20,
    end_of_word: str = "</w>",
) -> DataFrame:
    """Tokenizer vocabulary COVERAGE after training: segment the
    corpus word types with the k learned merges and count how many
    corpus tokens each vocabulary symbol absorbs — the coverage
    report shipped next to the merge table (it is how you pick k and
    spot wasted vocab slots). Top-``top_k`` symbols by weighted
    count, count-desc then symbol. Same scale shape as training:
    every aggregate after the first corpus pass runs on the
    vocabulary-bounded type frame. ``end_of_word`` threads through
    like the sibling entry points so the audited vocabulary is the
    SAME one a custom-sentinel training run produced."""
    _merges, final = _train(df, n_merges, text_col, end_of_word)
    return (
        final.select(F.explode("syms").alias("symbol"), "cnt")
        .groupBy("symbol")
        .agg(F.sum("cnt").alias("n_tokens"))
        .orderBy(F.desc("n_tokens"), "symbol")
        .limit(top_k)
    )


def bpe_document_tokens(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    end_of_word: str = "</w>",
) -> DataFrame:
    """Corpus tokenization under the learned vocabulary: per-document
    word and BPE-token counts after segmenting with the k learned
    merges — the sequence-length profile a packing/curriculum stage
    consumes, computed under the REAL tokenizer rather than a
    whitespace proxy. Token counts include the end-of-word sentinel
    when it survives unmerged (documented convention, identical on
    both engines).

    Scale shape: segmentation happens once on the word-TYPE frame;
    the original word is recovered as concat(syms) minus the
    sentinel (merges only concatenate adjacent symbols, so the
    concatenation is invariant), giving a model-sized word ->
    n_symbols map. The corpus pass is then ONE broadcast hash join
    from the exploded words to that map — no per-document fold, no
    shuffle of the corpus."""
    _merges, final = _train(df, n_merges, text_col, end_of_word)
    seg = final.select(
        F.expr(
            f"substring(concat_ws('', syms), 1,"
            f" length(concat_ws('', syms)) - {len(end_of_word)})"
        ).alias("w"),
        F.size("syms").alias("n_syms"),
    )
    words = df.select(
        doc_id_col, F.explode(tokens_col(text_col)).alias("w")
    ).filter(F.col("w") != "")
    counted = (
        words.join(F.broadcast(seg), "w")
        .groupBy(doc_id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )
    # every input doc gets a row: a NULL/empty-text doc has no words
    # (explode of NULL yields nothing; '' is filtered) and would
    # otherwise vanish from the length profile — a packing/curriculum
    # consumer inner-joining on this frame would silently lose it
    # instead of seeing zeros
    return (
        df.select(doc_id_col)
        .join(counted, [doc_id_col], "left")
        .select(
            doc_id_col,
            F.coalesce("n_words", F.lit(0))
            .cast("bigint")
            .alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_bpe_tokens"),
        )
    )


def bpe_merge_table(
    df: DataFrame, n_merges: int = 10, text_col: str = "text"
) -> DataFrame:
    """The merge list as a DataFrame (step, left, right, n) — the
    shippable artifact, joinable/writable like any other model
    frame."""
    spark = df.sparkSession
    rows = bpe_train(df, n_merges, text_col)
    return local_frame(
        spark, rows, "step int, left string, right string, n bigint"
    )
