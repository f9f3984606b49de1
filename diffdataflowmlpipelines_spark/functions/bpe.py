"""Byte-pair-encoding vocabulary learning + application over the corpus
— the canonical "tokens" operator a training-data pipeline needs that
the reference lacks (its text surface is whitespace tokenize only,
``src/feature_encoders/feature_extraction/utils.rs:3-9``; its
vocabulary operator assigns ids to ALREADY-FIXED tokens,
``src/types/integer_assignment_aggregate.rs:43-95`` — BPE is the stage
that decides what the tokens ARE). Algorithm: Sennrich et al. 2016
(arXiv:1508.07909), greedy leftmost merge application.

100-TB shape (the whole point of doing BPE on Spark):
  * ONE corpus-wide shuffle builds the word-frequency table
    (``word_frequencies``); every merge iteration after that runs over
    the VOCABULARY-sized frame (millions of rows, not the corpus) —
    identical totals because pair counts are linear in word frequency,
  * each iteration = one vocab-frame aggregation + a 1-row bounded
    collect (the argmax pair, same convention as the encoders' fit
    statistics) + a pure-Catalyst fold that applies the merge
    (``merge_pair``: F.aggregate, no Python, provably greedy-leftmost
    — see tests/test_bpe.py's adversarial run cases),
  * the iterating frame is ``localCheckpoint``-ed every iteration
    (repo rule: iterative DataFrame algorithms otherwise grow lineage
    exponentially and stall the analyzer),
  * encoding documents with a learned merge table applies the merges
    to the DISTINCT-word frame, then maps corpus tokens through one
    hash join — the corpus is never folded per-merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.functions.text import tokenize

# terminal end-of-word symbol (Sennrich-style): lets the model learn
# suffix units distinct from word-internal ones, and makes the encoded
# symbol stream decodable back into words. Note: on text containing the
# literal characters '<','/','w','>' a chain of merges could DERIVE a
# symbol equal to EOW; later merges then treat both identically. That
# aliasing is inherent to string-symbol BPE (the python twin behaves
# bit-identically, so parity holds) — use a non-printable EOW if the
# corpus can contain it.
EOW = "</w>"

_SYM = "array<string>"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the whitespace-tokenized corpus — the single
    corpus-wide pass; map-side partial agg, one hash shuffle.

    Diff-aware (DD collection semantics, like corpus_pair_counts in
    this module): a retracted document's words subtract — a plain
    COUNT(*) would count retraction rows as inserts, so learn_bpe would
    learn merges from text the collection no longer contains and the
    ``pair_counts(word_frequencies(...)) == corpus_pair_counts(...)``
    linearity identity would break on any input with retractions.
    Fully-retracted words (net freq <= 0) are dropped."""
    from diffdataflowmlpipelines_spark.operators.collection import (
        DIFF,
        with_diff,
    )

    return (
        with_diff(docs)
        .select(F.explode(tokenize(text_col)).alias("word"), DIFF)
        .groupBy("word")
        .agg(F.sum(DIFF).cast("long").alias("freq"))
        .filter(F.col("freq") > 0)
    )


def initial_symbols(word: Column | str) -> Column:
    """Character symbols plus the EOW terminal: 'low' -> [l, o, w, </w>].

    Split per CODEPOINT with the empty pattern: ``F.split(c, "")``
    emits one element per Unicode codepoint — verified to keep
    supplementary characters (UTF-16 surrogate pairs, e.g. emoji)
    whole and to isolate Unicode line terminators (U+0085, U+2028,
    U+2029, which survive tokenize's ASCII-only \\s+ split). Every
    zero-width-regex variant tried ('(?!^)(?=.)' with or without
    DOTALL/lookbehind guards) splits BETWEEN the surrogate halves of a
    non-BMP character under Java's code-unit match positions, which
    diverges from the python twin (``list(w)``, codepoints) and the
    DuckDB oracle (``string_split(word, '')``, codepoints — combining
    marks stay separate codepoints on both engines, verified): learned
    merges over astral symbols would then never match at encode time
    (round-5 review finding)."""
    c = F.col(word) if isinstance(word, str) else word
    return F.concat(F.split(c, ""), F.array(F.lit(EOW)))


def _pair_structs(syms: Column) -> Column:
    """Adjacent (left, right) symbol pairs; empty for 1-symbol rows."""
    n = F.size(syms)
    pairs = F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return F.when(n >= 2, pairs).otherwise(
        F.array().cast("array<struct<left:string,right:string>>")
    )


def pair_counts(word_freqs: DataFrame, symbols_col: str = "symbols") -> DataFrame:
    """(left, right, pair_count): adjacent-pair frequencies over the
    symbol sequences, weighted by word frequency. Equals the count over
    every token OCCURRENCE in the corpus (linearity) — the vocab-sized
    frame is the optimization, not an approximation."""
    return (
        word_freqs.select(
            "freq", F.explode(_pair_structs(F.col(symbols_col))).alias("p")
        )
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").cast("long").alias("pair_count"))
    )


def corpus_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Pair counts directly over token OCCURRENCES — a single
    aggregation, so the same plan runs unchanged as an unwatermarked
    update-mode STREAMING agg (incremental BPE statistics maintained
    over a document stream — the north star's "incremental
    vocabulary/statistics updates" for the stage that precedes
    vocabulary assignment). Equals ``pair_counts(word_frequencies(...))
    `` exactly, by linearity of pair counts in word frequency (the
    batch path keeps the word-freq collapse as its optimization; the
    parity is pinned in tests/test_bpe.py).

    Retraction-aware (the DD collection semantics, reference
    ``src/types/`` signed abelian aggregates): if the input carries a
    ``diff`` column, pair counts are SUM(diff)-weighted — a retracted
    document subtracts its pairs, and in streaming update mode a pair
    driven to 0 re-emits its 0 row so the exactly-once sink overwrites
    the stale value (filter ``pair_count != 0`` on read, same contract
    as the streaming count-min)."""
    w = F.col("diff").cast("long") if "diff" in docs.columns else F.lit(1)
    return (
        docs.select(w.alias("__w"), F.explode(tokenize(text_col)).alias("word"))
        .select(
            "__w",
            F.explode(_pair_structs(initial_symbols(F.col("word")))).alias("p"),
        )
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("__w").cast("long").alias("pair_count"))
    )


def merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy leftmost non-overlapping merge of adjacent (left, right)
    into left+right — pure Catalyst fold, no Python.

    Correctness of the fold against the scan definition: a symbol
    emitted by a merge in this pass is ``left+right``, which can equal
    neither ``left`` nor ``right`` (both non-empty), so a just-merged
    element can never re-match — the fold is exactly the left-to-right
    scan. (The tempting string-replace trick is NOT: for left==right,
    ``replace`` mis-aligns on runs of 4+ — pinned in tests.)
    """
    return F.aggregate(
        syms,
        F.array().cast(_SYM),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


MERGES_SCHEMA = T.StructType(
    [
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def learn_bpe(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the merge
    table (rank, left, right, merged, pair_count) in learned order —
    deterministic: ties in pair_count break on (left, right) ascending.
    Stops early if no adjacent pair remains (fully merged vocabulary).

    Scale shape (verdict r4 #1): the DISTRIBUTED part of BPE is the
    word-frequency table (ONE corpus-wide shuffle) and the encode join
    — never the argmax loop. The frequency table is vocab-sized
    (millions of rows at 100 TB, the same bounded fit-statistic class
    every encoder collects), so it is collected ONCE and all merges are
    learned driver-side with an incremental pair-count heap
    (``learn_bpe_incremental`` — Sennrich's algorithm with per-merge
    work proportional to the words actually containing the merged
    pair). The old one-Spark-job-per-merge loop is kept as
    ``learn_bpe_spark_iterative`` purely as the distributed-parity /
    oracle twin: at a production vocabulary (32k–50k merges) it is tens
    of thousands of driver-coordinated jobs + checkpoint
    materializations; the driver-side learner does 1024 merges on the
    sf0.1 corpus in seconds (SCALING.md "BPE learn").
    """
    spark = docs.sparkSession
    wf_rows = word_frequencies(docs, text_col).collect()
    merges = learn_bpe_incremental(
        {r["word"]: int(r["freq"]) for r in wf_rows}, n_merges
    )
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def learn_bpe_spark_iterative(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> DataFrame:
    """The per-merge Spark loop: one vocab-frame aggregation + 1-row
    argmax collect + localCheckpoint per merge. Retained ONLY as the
    distributed parity/oracle twin of ``learn_bpe`` (their outputs are
    pinned identical in tests/test_bpe.py) — the per-merge job +
    checkpoint overhead cannot survive a real vocabulary size; the
    engine path collects the bounded word-frequency table once and
    learns driver-side instead."""
    spark = docs.sparkSession
    wf = (
        word_frequencies(docs, text_col)
        .select("freq", initial_symbols("word").alias("symbols"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple] = []
    for rank in range(n_merges):
        top = (
            pair_counts(wf)
            .orderBy(F.desc("pair_count"), "left", "right")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["left"], top[0]["right"], top[0]["pair_count"]
        merges.append((rank, l, r, l + r, c))
        wf = wf.select(
            "freq", merge_pair(F.col("symbols"), l, r).alias("symbols")
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def learn_bpe_incremental(
    word_freqs: dict[str, int],
    n_merges: int,
    *,
    return_word_syms: bool = False,
) -> (
    list[tuple[int, str, str, str, int]]
    | tuple[list[tuple[int, str, str, str, int]], dict[str, list[str]]]
):
    """Incremental-heap BPE learner over a collected word-frequency
    table — the driver-side engine path behind ``learn_bpe``. Same
    determinism contract as every other form (argmax pair_count, ties
    on (left, right) ascending) and bit-identical output to
    ``learn_bpe_local`` / ``learn_bpe_spark_iterative``.

    Algorithm (Sennrich et al. 2016, the standard fast implementation):
    a lazy max-heap over pair counts plus a pair -> containing-words
    index. Every count CHANGE pushes a fresh heap entry, so the current
    count of every live pair is always present in the heap and the
    first entry that validates against the counts dict is the true
    argmax (stale entries are discarded on pop). Pushing on increases
    matters: symbol-string aliasing (a merge can DERIVE a symbol equal
    to an existing one, see the EOW note above) means an existing
    pair's count can go UP, not just down. Per merge the work is
    proportional to the total length of words containing the merged
    pair — not to the vocabulary — so 32k merges are tractable where
    the full-rescan twin (``learn_bpe_local``) is O(n_merges · vocab).

    ``return_word_syms=True`` additionally returns the FINAL per-word
    symbol sequences ``{word: [sym, ...]}`` — the learner maintains
    them anyway, and handing them to ``bpe_encode(word_syms=...)``
    lets the encode skip re-deriving them (the distinct-vocab shuffle
    + the merge folds) over the corpus it just learned on.
    """
    import heapq

    words: list[list] = []  # [symbols, freq]
    pair_cnt: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, str, str]] = []

    def upd(pair: tuple[str, str], delta: int) -> None:
        c = pair_cnt.get(pair, 0) + delta
        if c > 0:
            pair_cnt[pair] = c
            heapq.heappush(heap, (-c, pair[0], pair[1]))
        else:
            pair_cnt.pop(pair, None)

    for w, f in word_freqs.items():
        idx = len(words)
        syms = list(w) + [EOW]
        words.append([syms, int(f)])
        for a, b in zip(syms, syms[1:]):
            pair_cnt[(a, b)] = pair_cnt.get((a, b), 0) + int(f)
            pair_words.setdefault((a, b), set()).add(idx)
    for (a, b), c in pair_cnt.items():
        heapq.heappush(heap, (-c, a, b))

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        best = None
        while heap:
            negc, l, r = heapq.heappop(heap)
            if pair_cnt.get((l, r)) == -negc:
                best = (l, r, -negc)
                break
        if best is None:
            break
        l, r, c = best
        merges.append((rank, l, r, l + r, c))
        # apply only to words that (may) contain the pair; the index can
        # hold stale members — a word re-segmented by an earlier merge —
        # so re-check before touching counts
        for idx in sorted(pair_words.pop((l, r), ())):
            syms, f = words[idx]
            if not any(
                syms[i] == l and syms[i + 1] == r for i in range(len(syms) - 1)
            ):
                continue
            for a, b in zip(syms, syms[1:]):
                upd((a, b), -f)
            new = merge_local(syms, l, r)
            words[idx][0] = new
            for a, b in zip(new, new[1:]):
                upd((a, b), f)
                pair_words.setdefault((a, b), set()).add(idx)
        # (l, r) drains to exactly 0 through the +/- deltas: greedy
        # leftmost merging leaves no (l, r) adjacency in any processed
        # word, and no other word changed — no defensive pop, so the
        # parity tests would catch any bookkeeping drift
    if return_word_syms:
        word_syms = {
            w: words[i][0] for i, w in enumerate(word_freqs)
        }
        return merges, word_syms
    return merges


def apply_merges(syms: Column, merges: list[tuple[str, str]]) -> Column:
    """Fold a merge list (rank order) over a symbol array column —
    ``len(merges)`` chained Catalyst folds. Keep merge lists handed to
    a single expression modest (the caller checkpoints between blocks
    for long tables — see bpe_encode)."""
    for l, r in merges:
        syms = merge_pair(syms, l, r)
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    merges_per_block: int = 16,
    word_syms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Encode documents with a learned merge table: (id_col, bpe_tokens
    array<string>, n_bpe int). Scale shape: merges are applied to the
    DISTINCT-word frame (vocab-sized), then tokens map through ONE hash
    join and re-assemble in original order — the corpus is never folded
    per-merge. The exploded token frame is pinned (localCheckpoint)
    because BOTH the distinct-vocab build and the assembly join consume
    it — unpinned, Catalyst re-plans the scan+tokenize+posexplode under
    each consumer (the d3/cep3 shared-subtree class; column pruning
    makes the two scans non-identical, so the explain-audit duplicate-
    FileScan check cannot catch this one). One further scan of ``docs``
    survives by design: the id-only left join that restores empty
    documents is column-pruned to ``id_col`` at the source. Expression
    depth is bounded by checkpointing every ``merges_per_block``
    merges.

    ``word_syms`` (the ``{word: symbols}`` table a learner that just
    scanned THIS corpus already holds — ``learn_bpe_incremental(...,
    return_word_syms=True)``) skips re-deriving the vocabulary: no
    distinct-vocab shuffle over the exploded corpus and no merge
    folds — the driver table becomes a broadcast join side directly
    (guide §8: the decision table is vocab-sized and already
    collected; the corpus moves once, for the re-assembly regroup
    only). The caller must guarantee coverage: corpus words ABSENT
    from ``word_syms`` drop from the encoding, so use the default path
    when encoding a different corpus than the one learned on. For the
    same reason ``docs`` may not carry a ``diff`` column (ValueError,
    raised from the schema alone): ``word_frequencies`` nets retractions
    and drops fully retracted words, while the encoding explodes every
    row, so a retraction row's words would silently vanish."""
    from diffdataflowmlpipelines_spark.operators.collection import DIFF

    if word_syms is not None and DIFF in docs.columns:
        raise ValueError(
            "bpe_encode(word_syms=...) cannot encode a frame with a "
            f"{DIFF!r} column: the table covers net word frequencies "
            "only, so retracted words would drop; pass word_syms=None"
        )
    toks = docs.select(
        id_col, F.posexplode(tokenize(text_col)).alias("pos", "word")
    ).localCheckpoint(eager=True)
    if word_syms is not None:
        enc = F.broadcast(
            docs.sparkSession.createDataFrame(
                [(w, list(s)) for w, s in word_syms.items()],
                "word string, symbols array<string>",
            )
        )
    else:
        vocab = toks.select("word").distinct()
        enc = vocab.select("word", initial_symbols("word").alias("symbols"))
        for i in range(0, len(merges), merges_per_block):
            enc = enc.select(
                "word",
                apply_merges(
                    F.col("symbols"), merges[i : i + merges_per_block]
                ).alias("symbols"),
            )
            if i + merges_per_block < len(merges):
                enc = enc.localCheckpoint(eager=True)
    assembled = (
        toks.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "symbols"))
                    ),
                    lambda s: s["symbols"],
                )
            ).alias("bpe_tokens")
        )
    )
    # empty documents (no tokens) keep a row with an empty encoding
    return (
        docs.select(id_col)
        .join(assembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("bpe_tokens", F.array().cast(_SYM)).alias("bpe_tokens"),
        )
        .withColumn("n_bpe", F.size("bpe_tokens").cast("int"))
    )


def tokenizer_pipeline(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    merges: list[tuple[str, str]] | None = None,
    word_syms: dict[str, list[str]] | None = None,
) -> DataFrame:
    """The complete tokenizer path: text -> learned BPE units ->
    per-doc unit sequences -> stable dense int ids (the sharded
    fit_dictionary, C12). Output is EXACTLY the north-rule input shape
    the streaming engine ingests — (doc_id, tokens array<int>, n_tok
    int, source) — i.e. this engine also BUILDS the pre-tokenized table
    the 10^12-sequence stream reads.

    Scale shape: learn_bpe = one corpus shuffle + vocab-sized
    iterations; bpe_encode maps the corpus through one hash join; the
    encoded frame is localCheckpoint'ed because BOTH the dictionary fit
    and the id mapping consume it (the d3/cep3 double-plan class,
    avoided at birth); fit_dictionary is the range-sharded rank (no
    single-partition window); the id mapping is one join keyed on the
    unit (vocabulary-sized build side) + one per-doc regroup.

    Pass ``merges`` (a learned ``[(left, right), ...]`` table, rank
    order) to skip the learning pass — the learn-once / encode-many
    path, and how callers that need to SEE the merge count (e.g. to
    diagnose an early-stopped corpus against a fixed-k oracle) avoid
    learning twice.
    """
    from diffdataflowmlpipelines_spark.operators.encoders import (
        fit_dictionary,
    )

    if merges is None:
        merges = [
            (r["left"], r["right"])
            for r in learn_bpe(docs, n_merges, text_col=text_col).collect()
        ]
    enc = bpe_encode(
        docs, merges, text_col=text_col, id_col=id_col, word_syms=word_syms
    ).localCheckpoint(eager=True)
    vocab = fit_dictionary(
        enc.select(F.explode("bpe_tokens").alias("unit")), "unit"
    )
    return assemble_token_ids(
        docs,
        enc,
        vocab.select("unit", F.col("__idx").alias("__uid")),
        id_col=id_col,
        source_col=source_col,
    )


def assemble_token_ids(
    docs: DataFrame,
    enc: DataFrame,
    unit_ids: DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    unseen: int | None = None,
) -> DataFrame:
    """Shared north-rule assembly for the batch AND streaming tokenizer
    faces: map each document's BPE unit sequence (``enc``: id_col,
    bpe_tokens array<string>) through the ``unit_ids`` assignment
    (unit, __uid) and emit ``(id_col, tokens array<int>, n_tok,
    source_col)``.

    ``unseen=None`` joins inner — the batch face, where the vocabulary
    was fitted from ``enc`` itself so every unit is assigned;
    an int joins left (broadcast: the live assignment is the bounded
    sink view) and substitutes it — the streaming face's B-outruns-A
    convention (-1, the OrdinalEncoder unseen surface). Factored so the
    two faces cannot silently diverge on the token-array-equality
    invariant (round-5 review).

    A frame without the source column still tokenizes — source is NULL
    (the column is part of the output CONTRACT, not an input
    requirement)."""
    ex = enc.select(id_col, F.posexplode("bpe_tokens").alias("pos", "unit"))
    if unseen is None:
        joined = ex.join(unit_ids, "unit")
        uid = F.col("__uid")
    else:
        joined = ex.join(F.broadcast(unit_ids), "unit", "left")
        uid = F.coalesce("__uid", F.lit(int(unseen)))
    ids = joined.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", uid.alias("u")))),
            lambda s: s["u"].cast("int"),
        ).alias("tokens")
    )
    src = (
        F.col(source_col)
        if source_col in docs.columns
        else F.lit(None).cast("string")
    )
    return (
        docs.select(id_col, src.alias(source_col))
        .join(ids, id_col, "left")
        .select(
            id_col,
            F.coalesce("tokens", F.array().cast("array<int>")).alias(
                "tokens"
            ),
            source_col,
        )
        .withColumn("n_tok", F.size("tokens").cast("int"))
        .select(id_col, "tokens", "n_tok", source_col)
    )


# ---------------------------------------------------------------------------
# Driver-local twin (pure python) — the parity reference for tests; the
# same role as the encoders' driver-local pipelines: small-input ground
# truth with NO Spark involved.
# ---------------------------------------------------------------------------


def tokenize_local(text: str) -> list[str]:
    """Twin of text.tokenize: Java regex \\s is ASCII-only
    [ \\t\\n\\x0b\\f\\r], while Python's str.split()/re \\s are
    Unicode-aware — a non-breaking space would tokenize differently and
    silently break the parity contract, so the twin pins the engine's
    exact character class."""
    import re

    return [t for t in re.split("[ \t\n\x0b\f\r]+", text) if t != ""]


def merge_local(seq: list[str], left: str, right: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == left and seq[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def learn_bpe_local(
    word_freqs: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """Pure-python BPE (Sennrich alg. 1) with the same determinism
    contract: argmax pair_count, ties on (left, right) ascending."""
    vocab = {w: (list(w) + [EOW], f) for w, f in word_freqs.items()}
    merges = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.values():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, l + r, c))
        vocab = {
            w: (merge_local(syms, l, r), f) for w, (syms, f) in vocab.items()
        }
    return merges


def encode_local(
    text: str, merges: list[tuple[str, str]]
) -> list[str]:
    out: list[str] = []
    for w in tokenize_local(text):
        syms = list(w) + [EOW]
        for l, r in merges:
            syms = merge_local(syms, l, r)
        out.extend(syms)
    return out
