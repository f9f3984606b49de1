"""Text analysis primitives — all JVM-side column expressions (no Python
in the hot path). Tokenizer semantics follow the reference
(``src/feature_encoders/feature_extraction/utils.rs:3-9``: whitespace
split, drop empties); the analysis functions (language-id heuristic,
quality scoring, token counting, fingerprinting) are the training-data-
pipeline extensions this engine adds on top of the reference inventory.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a small english stopword set for quality scoring / language heuristics
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that", "are",
]


def tokenize(text: Column | str) -> Column:
    """Whitespace tokenizer, dropping empty tokens (reference
    ``utils.rs:3-9``: ``split_whitespace``-equivalent)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: splits on whitespace AND
    letter/digit/punct boundaries (a regex approximation of BPE pre-
    tokenization a la GPT-2's pattern), for byte-budget estimation."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.split(c, r"(?<=\p{L})(?=\p{N})|(?<=\p{N})(?=\p{L})|\s+|(?=[^\p{L}\p{N}\s])")
    return F.size(F.filter(pieces, lambda t: t != "")).cast("long")


def quality_features(text: Column | str) -> dict[str, Column]:
    """Document quality heuristics: length, mean word length,
    punctuation ratio, stopword ratio, alpha ratio. Everything is a
    single-pass column expression; compose with ``df.select``.

    NULL text is the empty document — every feature is 0, never NULL
    (the gopher_quality_filter convention; previously mean_token_len
    was coalesced to 0.0 while its siblings stayed NULL, handing
    downstream filters a half-NULL half-zero feature row).
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.coalesce(c, F.lit(""))
    toks = tokenize(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
    )
    punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        # exact row-wise sum of token lengths (the closed form
        # (n_chars - n_tokens + 1)/n_tokens is only right for text
        # joined by exactly one ASCII space, and gave 1.0 for EMPTY
        # documents); 0 for empty docs
        "mean_token_len": F.coalesce(
            F.try_divide(
                F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast(
                    "double"
                ),
                n_tokens.cast("double"),
            ),
            F.lit(0.0),
        ).cast("double"),
        "punct_ratio": (punct / F.greatest(n_chars, F.lit(1))).cast("double"),
        "stopword_ratio": (stop / F.greatest(n_tokens, F.lit(1))).cast("double"),
        "alpha_ratio": (alpha / F.greatest(n_chars, F.lit(1))).cast("double"),
    }


def simple_language_id(text: Column | str) -> Column:
    """N-gram-free language heuristic: scores English stopword hits vs
    token count; returns 'en' above threshold else 'unknown'. (A real
    deployment would plug a fastText-style model in as a pandas UDF —
    library not in this sandbox; the Spark-side plumbing is identical.)
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokenize(c)
    stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    ratio = stop / F.greatest(F.size(toks), F.lit(1))
    return F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("unknown"))


def gopher_quality_filter(
    text: Column | str,
    *,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.80,
    min_stopword_hits: int = 2,
    toks: Column | None = None,
) -> dict[str, Column]:
    """Gopher-style document quality filter (Rae et al. 2021, §A1.1 —
    public rules), composed as a single map-only pass of column
    expressions (zero shuffle; at 100 TB this fuses into the scan).

    Rules (each emitted as a 0/1 flag plus the underlying signal):
      * token count in [min_tokens, max_tokens]
      * mean token length in [min_mean_token_len, max_mean_token_len]
      * symbol-to-word ratio ('#' chars + non-overlapping '...') <= max
      * fraction of words containing an alphabetic char >= min
      * at least ``min_stopword_hits`` DISTINCT stopwords present

    The published line-level rules (bullet-start / ellipsis-end line
    fractions) are inapplicable to this corpus (single-line documents,
    TESTDATA.md) and intentionally omitted. ``keep`` is the AND of all
    flags. Flags are ints (not booleans) for cross-engine hashing.
    NULL text is treated as the empty document (keep = 0 with zeroed
    signals), never NULL flags — a NULL verdict would silently vanish
    from both keep- and drop-side filters downstream.

    ``toks``: pass an already-materialized ``tokenize(coalesce(text,
    ''))`` column when the caller staged one (t15 checkpoints it) —
    the token-derived signals then read it instead of re-splitting the
    text per signal expression. Must be exactly that derivation or the
    flags change meaning.

    Beyond-reference operator (reference's text surface is tokenize-only,
    ``feature_extraction/utils.rs:3-9``).
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.coalesce(c, F.lit(""))
    if toks is None:
        toks = tokenize(c)
    n_tokens = F.size(toks).cast("long")
    tok_len_sum = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    mean_len = F.coalesce(
        F.try_divide(tok_len_sum.cast("double"), n_tokens.cast("double")),
        F.lit(0.0),
    )
    # '#' occurrences + non-overlapping '...' occurrences (both engines
    # count non-overlapping left-to-right)
    n_hash = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    n_ellipsis = (
        F.length(c) - F.length(F.regexp_replace(c, r"\.\.\.", ""))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / F.greatest(
        n_tokens, F.lit(1)
    ).cast("double")
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast(
        "long"
    )
    alpha_ratio = alpha_words.cast("double") / F.greatest(n_tokens, F.lit(1)).cast(
        "double"
    )
    stop_hits = F.size(
        F.array_intersect(
            F.transform(toks, F.lower), F.array(*[F.lit(s) for s in STOPWORDS])
        )
    ).cast("long")

    f_len = ((n_tokens >= min_tokens) & (n_tokens <= max_tokens)).cast("int")
    f_mean = (
        (mean_len >= min_mean_token_len) & (mean_len <= max_mean_token_len)
    ).cast("int")
    f_sym = (symbol_ratio <= max_symbol_ratio).cast("int")
    f_alpha = (alpha_ratio >= min_alpha_word_ratio).cast("int")
    f_stop = (stop_hits >= min_stopword_hits).cast("int")
    return {
        "n_tokens": n_tokens,
        "mean_token_len": F.round(mean_len, 6),
        "symbol_ratio": F.round(symbol_ratio, 6),
        "alpha_word_ratio": F.round(alpha_ratio, 6),
        "stopword_hits": stop_hits,
        "f_len": f_len,
        "f_mean_len": f_mean,
        "f_symbol": f_sym,
        "f_alpha": f_alpha,
        "f_stopword": f_stop,
        "keep": (f_len * f_mean * f_sym * f_alpha * f_stop).cast("int"),
    }


def duplicate_ngram_stats(tokens: Column | str, n: int = 2) -> dict[str, Column]:
    """Gopher-style intra-document repetition signal: the fraction of a
    document's n-grams that are duplicates of an earlier n-gram in the
    same document (filter rule: high duplicate-n-gram fraction marks
    boilerplate/spam). ZERO-shuffle: a pure row-wise projection
    (``array_distinct`` over the in-row gram array), so at 100 TB this
    is a map-only pass fused into the scan. Documents shorter than
    ``n`` tokens score 0 over 0 grams.
    """
    from diffdataflowmlpipelines_spark.functions.dedup import word_shingles

    c = F.col(tokens) if isinstance(tokens, str) else tokens
    long_enough = F.size(c) >= n
    n_grams = F.when(long_enough, F.size(c) - n + 1).otherwise(F.lit(0)).cast("long")
    n_distinct = (
        F.when(long_enough, F.size(F.array_distinct(word_shingles(c, n))))
        .otherwise(F.lit(0))
        .cast("long")
    )
    dup_frac = F.round(
        (n_grams - n_distinct).cast("double") / F.greatest(n_grams, F.lit(1)), 6
    )
    return {"n_grams": n_grams, "n_distinct": n_distinct, "dup_frac": dup_frac}


FP_BASE = 31
FP_MOD = 1_000_000_007


def word_fingerprint(tokens: Column | str) -> Column:
    """Deterministic rolling-hash document fingerprint over word lengths
    and first characters: h = fold(h*31 + wordcode) mod 1e9+7, where
    wordcode = 97*len(word) + ascii(first char). Engine-portable (exact
    same arithmetic is expressible in ANSI SQL for the oracle).

    A NULL token anywhere in the array yields a NULL fingerprint for
    the whole document (NULL propagates through the fold) — oracle-
    pinned behavior; ``tokenize`` never emits NULL tokens, so this only
    matters for token arrays read directly from external tables. Scrub
    or sentinel-encode NULL tokens upstream if such docs must
    fingerprint (grouping by fingerprint otherwise lumps every
    NULL-bearing doc into one NULL group).
    """
    c = F.col(tokens) if isinstance(tokens, str) else tokens
    code = lambda t: (F.lit(97) * F.length(t) + F.ascii(F.substring(t, 1, 1))).cast("long")  # noqa: E731
    return F.aggregate(
        c,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * FP_BASE + code(t)) % FP_MOD,
    )


# --- PII redaction (curation stage: scrub before training) ------------------
# Patterns kept to the RE2-compatible subset so the DuckDB oracle can run
# the byte-identical regexes (no lookaround, no backrefs). Order matters:
# emails first (an email contains dot-separated digits a later pattern
# could half-match), then IPv4, then phone numbers.

PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def redact_pii(text: Column | str) -> dict[str, Column]:
    """Redacted text plus per-kind match counts — pure column
    expressions (JVM regex, zero shuffle; the 100-TB shape is a map-only
    projection). Counts are taken BEFORE redaction of that kind, on the
    text already redacted by the preceding kinds, exactly like the
    sequential replace — the oracle replicates the same order.

    Returns {"redacted": Column, "n_email": .., "n_ipv4": .., "n_phone": ..}.
    """
    cur = F.col(text) if isinstance(text, str) else text
    out: dict[str, Column] = {}
    for kind, pat, repl in PII_PATTERNS:
        out[f"n_{kind}"] = F.coalesce(
            F.regexp_count(cur, F.lit(pat)), F.lit(0)
        ).cast("long")
        cur = F.regexp_replace(cur, pat, repl)
    out["redacted"] = cur
    return out


def oov_stats(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    vocab_size: int = 64,
):
    """Vocabulary-coverage diagnostic: per-document out-of-vocabulary
    token count/rate against the corpus's OWN top-``vocab_size``
    most-frequent tokens (ties broken token-ascending) — the standard
    "will my tokenizer cover this shard" check before training, and the
    closed-over-its-input cousin of the c8/c12 fit-transform encoders.
    Returns (id_col, n_tokens, n_oov, oov_rate) for EVERY input row;
    empty/NULL documents get 0 tokens and rate 0.

    Beyond-reference operator (reference text surface is tokenize-only,
    ``src/feature_encoders/feature_extraction/utils.rs:3-9``).

    100-TB shape: the tokenized corpus is staged ONCE (localCheckpoint —
    the count pass, the scoring join and the all-docs outer join would
    otherwise each re-scan and re-tokenize the base table); token counts
    are one map-side-combined hash aggregation; the top-V selection is
    ``orderBy().limit(V)`` — TakeOrderedAndProject, per-partition top-V
    then a V-row merge, so the DISTINCT-token frame (billions of rows
    at corpus scale) never funnels through a single-partition window
    (the same rule sketches._bottomk states explicitly; (count desc,
    token asc) is a total order, so limit == the rank filter exactly);
    scoring is a BROADCAST left join against the V-row vocab, so the
    corpus-sized side never shuffles on the token key.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = docs.select(
        id_col, tokenize(F.coalesce(c, F.lit(""))).alias("__toks")
    ).localCheckpoint(eager=True)
    tok = toks.select(id_col, F.explode("__toks").alias("__w"))
    cnt = tok.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    vocab = (
        cnt.orderBy(F.col("__c").desc(), F.col("__w").asc())
        .limit(vocab_size)
        .select("__w", F.lit(1).alias("__inv"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "__w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(
                F.when(F.col("__inv").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("__oov"),
        )
    )
    n = F.coalesce(F.col("__n"), F.lit(0)).cast("long")
    oov = F.coalesce(F.col("__oov"), F.lit(0)).cast("long")
    return (
        toks.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            n.alias("n_tokens"),
            oov.alias("n_oov"),
            F.round(oov / F.greatest(n, F.lit(1)), 6).alias("oov_rate"),
        )
    )


def chunk_documents(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_tokens: int = 32,
    overlap: int = 8,
):
    """Split documents into fixed-size token chunks with overlap — the
    chunker stage every pretraining/RAG pipeline runs before packing or
    embedding (t8 packs whole sequences; this produces them). Chunk i
    covers tokens [i*stride, i*stride + max_tokens) with
    stride = max_tokens - overlap; the final chunk may be short, and a
    document shorter than max_tokens yields exactly one chunk. Empty
    and NULL documents yield ZERO chunks (nothing to train on).

    Returns (id_col, chunk_id, chunk_text, n_tokens) — one row per
    chunk, chunk_id 0-based per document.

    100-TB shape: pure column expressions (tokenize once, F.sequence
    over chunk starts, F.slice + concat_ws per chunk, one explode) —
    zero shuffle, zero Python; the chunk fan-out happens inside the
    scan stage. Beyond-reference operator (text surface is
    tokenize-only, ``feature_extraction/utils.rs:3-9``).
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must be in [0, max_tokens)")
    stride = max_tokens - overlap
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokenize(F.coalesce(c, F.lit("")))
    n = F.size(toks)
    # number of chunks: ceil(max(n - overlap, 1) / stride) for n > 0
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.ceil((F.greatest(n - F.lit(overlap), F.lit(1))) / F.lit(stride)).cast(
            "int"
        )
    )
    starts = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.slice(toks, i * stride + 1, max_tokens).alias("ts"),
        ),
    )
    ex = docs.select(
        F.col(id_col), F.explode(chunks).alias("__c")
    )
    return ex.select(
        id_col,
        F.col("__c.chunk_id").alias("chunk_id"),
        F.array_join(F.col("__c.ts"), " ").alias("chunk_text"),
        F.size(F.col("__c.ts")).cast("long").alias("n_tokens"),
    )


def pmi_collocations(
    docs,
    text_col: str = "text",
    *,
    min_count: int = 5,
    top_k: int = 50,
):
    """Top-``top_k`` adjacent-bigram collocations by pointwise mutual
    information,

        PMI(a,b) = ln( (c_ab / N2) / ((c_a / N1) * (c_b / N1)) )

    over corpus-wide counts (N1/N2 = total unigrams/bigrams) — the
    classic collocation-extraction diagnostic (Church & Hanks 1990)
    run before tokenizer/vocab design: high-PMI pairs are the
    multi-word units a BPE vocabulary should learn as single tokens
    (cf. v2's merge table, which greedy-picks by raw pair frequency —
    PMI surfaces the statistically-bound pairs frequency misses).
    ``min_count`` suppresses the unstable low-count tail (PMI's known
    bias toward hapax pairs). Returns (w1, w2, n_pair, pmi), pmi
    rounded to 6, ordered (pmi desc, w1, w2) and limited to top_k.

    Beyond-reference operator (reference text surface is tokenize-only,
    ``src/feature_encoders/feature_extraction/utils.rs:3-9``).

    100-TB shape: tokens staged ONCE (localCheckpoint — bigram and
    unigram counts + the two totals would otherwise each re-scan and
    re-tokenize the base); both count frames are one map-side-combined
    hash aggregation each; the two totals are bounded fit statistics
    (1 row each); scoring joins the vocab²-bounded bigram frame
    against the vocab-sized unigram frame twice (genuine shuffle
    joins, the lm.py posture — one row per n-gram on the build side,
    AQE handles probe-side skew); top-k is ``orderBy().limit()`` →
    TakeOrderedAndProject, never a single-partition window. The PMI
    expression is evaluated in DOUBLE with the same association shape
    the oracle uses, so rounding agrees cross-engine.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = docs.select(
        tokenize(F.coalesce(c, F.lit(""))).alias("__toks")
    ).localCheckpoint(eager=True)
    n = F.size(F.col("__toks"))
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("__toks"), 1, n - 1),
            F.slice(F.col("__toks"), 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = toks.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    cu = (
        toks.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # totals: 1-row frames cross-joined into the plan (verdict r5 #2:
    # the collect() form fired two extra full driver jobs over the
    # staged toks per query build — as broadcast scalars the totals
    # compute inside the ONE query execution; identical doubles, the
    # c9 1-row-scalar-cross precedent)
    n1f = cu.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("double").alias("__n1")
    )
    n2f = cb.agg(
        F.coalesce(F.sum("n_pair"), F.lit(0)).cast("double").alias("__n2")
    )
    ca = cu.select(F.col("w").alias("__wa"), F.col("c").alias("__ca"))
    cbb = cu.select(F.col("w").alias("__wb"), F.col("c").alias("__cb"))
    # same association shape as the oracle: all-double left-assoc
    # products, one division, then ln — IEEE-identical cross-engine
    ratio = (
        F.col("n_pair").cast("double") * F.col("__n1") * F.col("__n1")
    ) / (F.col("__n2") * F.col("__ca").cast("double") * F.col("__cb").cast("double"))
    return (
        cb.filter(F.col("n_pair") >= min_count)
        .join(ca, F.col("w1") == F.col("__wa"))
        .join(cbb, F.col("w2") == F.col("__wb"))
        .join(F.broadcast(n1f), how="cross")
        .join(F.broadcast(n2f), how="cross")
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.round(F.log(ratio), 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_k)
    )


def source_ngram_overlap(
    docs,
    text_col: str = "text",
    group_col: str = "source",
    *,
    n: int = 3,
):
    """Pairwise cross-source n-gram contamination matrix: for every
    unordered source pair (a < b), the Jaccard similarity of their
    DISTINCT word-n-gram sets — the "how much do my crawls overlap"
    diagnostic run before mixture design (t10/t19 treat sources as
    independent; this measures where they aren't) and the corpus-level
    cousin of per-document MinHash dedup (d2/d3). Integer-exact except
    the final rounded division: intersection and set sizes are exact
    counts, so the oracle matches bit-for-bit with no float-order
    caveats. Returns (source_a, source_b, n_a, n_b, n_common, jaccard),
    jaccard rounded to 6 — ONE ROW PER PAIR WITH NON-ZERO OVERLAP
    (sparse-matrix convention, mirrored by the oracle's inner join): a
    pair absent from the output has jaccard exactly 0; consumers that
    need the dense |sources|² matrix outer-join against the distinct
    source pairs.

    NULL sources form a group (repo convention) but cannot join an
    equi-key pair frame portably; they are keyed as the empty string's
    sibling via a sentinel-free approach — rows with a NULL group are
    EXCLUDED here, documented (cross-engine: DuckDB/Spark disagree on
    NULL join semantics in self-joins; t19 handles the NULL group where
    it is a per-group stat, not a pair key).

    100-TB shape: one distinct over (group, gram) — a single shuffle,
    map-side combined; per-source set sizes re-aggregate that frame
    (localCheckpoint'ed, three consumers); the pair intersection is a
    self-equi-join ON THE GRAM (build side has one row per (source,
    gram); |sources| is small, so the join fans out at most |sources|
    per gram — never a cross join); the |sources|²-bounded result joins
    the size frame twice, broadcast."""
    from diffdataflowmlpipelines_spark.functions.dedup import true_word_shingles

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    g = F.col(group_col)
    toks = tokenize(F.coalesce(c, F.lit("")))
    # docs shorter than n contribute NO grams (true_word_shingles: a
    # set-overlap statistic wants true n-grams only)
    grams = (
        docs.filter(g.isNotNull())
        .select(g.alias("__g"), F.explode(true_word_shingles(toks, n)).alias("__gram"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = grams.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    a = grams.select(F.col("__g").alias("__ga"), "__gram")
    b = grams.select(F.col("__g").alias("__gb"), "__gram")
    inter = (
        a.join(b, "__gram")
        .filter(F.col("__ga") < F.col("__gb"))
        .groupBy("__ga", "__gb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("__g").alias("__ga"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("__g").alias("__gb"), F.col("__n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "__ga")
        .join(F.broadcast(sb), "__gb")
        .select(
            F.col("__ga").alias("source_a"),
            F.col("__gb").alias("source_b"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def source_unigram_kl(
    docs,
    text_col: str = "text",
    group_col: str = "source",
):
    """Per-group token-distribution drift: KL(P_group || P_corpus) over
    unigram frequencies,

        KL_g = sum_w  (c_gw / n_g) * ln( (c_gw / n_g) / (c_w / N) )

    — the "which source/shard drifts most from the training mixture"
    diagnostic run before re-weighting (cf. t10's mixture weights: that
    operator decides HOW MUCH of each source to take, this one measures
    how DIFFERENT each source reads). Always >= 0; 0 iff the group's
    unigram distribution equals the corpus's. Every term is exact: a
    group's support is a subset of the corpus support, so no smoothing
    is needed. Returns (group_col, n_tokens, kl), one row per group
    WITH AT LEAST ONE TOKEN — a group whose every document is
    NULL/empty contributes no tokens and is absent (KL is undefined on
    an empty distribution; mirrored by the oracle). Left-join the
    output against the distinct-group frame if token-less groups must
    appear.

    Beyond-reference operator (reference text surface is tokenize-only,
    ``src/feature_encoders/feature_extraction/utils.rs:3-9``).

    100-TB shape: ONE corpus-wide shuffle builds the (group, token)
    count frame; the corpus totals per token, per group, and overall are
    all re-aggregations of that |groups| x |vocab|-bounded frame
    (localCheckpoint'ed so its three consumers don't re-scan the base
    table — the d3/cep3 defect class, avoided at birth); the final join
    runs tiny x tiny.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    st = (
        docs.select(F.col(group_col).alias("__g"), F.explode(tokenize(c)).alias("__w"))
        .groupBy("__g", "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    ng = st.groupBy("__g").agg(F.sum("__c").alias("__ng"))
    ct = st.groupBy("__w").agg(F.sum("__c").alias("__cw"))
    # corpus total: 1-row frame cross-joined into the plan (verdict r5
    # #2: the collect() form fired an extra driver job over the staged
    # frame per query build; as a broadcast scalar it computes inside
    # the one execution — identical doubles, c9 1-row-scalar precedent)
    ntf = ng.agg(
        F.coalesce(F.sum("__ng"), F.lit(0)).cast("double").alias("__ntot")
    )
    pg = F.col("__c") / F.col("__ng")
    pc = F.col("__cw") / F.col("__ntot")
    # null-safe join: a NULL group is a group (repo convention; a plain
    # equi-join would silently drop the NULL source's rows)
    ng2 = ng.select(F.col("__g").alias("__g2"), "__ng")
    return (
        st.join(F.broadcast(ng2), F.col("__g").eqNullSafe(F.col("__g2")))
        .join(ct, "__w")
        .join(F.broadcast(ntf), how="cross")
        .groupBy("__g")
        .agg(
            F.max("__ng").cast("long").alias("n_tokens"),
            F.round(F.sum(pg * F.log(pg / pc)), 6).alias("kl"),
        )
        .select(F.col("__g").alias(group_col), "n_tokens", "kl")
    )


def ngram_novelty(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
):
    """Per-document n-gram novelty vs the earlier corpus: the fraction
    of a document's DISTINCT word-n-grams whose FIRST occurrence
    (minimum ``id_col``, the ingest-order proxy) is this document.
    A near-duplicate of earlier material scores ~0; fresh text scores
    ~1 — the streaming-friendly cousin of d2/d3 near-dup detection
    (one scalar per doc instead of candidate pairs) and the per-doc
    face of t22's corpus-level overlap matrix. The reference has no
    corpus-composition surface at all (its text ops stop at tokenize —
    ``src/utils.rs:3-9``).

    Returns (id_col, n_grams, n_novel, novelty): distinct-gram count,
    first-occurrence count, rounded ratio (0.0 for docs with < n
    tokens — true n-grams only, the t22 convention).

    100-TB shape: ONE distinct shuffle to the (doc, gram) frame
    (map-side combined, localCheckpoint'ed for its two consumers);
    per-doc sizes and per-gram first-owners are both plain
    re-aggregations of that frame; the novelty attribution is a
    groupBy over the first-owner column — no join ever touches the
    gram key a second time. Fan-out is bounded by token count; no
    pairwise anything.
    """
    from diffdataflowmlpipelines_spark.functions.dedup import true_word_shingles

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokenize(F.coalesce(c, F.lit("")))
    grams = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.explode(true_word_shingles(toks, n)).alias("__gram"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    per_doc = grams.groupBy("__id").agg(F.count(F.lit(1)).alias("__n_grams"))
    novel = (
        grams.groupBy("__gram")
        .agg(F.min("__id").alias("__first"))
        .groupBy("__first")
        .agg(F.count(F.lit(1)).alias("__n_novel"))
        .withColumnRenamed("__first", "__id")
    )
    base = docs.select(F.col(id_col).alias("__id"))
    out = base.join(per_doc, "__id", "left").join(novel, "__id", "left")
    ng = F.coalesce(F.col("__n_grams"), F.lit(0)).cast("long")
    nv = F.coalesce(F.col("__n_novel"), F.lit(0)).cast("long")
    return out.select(
        F.col("__id").alias(id_col),
        ng.alias("n_grams"),
        nv.alias("n_novel"),
        F.when(ng > 0, F.round(nv.cast("double") / ng.cast("double"), 6))
        .otherwise(F.lit(0.0))
        .alias("novelty"),
    )
