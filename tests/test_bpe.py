"""BPE vocabulary learning (functions/bpe.py): exact parity against
the pure-python Sennrich-2016 twin (merge tables, encodings,
tie-breaks), adversarial + randomized greedy-merge cases the
string-replace shortcut gets wrong, the linearity identity behind the
vocab-frame optimization, the streaming incremental pair-count twin
(incl. retractions), and end-to-end token-array equality for the
composed tokenizer pipeline. (The v1/v2/v3/t20 registry entries are
ALSO checked against generated DuckDB oracles — this suite is the
independent second gate.)
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from diffdataflowmlpipelines_spark.functions.bpe import (
    EOW,
    bpe_encode,
    corpus_pair_counts,
    encode_local,
    initial_symbols,
    learn_bpe,
    learn_bpe_local,
    merge_local,
    tokenize_local,
    merge_pair,
    pair_counts,
    word_frequencies,
)
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.sources import write_epoch_files

DOCS_SCHEMA = "doc_id string, text string"


def _docs_from_freqs(spark, wf: dict[str, int]):
    """One doc per word occurrence — makes word_frequencies(docs)
    reproduce ``wf`` exactly."""
    rows = []
    i = 0
    for w, f in wf.items():
        for _ in range(f):
            rows.append((f"d{i}", w))
            i += 1
    return spark.createDataFrame(rows, DOCS_SCHEMA)


# --- greedy merge application ------------------------------------------


MERGE_CASES = [
    # (sequence, left, right) — incl. the self-pair runs where the
    # string-replace trick mis-aligns (run of 4+: replace merges
    # elements 1-2 then 4-5 instead of 1-2, 3-4)
    (["x", "x", "x", "x"], "x", "x"),
    (["x", "x", "x"], "x", "x"),
    (["x", "x", "x", "x", "x"], "x", "x"),
    (["a", "x", "x", "x", "x", "b"], "x", "x"),
    (["a", "b", "a", "b"], "a", "b"),
    (["b", "a", "b", "a"], "a", "b"),
    (["a", "b"], "a", "b"),
    (["a"], "a", "b"),
    ([], "a", "b"),
    (["ab", "c", "c"], "ab", "c"),
    (["xx", "x", "x"], "xx", "x"),
]


def test_merge_pair_fold_matches_scan_definition(spark):
    rows = [(i, seq) for i, (seq, _, _) in enumerate(MERGE_CASES)]
    df = spark.createDataFrame(rows, "i int, syms array<string>")
    for i, (seq, l, r) in enumerate(MERGE_CASES):
        got = (
            df.filter(F.col("i") == i)
            .select(merge_pair(F.col("syms"), l, r).alias("m"))
            .collect()[0]["m"]
        )
        assert got == merge_local(seq, l, r), (seq, l, r, got)


def test_initial_symbols_no_empty_fragments(spark):
    df = spark.createDataFrame([("low",), ("x",), ("ab",)], "word string")
    got = {
        r["word"]: r["s"]
        for r in df.select(
            "word", initial_symbols("word").alias("s")
        ).collect()
    }
    assert got == {
        "low": ["l", "o", "w", EOW],
        "x": ["x", EOW],
        "ab": ["a", "b", EOW],
    }


# --- learn parity -------------------------------------------------------


def test_learn_bpe_golden_sennrich_corpus(spark):
    wf = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    docs = _docs_from_freqs(spark, wf)
    got = [tuple(r) for r in learn_bpe(docs, 10).collect()]
    want = learn_bpe_local(wf, 10)
    assert got == want
    # the classic corpus learns 'est</w>' as a unit
    merged = [m[3] for m in want]
    assert "est</w>" in merged


def test_learn_bpe_random_corpus_exact_parity(spark):
    rng = random.Random(1234)
    words = set()
    while len(words) < 40:
        n = rng.randint(1, 8)
        words.add("".join(rng.choice("abcde") for _ in range(n)))
    wf = {w: rng.randint(1, 9) for w in sorted(words)}
    docs = _docs_from_freqs(spark, wf)
    got = [tuple(r) for r in learn_bpe(docs, 12).collect()]
    want = learn_bpe_local(wf, 12)
    assert got == want


def test_learn_bpe_early_stop_when_fully_merged(spark):
    # single 1-char word: one merge ('a', EOW) exhausts every pair
    docs = spark.createDataFrame(
        [("d0", "a"), ("d1", "a"), ("d2", "a")], DOCS_SCHEMA
    )
    got = [tuple(r) for r in learn_bpe(docs, 5).collect()]
    assert got == [(0, "a", EOW, "a" + EOW, 3)]


# --- encode parity ------------------------------------------------------


def test_bpe_encode_matches_local_twin(spark):
    texts = [
        ("d1", "low lower lowest low"),
        ("d2", "newest wide widest newest"),
        ("d3", "low"),
        ("d4", ""),  # empty doc keeps a row with an empty encoding
    ]
    docs = spark.createDataFrame(texts, DOCS_SCHEMA)
    merges_df = learn_bpe(docs, 8)
    merges = [(r["left"], r["right"]) for r in merges_df.collect()]
    got = {
        r["doc_id"]: (r["bpe_tokens"], r["n_bpe"])
        for r in bpe_encode(docs, merges).collect()
    }
    for doc_id, text in texts:
        want = encode_local(text, merges)
        assert got[doc_id] == (want, len(want)), doc_id
    # round-trip: concatenating symbols of a word recovers word + EOW
    joined = "".join(got["d3"][0])
    assert joined == "low" + EOW


def test_bpe_encode_blocks_checkpoint_between_merge_groups(spark):
    # > merges_per_block merges exercises the checkpoint path
    docs = spark.createDataFrame(
        [("d1", "aaabbb aab abab babb ab"), ("d2", "bbbb aaaa ab ba")],
        DOCS_SCHEMA,
    )
    merges = [
        (r["left"], r["right"]) for r in learn_bpe(docs, 6).collect()
    ]
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(docs, merges, merges_per_block=2).collect()
    }
    for doc_id, text in [(r["doc_id"], r["text"]) for r in docs.collect()]:
        assert got[doc_id] == encode_local(text, merges)


# --- linearity: occurrence counts == freq-weighted vocab counts ---------


def test_corpus_pair_counts_equals_word_freq_path(spark):
    docs = spark.createDataFrame(
        [
            ("d1", "low low lower"),
            ("d2", "newest newest low"),
            ("d3", "wide widest"),
        ],
        DOCS_SCHEMA,
    )
    via_vocab = pair_counts(
        word_frequencies(docs).select(
            "freq", initial_symbols("word").alias("symbols")
        )
    )
    direct = corpus_pair_counts(docs)
    a = {(r["left"], r["right"]): r["pair_count"] for r in via_vocab.collect()}
    b = {(r["left"], r["right"]): r["pair_count"] for r in direct.collect()}
    assert a == b and len(a) > 5


# --- streaming twin: incremental pair statistics ------------------------


def test_streaming_pair_counts_parity(spark, tmp_path):
    rng = random.Random(7)
    rows = []
    for i in range(300):
        n = rng.randint(1, 6)
        rows.append(
            (
                f"d{i:04d}",
                " ".join(
                    "".join(
                        rng.choice("abcd") for _ in range(rng.randint(1, 5))
                    )
                    for _ in range(n)
                ),
            )
        )
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    src = str(tmp_path / "src")
    write_epoch_files(pdf, src, 5, sort_col=None)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["left", "right"])
    q = (
        corpus_pair_counts(stream)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["left"], r["right"]): r["pair_count"]
        for r in sink.read_current(spark).collect()
    }
    batch = spark.createDataFrame(pdf, schema)
    want = {
        (r["left"], r["right"]): r["pair_count"]
        for r in corpus_pair_counts(batch).collect()
    }
    assert got == want and len(want) > 10


# --- t20: full tokenizer path, token-array equality ----------------------


def test_tokenizer_pipeline_token_array_equality(spark):
    """The north-rule per-row invariant (token-array equality) for the
    composed text -> BPE -> int-id path, vs the pure-python twin with
    the same sorted-dictionary convention."""
    from diffdataflowmlpipelines_spark.functions.bpe import (
        tokenizer_pipeline,
    )

    got = {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in tokenizer_pipeline(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
            n_merges=8,
        ).collect()
    }
    docs = [
        (r["doc_id"], r["text"], r["source"])
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    ]
    wf: dict[str, int] = {}
    for _, text, _ in docs:
        for w in tokenize_local(text):
            wf[w] = wf.get(w, 0) + 1
    merges = [(l, r) for _, l, r, _, _ in learn_bpe_local(wf, 8)]
    units = sorted(
        {u for _, text, _ in docs for u in encode_local(text, merges)}
    )
    ids = {u: i for i, u in enumerate(units)}
    assert len(got) == len(docs)
    for doc_id, text, source in docs:
        want = [ids[u] for u in encode_local(text, merges)]
        assert got[doc_id] == (want, len(want), source), doc_id


def test_streaming_pair_counts_with_retractions(spark, tmp_path):
    """DD semantics: a later epoch retracts a document (diff=-1); the
    final consolidated pair counts equal the batch counts over the net
    collection, and pairs driven to 0 overwrite their stale sink rows."""
    # 6 rows over 3 epochs (2 rows each): d3's insert lands in epoch 2
    # and its retraction in epoch 3, so the ('w','o') count is COMMITTED
    # to the sink as a nonzero row by an earlier batch and must be
    # overwritten to 0 by a later one — the cross-batch stale-row path,
    # not an intra-batch cancellation.
    rows = [
        ("d1", "low low", 1),  # epoch 1
        ("d2", "lowest", 1),  # epoch 1
        ("d3", "wow", 1),  # epoch 2
        ("d4", "low", 1),  # epoch 2
        ("d3", "wow", -1),  # epoch 3: retract d3 entirely
        ("d5", "west", 1),  # epoch 3
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "diff"])
    src = str(tmp_path / "src")
    # epochs in listed order: insert epochs first, retraction last
    write_epoch_files(pdf, src, 3, sort_col=None)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("diff", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = ExactlyOnceParquetSink(str(tmp_path / "out"), ["left", "right"])
    q = (
        corpus_pair_counts(stream)
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["left"], r["right"]): r["pair_count"]
        for r in sink.read_current(spark).collect()
        if r["pair_count"] != 0
    }
    net_rows = [r for r in rows if r[0] != "d3"]
    net = spark.createDataFrame(
        pd.DataFrame(net_rows, columns=["doc_id", "text", "diff"]), schema
    )
    want = {
        (r["left"], r["right"]): r["pair_count"]
        for r in corpus_pair_counts(net.drop("diff")).collect()
    }
    assert got == want
    # the retracted-to-zero pairs ('w','o' of 'wow' etc.) really hit 0
    zeros = {
        (r["left"], r["right"])
        for r in sink.read_current(spark).collect()
        if r["pair_count"] == 0
    }
    assert ("o", "w") not in zeros  # still alive via 'low'/'lowest'
    assert ("w", "o") in zeros  # only 'wow' had it


def test_merge_pair_randomized_property(spark):
    """200 random symbol sequences x 4 merge pairs (incl. the self-pair
    and prefix-overlap shapes), all in one Spark job per pair — the fold
    must equal the left-to-right scan everywhere."""
    rng = random.Random(99)
    seqs = []
    for i in range(200):
        n = rng.randint(0, 10)
        seqs.append(
            (i, [rng.choice(["x", "a", "b", "xx", "ab"]) for _ in range(n)])
        )
    df = spark.createDataFrame(seqs, "i int, syms array<string>")
    pairs = [("x", "x"), ("a", "b"), ("b", "a"), ("xx", "x")]
    sel = df.select(
        "i",
        "syms",
        *[
            merge_pair(F.col("syms"), l, r).alias(f"m{k}")
            for k, (l, r) in enumerate(pairs)
        ],
    )
    for row in sel.collect():
        for k, (l, r) in enumerate(pairs):
            assert row[f"m{k}"] == merge_local(row["syms"], l, r), (
                row["syms"],
                l,
                r,
            )


# --- closure: the tokenizer's output feeds the streaming engine ----------


def test_tokenizer_output_feeds_north_star_stream(spark, tmp_path):
    """t20 claims the engine BUILDS the table its streaming half
    ingests. Prove it end-to-end: tokenizer_pipeline output (doc_id,
    tokens array<int>, n_tok, source) + ingest event_time/diff becomes
    the epoch-file stream, and the north-rule windowed token-frequency
    aggregation over it matches the batch recompute exactly."""
    from diffdataflowmlpipelines_spark.functions.bpe import (
        tokenizer_pipeline,
    )
    from diffdataflowmlpipelines_spark.sources.fixtures import (
        TOKENS_STREAM_SCHEMA,
    )
    from diffdataflowmlpipelines_spark.streaming.windows import (
        tumbling_token_frequency,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = tokenizer_pipeline(docs, n_merges=6)
    pdf = out.orderBy("doc_id").toPandas()
    # tokens stay numpy int32 arrays -> parquet list<int32>, matching
    # TOKENS_STREAM_SCHEMA; the batch side reads the SAME epoch files
    # ingest-time event clock: 20 docs/second, deterministic in doc order
    base = pd.Timestamp("2024-01-01")
    pdf["event_time"] = [
        base + pd.Timedelta(milliseconds=50 * i) for i in range(len(pdf))
    ]
    pdf["diff"] = 1
    pdf = pdf[["doc_id", "tokens", "n_tok", "source", "event_time", "diff"]]
    src = str(tmp_path / "src")
    write_epoch_files(pdf, src, 4)
    stream = (
        spark.readStream.schema(TOKENS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = ExactlyOnceParquetSink(
        str(tmp_path / "out"), ["window_start", "token"]
    )
    q = (
        tumbling_token_frequency(stream, window="5 seconds")
        .writeStream.foreachBatch(sink.foreach_batch())
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["token"]): r["tf"]
        for r in sink.read_current(spark).collect()
    }
    batch = spark.read.schema(TOKENS_STREAM_SCHEMA).parquet(src)
    want = {
        (r["window_start"], r["token"]): r["tf"]
        for r in tumbling_token_frequency(
            batch, window="5 seconds", streaming=False
        ).collect()
    }
    assert got == want
    assert len(want) > 50  # multiple windows x BPE-unit ids


def test_tokenize_local_matches_engine_on_unicode_whitespace(spark):
    """The twin tokenizer pins Java's ASCII-only \\s: a non-breaking
    space is NOT a separator for either side."""
    from diffdataflowmlpipelines_spark.functions.text import tokenize

    texts = ["foo\u00a0bar", "a  b\tc", " x ", "", "nl\nnl"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["t"] for r in df.select(tokenize("text").alias("t")).collect()]
    for t, g in zip(texts, got):
        assert g == tokenize_local(t), repr(t)
    assert tokenize_local("foo\u00a0bar") == ["foo\u00a0bar"]


def test_tokenizer_pipeline_without_source_column(spark):
    """source is part of the output CONTRACT, not an input requirement:
    a (doc_id, text) frame tokenizes with NULL source."""
    from diffdataflowmlpipelines_spark.functions.bpe import (
        tokenizer_pipeline,
    )

    docs = spark.createDataFrame(
        [("d1", "low lower"), ("d2", "low")], DOCS_SCHEMA
    )
    got = {r["doc_id"]: r for r in tokenizer_pipeline(docs, 4).collect()}
    assert set(got) == {"d1", "d2"}
    for r in got.values():
        assert r["source"] is None and r["n_tok"] == len(r["tokens"]) > 0


def test_registry_guards_raise_on_shallow_corpus(spark, tmp_path):
    """Review r4d: t20 lacked v3's early-stop guard — on a corpus
    supporting fewer merges than _BPE_K the generated k-iteration
    oracle silently empties while Spark encodes normally, so the gate
    failure would read as an engine bug. Both registry entries now
    self-diagnose with a ValueError naming the misconfiguration."""
    from diffdataflowmlpipelines_spark.plans.token_queries import (
        t20_tokenizer_pipeline,
        v3_bpe_encode,
    )

    spark.createDataFrame(
        [("d0", "ab", "s0")], "doc_id string, text string, source string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    for fn in (v3_bpe_encode, t20_tokenizer_pipeline):
        with pytest.raises(ValueError, match="supports only"):
            fn(spark, str(tmp_path))


def test_tokenizer_pipeline_precomputed_merges_parity(spark):
    """tokenizer_pipeline(merges=...) — the learn-once/encode-many path
    added so callers can see the merge count — produces exactly the
    rows of the self-learning path."""
    from diffdataflowmlpipelines_spark.functions.bpe import (
        tokenizer_pipeline,
    )

    docs = spark.createDataFrame(
        [
            ("d0", "low lower lowest", "a"),
            ("d1", "new newer newest", "b"),
            ("d2", "", "a"),
        ],
        "doc_id string, text string, source string",
    )
    merges = [
        (r["left"], r["right"]) for r in learn_bpe(docs, 6).collect()
    ]

    def rows(df):
        return {
            r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
            for r in df.collect()
        }

    assert rows(tokenizer_pipeline(docs, merges=merges)) == rows(
        tokenizer_pipeline(docs, n_merges=6)
    )


# --- incremental driver-side learner (the engine path, verdict r4 #1) ----


def test_incremental_matches_full_rescan_on_random_corpora():
    from diffdataflowmlpipelines_spark.functions.bpe import (
        learn_bpe_incremental,
    )

    for seed in (7, 99, 2024, 31337):
        rng = random.Random(seed)
        words = set()
        while len(words) < 120:
            n = rng.randint(1, 10)
            words.add("".join(rng.choice("abcd") for _ in range(n)))
        wf = {w: rng.randint(1, 20) for w in sorted(words)}
        # deep merge count: drives well into derived-symbol aliasing
        # territory (counts that INCREASE after first being pushed)
        assert learn_bpe_incremental(wf, 300) == learn_bpe_local(wf, 300), seed


def test_incremental_aliasing_count_increase_parity():
    from diffdataflowmlpipelines_spark.functions.bpe import (
        learn_bpe_incremental,
    )

    # 'ab' is derived at different ranks in different words, so pairs
    # involving the derived symbol gain count AFTER their first heap
    # push — the lazy-heap case that requires push-on-increase.
    wf = {"abc": 9, "zabc": 4, "aabc": 3, "abq": 2, "ab": 1}
    assert learn_bpe_incremental(wf, 50) == learn_bpe_local(wf, 50)


def test_learn_bpe_equals_spark_iterative_twin(spark):
    from diffdataflowmlpipelines_spark.functions.bpe import (
        learn_bpe_spark_iterative,
    )

    rng = random.Random(555)
    words = set()
    while len(words) < 30:
        n = rng.randint(1, 7)
        words.add("".join(rng.choice("abc") for _ in range(n)))
    wf = {w: rng.randint(1, 9) for w in sorted(words)}
    docs = _docs_from_freqs(spark, wf)
    fast = [tuple(r) for r in learn_bpe(docs, 15).collect()]
    slow = [tuple(r) for r in learn_bpe_spark_iterative(docs, 15).collect()]
    assert fast == slow


def test_incremental_early_stop_and_empty():
    from diffdataflowmlpipelines_spark.functions.bpe import (
        learn_bpe_incremental,
    )

    assert learn_bpe_incremental({}, 5) == []
    got = learn_bpe_incremental({"a": 3}, 5)
    assert got == [(0, "a", EOW, "a" + EOW, 3)]


def test_bpe_non_bmp_codepoints_end_to_end(spark):
    """Round-5 review: the zero-width regex split cut supplementary
    characters into UTF-16 surrogate halves under Java's code-unit
    match positions, so merges learned by the driver-side learner
    (python codepoints) never matched Spark's encode-time symbols.
    initial_symbols now splits per codepoint (F.split(c, "")) —
    verified against the twin, the iterative Spark learner, and the
    encode path on an astral-character corpus."""
    from diffdataflowmlpipelines_spark.functions.bpe import (
        learn_bpe_spark_iterative,
    )

    emoji, astral = "\U0001F600", "\U0001D11E"
    w = f"a{emoji}b"
    got = (
        spark.range(1).select(initial_symbols(F.lit(w)).alias("s")).first()["s"]
    )
    assert got == list(w) + [EOW]  # emoji is ONE symbol, not two halves

    texts = [
        ("d1", f"{emoji}{emoji} {emoji}{emoji}x"),
        ("d2", f"{astral}{emoji} {emoji}{emoji}"),
        ("d3", f"x{astral} {emoji}{emoji}x"),
    ]
    docs = spark.createDataFrame(texts, DOCS_SCHEMA)
    fast = [tuple(r) for r in learn_bpe(docs, 6).collect()]
    slow = [tuple(r) for r in learn_bpe_spark_iterative(docs, 6).collect()]
    assert fast == slow
    merges = [(l, r) for _, l, r, _, _ in fast]
    # the dominant pair is (emoji, emoji): the learned table must
    # contain an astral-bearing merge for the encode assertion to bite
    assert any(emoji in l or emoji in r for l, r in merges)
    enc = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(docs, merges).collect()}
    for doc_id, text in texts:
        assert enc[doc_id] == encode_local(text, merges), doc_id


def test_bpe_encode_word_syms_path_matches_default(spark):
    """The driver-side word->symbols fast path (learn_bpe_incremental
    return_word_syms=True fed to bpe_encode word_syms=...) must encode
    bit-identically to the distinct-vocab + merge-fold path on the
    corpus it was learned on — including empty documents."""
    from diffdataflowmlpipelines_spark.functions.bpe import (
        bpe_encode,
        learn_bpe_incremental,
        word_frequencies,
    )

    docs = spark.createDataFrame(
        [
            (0, "low lower lowest low"),
            (1, "newer new newest lower"),
            (2, ""),
            (3, None),
            (4, "low low low widest wide"),
        ],
        "doc_id long, text string",
    )
    wf = {r["word"]: int(r["freq"]) for r in word_frequencies(docs).collect()}
    full, word_syms = learn_bpe_incremental(wf, 6, return_word_syms=True)
    merges = [(m[1], m[2]) for m in full]
    base = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe"])
        for r in bpe_encode(docs, merges).collect()
    }
    fast = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe"])
        for r in bpe_encode(docs, merges, word_syms=word_syms).collect()
    }
    assert fast == base
    assert set(base) == {0, 1, 2, 3, 4}


def test_bpe_encode_word_syms_refuses_retractions(spark):
    """The word_syms table comes from diff-aware word frequencies (a
    fully retracted word is absent) while the encode explodes every
    row, so on a frame with a diff column the fast path would drop the
    retraction rows' words. It must refuse; the default path still
    encodes the same frame."""
    from diffdataflowmlpipelines_spark.functions.bpe import (
        learn_bpe_incremental,
        word_frequencies,
    )

    docs = spark.createDataFrame(
        [(0, "low lower", 1), (1, "widest", 1), (2, "widest", -1)],
        "doc_id long, text string, diff int",
    )
    wf = {r["word"]: int(r["freq"]) for r in word_frequencies(docs).collect()}
    assert "widest" not in wf
    full, word_syms = learn_bpe_incremental(wf, 2, return_word_syms=True)
    merges = [(m[1], m[2]) for m in full]
    with pytest.raises(ValueError, match="'diff' column"):
        bpe_encode(docs, merges, word_syms=word_syms)
    enc = {r["doc_id"]: list(r["bpe_tokens"]) for r in bpe_encode(docs, merges).collect()}
    assert enc[2] == encode_local("widest", merges)
