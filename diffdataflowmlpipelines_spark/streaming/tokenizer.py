"""Streaming tokenizer pipeline — the full text -> token-id path run
INCREMENTALLY over a document stream: the streaming face of
``functions/bpe.tokenizer_pipeline`` (registry t20). Fixed learned BPE
merges are applied as a pure Catalyst projection INSIDE the streaming
plan (zero shuffle — the merge fold is an expression, not a join), the
resulting unit stream feeds the incremental sharded vocabulary
(``DriverVocabularyPipeline``, C12, the reference's
``integer_assignment_aggregate.rs:43-95``), and a
foreachBatch encode query maps each epoch's documents through the
CURRENT unit assignment into the north-rule shape
``(doc_id, tokens array<int>, n_tok, source)``.

Two queries share state through the exactly-once sink — the DD
shared-arrangement analogue, the same discipline as
``streaming/count_vectorizer.py``:

  query A (foreachBatch): doc stream -> explode words ->
          initial_symbols + apply_merges (map-only) -> explode units ->
          the vocabulary pipeline -> its output sink
  query B (foreachBatch): same epochs -> batch ``bpe_encode`` (the
          distinct-word + hash-join fast path is legal inside
          foreachBatch) -> join units against the CURRENT assignment ->
          token sink

B processes an epoch only after A committed it (the driver alternates
availableNow rounds); if B outruns A, a not-yet-assigned unit encodes
as ``-1`` — the OrdinalEncoder unseen convention
(``ordinal_encoder.rs``-parity surface) — instead of being dropped. A
restarted object restores the unit dictionary from the pipeline's input
sink, so query A resumes from its checkpoint with the same ids.

Contracts (pinned in tests/test_streaming_tokenizer.py):

- decode-back parity: mapping each emitted id sequence back through the
  final vocabulary reproduces the pure-python ``encode_local`` unit
  sequence per document byte-for-byte — the north rule's
  token-array-equality invariant;
- id stability: unit -> id is constant across epochs for insert-only
  streams (the vocabulary only renumbers on delete-driven compression;
  growth resizes preserve assignments). Delete-bearing vocabularies
  require re-encoding affected epochs — the same caveat family as the
  streaming CountVectorizer's update-epoch note;
- exactly-once: replayed epochs are dropped by both sinks.

Reference: pipeline-style per-epoch fit+transform discipline of
``pipelines/pipeline_2.rs:17-82`` composed with the vocabulary
aggregate of ``integer_assignment_aggregate.rs:43-95``, over the BPE
surface the reference lacks (its text path is tokenize-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.functions.bpe import (
    apply_merges,
    assemble_token_ids,
    bpe_encode,
    initial_symbols,
)
from diffdataflowmlpipelines_spark.functions.text import tokenize
from diffdataflowmlpipelines_spark.operators.collection import DIFF, with_diff
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.vocabulary import DriverVocabularyPipeline


class StreamingTokenizerPipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        merges: list[tuple[str, str]],
        *,
        n_shards: int = 4,
        id_col: str = "doc_id",
        text_col: str = "text",
        source_col: str = "source",
    ):
        self.spark = spark
        self.merges = list(merges)
        self.id_col = id_col
        self.text_col = text_col
        self.source_col = source_col
        self.vocab = DriverVocabularyPipeline(spark, f"{workdir}/units", n_shards=n_shards)
        self.token_sink = ExactlyOnceParquetSink(
            f"{workdir}/tokens", [id_col]
        )

    # -- query A: unit-vocabulary maintenance ---------------------------------

    def unit_stream(self, docs: DataFrame) -> DataFrame:
        """(token, diff, event_time) BPE-unit stream — a map-only
        projection (tokenize split, per-codepoint symbols, the merge
        fold, two explodes), so it runs unchanged inside a streaming
        plan with no shuffle. Keep learned merge tables handed to one
        expression modest (the apply_merges depth note); streaming
        cannot checkpoint between merge blocks the way batch
        ``bpe_encode`` does."""
        docs = with_diff(docs)
        words = docs.select(
            F.explode(tokenize(self.text_col)).alias("word"),
            DIFF,
            "event_time",
        )
        return words.select(
            F.explode(
                apply_merges(initial_symbols("word"), self.merges)
            ).alias("token"),
            DIFF,
            "event_time",
        )

    def start_vocab_query(self, docs_stream: DataFrame, ckpt: str):
        return (
            self.unit_stream(docs_stream)
            .writeStream.foreachBatch(self.vocab.foreach_batch())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # -- query B: document encoding -------------------------------------------

    def current_units(self) -> DataFrame:
        """(unit, __uid) live assignment from the vocabulary's upsert
        view; empty frame (not a crash) when B outruns A entirely."""
        if not self.vocab.output_sink.committed_epochs():
            return self.spark.createDataFrame([], "unit string, __uid long")
        cur = self.vocab.current_vocabulary()
        return cur.filter(F.col("idx") >= 0).select(
            F.col("token").alias("unit"), F.col("idx").alias("__uid")
        )

    def encode_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body for the doc stream (id_col, text_col
        [, source_col], event_time[, diff]). Unseen units encode as -1.

        Diff-aware at the DOCUMENT level (DD collection semantics, same
        treatment as the streaming CountVectorizer's net-positive
        counts): rows consolidate per (doc, text, source) and only the
        net-positive survivors encode — an update pair (-1 old text,
        +1 new text) encodes ONLY the new text; without this,
        bpe_encode's posexplode over both rows interleaves old and new
        symbols by position (round-5 review). A doc whose rows all net
        to <= 0 emits nothing this epoch: its last committed sink row
        stands (append-mode output cannot un-emit; full delete
        propagation needs the retractable-feature treatment —
        streaming/features.py's horizon discipline). Two DIFFERENT live
        texts for one doc in one epoch is a contract violation and
        raises loudly rather than emitting an interleaved array."""
        if self.token_sink.is_committed(epoch_id):
            return
        group_cols = [self.id_col, self.text_col] + (
            [self.source_col]
            if self.source_col in batch_df.columns
            else []
        )
        live = (
            with_diff(batch_df)
            .groupBy(*group_cols)
            .agg(F.sum(DIFF).alias(DIFF))
            .filter(F.col(DIFF) > 0)
            .drop(DIFF)
        )
        live = live.localCheckpoint(eager=True)  # dup check + encode + assembly
        dup = (
            live.groupBy(self.id_col)
            .count()
            .filter(F.col("count") > 1)
            .take(1)
        )
        if dup:
            raise ValueError(
                f"streaming tokenizer epoch {epoch_id}: doc "
                f"{dup[0][self.id_col]!r} has multiple live texts after "
                "consolidation — one live row per doc per epoch is the "
                "encode contract (send an update as -1 old / +1 new)"
            )
        enc = bpe_encode(
            live,
            self.merges,
            text_col=self.text_col,
            id_col=self.id_col,
        )
        vocab = self.current_units().localCheckpoint(eager=True)
        out = assemble_token_ids(
            live,
            enc,
            vocab,
            id_col=self.id_col,
            source_col=self.source_col,
            unseen=-1,
        )
        self.token_sink.write_batch(out, epoch_id)

    def foreach_batch(self):
        return lambda df, eid: self.encode_batch(df, eid)

    def current_tokens(self) -> DataFrame:
        return self.token_sink.read_current(self.spark)
