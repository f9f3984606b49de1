"""Streaming dense CountVectorizer — the M3+M5 composition: the
incremental sharded vocabulary (``DriverVocabularyPipeline`` in
streaming/vocabulary.py, the reference's PositionAssignmentAggregate)
feeds the dense bag-of-words encoding of the reference CountVectorizer
(``count_vectorizer.rs:40-69``).

DD shares one arrangement between dataflows; the Spark analogue here is
two queries sharing state THROUGH the exactly-once sink:

  query A (foreachBatch): token stream -> the vocabulary pipeline ->
          its output sink
  query B (foreachBatch): same epochs -> join tokens against that
          sink's CURRENT assignment -> dense count vector per doc

A restarted object restores the dictionary from the pipeline's input
sink, so query A resumes from its checkpoint with the same indices.

B processes an epoch only after A committed it (the driver runs A then
B per availableNow round), so every token a document carries is already
assigned — mirroring DD's "fit before transform within the epoch".
Unseen-at-encode tokens (possible only if B outruns A) land in a
guaranteed-empty overflow slot rather than being dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.operators.collection import DIFF, with_diff
from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
from diffdataflowmlpipelines_spark.streaming.vocabulary import DriverVocabularyPipeline


class StreamingCountVectorizer:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        *,
        n_shards: int = 4,
        binary: bool = False,
    ):
        self.spark = spark
        self.binary = binary
        self.vocab = DriverVocabularyPipeline(spark, f"{workdir}/vocab", n_shards=n_shards)
        self.vector_sink = ExactlyOnceParquetSink(f"{workdir}/vectors", ["doc_id"])

    # -- query A: vocabulary maintenance --------------------------------------

    def start_vocab_query(self, token_stream: DataFrame, ckpt: str):
        """token_stream: (token, diff, event_time), a str or int token."""
        return (
            token_stream.writeStream.foreachBatch(self.vocab.foreach_batch())
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # -- query B: encoding ------------------------------------------------------

    def current_vocab(self) -> DataFrame:
        if not self.vocab.output_sink.committed_epochs():
            # B outran A (explicitly allowed): no vocabulary yet — every
            # token routes to the overflow slot instead of crashing on
            # the empty sink
            return self.spark.createDataFrame(
                [], "token string, idx long, vec_len long"
            )
        cur = self.vocab.current_vocabulary()
        return cur.filter(F.col("idx") >= 0).select("token", "idx", "vec_len")

    def encode_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch body for the doc stream
        (doc_id, tokens array<string or int>, diff).

        Vector content is the batch's NET-POSITIVE token counts: binary
        presence requires a net-positive count (a retraction epoch must
        not light bits), and for insert-only per-doc streams — the
        replay convention of the parity tests — this equals the doc's
        current vector. Full-vector maintenance under per-doc UPDATE
        epochs needs the doc history (run the batch CountVectorizer
        over the consolidated input sink instead)."""
        if self.vector_sink.is_committed(epoch_id):
            return
        # pin ONE snapshot of the vocab for both the vec_len probe and
        # the join (read_current is a multi-epoch scan + window — twice
        # per batch otherwise); checkpoint blocks are GC-released
        vocab = self.current_vocab().localCheckpoint(eager=True)
        vec_len = (vocab.agg(F.max("vec_len").alias("l")).first() or {"l": None})["l"]
        vec_len = int(vec_len or 1)

        ex = with_diff(batch_df).select(
            "doc_id",
            F.explode(F.col("tokens").cast("array<string>")).alias("token"),
            DIFF,
        )
        tf = (
            ex.groupBy("doc_id", "token")
            .agg(F.sum(DIFF).alias("tf"))
            .filter(F.col("tf") > 0)
        )
        val = F.lit(1.0) if self.binary else F.col("tf").cast("double")
        # left join: a token not yet assigned (B outran A) -> overflow
        # slot vec_len (kept out of the dense range)
        hits = tf.join(F.broadcast(vocab), on="token", how="left").withColumn(
            "__slot", F.coalesce(F.col("idx"), F.lit(vec_len))
        )
        # pre-aggregate per (doc_id, slot): >=2 distinct unseen tokens
        # coalesce to the same overflow slot, and map_from_entries throws
        # DUPLICATED_MAP_KEY on duplicates (Spark default dedup policy)
        slot_val = F.max(val) if self.binary else F.sum(val)
        per_slot = hits.groupBy("doc_id", "__slot").agg(slot_val.alias("v"))
        entries = per_slot.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("__slot"), F.col("v")))
            ).alias("__m")
        )
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(vec_len - 1)),
            lambda i: F.coalesce(F.element_at(F.col("__m"), i.cast("long")), F.lit(0.0)),
        )
        out = (
            batch_df.select("doc_id").dropDuplicates()
            .join(entries, on="doc_id", how="left")
            .withColumn("vec", vec)
            .withColumn("vec_len", F.lit(vec_len))
            .drop("__m")
        )
        self.vector_sink.write_batch(out, epoch_id)

    def foreach_batch(self):
        return lambda df, eid: self.encode_batch(df, eid)

    def current_vectors(self) -> DataFrame:
        return self.vector_sink.read_current(self.spark)
