"""stream-drain: closed loop over the two stream pipelines, one after the
other in every round.

- windows: an epoch file of ``AGG_ROWS`` F1 sequences lands and is
  drained through ``sliding_token_frequency`` (60 s window, 10 s slide,
  update mode) into an ``ExactlyOnceParquetSink``;
- join: then a file holding a token epoch and its label epoch lands and
  is drained through ``label_join`` into a second ``ExactlyOnceParquetSink``.
  The two join inputs are the file stream's token rows and its label
  rows: landing a token file and a label file into two streams takes two
  renames, and a trigger that lists the directories between them splits
  the pair over two batches (about one round in five did, on a 4-core
  host).

Each source reads one file per micro-batch, and no-data batches are off,
as in a stream that is never idle: every round runs the same batches,
one per query, and each batch also evicts the state the watermark of
the batch before closed. The untimed warm-up is one file (pair) per
query, which fills the state, and then ``WARMUP_ROUNDS`` whole rounds
(with one, the measured rounds still ran 20-40 % faster from the first
to the fifth while the JVM compiled the hot code). The
measured rounds run at steady state size, with eviction on the clock.

An operation is one landed file (either query); its wait is from the
file landing to its query's drain ending, and a round is one of each.
Items are sequences drained (both queries)."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench.common import Run, log, pct, tree_cpu_s
from perfbench.inputs import (
    PAIR_COLS,
    TokenChunks,
    land,
    pair_file_frame,
    stage_file,
    token_label_pairs,
)
from perfbench.metrics import (
    Record,
    StreamRecord,
    data_batches,
    e2e_metrics,
    per_layer,
    progress_spans,
    wall_figures,
)
from perfbench.streams import TimedSink, drain, settled_progress

WINDOW, SLIDE, WATERMARK = "60 seconds", "10 seconds", "30 seconds"
AGG_ROWS = 30_000
# 150 s of event time per file: the first file fills the state
# (window + watermark = 90 s), every round evicts closed windows, and a
# run (warm-up included) spans over 5 x 90 s of event time
AGG_RATE = AGG_ROWS / 150.0
PAIR_ROWS = 5_000
# 50 s of event time per pair: the first pair fills the join state
# (tolerance 10 s + watermark 30 s), and a run's pairs (warm-up
# included) span over 5 x 40 s of event time
PAIR_RATE = PAIR_ROWS / 50.0
# rounds per run: --seconds / ROUND_S, at least MIN_ROUNDS. A round took
# about 4 s on a 4-core host; the count depends only on --seconds, so
# every run on every host drains the same batches.
ROUND_S = 4.0
MIN_ROUNDS = 3
WARMUP_ROUNDS = 2
DRAIN_TIMEOUT_S = 120.0


def pair_file_schema(tokens_schema, labels_schema):
    """Spark schema of ``inputs.PAIR_COLS``: every column nullable."""
    from pyspark.sql import types as T

    fields = {f.name: f.dataType for f in tokens_schema.fields + labels_schema.fields}
    fields["side"] = T.StringType()
    return T.StructType([T.StructField(c, fields[c], True) for c in PAIR_COLS])


def n_rounds(seconds: int) -> int:
    return max(MIN_ROUNDS, round(seconds / ROUND_S))


def run(r: Run) -> tuple:
    import pandas as pd

    from diffdataflowmlpipelines_spark.sources.fixtures import (
        LABELS_SCHEMA,
        TOKENS_STREAM_SCHEMA,
    )
    from diffdataflowmlpipelines_spark.streaming.join import label_join
    from diffdataflowmlpipelines_spark.streaming.sink import ExactlyOnceParquetSink
    from diffdataflowmlpipelines_spark.streaming.windows import sliding_token_frequency

    spark = r.spark
    rounds = n_rounds(r.seconds)
    files = 1 + WARMUP_ROUNDS + rounds
    dirs = {k: os.path.join(r.workdir, k) for k in ("agg", "join")}
    for d in dirs.values():
        os.makedirs(d)
    with r.generating():
        chunks = TokenChunks(r.seed, AGG_ROWS, AGG_RATE)
        agg_files = []
        for i in range(files):
            pdf = chunks.next()
            agg_files.append((stage_file(pdf, dirs["agg"], f"epoch-{i:05d}.parquet"),
                              len(pdf), int(pdf["n_tok"].sum())))
        pairs = token_label_pairs(r.seed, files, PAIR_ROWS, PAIR_RATE)
        # watermark-flush sentinel, as in the join's parity test
        flush_t = pairs[-1][0]["event_time"].max() + pd.Timedelta(minutes=5)
        tok_flush, lab_flush = pairs[-1][0].iloc[[0]].copy(), pairs[-1][1].iloc[[0]].copy()
        tok_flush["doc_id"], tok_flush["event_time"] = "__flush__", flush_t
        lab_flush["doc_id"], lab_flush["event_time"] = "__flush__lab", flush_t
        pair_files = [
            (stage_file(pair_file_frame(t, lab), dirs["join"], f"epoch-{i:05d}.parquet"), len(t))
            for i, (t, lab) in enumerate(pairs + [(tok_flush, lab_flush)])
        ]

    def stream(schema, d):
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)

    def sides(pairs_df):
        """The token and label inputs of ``label_join`` from pair files."""
        side = F.col("side")
        return (pairs_df.filter(side == "tok").select(*TOKENS_STREAM_SCHEMA.fieldNames()),
                pairs_df.filter(side == "lab").select(*LABELS_SCHEMA.fieldNames()))

    pair_schema = pair_file_schema(TOKENS_STREAM_SCHEMA, LABELS_SCHEMA)

    agg_sink = TimedSink(r, ExactlyOnceParquetSink(
        os.path.join(r.workdir, "agg_out"), ["window_start", "token"]))
    join_sink = TimedSink(r, ExactlyOnceParquetSink(
        os.path.join(r.workdir, "join_out"), ["doc_id", "source", "event_time", "label_time"]))

    # the windowed agg's "auto" state sizing sets the session's shuffle
    # partitions at plan build; a started query keeps its own copy of the
    # session conf, so restore it before the join is planned
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # read by each query at start(): a round lands one file per query,
    # and an idle query would otherwise run an extra batch per round
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    with r.tracer.span("streaming.windows.sliding_token_frequency", layer="streaming.windows"):
        agg = sliding_token_frequency(stream(TOKENS_STREAM_SCHEMA, dirs["agg"]),
                                      window=WINDOW, slide=SLIDE, watermark=WATERMARK)
    queries = {}
    try:
        queries["agg"] = (
            agg.writeStream.foreachBatch(agg_sink).outputMode("update")
            .option("checkpointLocation", os.path.join(r.workdir, "agg_ckpt")).start()
        )
        r.notes["agg_state_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
        with r.tracer.span("streaming.join.label_join", layer="streaming.join"):
            joined = label_join(*sides(stream(pair_schema, dirs["join"])))
        queries["join"] = (
            joined.writeStream.foreachBatch(join_sink).outputMode("append")
            .option("checkpointLocation", os.path.join(r.workdir, "join_ckpt")).start()
        )
        q_agg, q_join = queries["agg"], queries["join"]

        def round_trip(k: int) -> tuple[float, float, float]:
            """Land round ``k``'s files and drain each query in turn."""
            t0 = time.perf_counter()
            land(*agg_files[k][0])
            drain(q_agg, DRAIN_TIMEOUT_S)
            t1 = time.perf_counter()
            land(*pair_files[k][0])
            drain(q_join, DRAIN_TIMEOUT_S)
            return t0, t1, time.perf_counter()

        # untimed warm-up: the first file of each query fills its state
        # (their cold batches run side by side), then whole rounds
        r.phase("warmup.cold")
        land(*agg_files[0][0])
        land(*pair_files[0][0])
        drain(q_agg, DRAIN_TIMEOUT_S)
        drain(q_join, DRAIN_TIMEOUT_S)
        r.phase("warmup.rounds")
        for k in range(1, 1 + WARMUP_ROUNDS):
            round_trip(k)
        first = {k: len(q.recentProgress) for k, q in queries.items()}
        r.mark_setup_done()

        rec = Record(per_round={"agg": 1, "join": 1})
        agg_ms, fresh_ms = [], []
        agg_seqs, seqs, tokens, busy_s = 0, 0, 0, 0.0
        cpu0 = tree_cpu_s()
        for k in range(1 + WARMUP_ROUNDS, files):
            traced = r.trace and k % 2 == 0
            agg_sink.traced = join_sink.traced = traced
            with r.tracer.span("round", on=traced, round=k):
                t0, t1, t2 = round_trip(k)
            last_commit = join_sink.commits[max(join_sink.commits)]["t_commit"]
            agg_ms.append((t1 - t0) * 1000.0)
            fresh_ms.append((last_commit - t1) * 1000.0)
            rec.waits.append(((t1 - t0) * 1000.0, traced, "agg"))
            rec.waits.append(((t2 - t1) * 1000.0, traced, "join"))
            busy_s += t2 - t0
            _, rows, ntok = agg_files[k]
            agg_seqs += rows
            seqs += rows + pair_files[k][1]
            tokens += ntok
        rec.round_cpu_s = (tree_cpu_s() - cpu0) / rounds
        progress = {k: settled_progress(q, max(s.commits))[first[k]:]
                    for (k, q), s in zip(queries.items(), (agg_sink, join_sink))}

        # untimed: the flush sentinel pushes the join's watermark past
        # every landed row before the output check
        r.phase("flush")
        land(*pair_files[-1][0])
        drain(q_join, DRAIN_TIMEOUT_S)
    finally:
        for q in queries.values():
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)
    for name, q in queries.items():
        if q.exception() is not None:
            raise RuntimeError(f"stream-drain {name} query failed: {q.exception()}")

    for name, sink in (("agg", agg_sink), ("join", join_sink)):
        rec.streams[name] = StreamRecord(
            progress=progress[name],
            sink=sink.epoch_records([p["batchId"] for p in progress[name]]),
        )
    rec.streams["agg"].exploded_tokens = tokens
    rec.detail["seq_per_s"] = agg_seqs / (sum(agg_ms) / 1000.0)
    rec.detail["freshness_ms_p50"] = pct(fresh_ms, 50)
    rec.detail["freshness_ms_p90"] = pct(fresh_ms, 90)
    attempted = 2 * rounds

    r.phase("check")
    with r.tracer.span("check"):
        ok = check_agg(r, dirs["agg"], agg_sink.sink, sliding_token_frequency,
                       TOKENS_STREAM_SCHEMA)
        r.phase("check.join")
        not_flush = ~F.col("doc_id").startswith("__flush__")
        tokens, labels = sides(spark.read.schema(pair_schema).parquet(dirs["join"]))
        ok = check_join(r, tokens.filter(not_flush), labels.filter(not_flush),
                        join_sink.sink, label_join) and ok
    failed = 0 if ok else attempted
    r.jobs.resolve()
    for name, sink in (("agg", agg_sink), ("join", join_sink)):
        progress_spans(r, progress[name], sink.spans())
    r.notes.update(
        rounds=rounds, agg_ms=agg_ms, freshness_ms=fresh_ms,
        join_state_rows=[sum(op["numRowsTotal"] for op in p["stateOperators"])
                         for p in data_batches(progress["join"])],
    )
    rec.detail.update(wall_figures(rec, seqs, busy_s))
    return (
        ok, attempted, failed,
        e2e_metrics(r, rec),
        per_layer(r, rec, attempted, failed),
    )


def check_agg(r: Run, src: str, sink, sliding_token_frequency, schema) -> bool:
    """The sink's upsert view must equal the batch recompute over every
    landed file: same (window_start, token) keys, same tf."""
    spark = r.spark
    want = sliding_token_frequency(
        spark.read.schema(schema).parquet(src),
        window=WINDOW, slide=SLIDE, watermark=WATERMARK, streaming=False,
    ).alias("w")
    got = sink.read_current(spark).alias("g")
    joined = got.join(want, ["window_start", "token"], "full_outer")
    bad = joined.filter(
        F.col("g.tf").isNull() | F.col("w.tf").isNull() | (F.col("g.tf") != F.col("w.tf"))
    ).count()
    if bad:
        log(f"stream-drain agg check: {bad} of {joined.count()} (window, token) rows "
            "differ from the batch recompute")
    return bad == 0


def check_join(r: Run, tokens, labels, sink, label_join) -> bool:
    """Every committed join row, sentinel excluded, must equal the batch
    join of every landed file's rows: the same multiset of rows."""
    want = label_join(tokens, labels, streaming=False)
    got = (sink.read_all(r.spark).drop("epoch")
           .filter(~F.col("doc_id").startswith("__flush__")).select(*want.columns))
    bad = got.exceptAll(want).unionAll(want.exceptAll(got)).count()
    if bad:
        log(f"stream-drain join check: {bad} rows differ between the committed rows "
            "and the batch join")
    return bad == 0
