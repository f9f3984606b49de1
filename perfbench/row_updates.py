"""The single-document updates of the ``update-query`` workload.
``N_DOCS`` F1 documents are loaded into ``IncrementalScalerPipeline``
(key doc_id, value n_tok, ``round_to=(-2, 0)``) and
``DriverVocabularyPipeline`` (the documents' tokens) as epoch 0; then
single-document epochs, three inserts of new documents then a retraction
of a live one, repeated, each through both pipelines' ``process_epoch``.

An update's wait is the time from handing the epoch to the scaler until
the vocabulary returns. The initial load and ``WARMUP_UPDATES`` updates
are the untimed warm-up; then a fixed number of whole insert/retract
cycles is measured."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from perfbench.common import Run, log, pct, tree_cpu_s
from perfbench.metrics import Record

# the smallest base size of the repo's reference update protocol
# (tools/update_latency_bench.py: 1e4, 1e5, 1e6). The scaler's
# retraction takes its O(snapshot) path, so a cost that grows with the
# base shows less here than at larger bases.
N_DOCS = 10_000
RETRACT_EVERY = 4
WARMUP_UPDATES = 4
# measured cycles per run: the updates' share of --seconds over CYCLE_S,
# at least MIN_CYCLES. A cycle (four updates) took about 2 s on a 4-core
# host; the count depends only on --seconds, so every run on every host
# makes the same updates.
UPDATE_SHARE = 0.4
CYCLE_S = 2.0
MIN_CYCLES = 4
ROUND_TO = (-2, 0)
N_SHARDS = 4


def n_updates(seconds: int) -> int:
    return RETRACT_EVERY * max(MIN_CYCLES, round(seconds * UPDATE_SHARE / CYCLE_S))


def update_plan(seed: int, n_upd: int):
    """Init documents and the update sequence, as (kind, row) pairs: an
    insert of the next unseen document, and every ``RETRACT_EVERY``-th
    update a retraction of a randomly chosen live one. The fixed cadence
    gives every run the same mix of inserts and retractions."""
    from diffdataflowmlpipelines_spark.sources.fixtures import gen_tokens_pdf

    pool = gen_tokens_pdf(N_DOCS + n_upd, seed)
    pool = pool[pool["diff"] > 0].reset_index(drop=True)
    rng = np.random.default_rng(seed + 7)
    live = list(range(N_DOCS))
    nxt = N_DOCS
    plan = []
    for u in range(n_upd):
        if (u + 1) % RETRACT_EVERY == 0:
            j = int(rng.integers(len(live)))
            live[j], live[-1] = live[-1], live[j]
            plan.append(("retract", live.pop()))
        else:
            plan.append(("insert", nxt))
            live.append(nxt)
            nxt += 1
    return pool, plan


def _frames(spark, rows: pd.DataFrame, diff: int):
    """The scaler's (doc_id, n_tok, event_time, diff) rows and the
    vocabulary's exploded (token, diff, event_time) rows of ``rows``."""
    scal = rows[["doc_id", "n_tok", "event_time"]].assign(diff=diff)
    voc = rows[["tokens", "event_time"]].explode("tokens").rename(columns={"tokens": "token"})
    voc = voc.assign(token=voc["token"].astype("int32"), diff=diff)[["token", "diff", "event_time"]]
    return (
        spark.createDataFrame(scal, "doc_id string, n_tok int, event_time timestamp, diff long"),
        spark.createDataFrame(voc, "token int, diff long, event_time timestamp"),
        scal,
        voc,
    )


class Updates:
    """The update part of the ``update-query`` workload: ``setup`` loads
    the documents and makes the warm-up updates, ``measure`` the measured
    ones, ``check`` compares both pipelines' outputs with their oracles."""

    def __init__(self, r: Run, rec: Record):
        self.r = r
        self.rec = rec
        self.inputs_s: list = []  # every epoch's rows, for the output check
        self.inputs_v: list = []

    def setup(self) -> None:
        from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
            IncrementalScalerPipeline,
        )
        from diffdataflowmlpipelines_spark.streaming.vocabulary import DriverVocabularyPipeline

        r, spark = self.r, self.r.spark
        with r.generating():
            self.pool, self.plan = update_plan(r.seed, WARMUP_UPDATES + n_updates(r.seconds))
        self.scaler = IncrementalScalerPipeline(
            spark, os.path.join(r.workdir, "scaler"), ["doc_id"], "n_tok", round_to=ROUND_TO
        )
        self.vocab = DriverVocabularyPipeline(
            spark, os.path.join(r.workdir, "vocab"), n_shards=N_SHARDS
        )
        with r.generating():
            df_s, df_v, pdf_s, pdf_v = _frames(spark, self.pool.iloc[:N_DOCS], 1)
        self.inputs_s.append(pdf_s)
        self.inputs_v.append(pdf_v)
        t0 = time.perf_counter()
        with r.tracer.span("streaming.incremental_transform.init",
                           layer="streaming.incremental_transform"):
            self.scaler.process_epoch(df_s, 0)
        t1 = time.perf_counter()
        with r.tracer.span("streaming.vocabulary.init", layer="streaming.vocabulary"):
            self.vocab.process_epoch(df_v, 0)
        self.rec.init_s = {"scaler": t1 - t0, "vocab": time.perf_counter() - t1}
        self.rec.detail["init_s"] = time.perf_counter() - t0
        for u in range(WARMUP_UPDATES):
            self._update(u)

    def measure(self) -> tuple[int, float]:
        """The measured updates: their count and busy seconds."""
        rec = self.rec
        reencodes0 = self.scaler.full_reencodes
        busy_s, n = 0.0, 0
        cpu0 = tree_cpu_s()
        for u in range(WARMUP_UPDATES, len(self.plan)):
            kind, traced, jobs, scaler_s, vocab_s = self._update(u)
            n += 1
            busy_s += scaler_s + vocab_s
            rec.updates.append({"kind": kind, "scaler_ms": scaler_s * 1000.0,
                                "vocab_ms": vocab_s * 1000.0, "jobs": jobs})
            rec.waits.append(((scaler_s + vocab_s) * 1000.0, traced, kind))
        self.cpu_s = tree_cpu_s() - cpu0
        rec.full_reencodes = self.scaler.full_reencodes - reencodes0
        for kind, names in (("insert", ("insert_ms_p50", "insert_ms_p90")),
                            ("retract", ("retract_ms_p50",))):
            waits = [u["scaler_ms"] + u["vocab_ms"] for u in rec.updates if u["kind"] == kind]
            for name, q in zip(names, (50, 90)):
                rec.detail[name] = pct(waits, q)
        self.r.notes.update(updates=n, full_reencodes=rec.full_reencodes)
        return n, busy_s

    def _update(self, u: int) -> tuple:
        """Update ``u`` of the plan through both pipelines."""
        r, spark = self.r, self.r.spark
        kind, i = self.plan[u]
        epoch = u + 1
        with r.generating():
            df_s, df_v, pdf_s, pdf_v = _frames(
                spark, self.pool.iloc[[i]], 1 if kind == "insert" else -1
            )
        self.inputs_s.append(pdf_s)
        self.inputs_v.append(pdf_v)
        # a traced run traces every other insert/retract cycle
        traced = r.trace and (u // RETRACT_EVERY) % 2 == 0
        with r.tracer.span("update", on=traced, kind=kind, epoch=epoch), \
                r.jobs.group(f"update-{epoch}", on=traced) as jobs:
            t0 = time.perf_counter()
            with r.tracer.span("streaming.incremental_transform.process_epoch",
                               layer="streaming.incremental_transform", on=traced):
                self.scaler.process_epoch(df_s, epoch)
            t1 = time.perf_counter()
            with r.tracer.span("streaming.vocabulary.process_epoch",
                               layer="streaming.vocabulary", on=traced):
                self.vocab.process_epoch(df_v, epoch)
            t2 = time.perf_counter()
        return kind, traced, jobs, t1 - t0, t2 - t1

    def check(self) -> bool:
        ok = check_scaler(self.r, self.scaler, pd.concat(self.inputs_s, ignore_index=True))
        return check_vocab(self.r, self.vocab, self.inputs_v) and ok


def check_scaler(r: Run, scaler, inputs: pd.DataFrame) -> bool:
    """``current_output()`` against the batch StandardScaler fitted on the
    consolidated net collection of every epoch's rows. A hot doc_id can
    hold several live values; the upsert view keeps one of them, so its
    scaled value must be one of the batch results for that key."""
    from diffdataflowmlpipelines_spark.operators.collection import consolidate
    from diffdataflowmlpipelines_spark.operators.encoders import StandardScaler

    spark = r.spark
    with r.tracer.span("operators.standard_scaler", layer="operators"):
        df = spark.createDataFrame(
            inputs[["doc_id", "n_tok", "diff"]], "doc_id string, n_tok int, diff long"
        )
        net = consolidate(df, ["doc_id", "n_tok"]).filter("diff > 0")
        want: dict[str, list[float]] = {}
        for row in StandardScaler(round_to=ROUND_TO).fit_transform(net, "n_tok", "y").collect():
            want.setdefault(row["doc_id"], []).append(row["y"])
    got = {row["doc_id"]: row["scaled"] for row in scaler.current_output().collect()}
    bad = [k for k in set(got) | set(want)
           if k not in got or k not in want
           or not any(abs(got[k] - w) <= 1e-9 * max(1.0, abs(w)) for w in want[k])]
    if bad:
        log(f"update-query scaler check: {len(bad)} keys differ, e.g. {sorted(bad)[:3]}")
    return not bad


def check_vocab(r: Run, vocab, inputs: list) -> bool:
    """``current_vocabulary()`` against two oracles:

    - independent of the package: each token's count equals its net diff
      over every epoch's rows (a pandas groupby), and the live tokens'
      indices are distinct and non-negative;
    - a replay of every epoch through the streaming operator's per-shard
      step (``_apply_shard_batch`` on a ``ShardDict``), with shards routed
      by Spark's own xxhash64: the same index assignment."""
    from pyspark.sql import functions as F

    from diffdataflowmlpipelines_spark.streaming.vocabulary import ShardDict, _apply_shard_batch

    spark = r.spark
    tokens = sorted({int(t) for pdf in inputs for t in pdf["token"]})
    shard_of = {
        int(row["t"]): row["shard"]
        for row in spark.createDataFrame([(t,) for t in tokens], "t int").select(
            "t",
            F.pmod(F.xxhash64(F.col("t").cast("string")), F.lit(N_SHARDS)).cast("int").alias("shard"),
        ).collect()
    }
    dicts = {s: ShardDict() for s in range(N_SHARDS)}
    for pdf in inputs:
        keyed = pdf.assign(shard=pdf["token"].map(shard_of), token=pdf["token"].astype(str))
        for shard, g in keyed.groupby("shard", sort=True):
            _apply_shard_batch(dicts[int(shard)], int(shard), g, N_SHARDS)
    want = {}
    for s, d in dicts.items():
        for t, c in d.val_to_count.items():
            idx = d.val_to_index[t] * N_SHARDS + s if t in d.val_to_index else -1
            want[(s, t)] = (idx, c)
    got = {
        (row["shard"], row["token"]): (row["idx"], row["count"])
        for row in vocab.current_vocabulary().collect()
    }
    net = pd.concat(inputs, ignore_index=True).groupby("token")["diff"].sum()
    net = {str(t): int(c) for t, c in net.items()}
    counts = {t: c for (_, t), (_, c) in got.items()}
    live_idx = [i for (i, c) in got.values() if c > 0]
    wrong = {t for t in set(net) | set(counts) if counts.get(t, 0) != net.get(t, 0)}
    if wrong or len(got) != len(counts):
        log(f"update-query vocabulary check: {len(wrong)} tokens' counts differ from "
            "their net diff")
        return False
    if min(live_idx, default=0) < 0 or len(set(live_idx)) != len(live_idx):
        log("update-query vocabulary check: live token indices are negative or repeated")
        return False
    if got != want:
        diff = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
        log(f"update-query vocabulary check: {len(diff)} (shard, token) entries differ")
        return False
    return True
