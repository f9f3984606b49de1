"""Streaming near-duplicate detection — the dedup stage of a training
-data pipeline run where it actually has to run at 10^12-sequence scale:
on the ARRIVING stream, not as a post-hoc batch pass.

Composition (all bounded-state):

  docs stream ── minhash_signatures_rowwise (STATELESS projection —
                 the row-wise form needs no shuffle and no state)
              ── explode band buckets (stateless, xbands rows)
              ── watermarked stream-stream SELF-join on (band, bucket)
                 within ±tolerance event time  -> candidate pairs

State is bounded by the watermark exactly like the north-rule label
join: a document can only be matched against documents arriving within
the tolerance window, which is the correct semantic for streaming dedup
(matching against all history would need unbounded state; for cross-
window dedup, feed the emitted signatures to the batch LSH pass over
the exactly-once sink).

Candidate pairs may repeat across bands (band-level emission is
append-mode safe); exact-verify / distinct them in the downstream
foreachBatch (jaccard_pairs(candidates=...)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.functions.dedup import (
    lsh_band_buckets,
    minhash_signatures_rowwise,
)


def streaming_signatures(
    docs: DataFrame,
    *,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    n_hashes: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(key, sig) — a stateless select, works identically on a streaming
    or batch DataFrame (persist these through the exactly-once sink for
    cross-window batch dedup passes)."""
    return minhash_signatures_rowwise(
        docs,
        key,
        tokens_col,
        n_hashes=n_hashes,
        shingle_n=shingle_n,
        seed=seed,
    )


def streaming_near_dup_candidates(
    docs: DataFrame,
    *,
    key: str = "doc_id",
    tokens_col: str = "tokens",
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    watermark: str = "30 seconds",
    tolerance_s: int = 30,
    streaming: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs (a, b, a_time, b_time) from the arriving
    stream; a < b. Same function body serves the batch recompute oracle
    (streaming=False), which the parity test compares against.

    Signatures come from the SHARED rowwise projection (review r4d: an
    earlier inline copy here skipped its md5-array hoist — CollapseProject
    then inlined the md5s into every one of the n_hashes mins, hashing
    each shingle n_hashes times per row on the hot streaming path, the
    documented 4x slowdown the helper exists to avoid)."""
    sigs = minhash_signatures_rowwise(
        docs,
        key,
        tokens_col,
        n_hashes=n_hashes,
        shingle_n=shingle_n,
        seed=seed,
        passthrough=("event_time",),
    )
    banded = sigs.select(
        F.col(key),
        F.col("event_time"),
        F.explode(
            lsh_band_buckets(F.col("sig"), bands=bands, sig_len=n_hashes)
        ).alias("__bb"),
    ).select(
        key,
        "event_time",
        F.col("__bb.band").alias("band"),
        F.col("__bb.bucket").alias("bucket"),
    )
    if streaming:
        banded = banded.withWatermark("event_time", watermark)
    left = banded.select(
        F.col(key).alias("a"),
        F.col("event_time").alias("a_time"),
        "band",
        "bucket",
    )
    right = banded.select(
        F.col(key).alias("b"),
        F.col("event_time").alias("b_time"),
        F.col("band").alias("r_band"),
        F.col("bucket").alias("r_bucket"),
    )
    cond = (
        (left["band"] == right["r_band"])
        & (left["bucket"] == right["r_bucket"])
        & (left["a"] < right["b"])
        & (
            right["b_time"]
            >= left["a_time"] - F.expr(f"INTERVAL {tolerance_s} SECONDS")
        )
        & (
            right["b_time"]
            <= left["a_time"] + F.expr(f"INTERVAL {tolerance_s} SECONDS")
        )
    )
    return left.join(right, cond, "inner").select("a", "b", "a_time", "b_time")

# --- online semantic dedup (streaming twin of functions/similarity.
# semantic_dedup, the d10 SemDeDup operator) ---------------------------------

SEMANTIC_OUTPUT_SCHEMA = "vec_id long, cluster_id long, keep int"
SEMANTIC_STATE_SCHEMA = (
    "ids array<long>, norms array<double>, vecs array<array<double>>"
)


def _semantic_fn(threshold: float, round_to: int):
    def fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            ids, norms, vecs = state.get
            ids = list(ids)
            norms = [float(n) for n in norms]
            vecs = [np.asarray(v, dtype=np.float64) for v in vecs]
        else:
            ids, norms, vecs = [], [], []
        kept = set(ids)
        out = []
        # concat ALL Arrow chunks before the single global sort: a group
        # larger than arrow.maxRecordsPerBatch arrives as several pdfs,
        # and a per-chunk sort would make the greedy keep/drop verdicts
        # depend on chunk boundaries (same bug class as the features
        # fix — processing order must be a pure function of the batch
        # CONTENT)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = (
            pd.concat(chunks, ignore_index=True).sort_values("__id")
            if chunks
            else None
        )
        if batch is not None:
            # the outer loop is inherently sequential (greedy epsilon
            # net: each keep changes the comparison set); the rep
            # comparison inside is one vectorized matmul per arrival
            for rid, vec in zip(batch["__id"], batch["__vec"]):
                rid = int(rid)
                if rid in kept:
                    # replayed delivery of a kept vector: same verdict
                    out.append((rid, int(key[0]), 1))
                    continue
                v = np.asarray(vec, dtype=np.float64)
                vn = float(np.sqrt(v @ v))
                dup = False
                if vecs:
                    cos = (np.stack(vecs) @ v) / (np.asarray(norms) * vn)
                    dup = bool(np.any(np.round(cos, round_to) >= threshold))
                if dup:
                    out.append((rid, int(key[0]), 0))
                else:
                    ids.append(rid)
                    norms.append(vn)
                    vecs.append(v)
                    kept.add(rid)
                    out.append((rid, int(key[0]), 1))
        state.update(
            (ids, norms, [[float(x) for x in v] for v in vecs])
        )
        if out:
            yield pd.DataFrame(out, columns=["vec_id", "cluster_id", "keep"])

    return fn


def streaming_semantic_dedup(
    vecs: DataFrame,
    centroids: DataFrame,
    *,
    key: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    round_to: int = 9,
    subsplit_planes: int = 0,
    subsplit_seed: int = 42,
) -> DataFrame:
    """Online SemDeDup over an unbounded embedding stream: assign each
    arriving vector to its centroid cell (the SAME shuffle-free
    literal-centroid projection as the batch d10 — a stateless select,
    so it runs identically on the stream), then greedily keep the first
    vector of each epsilon-ball per cell: an arrival is dropped iff its
    cosine to some ALREADY-KEPT representative of its cell clears the
    threshold; otherwise it becomes a representative.

    Semantics vs the batch twin (functions/similarity.semantic_dedup):
    the batch rule drops x iff ANY lower-key vector matches (kept or
    dropped); the online rule compares against KEPT representatives
    only. On chain-free inputs (no a-b-c with cos(a,b) and cos(b,c)
    above threshold but cos(a,c) below) delivered in key order the two
    agree exactly (parity-tested); on transitive chains the online rule
    keeps the chain's far end — the standard online-greedy epsilon-net
    semantics, pinned by test.

    Replay-idempotent WITHOUT a seen-id log: the kept set only grows,
    and a drop verdict is monotone in the representative set (more
    representatives can only re-drop), so re-delivered rows reproduce
    their verdicts from the surviving state alone. State per cell is
    the representatives — the epsilon-packing of the cell, the minimum
    any online semantic dedup must hold; bound it operationally with
    more centroids (smaller cells), exactly like batch SemDeDup.

    Hot-cell cap (verdict r4 #2, the streaming face): a hot cell's
    representative state — and the per-arrival matmul against it —
    grows with the cell. ``subsplit_planes > 0`` adds a FIXED-width
    second-level hyperplane signature to the state key, so one hot
    cell becomes up to 2^planes independently-keyed state groups (the
    stream cannot count a cell up front, hence fixed width where the
    batch twin sizes bits per cell). Same contract change as batch
    ``max_cell``: arrivals compare only against representatives in
    their own sub-cell — identical directions always collide, pairs at
    angle θ miss a bit w.p. θ/π per plane. The batch twin's
    ``subsplit_bands`` OR-banding recall knob has NO streaming
    analogue by design: each state group greedily grows its own
    representative net, and a row kept in one band's group but
    shadowed in another's would need a cross-group verdict resolution
    (a second stateful stage) that breaks the monotone-replay
    idempotency argument above. Streams needing banded recall should
    run the batch form over sink epochs.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from diffdataflowmlpipelines_spark.functions.similarity import (
        _nearest_assign,
        hyperplanes,
        sign_signature,
    )

    assigned = _nearest_assign(
        vecs,
        key,
        vec_col,
        n_centroids=0,
        centroids=centroids,
        round_to=round_to,
        what="streaming_semantic_dedup",
    ).select("__id", F.col("__vec").cast("array<double>").alias("__vec"), "cluster_id")
    group_cols = ["cluster_id"]
    if subsplit_planes > 0:
        # dim from the (batch, tiny) centroid frame — the stream itself
        # cannot be probed with an action. Probe a NON-NULL row:
        # _nearest_assign tolerates null/zero centroid rows by filtering
        # them, so the probe must skip them too (review r5)
        probe = (
            centroids.select(vec_col)
            .where(F.col(vec_col).isNotNull())
            .first()
        )
        if probe is None:
            raise ValueError(
                "streaming_semantic_dedup: subsplit_planes > 0 needs at "
                "least one non-null centroid vector to size hyperplanes"
            )
        dim = len(probe[vec_col])
        planes = hyperplanes(dim, subsplit_planes, subsplit_seed)
        assigned = assigned.withColumn(
            "__sub", sign_signature(F.col("__vec"), planes)
        )
        group_cols = ["cluster_id", "__sub"]
    return assigned.groupBy(*group_cols).applyInPandasWithState(
        _semantic_fn(threshold, round_to),
        outputStructType=SEMANTIC_OUTPUT_SCHEMA,
        stateStructType=SEMANTIC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
