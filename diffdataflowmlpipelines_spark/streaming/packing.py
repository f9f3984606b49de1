"""Streaming sequence packing — the stateful twin of
``functions/packing.pack_sequences``: a running token offset per source
maintained as a ``keyed_fold`` state, so every arriving document is
assigned its (chunk, chunk_offset) in the 512-token concat-and-split
layout the trainer consumes, incrementally, exactly-once.

Semantics: documents pack in ARRIVAL order (epoch order, then
(event_time, doc_id) within a micro-batch) — that is what a production
packer does; the batch form packs in global ``id`` order. The parity
test feeds id-ordered epochs, where the two orders coincide, and
asserts identical rows. Packing is insert-only by nature (emitted
chunks cannot be unpacked): any non-unit multiplicity — retractions
(diff <= 0) AND consolidated diff >= 2 rows, which would pack a
twice-inserted document once — is rejected at the operator boundary
rather than silently mis-packed.

State is ONE long per stratum (the cumulative token count) — bounded by
|strata|, the cheapest state shape in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from diffdataflowmlpipelines_spark.streaming.keyed_fold import keyed_fold

PACK_OUTPUT_SCHEMA = (
    "source string, doc_id string, n_tok long, chunk long, chunk_offset long"
)
PACK_STATE_SCHEMA = "cum long"


def _pack_fold(budget: int):
    def fold(key, state, pdf):
        cum = int(state[0]) if state else 0
        if pdf["n_tok"].isna().any():
            # NaN < 0 is False, so a NULL length would slip past the
            # insert-only guard and crash the int cast below with an
            # error that never names the contract
            raise ValueError("packing requires non-null n_tok")
        if (pdf["n_tok"] < 0).any():
            raise ValueError("packing is insert-only; negative n_tok row seen")
        if "diff" in pdf.columns and (
            pdf["diff"].isna().any() or (pdf["diff"] != 1).any()
        ):
            # the honest contract is diff == 1 exactly: diff<=0 rows are
            # retractions (emitted chunks cannot be unpacked) and a
            # consolidated diff>=2 row is a MULTIPLICITY-2 document that
            # single-row packing would silently undercount — both reject
            # loudly. NaN != 1 is True, but keep the explicit NULL check
            # so the error names the contract (same trap as n_tok)
            raise ValueError(
                "packing is insert-only and unit-multiplicity (diff == 1"
                " required); retraction (diff <= 0), consolidated"
                " (diff >= 2) or NULL-diff row seen"
            )
        lens = pdf["n_tok"].astype("int64")
        start = cum + lens.cumsum() - lens
        out = {
            "source": pdf["source"].astype(str),
            "doc_id": pdf["doc_id"].astype(str),
            "n_tok": lens,
            "chunk": start // budget,
            "chunk_offset": start % budget,
        }
        return (cum + int(lens.sum()),), out

    return fold


def incremental_packing(df: DataFrame, budget: int = 512) -> DataFrame:
    """df: streaming (doc_id, n_tok, source, event_time[, ...]). Emits
    one packed row per arriving document, update-mode."""
    cols = ["source", "doc_id", "n_tok", "event_time"]
    # carry the delta multiplicity through if the stream has one, so the
    # unit-multiplicity guard can reject retraction (diff <= 0) and
    # consolidated (diff >= 2) rows instead of silently mis-packing them
    if "diff" in df.columns:
        cols.append("diff")
    return keyed_fold(
        df.select(*cols),
        "source",
        _pack_fold(budget),
        state_schema=PACK_STATE_SCHEMA,
        output_schema=PACK_OUTPUT_SCHEMA,
        order_by=("event_time", "doc_id"),
    )
