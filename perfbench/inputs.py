"""Seeded input generation for the workloads. Nothing here is timed.

The stream workload uses the package's F1 fixture
(``sources.fixtures.gen_tokens_pdf``: hot doc_ids, late rows,
retractions) and lays its rows out in arrival order so that no row is
behind the watermark when it lands: a regular row arrives at its nominal
time (its event time before the fixture made it late), a retraction row
at its own event time. Every row a stream reads is then counted by the
streaming result, so the batch recompute of the same files is an exact
oracle.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from diffdataflowmlpipelines_spark.sources.fixtures import (
    BASE_TS,
    gen_labels_pdf,
    gen_tokens_pdf,
)

_BASE = pd.Timestamp(BASE_TS)


def _seconds(ts: pd.Series) -> np.ndarray:
    return (ts - _BASE).dt.total_seconds().to_numpy()


def tokens_with_arrival(n_rows: int, seed: int, rows_per_second: float, first_row: int = 0,
                        t_offset_s: float = 0.0) -> pd.DataFrame:
    """F1 rows plus an ``arrival_s`` column. ``first_row`` and
    ``t_offset_s`` place the chunk after earlier chunks of one stream:
    doc ids continue the numbering and event times are shifted."""
    pdf = gen_tokens_pdf(n_rows, seed, rows_per_second=rows_per_second)
    if first_row:
        cold = pdf["doc_id"].str.match(r"doc-\d{8}$")
        num = pdf.loc[cold, "doc_id"].str[4:].astype("int64") + first_row
        pdf.loc[cold, "doc_id"] = num.map(lambda i: f"doc-{i:08d}")
    if t_offset_s:
        pdf["event_time"] = pdf["event_time"] + pd.Timedelta(seconds=t_offset_s)
    arrival = np.arange(len(pdf), dtype="float64") / rows_per_second + t_offset_s
    retract = (pdf["diff"] < 0).to_numpy()
    arrival[retract] = _seconds(pdf["event_time"])[retract]
    pdf["arrival_s"] = arrival
    return pdf


def stage_file(pdf: pd.DataFrame, directory: str, name: str) -> tuple[str, str]:
    """Write a file a stream will see only once ``land`` renames it."""
    staged = os.path.join(directory, f".{name}")
    pdf.to_parquet(staged, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    return staged, os.path.join(directory, name)


def land(staged: str, final: str) -> None:
    os.rename(staged, final)


TOKEN_COLS = ["doc_id", "tokens", "n_tok", "source", "event_time", "diff"]
LABEL_COLS = ["doc_id", "source", "label", "event_time"]


class TokenChunks:
    """An endless F1 token stream cut into epoch files of about
    ``rows_per_file`` rows. Rows whose arrival falls after the current
    file (retractions re-emitted later) carry over to the next one."""

    def __init__(self, seed: int, rows_per_file: int, rows_per_second: float):
        self.seed = seed
        self.rows_per_file = rows_per_file
        self.rps = rows_per_second
        self.k = 0
        self.carry = pd.DataFrame()

    def next(self) -> pd.DataFrame:
        k, n = self.k, self.rows_per_file
        chunk = tokens_with_arrival(
            n, self.seed * 100_003 + k, self.rps, first_row=k * n, t_offset_s=k * n / self.rps
        )
        rows = pd.concat([self.carry, chunk], ignore_index=True) if len(self.carry) else chunk
        rows = rows.sort_values("arrival_s", kind="stable")
        end = (k + 1) * n / self.rps
        self.carry = rows[rows["arrival_s"] >= end]
        self.k += 1
        return rows[rows["arrival_s"] < end][TOKEN_COLS].reset_index(drop=True)


def token_label_pairs(seed: int, n_pairs: int, rows_per_pair: int, rows_per_second: float):
    """``n_pairs`` (tokens, labels) epoch pairs of one stream. Labels
    (``gen_labels_pdf``) arrive at their own event time, so each side is
    cut by arrival time into the same consecutive windows."""
    n = n_pairs * rows_per_pair
    tok = tokens_with_arrival(n, seed, rows_per_second)
    lab = gen_labels_pdf(tok, seed + 1)
    lab["arrival_s"] = _seconds(lab["event_time"])
    span = rows_per_pair / rows_per_second
    tok_bin = np.minimum((tok["arrival_s"] // span).astype("int64"), n_pairs - 1)
    lab_bin = np.clip((lab["arrival_s"] // span).astype("int64"), 0, n_pairs - 1)
    tok = tok.assign(_bin=tok_bin).sort_values("arrival_s", kind="stable")
    lab = lab.assign(_bin=lab_bin).sort_values("arrival_s", kind="stable")
    tok_g = dict(tuple(tok.groupby("_bin", sort=True)))
    lab_g = dict(tuple(lab.groupby("_bin", sort=True)))
    empty_t, empty_l = tok.iloc[0:0], lab.iloc[0:0]
    return [
        (
            tok_g.get(i, empty_t)[TOKEN_COLS].reset_index(drop=True),
            lab_g.get(i, empty_l)[LABEL_COLS].reset_index(drop=True),
        )
        for i in range(n_pairs)
    ]


PAIR_COLS = ["doc_id", "tokens", "n_tok", "source", "event_time", "diff", "label", "side"]


def pair_file_frame(tokens: pd.DataFrame, labels: pd.DataFrame) -> pd.DataFrame:
    """One file holding both sides of a pair (``PAIR_COLS``): token rows
    with ``side`` "tok" and a null label, label rows with ``side`` "lab"
    and null token columns. Landing it is one rename, so a stream never
    sees one side of a pair without the other."""
    df = pd.concat([tokens.assign(side="tok"), labels.assign(side="lab")], ignore_index=True)
    df["tokens"] = df["tokens"].where(df["side"] == "tok", None)
    df = df.astype({"n_tok": "Int32", "diff": "Int64", "label": "Int32"})
    return df[PAIR_COLS]


# -- batch tables ---------------------------------------------------------

_WORDS = (
    "a the data spark stream batch window join group agg sort hash merge "
    "scan filter query table column row key value part line order customer "
    "vector big small fast slow"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _write_table(cols: dict, path: str) -> None:
    pq.write_table(pa.table(cols), path)


def write_batch_tables(directory: str, sf: float, seed: int) -> None:
    """The tables the batch suite reads (lineitem, customer, documents,
    events, embeddings), with the schemas of the engine's TPC-H-style
    test data, at scale factor ``sf``."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)

    n = max(1, int(6_000_000 * sf))
    n_orders = max(1, int(1_500_000 * sf))
    qty = rng.integers(1, 51, size=n).astype("float64")
    _write_table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, size=n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * sf)), size=n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, int(10_000 * sf)), size=n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(
                np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2), pa.float64()
            ),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["R", "A", "N"], size=n)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], size=n)),
            "l_shipdate": pa.array(
                np.datetime64("1995-01-02") + rng.integers(0, 2499, size=n).astype("timedelta64[D]"),
                pa.timestamp("us"),
            ),
        },
        os.path.join(directory, "lineitem.parquet"),
    )

    n = max(1, int(150_000 * sf))
    _write_table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, size=n)),
        },
        os.path.join(directory, "customer.parquet"),
    )

    n = max(1, int(50_000 * sf))
    lengths = rng.integers(10, 100, size=n)
    words = np.array(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lengths]
    # ~5% near-duplicates: an earlier document with "dup" appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write_table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, size=n, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        os.path.join(directory, "documents.parquet"),
    )

    n = max(1, int(1_000_000 * sf))
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, size=n))
    _write_table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), size=n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n)),
            "value": pa.array(np.round(rng.exponential(40.0, size=n) + 0.01, 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        },
        os.path.join(directory, "events.parquet"),
    )

    n = max(16, int(20_000 * sf))
    emb = rng.normal(size=(n, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write_table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
        },
        os.path.join(directory, "embeddings.parquet"),
    )


BATCH_TABLES = ["lineitem", "customer", "documents", "events", "embeddings"]
