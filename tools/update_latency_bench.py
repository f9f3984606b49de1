"""Init + per-update latency benches mirroring the reference's three
published micro-benchmarks:

- ``scaler``: StandardScaler init/update (BASELINE.md rows: init 10.28s
  @ 1e6 rows, single-row update 1.45ms, 1e5-row update 1.0s; reference
  ``python/standard_scale_bench.py``, ``src/main.rs:306-374``): single-row
  inserts, single-row retractions of base rows, and a bulk update.
- ``multi``: the headline diabetes experiment — 21 StandardScalers with
  rounding maintained per-row-update with columnar assembly
  (``src/pipelines/pipeline_3_diabetes.rs:12-60``, paper Figure 3; init
  99.99% of rows then single-row epochs).
- ``dict``: the OrdinalEncoder dictionary micro-benchmark — init at
  base sizes 1e4/1e5/1e6 rows over 100 uniques, then 25 single-row
  updates with a new unique value every 20th; the reference's claim is
  update cost independent of base size (``src/main.rs:376-435``).

Usage: PYTHONPATH=. python tools/update_latency_bench.py [scaler|multi|dict|all]
Env: INIT_ROWS (default 1_000_000), N_UPDATES (20), BULK_ROWS (100_000),
     MULTI_COLS (21), MULTI_INIT_ROWS (70_000), DICT_BASES (1e4,1e5,1e6)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INIT_ROWS = int(os.environ.get("INIT_ROWS", "1000000"))
N_UPDATES = int(os.environ.get("N_UPDATES", "20"))
BULK_ROWS = int(os.environ.get("BULK_ROWS", "100000"))
MULTI_COLS = int(os.environ.get("MULTI_COLS", "21"))
MULTI_INIT_ROWS = int(os.environ.get("MULTI_INIT_ROWS", "70000"))
DICT_BASES = [
    int(float(x))
    for x in os.environ.get("DICT_BASES", "10000,100000,1000000").split(",")
]


def bench_scaler(spark) -> dict:
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
        IncrementalScalerPipeline,
    )

    work = tempfile.mkdtemp(prefix="latbench_")
    pipe = IncrementalScalerPipeline(
        spark, work, ["row_id"], "x", round_to=(-2, 0)
    )
    rng = np.random.default_rng(42)

    def mkpdf(start, n):
        return pd.DataFrame(
            {
                "row_id": np.arange(start, start + n, dtype="int64"),
                "x": rng.normal(100.0, 25.0, size=n),
                "diff": np.ones(n, dtype="int64"),
            }
        )

    def mkdf(start, n):
        return spark.createDataFrame(
            mkpdf(start, n), "row_id long, x double, diff long"
        )

    fold_schema = pa.schema(
        [("row_id", pa.int64()), ("x", pa.float64()), ("diff", pa.int64())]
    )

    try:
        init_pdf = mkpdf(0, INIT_ROWS)
        init_df = spark.createDataFrame(init_pdf, "row_id long, x double, diff long")
        t0 = time.time()
        pipe.process_epoch(init_df, 0)
        init_sec = time.time() - t0

        update_ms = []
        for k in range(N_UPDATES):
            df = mkdf(INIT_ROWS + k, 1)
            t0 = time.time()
            pipe.process_epoch(df, k + 1)
            update_ms.append((time.time() - t0) * 1000)

        # driver-local entry (process_epoch_local): the caller already
        # holds the delta as pandas, so the ~30 ms limit().collect()
        # size-probe job is skipped — the apples-to-apples comparison
        # with the reference's in-process 1.45 ms per-row update
        local_ms = []
        for k in range(N_UPDATES):
            pdf = pd.DataFrame(
                {
                    "row_id": np.array([INIT_ROWS + 10_000 + k], dtype="int64"),
                    "x": rng.normal(100.0, 25.0, size=1),
                    "diff": np.ones(1, dtype="int64"),
                }
            )
            t0 = time.time()
            pipe.process_epoch_local(pdf, N_UPDATES + 1 + k)
            local_ms.append((time.time() - t0) * 1000)

        # single-row retractions of base rows through the same entry:
        # the touched key's history is read from the input sink with
        # pyarrow; a retraction that moves the rounded statistic
        # cascades instead (counted apart)
        retract_ms = []
        reencodes0 = pipe.full_reencodes
        for k in range(N_UPDATES):
            pdf = init_pdf.iloc[[k]].assign(diff=-1)
            t0 = time.time()
            pipe.process_epoch_local(pdf, 2 * N_UPDATES + 1 + k)
            retract_ms.append((time.time() - t0) * 1000)
        retract_reencodes = pipe.full_reencodes - reencodes0

        bulk_df = mkdf(INIT_ROWS + N_UPDATES, BULK_ROWS)
        t0 = time.time()
        pipe.process_epoch(bulk_df, 3 * N_UPDATES + 1)
        bulk_sec = time.time() - t0

        # bulk fold-only lane (non-committing; only the other
        # non-committing lane may follow): the reference's 1.0 s
        # 1e5-row update holds its collection trace in RAM and emits
        # re-encoded rows without durability. Apples-to-apples: the
        # trace is read into driver memory once (pipe._history(), the
        # trace-in-RAM precondition, not part of the update), the batch
        # is built as a pa.Table likewise; the TIMED region is the same
        # work the reference times — fold the batch into the statistic,
        # consolidate trace ⊎ batch, re-encode every live row — with the
        # pipeline's own _fold and _emit and no sink commit.
        trace = pipe._history()
        grain = [*pipe.key_cols, *pipe.value_cols, "diff"]
        # median of 3 reps, same convention as the single-row lanes:
        # each rep folds a FRESH 1e5-row batch against the same 1.1M-row
        # trace (constant work per rep); the max is disclosed.
        bulk_foldonly_secs = []
        for rep in range(3):
            bulk2 = pa.Table.from_pandas(
                mkpdf(INIT_ROWS + N_UPDATES + (rep + 1) * BULK_ROWS, BULK_ROWS),
                schema=fold_schema,
                preserve_index=False,
            )
            t0 = time.time()
            pipe._fold(bulk2)
            both = pa.concat_tables([trace, bulk2.select(grain)])
            pipe._emit(both, pipe._current_meta())
            bulk_foldonly_secs.append(time.time() - t0)

        # fold-only lane (run LAST; it advances the statistic without a
        # sink commit, so nothing may follow it): the in-process
        # statistical fold + net-row re-encode with NO durable writes —
        # the exact work inside the reference's 1.45 ms per-row number,
        # which holds its aggregate in memory and emits the encoded row
        # without durability. The gap between this lane and the local
        # entry above IS the price of the two exactly-once parquet
        # commits per update.
        fold_ms = []
        for k in range(N_UPDATES):
            row = (INIT_ROWS + 20_000 + k, float(rng.normal(100.0, 25.0)), 1)
            table = pa.Table.from_pylist(
                [dict(zip(fold_schema.names, row))], schema=fold_schema
            )
            t0 = time.time()
            pipe._fold(table)
            pipe._emit(table, pipe._current_meta())
            fold_ms.append((time.time() - t0) * 1000)

        return {
            "init_rows": INIT_ROWS,
            "init_sec": round(init_sec, 2),
            "init_rows_per_s": round(INIT_ROWS / init_sec, 0),
            "single_row_update_ms_median": round(statistics.median(update_ms), 1),
            "single_row_update_ms_min": round(min(update_ms), 1),
            "single_row_update_local_ms_median": round(
                statistics.median(local_ms), 1
            ),
            "single_row_update_local_ms_min": round(min(local_ms), 1),
            "single_row_retract_local_ms_median": round(
                statistics.median(retract_ms), 1
            ),
            "single_row_retract_local_ms_min": round(min(retract_ms), 1),
            "single_row_retract_full_reencodes": retract_reencodes,
            "single_row_fold_only_ms_median": round(
                statistics.median(fold_ms), 2
            ),
            "single_row_fold_only_ms_min": round(min(fold_ms), 2),
            "bulk_rows": BULK_ROWS,
            "bulk_update_sec": round(bulk_sec, 2),
            "bulk_update_foldonly_sec_median": round(
                statistics.median(bulk_foldonly_secs), 2
            ),
            "bulk_update_foldonly_sec_max": round(
                max(bulk_foldonly_secs), 2
            ),
            "full_reencodes": pipe.full_reencodes,
            "epochs": pipe.epochs,
            "reference": {
                "init_1e6_sec": 10.28,
                "single_row_update_ms": 1.45,
                "bulk_1e5_update_sec": 1.0,
            },
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_multi(spark) -> dict:
    """Diabetes shape: MULTI_COLS scalers, rounding (−2, −1), init
    99.99%-style bulk epoch then single-row epochs — one columnar fold
    per epoch for ALL columns, zero-join list assembly."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from diffdataflowmlpipelines_spark.streaming.incremental_transform import (
        IncrementalMultiScalerPipeline,
    )

    cols = [f"x{i}" for i in range(MULTI_COLS)]
    work = tempfile.mkdtemp(prefix="latbench_multi_")
    pipe = IncrementalMultiScalerPipeline(
        spark, work, ["row_id"], cols, round_to=(-2, -1)
    )
    rng = np.random.default_rng(42)
    schema = "row_id long, " + ", ".join(f"{c} double" for c in cols) + ", diff long"

    def mkdf(start, n):
        data = {"row_id": np.arange(start, start + n, dtype="int64")}
        for j, c in enumerate(cols):
            # diabetes-like scales (normalized features, sigma <= 1): the
            # per-insert statistic drift sigma^2/n must sit well under the
            # (-2, -1) rounding grain or suppression never fires — with
            # sigma=0.5, var drift ~ 0.25/7e4 per row vs grain 0.1
            data[c] = rng.normal(float(j), 0.5, size=n)
        data["diff"] = np.ones(n, dtype="int64")
        return spark.createDataFrame(pd.DataFrame(data), schema)

    try:
        t0 = time.time()
        pipe.process_epoch(mkdf(0, MULTI_INIT_ROWS), 0)
        init_sec = time.time() - t0

        update_ms = []
        for k in range(N_UPDATES):
            df = mkdf(MULTI_INIT_ROWS + k, 1)
            t0 = time.time()
            pipe.process_epoch(df, k + 1)
            update_ms.append((time.time() - t0) * 1000)

        local_ms = []
        for k in range(N_UPDATES):
            data = {"row_id": np.array([MULTI_INIT_ROWS + 10_000 + k], dtype="int64")}
            for j, c in enumerate(cols):
                data[c] = rng.normal(float(j), 0.5, size=1)
            data["diff"] = np.ones(1, dtype="int64")
            pdf = pd.DataFrame(data)
            t0 = time.time()
            pipe.process_epoch_local(pdf, N_UPDATES + 1 + k)
            local_ms.append((time.time() - t0) * 1000)

        # fold-only lane (run LAST; no sink commit follows): all 21
        # statistic folds + the net-row re-encode with no durability —
        # the reference's Fig.3 per-row condition
        fold_schema = pa.schema(
            [("row_id", pa.int64())]
            + [(c, pa.float64()) for c in cols]
            + [("diff", pa.int64())]
        )
        fold_ms = []
        for k in range(N_UPDATES):
            values = [float(rng.normal(float(j), 0.5)) for j in range(len(cols))]
            row = (MULTI_INIT_ROWS + 20_000 + k, *values, 1)
            table = pa.Table.from_pylist(
                [dict(zip(fold_schema.names, row))], schema=fold_schema
            )
            t0 = time.time()
            pipe._fold(table)
            pipe._emit(table, pipe._current_meta())
            fold_ms.append((time.time() - t0) * 1000)

        return {
            "cols": MULTI_COLS,
            "init_rows": MULTI_INIT_ROWS,
            "init_sec": round(init_sec, 2),
            "single_row_update_ms_median": round(statistics.median(update_ms), 1),
            "single_row_update_ms_min": round(min(update_ms), 1),
            "single_row_update_local_ms_median": round(
                statistics.median(local_ms), 1
            ),
            "single_row_update_local_ms_min": round(min(local_ms), 1),
            "single_row_fold_only_ms_median": round(
                statistics.median(fold_ms), 2
            ),
            "single_row_fold_only_ms_min": round(min(fold_ms), 2),
            "full_reencodes": pipe.full_reencodes,
            "epochs": pipe.epochs,
            "reference_note": (
                "pipeline_3_diabetes.rs:12-60 / paper Fig.3: DD loses to "
                "sklearn end-to-end; bottleneck is the 21-way row-id join "
                "to assemble vectors. This engine assembles one list "
                "array from the scaled columns (zero joins) and folds "
                "all 21 statistics in one columnar pass per epoch."
            ),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench_dict(spark) -> dict:
    """Reference harness mirror (src/main.rs:376-435): init `base` rows
    over 100 uniques, then 25 single-row updates (new unique every
    20th). Measures the incremental vocabulary's per-update micro-batch
    execution time in a long-running stream (triggerExecution from query
    progress, isolating batch cost from query startup), then the same
    epochs through its foreachBatch body and its driver-local entry."""
    from datetime import datetime, timedelta

    import pandas as pd

    from diffdataflowmlpipelines_spark.streaming.sources import EpochFileSource
    from diffdataflowmlpipelines_spark.streaming.vocabulary import (
        DriverVocabularyPipeline,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("token", T.StringType(), False),
            T.StructField("diff", T.LongType(), False),
            T.StructField("event_time", T.TimestampType(), False),
        ]
    )
    t0_ts = datetime(2024, 1, 1)
    uniques, appends = 100, 25

    def start(work, base):
        """Start ONE long-running query on ``work`` and drain an init
        epoch of ``base`` rows through it; returns the source, the live
        query, the init frame and the drain's seconds. Per-update cost is
        then measured by processAllAvailable wall time (VERDICT r2: the
        per-epoch availableNow restart dominated the old medians — a
        real deployment keeps the query alive, so the restart cost is
        paid once, not per update)."""
        src = EpochFileSource(spark, f"{work}/src", schema)
        streamed = DriverVocabularyPipeline(spark, f"{work}/stream", n_shards=4)
        q = (
            src.stream()
            .writeStream.foreachBatch(streamed.foreach_batch())
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            init = pd.DataFrame(
                {
                    "token": [str(i % uniques) for i in range(base)],
                    "diff": [1] * base,
                    "event_time": [t0_ts] * base,
                }
            )
            src.add_epoch(init)
            t0 = time.time()
            q.processAllAvailable()
            return src, q, init, time.time() - t0
        except BaseException:
            q.stop()  # a failure must not leak a live query
            raise

    # one untimed init on a throwaway workdir first: the session's first
    # stream start would otherwise land in the first base's init_sec
    warm = tempfile.mkdtemp(prefix="latbench_dict_warm_")
    try:
        start(warm, DICT_BASES[0])[1].stop()
    finally:
        shutil.rmtree(warm, ignore_errors=True)

    results = []
    for base in DICT_BASES:
        work = tempfile.mkdtemp(prefix="latbench_dict_")
        q = None
        try:
            src, q, init, init_sec = start(work, base)

            update_ms, new_unique = [], uniques
            for i in range(appends):
                if i % 20 == 0:
                    new_unique += 1
                    val = str(new_unique)
                else:
                    val = str(i % uniques)
                src.add_epoch(
                    pd.DataFrame(
                        {
                            "token": [val],
                            "diff": [1],
                            "event_time": [t0_ts + timedelta(seconds=i + 1)],
                        }
                    )
                )
                t0 = time.time()
                q.processAllAvailable()
                update_ms.append((time.time() - t0) * 1000)
            batch_ms = [
                p["durationMs"]["triggerExecution"]
                for p in q.recentProgress
                if 0 < p.get("numInputRows", 0) <= 2
            ]
            q.stop()
            q = None

            # the same epochs through the foreachBatch body process_epoch
            # called directly, with no stream around it
            pipe = DriverVocabularyPipeline(
                spark, f"{work}/drv", n_shards=4
            )
            sdf = spark.createDataFrame(init, schema)
            pipe.process_epoch(sdf, 0)
            drv_ms, drv_unique = [], uniques
            for i in range(appends):
                # same epoch sequence as the streaming run above,
                # including the every-20th NEW token (dictionary growth
                # epochs) — both runs pay identical workloads
                if i % 20 == 0:
                    drv_unique += 1
                    val = str(drv_unique)
                else:
                    val = str(i % uniques)
                one = pd.DataFrame(
                    {
                        "token": [val],
                        "diff": [1],
                        "event_time": [t0_ts + timedelta(seconds=100 + i)],
                    }
                )
                sdf = spark.createDataFrame(one, schema)
                t0 = time.time()
                pipe.process_epoch(sdf, i + 1)
                drv_ms.append((time.time() - t0) * 1000)

            # fully driver-local entry (python XXH64 shard routing, no
            # Spark job at all): the reference's in-process per-update
            # shape, still with both exactly-once parquet commits
            local_ms, loc_unique = [], drv_unique
            for i in range(appends):
                if i % 20 == 0:
                    loc_unique += 1
                    val = str(loc_unique)
                else:
                    val = str(i % uniques)
                one = pd.DataFrame(
                    {
                        "token": [val],
                        "diff": [1],
                        "event_time": [t0_ts + timedelta(seconds=200 + i)],
                    }
                )
                t0 = time.time()
                pipe.process_epoch_local(one, appends + 1 + i)
                local_ms.append((time.time() - t0) * 1000)

            # fold-only lane (run LAST: it advances the dictionary
            # without a sink commit): python-XXH64 routing + in-place
            # dictionary fold, NO durable writes — the reference's own
            # measurement condition (its ~µs number updates an
            # in-process HashMap with no durability)
            fold_ms, fold_unique = [], drv_unique + appends // 20 + 1
            for i in range(appends):
                if i % 20 == 0:
                    fold_unique += 1
                    val = str(fold_unique)
                else:
                    val = str(i % uniques)
                one = [(val, 1, t0_ts + timedelta(seconds=300 + i))]
                t0 = time.time()
                pipe._apply(pipe._route(one, ["token", "diff", "event_time"]))
                fold_ms.append((time.time() - t0) * 1000)

            results.append(
                {
                    "base_rows": base,
                    "uniques": uniques,
                    "init_sec": round(init_sec, 2),
                    "update_wall_ms_median": round(
                        statistics.median(update_ms), 1
                    ),
                    "update_wall_ms_min": round(min(update_ms), 1),
                    "update_batch_ms_median": (
                        round(statistics.median(batch_ms), 1) if batch_ms else None
                    ),
                    "driver_state_update_ms_median": round(
                        statistics.median(drv_ms), 1
                    ),
                    "driver_state_update_ms_min": round(min(drv_ms), 1),
                    "driver_state_update_local_ms_median": round(
                        statistics.median(local_ms), 1
                    ),
                    "driver_state_update_local_ms_min": round(min(local_ms), 1),
                    "fold_only_ms_median": round(
                        statistics.median(fold_ms), 3
                    ),
                    "fold_only_ms_min": round(min(fold_ms), 3),
                }
            )
        finally:
            if q is not None:  # a failure must not leak a live query
                q.stop()
            shutil.rmtree(work, ignore_errors=True)
    return {
        "bases": results,
        "appends": appends,
        "reference_note": (
            "src/main.rs:376-435 / paper §3: dictionary updates are "
            "constant-time, independent of base size (break-even vs "
            "sklearn at ~10 updates). Here the dictionary state holds "
            "only the uniques, so per-update batch cost is flat in "
            "base_rows by construction; the measured floor is Spark's "
            "micro-batch overhead."
        ),
    }


def main() -> None:
    from diffdataflowmlpipelines_spark.session import get_spark

    mode = sys.argv[1] if len(sys.argv) > 1 else "scaler"
    if mode not in ("scaler", "multi", "dict", "all"):
        # validate BEFORE the SparkSession: a typo'd mode used to spin
        # up Spark, run nothing, and print '{}' with exit 0
        raise SystemExit(f"unknown mode {mode!r}: use scaler|multi|dict|all")
    spark = get_spark(app_name="update-latency")
    try:
        out = {}
        if mode in ("scaler", "all"):
            out["scaler"] = bench_scaler(spark)
        if mode in ("multi", "all"):
            out["multi"] = bench_multi(spark)
        if mode in ("dict", "all"):
            out["dict"] = bench_dict(spark)
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
