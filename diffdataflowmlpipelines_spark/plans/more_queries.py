"""Second batch of registry queries: remaining reference composites
(C2 pipeline chaining, C8 dense vectors, C14 function encoder) and the
Arrow/mapInPandas execution path (P14 worker-sharding analogue), plus
remaining training-data ops.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from diffdataflowmlpipelines_spark.functions.dedup import embedding_near_dups
from diffdataflowmlpipelines_spark.functions.text import tokenize
from diffdataflowmlpipelines_spark.functions.vectorizers import CountVectorizer
from diffdataflowmlpipelines_spark.operators.encoders import (
    MinMaxScaler,
    Pipeline,
    StandardScaler,
)
from diffdataflowmlpipelines_spark.plans.reference_queries import (
    _DOC_TOKENS_SQL,
    load,
    q,
)

# --- C2: Pipeline (fit chains fit->transform; reference pipeline.rs) --------

@q(
    "c2_pipeline_chain",
    """
    WITH m1 AS (SELECT MIN(l_quantity) AS mn,
                       MAX(l_quantity) - MIN(l_quantity) AS rg FROM lineitem),
    s1 AS (SELECT l_orderkey, l_linenumber,
                  (l_quantity - m1.mn) / m1.rg AS x FROM lineitem, m1),
    m2 AS (SELECT AVG(x) AS mu, VAR_POP(x) AS v FROM s1)
    SELECT l_orderkey, l_linenumber, ROUND((x - m2.mu) / m2.v, 6) AS scaled
    FROM s1, m2
    """,
)
def c2_pipeline_chain(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    pipe = Pipeline([MinMaxScaler(), StandardScaler()])
    out = pipe.fit_transform(li, "l_quantity", "__y")
    return out.select(
        "l_orderkey", "l_linenumber", F.round("__y", 6).alias("scaled")
    )


# --- C8 dense: CountVectorizer vector output (overprovisioned length) -------
# documents vocab is 31 tokens -> overprovisioned_len(31) = 41; pin in SQL
# via the same sorted dictionary + list_transform.

@q(
    "c8_count_vectorizer_dense",
    f"""
    WITH toks AS ({_DOC_TOKENS_SQL}),
    dict AS (SELECT token, ROW_NUMBER() OVER (ORDER BY token) - 1 AS idx
             FROM (SELECT DISTINCT token FROM toks)),
    n AS (SELECT COUNT(*) AS n_vocab FROM dict),
    tf AS (SELECT doc_id, idx, CAST(COUNT(*) AS DOUBLE) AS c
           FROM toks JOIN dict USING (token) GROUP BY doc_id, idx),
    grouped AS (SELECT doc_id, list(idx ORDER BY idx) AS idxs,
                       list(c ORDER BY idx) AS cs
                FROM tf GROUP BY doc_id)
    SELECT doc_id,
           array_to_string(list_transform(range(0, 41),
             i -> CAST(CAST(coalesce(cs[list_position(idxs, i)], 0.0) AS INT)
                       AS VARCHAR)), ',') AS vec
    FROM grouped
    """,
)
def c8_count_vectorizer_dense(spark, sf_dir):
    # driver-hashable output: counts are whole numbers, serialized as a
    # CSV string of ints (the driver cannot sort list columns).
    docs = load(spark, sf_dir, "documents").withColumn("toks", tokenize("text"))
    cv = CountVectorizer()
    out = cv.fit_transform(docs, "doc_id", "toks", "__vec")
    vec_str = F.array_join(
        F.transform("__vec", lambda x: x.cast("int").cast("string")), ","
    )
    return out.select("doc_id", vec_str.alias("vec"))


# --- C14: FunctionEncoder (stateless scalar function) ------------------------

@q(
    "c14_function_encoder",
    """
    SELECT event_id, ROUND(LN(1 + value), 6) AS y FROM events
    """,
)
def c14_function_encoder(spark, sf_dir):
    from diffdataflowmlpipelines_spark.operators.encoders import FunctionEncoder

    ev = load(spark, sf_dir, "events")
    enc = FunctionEncoder(lambda c: F.round(F.log1p(c), 6))
    return enc.fit_transform(ev, "value", "y").select("event_id", "y")


# --- P14: sharded Arrow map (repartition + mapInPandas) ----------------------
# the reference round-robins rows across timely workers
# (src/main.rs:327-331); Spark analogue = repartition(key) + a
# per-partition Arrow-batched transform.

@q(
    "p14_sharded_arrow_map",
    """
    SELECT event_id, user_id, ROUND(value * 2 + 1, 6) AS y FROM events
    """,
)
def p14_sharded_arrow_map(spark, sf_dir):
    ev = load(spark, sf_dir, "events").repartition(32, "user_id")

    def fn(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "user_id": pdf["user_id"],
                    "y": (pdf["value"] * 2 + 1).round(6),
                }
            )

    return ev.mapInPandas(fn, "event_id long, user_id long, y double")


# --- t4: per-source token statistics -----------------------------------------

@q(
    "t4_token_stats",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             t -> t <> '')) AS n
      FROM documents
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           ROUND(AVG(n), 6) AS avg_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM toks GROUP BY source
    """,
)
def t4_token_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("__n", F.size(tokenize("text")))
        .groupBy("source")
        .agg(
            F.sum("__n").cast("long").alias("total_tokens"),
            F.round(F.avg("__n"), 6).alias("avg_tokens"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )


# --- d5: embedding near-duplicates (sign-block candidates + cosine) ----------

@q(
    "d5_embedding_near_dups",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CONCAT(CAST(CAST(embedding[1] >= 0 AS INT) AS VARCHAR),
                    CAST(CAST(embedding[2] >= 0 AS INT) AS VARCHAR),
                    CAST(CAST(embedding[3] >= 0 AS INT) AS VARCHAR),
                    CAST(CAST(embedding[4] >= 0 AS INT) AS VARCHAR)) AS blk
      FROM embeddings
    ),
    n AS (SELECT vec_id, v, blk,
                 sqrt(list_sum(list_transform(v, x -> x * x))) AS nn FROM e)
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(list_sum(list_transform(range(1, len(a.v) + 1),
                                         i -> a.v[i] * b.v[i]))
                 / (a.nn * b.nn), 6) AS cosine
    FROM n a JOIN n b ON a.blk = b.blk AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(range(1, len(a.v) + 1),
                                  i -> a.v[i] * b.v[i])) / (a.nn * b.nn) >= 0.4
    """,
)
def d5_embedding_near_dups(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return embedding_near_dups(emb, "vec_id", "embedding", threshold=0.4)


# --- d6: dup-cluster canonicalization (connected components) ------------------

def _d6_sql() -> str:
    from diffdataflowmlpipelines_spark.plans.datapipeline_queries import (
        _lsh_jaccard_cte,
    )

    return f"""
    WITH RECURSIVE {_lsh_jaccard_cte()},
    pairs AS (
      SELECT a, b FROM inter
      JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE i / (sa.sz + sb.sz - i) >= 0.1
    ),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION SELECT b, a FROM pairs),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc, MIN(lbl) AS cluster_rep
    FROM reach GROUP BY node
    """


@q("d6_dup_clusters", _d6_sql())
def d6_dup_clusters(spark, sf_dir):
    # near-dup clusters over the LSH-pruned pair set (same scale path as
    # d3; the recursive-CTE oracle replicates the banding literally).
    # large-star/small-star CC: O(log n) rounds vs min-label
    # propagation's O(diameter) — the 100 TB path.
    from diffdataflowmlpipelines_spark.functions.dedup import dup_clusters_star
    from diffdataflowmlpipelines_spark.plans.datapipeline_queries import (
        _lsh_jaccard_pairs,
    )

    pairs = _lsh_jaccard_pairs(spark, sf_dir, threshold=0.1)
    return dup_clusters_star(pairs.select("a", "b"))


# --- generic OLAP beyond the reference (window functions, rollup) -------------
# the reference has no window functions / grouping sets (SURVEY §2.3);
# a complete engine replacement needs them.

@q(
    "w4_topk_per_user",
    """
    SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rn FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def w4_topk_per_user(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


@q(
    "w5_running_sum",
    """
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 4) AS running
    FROM events
    """,
)
def w5_running_sum(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 4).alias("running")
    )


@q(
    "a1_rollup",
    """
    SELECT COALESCE(event_type, '(all)') AS event_type,
           CAST(COALESCE(user_bucket, -1) AS BIGINT) AS user_bucket,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS total
    FROM (SELECT event_type, user_id % 10 AS user_bucket, value FROM events)
    GROUP BY ROLLUP (event_type, user_bucket)
    """,
)
def a1_rollup(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("long")
    )
    out = ev.rollup("event_type", "user_bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )
    # null-free grouping keys: rollup NULLs -> sentinels so the oracle
    # compare (and any NULL-averse sink) is unambiguous
    return out.select(
        F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
        F.coalesce(F.col("user_bucket"), F.lit(-1)).cast("long").alias("user_bucket"),
        "n",
        "total",
    )


# --- j3: as-of join (DuckDB ASOF JOIN is the oracle) ---------------------------

@q(
    "j3_asof_join",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, MAX(event_id) AS click_id
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.purchase_id, c.click_id, c.ts AS click_ts
    FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j3_asof_join(spark, sf_dir):
    # most recent prior click per purchase — true as-of semantics (j1 is
    # the bounded-interval variant). Union-trick construction: one
    # shuffle on user_id, no range join. (operators/asof.py)
    from diffdataflowmlpipelines_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join(p, c, ["user_id"], "ts", "ts", ["click_id"], how="inner")
    return out.select(
        "purchase_id", "click_id", F.col("__asof_time").alias("click_ts")
    )


# --- a2: time-hierarchy rollup (hypertable-style day/hour granularities) -------

@q(
    "a2_time_rollup",
    """
    SELECT COALESCE(CAST(d AS VARCHAR), '(all)') AS day,
           COALESCE(CAST(h AS VARCHAR), '(all)') AS hour,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS total
    FROM (SELECT time_bucket(INTERVAL '1 day', ts) AS d,
                 time_bucket(INTERVAL '1 hour', ts) AS h, value
          FROM events)
    GROUP BY ROLLUP (d, h)
    """,
)
def a2_time_rollup(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        "value",
    )
    out = ev.rollup("d", "h").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )
    ts_str = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    return out.select(
        F.coalesce(ts_str(F.col("d")), F.lit("(all)")).alias("day"),
        F.coalesce(ts_str(F.col("h")), F.lit("(all)")).alias("hour"),
        "n",
        "total",
    )


# --- w7: exact distinct count per window (grouped distinct agg) ----------------
# the streaming analogue (HLL++, bounded state) is
# streaming/windows.windowed_distinct_count, bound-tested in pytest;
# the registry pins the EXACT batch semantics cross-engine.

@q(
    "w7_distinct_users_per_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY window_start, event_type
    """,
)
def w7_distinct_users_per_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_users")
    )


# --- w6: trending tokens — windowed tf chained into per-window top-k ----------

@q(
    "w6_trending_tokens",
    f"""
    WITH tf AS (
      SELECT time_bucket(INTERVAL '1 day', e.ts) AS window_start,
             t.token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM events e
      JOIN ({_DOC_TOKENS_SQL}) t ON t.doc_id = e.event_id % 500
      GROUP BY window_start, t.token
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY tf DESC, token) AS rn
      FROM tf
    )
    SELECT window_start, token, tf, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def w6_trending_tokens(spark, sf_dir):
    """Per-window top-3 tokens: the windowed token-frequency statistic
    (the engine's M1 spine) chained into a ranking — corpus-monitoring
    shape. Events are linked to documents via a deterministic key so
    both engines see identical token-to-time attribution."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("window_start"),
        (F.col("event_id") % 500).alias("doc_id"),
    )
    toks = _doc_tokens_mq(spark, sf_dir)
    # aggregate BEFORE the join (guide §3.3: explode-then-join
    # multiplies — the raw form fanned 100k events x ~380 tokens/doc
    # into 38M joined rows before aggregating): count events per
    # (window, doc) and token instances per (doc, token), join the two
    # REDUCED frames, and sum the count products — integer-identical
    # to counting the exploded join (tf(w,t) = Σ_doc ne(w,doc) *
    # nt(doc,t)), at ~7x fewer joined rows
    ev_cnt = ev.groupBy("window_start", "doc_id").agg(
        F.count(F.lit(1)).alias("__ne")
    )
    tok_cnt = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("__nt")
    )
    tf = (
        ev_cnt.join(tok_cnt, "doc_id")
        .groupBy("window_start", "token")
        .agg(F.sum(F.col("__ne") * F.col("__nt")).cast("long").alias("tf"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.col("tf").desc(), F.col("token")
    )
    return (
        tf.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("window_start", "token", "tf", "rn")
    )


def _doc_tokens_mq(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(tokenize("text")).alias("token")
    )


# --- a3: ordered-statistic aggregate (exact grouped median/p90) ----------------
# SURVEY §2.3: the reference has "no sort-based agg"; a complete engine
# needs ordered statistics. Exact percentile here (linear interpolation,
# matching DuckDB quantile_cont); the 100 TB swap is
# grouped_percentiles(mode="approx") — Greenwald-Khanna bounded-state
# sketch, accuracy-tested against exact in tests/test_round5_scale_paths.py.

@q(
    "a3_grouped_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS median_value,
           ROUND(quantile_cont(value, 0.9), 6) AS p90_value,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def a3_grouped_percentiles(spark, sf_dir):
    from diffdataflowmlpipelines_spark.functions.sketches import (
        grouped_percentiles,
    )

    ev = load(spark, sf_dir, "events")
    return grouped_percentiles(
        ev,
        "event_type",
        "value",
        [(0.5, "median_value"), (0.9, "p90_value")],
        mode="exact",
    )


# --- p15: pivot (event_type -> columns) -----------------------------------------

@q(
    "p15_pivot_event_types",
    """
    SELECT user_id,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
           ROUND(COALESCE(SUM(value) FILTER (event_type = 'purchase'), 0), 4)
             AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def p15_pivot_event_types(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(
            F.count(F.lit(1)).alias("n"),  # count("*") is invalid in Pivot
            F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4).alias("v"),
        )
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    return piv.select(
        "user_id",
        z("click_n").alias("n_click"),
        z("view_n").alias("n_view"),
        z("purchase_n").alias("n_purchase"),
        F.round(F.coalesce(F.col("purchase_v"), F.lit(0.0)), 4).alias(
            "purchase_value"
        ),
    )


# --- j2: interval join chained into a windowed aggregation --------------------
# batch analogue of the north-star join->window composition on testdata.

@q(
    "j2_join_then_window",
    """
    WITH pc AS (
      SELECT p.event_id AS purchase_id, p.ts AS p_ts, p.value AS pv
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND c.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
    )
    SELECT time_bucket(INTERVAL '1 hour', p_ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_attributed,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           ROUND(SUM(pv), 4) AS attributed_value
    FROM pc GROUP BY window_start
    """,
)
def j2_join_then_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("pv"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    pc = p.join(
        c,
        on=[
            p.user_id == c.user_id,
            c.c_ts.between(p.p_ts - F.expr("INTERVAL 30 MINUTES"), p.p_ts),
        ],
    )
    return (
        pc.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_attributed"),
            F.countDistinct("purchase_id").cast("long").alias("n_purchases"),
            F.round(F.sum("pv"), 4).alias("attributed_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_attributed",
                "n_purchases", "attributed_value")
    )


# --- CEP: ordered event-sequence (funnel) detection per key -----------------
# The north rule names a "structured-streaming / CEP engine"; this is the
# batch registry surface of functions/cep.event_funnel (streaming twin:
# streaming/cep.py). Earliest-anchor cascade semantics — deterministic, so
# DuckDB replicates it exactly with chained MIN aggregates.

from diffdataflowmlpipelines_spark.functions.cep import event_funnel  # noqa: E402


@q(
    "cep1_event_funnel",
    """
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL '1 day'
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
                         JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s1.t1 + INTERVAL '1 day'
           GROUP BY e.user_id)
    SELECT s1.user_id, s1.t1 AS step_1_ts, s2.t2 AS step_2_ts, s3.t3 AS step_3_ts,
           CAST(1 + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END AS INT)
             AS steps_completed
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def cep1_event_funnel(spark, sf_dir):
    """view -> click -> purchase funnel within 1 day of the anchor view,
    per user. One groupBy shuffle; the cascade itself is a Catalyst
    higher-order-function fold (no Python in the hot path)."""
    ev = load(spark, sf_dir, "events")
    return event_funnel(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within_s=86400,
    )


@q(
    "cep2_absence",
    """
    SELECT v.user_id, v.ts AS view_ts
    FROM events v
    WHERE v.event_type = 'view'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
          AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '1 day'
      )
    """,
)
def cep2_absence(spark, sf_dir):
    """CEP negation pattern: every 'view' NOT followed by a 'purchase'
    by the same user within 1 day (abandonment detection). An interval
    LEFT ANTI join — equi-key shuffle on user_id with the time range as
    a join residual; no cartesian, scale-safe like j1."""
    ev = load(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (v["user_id"] == p["p_user"])
        & (p["p_ts"] > v["view_ts"])
        & (p["p_ts"] <= v["view_ts"] + F.expr("INTERVAL 1 DAY"))
    )
    return v.join(p, cond, "left_anti")


@q(
    "p17_region_rollout",
    """
    WITH sa AS (SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_s,
                       SUM(s_acctbal) AS sb
                FROM supplier GROUP BY s_nationkey),
    ca AS (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_c,
                  SUM(c_acctbal) AS cb
           FROM customer GROUP BY c_nationkey)
    SELECT r.r_name AS region,
           CAST(COALESCE(SUM(sa.n_s), 0) AS BIGINT) AS n_suppliers,
           CAST(COALESCE(SUM(ca.n_c), 0) AS BIGINT) AS n_customers,
           ROUND(COALESCE(SUM(sa.sb), 0), 2) AS supplier_acctbal,
           ROUND(COALESCE(SUM(ca.cb), 0), 2) AS customer_acctbal
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    LEFT JOIN sa ON sa.s_nationkey = n.n_nationkey
    LEFT JOIN ca ON ca.c_nationkey = n.n_nationkey
    GROUP BY r.r_name
    """,
)
def p17_region_rollout(spark, sf_dir):
    """Region -> nation -> supplier/customer snowflake rollup with
    AGGREGATE-BEFORE-JOIN: supplier and customer are reduced to
    per-nation partials first (map-side combinable), then joined onto
    the broadcast dimension chain — joining both fact tables onto
    nation directly would cartesian suppliers x customers per nation
    and double-count the sums. Exercises the two tables (region,
    supplier) no other registry query touches."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    sa = (
        load(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_s"),
            F.sum("s_acctbal").alias("sb"),
        )
    )
    ca = (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_c"),
            F.sum("c_acctbal").alias("cb"),
        )
    )
    j = (
        r.join(F.broadcast(n), n["n_regionkey"] == r["r_regionkey"])
        .join(sa, sa["s_nationkey"] == n["n_nationkey"], "left")
        .join(ca, ca["c_nationkey"] == n["n_nationkey"], "left")
    )
    return j.groupBy(F.col("r_name").alias("region")).agg(
        F.coalesce(F.sum("n_s"), F.lit(0)).cast("long").alias("n_suppliers"),
        F.coalesce(F.sum("n_c"), F.lit(0)).cast("long").alias("n_customers"),
        F.round(F.coalesce(F.sum("sb"), F.lit(0.0)), 2).alias("supplier_acctbal"),
        F.round(F.coalesce(F.sum("cb"), F.lit(0.0)), 2).alias("customer_acctbal"),
    )


@q(
    "w8_time_since_last",
    """
    SELECT event_id, user_id,
           CAST(COALESCE(date_diff('second',
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                 ts), -1) AS BIGINT) AS secs_since_prev,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS event_seq
    FROM events
    """,
)
def w8_time_since_last(spark, sf_dir):
    """Per-user inter-arrival feature (seconds since the previous
    event, -1 for the first) plus the running event ordinal — the
    standard sessionization/feature-engineering lag shape. One window
    partitioned by user: shuffles once on the key, no global sort."""
    ev = load(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(
            (F.unix_timestamp(F.col("ts").cast("timestamp"))
             - F.unix_timestamp(prev.cast("timestamp"))),
            F.lit(-1),
        ).cast("long").alias("secs_since_prev"),
        F.count("*").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).cast("long").alias("event_seq"),
    )


@q(
    "w9_ewma_value",
    """
    WITH r AS (
      SELECT event_id, user_id,
             LIST(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS arr
      FROM events
    )
    SELECT event_id, user_id,
           ROUND(
             list_sum(list_transform(arr,
                        (x, i) -> x * POWER(0.9, len(arr) - i)))
             / ((1 - POWER(0.9, len(arr))) / 0.1),
             6) AS ewma
    FROM r
    """,
)
def w9_ewma_value(spark, sf_dir):
    """Per-user EWMA of `value` over the trailing 20 events (normalized
    weights beta^k, beta=0.9) — the standard smoothing feature for event
    streams. The frame's values are collected in window order and
    weighted by their frame-relative age inside a Catalyst
    higher-order-function fold, so every exponent is bounded by the
    frame length (an earlier absolute-row-number formulation overflowed
    double at ~6700 events/key); the weight total has the closed form
    (1-b^n)/(1-b). One shuffle on the user key; the unbounded-history
    recursive form is streaming/features.streaming_event_features."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    frame = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, W.currentRow)
    )
    arr = F.collect_list("value").over(frame)
    r = ev.select("event_id", "user_id", arr.alias("arr"))
    n = F.size("arr")
    weighted = F.transform(
        "arr", lambda x, i: x * F.pow(F.lit(0.9), n - 1 - i)
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda a, x: a + x)
    den = (F.lit(1.0) - F.pow(F.lit(0.9), n)) / F.lit(0.1)
    return r.select(
        "event_id", "user_id", F.round(num / den, 6).alias("ewma")
    )


@q(
    "cep3_funnel_conversion",
    """
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
           FROM events e JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1
             AND e.ts <= s1.t1 + INTERVAL '1 day'
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
           FROM events e JOIN s2 ON e.user_id = s2.user_id
                         JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2
             AND e.ts <= s1.t1 + INTERVAL '1 day'
           GROUP BY e.user_id),
    f AS (SELECT s1.user_id,
                 1 + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
                   + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END AS sc
          FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                  LEFT JOIN s3 ON s1.user_id = s3.user_id),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f)
    SELECT CAST(sc AS INT) AS steps_completed,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(COUNT(*) / tot.n, 6) AS frac_of_entered
    FROM f, tot
    GROUP BY sc, tot.n
    """,
)
def cep3_funnel_conversion(spark, sf_dir):
    """Funnel conversion rollup: users per completed-prefix length and
    their share of everyone who entered the funnel — the reporting
    layer over cep1. The denominator is a whole-frame window SUM over
    the ALREADY-AGGREGATED per-depth counts (a <= k+1-row frame, so the
    single-partition window exchange is free) — deriving it with a
    separate ``f.agg(count)`` made Catalyst plan the funnel subtree
    twice, doubling the dominant events scan + collect_list shuffle
    (round-3 VERDICT finding #1)."""
    from pyspark.sql import Window as W

    f = cep1_event_funnel(spark, sf_dir).select("steps_completed")
    g = f.groupBy("steps_completed").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    total = F.sum("n_users").over(W.partitionBy()).cast("double")
    return g.select(
        "steps_completed",
        "n_users",
        F.round(F.col("n_users") / total, 6).alias("frac_of_entered"),
    )


# --- a4: CUBE (all grouping-set combinations; a1 covers ROLLUP only) ----------

@q(
    "a4_cube",
    """
    SELECT COALESCE(event_type, '(all)') AS event_type,
           CAST(COALESCE(user_bucket, -1) AS BIGINT) AS user_bucket,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS total
    FROM (SELECT event_type, user_id % 10 AS user_bucket, value FROM events)
    GROUP BY CUBE (event_type, user_bucket)
    """,
)
def a4_cube(spark, sf_dir):
    """CUBE aggregation — every grouping-set combination, including the
    (ALL, bucket) slices a ROLLUP never produces. Same sentinel
    discipline as a1 (grouping NULLs -> '(all)'/-1 so the compare and
    NULL-averse sinks are unambiguous). Plan: Spark expands the
    grouping sets BEFORE the exchange, so the 4 sets still aggregate in
    ONE shuffle with map-side partials — not 4 scans. Reference has no
    grouping-sets surface (SURVEY §2.3)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("long")
    )
    out = ev.cube("event_type", "user_bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )
    return out.select(
        F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
        F.coalesce(F.col("user_bucket"), F.lit(-1)).cast("long").alias("user_bucket"),
        "n",
        "total",
    )


# --- w10: per-window ordered statistics (windows x a3) --------------------------

@q(
    "w10_windowed_percentiles",
    """
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR) AS window_start,
           event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def w10_windowed_percentiles(spark, sf_dir):
    """Exact per-tumbling-window percentiles per event type — ordered
    statistics over time windows (a3 is global groups; the w-family had
    no distribution surface). Exact mode matches DuckDB quantile_cont
    bit-for-bit after rounding; the 100 TB swap is the same
    ``percentile_approx`` strategy flag a3 routes through
    (functions/sketches.grouped_percentiles) — bounded state per
    (window, type) group regardless of group size."""
    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "value",
    )
    return ev.groupBy("window_start", "event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.count("*").cast("long").alias("n"),
    )


# --- j4: keyless range join via interval bucketing ------------------------------

@q(
    "j4_bucketed_range_join",
    """
    SELECT p.event_id AS purchase_id,
           CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS n_users
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
    GROUP BY p.event_id
    """,
)
def j4_bucketed_range_join(spark, sf_dir):
    """Cross-USER click pressure in the 30 minutes before each purchase
    — a pure range join with NO equi key (j1 has user_id; this is the
    case Spark would otherwise plan as a BroadcastNestedLoopJoin,
    all-pairs). operators/rangejoin.bucketed_range_join turns it into
    ONE equi shuffle join on a derived interval-bucket id (right rows
    land in exactly one bucket, left windows cover <= 2, every true
    pair seen exactly once — no dedup), then aggregates per purchase.
    Plan audited: hash equi-join on __bucket (broadcast at bench scale,
    shuffle join when both sides grow), zero nested-loop joins."""
    from diffdataflowmlpipelines_spark.operators.rangejoin import (
        bucketed_range_join,
    )

    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    j = bucketed_range_join(p, c, "p_ts", "c_ts", lower=-1800.0, upper=0.0)
    return j.groupBy("purchase_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.countDistinct("c_user").cast("long").alias("n_users"),
    )
