"""The registry queries of the ``update-query`` workload: passes over
``BATCH_QUERIES`` (``plans.QUERIES``) on seeded tables at scale factor
``SF``. Each query is built (the registry call, including its fit-time
``collect()``s) and then executed (a ``noop`` write), timed apart.

The first pass is the untimed warm-up. It collects each query's rows
and checks them against the query's DuckDB oracle over the same tables;
the oracle's own time is left out of ``setup_s``. The measured passes
build the same plans over the same tables. A query's wait is build plus
execute."""

from __future__ import annotations

import importlib.util
import os
import sys
import time

from perfbench.common import ROOT, Run, log, median, tree_cpu_s
from perfbench.inputs import BATCH_TABLES, write_batch_tables
from perfbench.metrics import BATCH_QUERIES, Record

SF = 0.01
# measured passes per run: the queries' share of --seconds over PASS_S,
# at least MIN_PASSES. A warm pass took about 4 s on a 4-core host; the
# count depends only on --seconds, so every run on every host runs the
# same queries.
QUERY_SHARE = 0.6
PASS_S = 4.0
MIN_PASSES = 2


def n_passes(seconds: int) -> int:
    return max(MIN_PASSES, round(seconds * QUERY_SHARE / PASS_S))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Queries:
    """The query part of the ``update-query`` workload: ``setup`` writes
    the tables and runs the warm-up (check) pass, ``measure`` the measured
    passes, ``finish`` reads their job counts once they are resolved."""

    def __init__(self, r: Run, rec: Record):
        self.r = r
        self.rec = rec
        self.job_boxes: list = []  # (query, build jobs, execute jobs) of traced queries

    def setup(self) -> None:
        from diffdataflowmlpipelines_spark.plans import ORACLES, QUERIES

        r = self.r
        self.queries = QUERIES
        self.sf_dir = os.path.join(r.workdir, f"sf{SF}")
        with r.generating():
            write_batch_tables(self.sf_dir, SF, r.seed)
        with r.tracer.span("check"):
            self.bad = check(r, QUERIES, ORACLES, self.sf_dir)

    def measure(self) -> tuple[int, float]:
        """The measured passes: the number of queries run and busy seconds."""
        r, rec = self.r, self.rec
        pass_build_s, pass_execute_s = [], []
        busy_s, n_ops = 0.0, 0
        cpu0 = tree_cpu_s()
        self.passes = n_passes(r.seconds)
        for n_pass in range(self.passes):
            traced = r.trace and n_pass % 2 == 0
            build_sum = exec_sum = 0.0
            for q in BATCH_QUERIES:
                n_ops += 1
                p = rec.plans.setdefault(
                    q, {"build_s": [], "execute_s": [], "jobs": [], "stages": []})
                with r.tracer.span(f"query.{q}", on=traced):
                    with r.jobs.group(f"build-{q}", on=traced) as bjobs, \
                            r.tracer.span(f"plans.{q}.build", layer="plans", on=traced):
                        t0 = time.perf_counter()
                        df = self.queries[q](r.spark, self.sf_dir)
                        t1 = time.perf_counter()
                    with r.jobs.group(f"execute-{q}", on=traced) as ejobs, \
                            r.tracer.span(f"plans.{q}.execute", layer="plans", on=traced):
                        _noop(df)
                        t2 = time.perf_counter()
                p["build_s"].append(t1 - t0)
                p["execute_s"].append(t2 - t1)
                if bjobs is not None:
                    self.job_boxes.append((q, bjobs, ejobs))
                build_sum += t1 - t0
                exec_sum += t2 - t1
                busy_s += t2 - t0
                rec.waits.append(((t2 - t0) * 1000.0, traced, f"query.{q}"))
            pass_build_s.append(build_sum)
            pass_execute_s.append(exec_sum)
        self.cpu_s = tree_cpu_s() - cpu0
        rec.detail["build_s"] = median(pass_build_s)
        rec.detail["execute_s"] = median(pass_execute_s)
        r.notes.update(passes=self.passes, failed_queries=sorted(self.bad))
        return n_ops, busy_s

    def finish(self) -> None:
        """Job and stage counts of the traced queries (after ``jobs.resolve``)."""
        for q, bjobs, ejobs in self.job_boxes:
            self.rec.plans[q]["jobs"].append(bjobs["jobs"])
            self.rec.plans[q]["stages"].append(ejobs["stages"])


def check(r: Run, queries: dict, oracles: dict, sf_dir: str) -> set:
    """The warm-up pass: names of the queries whose rows differ from
    their DuckDB oracle, both canonicalised by ``tools/check_oracle.py``."""
    with r.outside_setup("check.oracle_setup"):
        canon, con = _oracle(sf_dir)
    bad = set()
    try:
        for q in BATCH_QUERIES:
            with r.tracer.span(f"plans.warmup.{q}", layer="plans"):
                got = queries[q](r.spark, sf_dir).toPandas()
            with r.outside_setup(f"check.oracle.{q}"):
                want = con.execute(oracles[q]).df()
            if sorted(got.columns) != sorted(want.columns) or canon(got) != canon(want):
                log(f"update-query check: {q} differs from its oracle "
                    f"({len(got)} rows vs {len(want)})")
                bad.add(q)
    finally:
        con.close()
    return bad


def _oracle(sf_dir: str):
    """``canon`` from the repo's oracle checker (tools/check_oracle.py,
    loaded by path and with its sys.path change undone) and a DuckDB
    connection with a view per table."""
    import duckdb

    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    con = duckdb.connect()
    for t in BATCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return mod.canon, con
