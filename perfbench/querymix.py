"""The query mix: a fixed, ordered mix of ``__spark_entry__.queries()``
over seeded tables written into the run's work directory, one client,
each query forced with a ``noop`` write.  It runs on its own as the
``query_mix`` workload, and after the window of every traced
``spending_trickle`` run, where it gives the ``query.*`` per-layer
metrics.

The mix:

- ``bm25_multi_query``: ``operators.retrieval`` (ROADMAP's BM25 term
  filter);
- ``simhash_near_dup``: ``operators.simhash`` (the SimHash band
  explode);
- ``near_dup_groups``: ``operators.dedup_fuzzy`` MinHash pairs and
  ``operators.graph`` connected components;
- ``daily_spending_rollup``: ``operators.windows`` and
  ``operators.rollup``.

``ivf_kmeans_topk``, ``ivf_pq_topk``, ``minhash_near_dup`` and
``pagerank_weights`` are left out to keep a pass short:
``ivf_kmeans_topk`` alone adds about 4 s warm and 10 s cold
(NOTES.md).  The k-means it would time (``kmeans_centroids`` and the
final assignment) runs in ``curation_ingest``'s set-up, where the
semantic quantizer is built.

Set-up writes the tables and runs one warm-up pass that collects every
result; those results are checked after the window against each
query's DuckDB oracle (``__spark_entry__.oracle_sql()``) over the same
tables.  The window runs as many whole passes as fit in ``--seconds``,
at least one; a pass's latency is its wall time.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb

import inputs
import stats
from workload import Ctx, Outcome

MIX = (
    "bm25_multi_query",
    "simhash_near_dup",
    "near_dup_groups",
    "daily_spending_rollup",
)
#: table sizes, those of the program's smallest test data
TABLES = {"n_docs": 500, "n_events": 1000}
MAX_PASSES = 4


def oracle_rows(sql: str, data: str) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        df = con.execute(sql).df()
    finally:
        con.close()
    return list(df.columns), list(df.itertuples(index=False, name=None))


def run_query_mix(ctx: Ctx, seed: int, seconds: int) -> Outcome:
    import __spark_entry__ as entry

    spark = ctx.spark
    sc = spark.sparkContext
    queries, oracles = entry.queries(), entry.oracle_sql()
    data = os.path.join(ctx.work, "tables")
    os.makedirs(data)
    t = time.perf_counter()
    with ctx.span("inputs.generate"):
        inputs.mix_tables(seed, data, TABLES["n_docs"], TABLES["n_events"])
    inputs_s = time.perf_counter() - t

    def run(name: str, tag: str, parent: int | None, collect: bool = False):
        """One query call in its own job group: seconds, job ids and,
        when ``collect``, the result's columns and rows."""
        group = f"perfbench-{tag}-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        with ctx.span(f"query.{name}", parent):
            df = queries[name](spark, data)
            if collect:
                pdf = df.toPandas()
                result = (list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
            else:
                df.write.format("noop").mode("overwrite").save()
                result = None
        return time.perf_counter() - t0, ctx.jobs_in_group(group), result

    t = time.perf_counter()
    with ctx.span("setup.warmup") as sspan:
        results = {name: run(name, "warmup", sspan, collect=True)[2] for name in MIX}
    warmup_s = time.perf_counter() - t

    passes: list[dict[str, tuple[float, set[int]]]] = []
    with ctx.span("window") as wspan:
        t0 = time.perf_counter()
        while len(passes) < MAX_PASSES:
            p0 = time.perf_counter()
            with ctx.span("mix.pass", wspan) as pspan:
                passes.append({name: run(name, f"pass{len(passes)}", pspan)[:2] for name in MIX})
            pass_s = time.perf_counter() - p0
            if time.perf_counter() - t0 + pass_s > seconds:
                break
        window_s = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    pass_times = [sum(t for t, _ in p.values()) for p in passes]

    with ctx.span("check"):
        problems = []
        for name in MIX:
            columns, rows = results[name]
            if name in oracles:
                problems += [
                    f"{name}: {m}"
                    for m in stats.row_mismatches(columns, rows, *oracle_rows(oracles[name], data))
                ]
            else:
                problems.append(f"{name}: no oracle to check against")
            if not rows:
                problems.append(f"{name}: empty result")

    layers: dict[str, float] = {}
    if ctx.tracer is not None:
        for name in MIX:
            layers[f"query.{name}_s"] = statistics.median(p[name][0] for p in passes)
            layers[f"query.{name}.jobs"] = statistics.median(len(p[name][1]) for p in passes)
    return Outcome(
        inputs_s=inputs_s,
        warmup_s=warmup_s,
        warmup_count=len(MIX),
        window_t0=t0,
        latencies=pass_times,
        throughput_per_s=len(passes) * len(MIX) / window_s,
        attempted=len(passes) * len(MIX),
        failed=0,
        problems=problems,
        layers=layers,
        details={
            "mix": list(MIX),
            "tables": TABLES,
            "passes": len(passes),
            "result_rows": {name: len(results[name][1]) for name in MIX},
            "pass_query_s": [{k: round(v[0], 4) for k, v in p.items()} for p in passes],
            "throughput_of": "queries over the window",
            "attempts_are": "queries (a raising query ends the run)",
        },
    )


WORKLOADS = {"query_mix": run_query_mix}
