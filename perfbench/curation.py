"""The curation workload, driven from outside the program through
``streaming.ingest.run_multimodal_ingest_pipeline`` with every screen
it offers (drift, quality, exact, span, near-dup, semantic), its
``stage_sec`` timers and its ``on_batch`` hook.

``curation_ingest``: closed loop, one wave in flight.  Each wave is
one file of documents with embeddings, moved into the source directory
when the previous wave has committed; its latency runs from that drop
to the ``on_batch`` call of the trigger that wrote its accepted
partition.  Set-up builds every artifact (quality model, signatures,
exact hashes and bloom, span window hashes, quantizer, drift baseline)
and runs warm-up waves.  The window then runs as many whole waves as
fit in ``--seconds``, at least one.  The accepted lake must hold
exactly the fresh clean documents of every wave.
"""

from __future__ import annotations

import os
import time

from kafka_sparkstreaming_sbt_spark.operators.classify import nb_train
from kafka_sparkstreaming_sbt_spark.streaming.ingest import (
    materialize_corpus_signatures,
    materialize_corpus_window_hashes,
    materialize_drift_baseline,
    materialize_exact_screen,
    materialize_semantic_quantizer,
    run_multimodal_ingest_pipeline,
)

import inputs
import stats
from workload import Ctx, Outcome

#: corpus and wave sizes.  Per-wave cost is mostly fixed (about 9 s
#: warm on a 4-core machine at any size tried), so the sizes are small.
#: Two warm-up waves, because the second wave is still warming up.
CURATION = {
    "corpus_docs": 200,
    "wave_docs": 24,
    "warmup_waves": 2,
    "max_waves": 6,
    "n_cells": 8,
    "span_window_tokens": 16,
}
STAGES = ("drift", "quality", "batch_ckpt", "exact", "span", "near_dup", "semantic", "write_accept", "increments")
SCHEMA = "doc_id long, text string, embedding array<double>"
#: directories the pipeline writes: the accepted lake and its artifacts
LAKE = ("accepted", "cells", "sig", "exact", "span")


def lake_size(root: str) -> tuple[int, int]:
    """Files and bytes under the pipeline's output directories."""
    files = size = 0
    for name in LAKE:
        for d, _, fs in os.walk(os.path.join(root, name)):
            files += len(fs)
            size += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return files, size


def run_curation(ctx: Ctx, seed: int, seconds: int) -> Outcome:
    p = CURATION
    spark = ctx.spark
    n_waves = p["warmup_waves"] + p["max_waves"]
    dirs = {k: os.path.join(ctx.work, k) for k in ("stage", "src", "ckpt", "drift") + LAKE}
    os.makedirs(dirs["stage"])
    os.makedirs(dirs["src"])

    t = time.perf_counter()
    with ctx.span("inputs.generate"):
        corpus, waves = inputs.curation_docs(seed, p["corpus_docs"], n_waves, p["wave_docs"])
        names = [f"wave-{w:03d}.json" for w in range(n_waves)]
        for name, wave in zip(names, waves):
            with open(os.path.join(dirs["stage"], name), "w", encoding="utf-8") as fh:
                fh.write("\n".join(d.line() for d in wave) + "\n")
        full = spark.createDataFrame(
            [(d.doc_id, d.text, list(d.embedding)) for d in corpus], SCHEMA
        ).localCheckpoint(eager=True)
        labels = spark.createDataFrame(
            [(d.doc_id, int(d.kind == "clean")) for d in corpus], "doc_id long, label int"
        )
    inputs_s = time.perf_counter() - t
    corpus_docs = full.select("doc_id", "text")
    corpus_emb = full.select("doc_id", "embedding")

    t = time.perf_counter()
    with ctx.span("ingest.artifact_build"):
        model = nb_train(corpus_docs.join(labels, "doc_id"), "label").localCheckpoint(eager=True)
        materialize_corpus_signatures(corpus_docs, dirs["sig"])
        materialize_exact_screen(corpus_docs, dirs["exact"], expected_items=4 * p["corpus_docs"])
        materialize_corpus_window_hashes(corpus_docs, dirs["span"], p["span_window_tokens"])
        materialize_semantic_quantizer(corpus_emb, dirs["cells"], n_cells=p["n_cells"], id_col="doc_id")
        materialize_drift_baseline(corpus_docs, dirs["drift"])
    artifact_s = time.perf_counter() - t

    seen: list[tuple[int, int, int, float]] = []
    stage_sec: dict = {}
    stream = spark.readStream.schema(SCHEMA).json(dirs["src"])
    q = run_multimodal_ingest_pipeline(
        stream, corpus_docs, corpus_emb, dirs["accepted"], dirs["cells"], dirs["ckpt"],
        n_cells=p["n_cells"], method="numpy",
        signature_dir=dirs["sig"], exact_dir=dirs["exact"],
        bloom_expected_items=4 * p["corpus_docs"],
        quality_model=model, drift_dir=dirs["drift"],
        span_dir=dirs["span"], span_window_tokens=p["span_window_tokens"],
        on_batch=lambda b, n, a: seen.append((b, n, a, time.perf_counter())),
        stage_sec=stage_sec,
    )
    run_id = str(q.runId)

    def wave(w: int, parent: int | None) -> dict:
        """Drop wave ``w``, wait for it to commit, and return its
        batch, counts, latency and the stage seconds it added."""
        before = dict(stage_sec)
        n_seen = len(seen)
        os.rename(os.path.join(dirs["stage"], names[w]), os.path.join(dirs["src"], names[w]))
        dropped = time.perf_counter()
        q.processAllAvailable()
        mine = [s for s in seen[n_seen:] if s[1] > 0]
        if len(mine) != 1 or mine[0][1] != p["wave_docs"]:
            raise RuntimeError(f"wave {w} was not read as one batch: {mine}")
        batch, n_raw, n_acc, returned = mine[0]
        stages = {k: stage_sec.get(k, 0.0) - before.get(k, 0.0) for k in STAGES}
        if ctx.tracer is not None:
            wid = ctx.tracer.add("ingest.wave", dropped, returned, parent)
            t0 = dropped
            for k in STAGES:  # durations exact, starts laid end to end
                ctx.tracer.add(f"ingest.{k}", t0, t0 + stages[k], wid)
                t0 += stages[k]
        return {"wave": w, "batch": batch, "raw": n_raw, "accepted": n_acc,
                "latency": returned - dropped, "stages": stages}

    try:
        t = time.perf_counter()
        with ctx.span("setup.warmup") as sspan:
            done = [wave(w, sspan) for w in range(p["warmup_waves"])]
        warmup_s = time.perf_counter() - t
        jobs_before = ctx.jobs_in_group(run_id) if ctx.tracer else set()

        with ctx.span("window") as wspan:
            t0 = time.perf_counter()
            timed: list[dict] = []
            # as many whole waves as fit, at least one
            while len(done) < n_waves:
                timed.append(wave(len(done), wspan))
                done.append(timed[-1])
                elapsed = time.perf_counter() - t0
                if elapsed + timed[-1]["latency"] > seconds:
                    break
            window_s = time.perf_counter() - t0
        jobs = (ctx.jobs_in_group(run_id) - jobs_before) if ctx.tracer else set()
    finally:
        q.stop()

    with ctx.span("check"):
        accepted = {r.doc_id for r in spark.read.parquet(dirs["accepted"]).select("doc_id").collect()}
        problems = stats.set_mismatches(
            accepted, {d.doc_id for w in waves[: len(done)] for d in w if d.kind == "clean"}
        )
        for r in done:
            expect = sum(d.kind == "clean" for d in waves[r["wave"]])
            if r["accepted"] != expect:
                problems.append(f"wave {r['wave']}: on_batch accepted {r['accepted']}, expected {expect}")

    docs = len(timed) * p["wave_docs"]
    layers: dict[str, float] = {}
    if ctx.tracer is not None:
        n = len(timed)
        files, size = lake_size(ctx.work)
        layers = {f"ingest.{k}_s": sum(r["stages"][k] for r in timed) / n for k in STAGES}
        layers.update(
            {
                "ingest.accept_frac": sum(r["accepted"] for r in timed) / docs,
                "ingest.jobs_per_trigger": len(jobs) / n,
                "ingest.tasks_per_trigger": ctx.tasks_of(jobs) / n,
                "ingest.lake_files": files,
                "ingest.lake_bytes": size,
                "ingest.artifact_build_s": artifact_s,
            }
        )
    return Outcome(
        inputs_s=inputs_s,
        warmup_s=artifact_s + warmup_s,
        warmup_count=p["warmup_waves"],
        window_t0=t0,
        latencies=[r["latency"] for r in timed],
        throughput_per_s=docs / window_s,
        attempted=len(timed),
        failed=0,
        problems=problems,
        layers=layers,
        details={
            "corpus_docs": p["corpus_docs"],
            "wave_docs": p["wave_docs"],
            "wave_mix": "25% corpus text clones, 25% corpus vector clones, 5% spam, 45% fresh",
            "warmup_waves": p["warmup_waves"],
            "window_waves": len(timed),
            "artifact_build_s": artifact_s,
            "waves": [
                {k: r[k] for k in ("wave", "batch", "raw", "accepted")} | {"latency_s": round(r["latency"], 4)}
                for r in done
            ],
            "throughput_of": "window docs over the window",
            "attempts_are": "waves (a failed trigger ends the run)",
        },
    )


WORKLOADS = {"curation_ingest": run_curation}
