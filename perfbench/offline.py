"""The offline jobs: the nightly recommendation batch and the LLM-corpus
build, on one fixed fixture.

- ``reco_batch`` runs the eight driver queries that make up the
  reference's offline surface, one after another, each collected to the
  driver through Arrow (the nightly job hands its results to the serving
  store).  It is timed cold, in the run's fresh JVM, because the nightly
  job is one process per night and pays that start every time.
- ``corpus_build`` runs ``corpus_pipeline_ledger`` into a fresh stage
  root (cold), then again over the same root (resume).

Every result is checked against the registry's DuckDB oracle after the
timed region (``expected.py``).
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from . import expected
from .common import OFFLINE_FIXTURE_SEED, OFFLINE_SF, Ctx, dir_bytes, job_ids, retained_rdds
from .fixtures import generate

QUERIES = ("hot_items", "user_profiles", "weighted_docs", "score_fold",
           "doc_similarity_topk", "doc_clusters_exact", "reco_assembly",
           "als_rank1_exact_recs")
LEDGER = "corpus_pipeline_ledger"


def setup(ctx: Ctx) -> str:
    sf_dir = ctx.dir("fixture")
    t0 = time.perf_counter()
    ctx.notes["offline_rows"] = generate(sf_dir, OFFLINE_SF, OFFLINE_FIXTURE_SEED)
    ctx.setup["fixture_s"] = time.perf_counter() - t0
    return sf_dir


def _run_query(ctx: Ctx, job: str, name: str, sf_dir: str, tag: str = ""):
    """Build + collect one registry query under its own job group; returns
    (Arrow result or None, wall ms)."""
    from hainan_big_data_recommend_system_spark.qcatalog import REGISTRY

    spark, tr = ctx.spark, ctx.tracer
    group = f"{job}:{name}{tag}"
    spark.sparkContext.setJobGroup(group, group)
    layer = "corpus_pipeline" if name == LEDGER else "qcatalog"
    t0 = time.perf_counter()
    try:
        with tr.span(layer, "query", key=name + tag):
            with tr.span(layer, "build", key=name + tag):
                df = REGISTRY[name].fn(spark, sf_dir)
            with tr.span(layer, "action", key=name + tag):
                table = df.toArrow()
    except Exception as exc:  # counted, never fatal: the run reports it
        traceback.print_exc()
        ctx.fail(job, name + tag, f"{type(exc).__name__}: {exc}"[:300])
        return None, (time.perf_counter() - t0) * 1e3
    ms = (time.perf_counter() - t0) * 1e3
    if ctx.trace:
        ctx.notes.setdefault("groups", {})[group] = job_ids(spark, group)
    return table, ms


def run(ctx: Ctx, sf_dir: str) -> None:
    spark = ctx.spark
    results: dict[str, tuple] = {}

    stage_root = os.environ["SPARK_GRAFT_STAGE_DIR"]
    shutil.rmtree(stage_root, ignore_errors=True)
    rdds = []
    with ctx.timed("reco_batch"):  # one cold pass over the eight queries
        for name in QUERIES:
            got, ms = _run_query(ctx, "reco_batch", name, sf_dir)
            results[name] = (got, ms)
            spark.catalog.clearCache()
            rdds.append(retained_rdds(spark))

    with ctx.timed("corpus_build"):  # cold into the fresh stage root, then resume
        cold, cold_ms = _run_query(ctx, "corpus_build", LEDGER, sf_dir, ":cold")
        if ctx.trace:
            ctx.notes["stage_dir_mb"] = dir_bytes(stage_root) / (1024 * 1024)
        spark.catalog.clearCache()
        resume, resume_ms = _run_query(ctx, "corpus_build", LEDGER, sf_dir, ":resume")
        spark.catalog.clearCache()
    spark.sparkContext.setJobGroup("perfbench", "perfbench")

    # ---- correctness gate, outside the timed region
    for name in QUERIES:
        got, ms = results[name]
        if got is not None:
            ok, why = expected.check(name, got.to_pandas(), sf_dir)
            ctx.op("reco_batch", name, ms, ok, why)
    for tag, got, ms in ((":cold", cold, cold_ms), (":resume", resume, resume_ms)):
        if got is not None:
            ok, why = expected.check(LEDGER, got.to_pandas(), sf_dir)
            ctx.op("corpus_build", LEDGER + tag, ms, ok, why)

    ctx.named["batch_wall_s"] = (ctx.job_s["reco_batch"], "s")
    ctx.named["corpus_cold_s"] = (cold_ms / 1e3, "s")
    ctx.named["corpus_resume_s"] = (resume_ms / 1e3, "s")
    ctx.notes["retained_rdds"] = rdds
    for tag, got in ((":cold", cold), (":resume", resume)):
        if got is not None:
            ctx.notes["ledger" + tag] = {
                r["stage"]: (int(r["rows_in"]), int(r["rows_out"]))
                for r in got.to_pylist()
            }
