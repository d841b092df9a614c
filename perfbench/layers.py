"""Per-layer metrics of a traced run: spans from the benchmark joined with
the jobs, stages and tasks of the Spark event log.

Every figure is computed per pass and reported as the median over the
traced passes, so it does not depend on how many passes fit in a run.
"""

from __future__ import annotations

import contextlib
import statistics

from eventlog import Job, covered_seconds, fold

LINEAGE_CALLS = ("crash", "resume", "read_committed")
DATA_WRITE_FN = "plans.lineage._write_buckets"
BUILD_FNS = ("plans.pipeline.run_pipeline",)


@contextlib.contextmanager
def instrument(rec):
    """Spans around the package functions the workloads reach: every
    function ``plans.lineage`` looks up by name, and ``plans.pipeline.run_pipeline``."""
    from data_quality_analyzer_spark.plans import lineage as LN
    from data_quality_analyzer_spark.plans import pipeline as PL

    with rec.wrap_module(LN), rec.wrap_module(PL, ("run_pipeline",)):
        yield


def _intervals(jobs: list[Job]) -> list[tuple[float, float]]:
    return [(j.submit_ms / 1000.0, j.end_ms / 1000.0) for j in jobs]


def _pass_metrics(p, rec, jobs: list[Job], cores: int) -> dict[str, float]:
    prefix = f"{p.op}:"
    pj = [j for j in jobs if j.span.startswith(prefix)]
    m = fold(pj, p.seconds, cores)
    m["spark.driver_gap_s"] = p.seconds - covered_seconds(_intervals(pj), p.start, p.end)

    spans = [s for s in rec.spans if s.op == p.op]
    builds = [
        s for s in spans
        if s.kind == "fn" and (s.name in BUILD_FNS or s.name.startswith("plans.entry_queries."))
    ]
    m["plans.pipeline.plan_build_s"] = sum(
        s.seconds - covered_seconds(_intervals(pj), s.start, s.end) for s in builds
    )

    calls = [s for s in spans if s.kind == "call"]
    lineage = [s for s in calls if s.name in LINEAGE_CALLS]
    if lineage:
        lj = [j for j in pj if j.span.split(":", 1)[1] in LINEAGE_CALLS]
        writes = _intervals([j for j in lj if j.fn == DATA_WRITE_FN])
        m["plans.lineage.jobs"] = float(len(lj))
        m["plans.lineage.bookkeeping_s"] = sum(
            s.seconds - covered_seconds(writes, s.start, s.end) for s in lineage
        )
        m["plans.lineage.data_write_s"] = covered_seconds(writes, p.start, p.end)
        for fn, key in (
            ("plans.lineage._write_bucket_metrics", "plans.lineage.metric_tables_s"),
            ("plans.lineage._written_bucket_stats", "plans.lineage.bucket_stats_s"),
            ("plans.lineage._commit_manifest", "plans.lineage.manifest_commit_s"),
        ):
            m[key] = sum(s.seconds for s in spans if s.kind == "fn" and s.name == fn)
    for s in calls:
        if s.name.startswith("q"):
            qj = [j for j in pj if j.span == f"{p.op}:{s.name}"]
            m[f"query.{s.name}.wall_s"] = s.seconds
            m[f"query.{s.name}.jobs"] = float(len(qj))
            m[f"query.{s.name}.shuffle_bytes"] = float(
                sum(t.shuffle_write for j in qj for t in j.tasks())
            )
    return m


def per_layer(wl, untraced_recs, trec, jobs: list[Job], cores: int, extra: dict,
              start_s: float, gen_s: float, warm_s: float) -> dict[str, float]:
    """``untraced_recs`` are the untraced loops run before and after the
    traced one; their passes bracket it in time, so the JIT warming over
    the run's life does not pass for a tracing gain."""
    passes = trec.passes()
    rows = [_pass_metrics(p, trec, jobs, cores) for p in passes]
    out: dict[str, float] = {}
    for key in sorted({k for r in rows for k in r}):
        out[key] = statistics.median(r.get(key, 0.0) for r in rows)
    out.update(extra)

    untraced = [s.seconds for r in untraced_recs for s in r.passes()]
    traced = [s.seconds for s in passes]
    if untraced and traced:
        out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    resumes = [
        s.seconds for r in untraced_recs for s in r.calls()
        if s.name == "resume" and s.ok
    ]
    if resumes:
        out["plans.lineage.recovery_s"] = statistics.median(resumes)
    out["session.start_s"] = start_s
    out["setup.warm_up_s"] = warm_s
    if wl.unit == "images":
        out["sources.write_corpus_s"] = gen_s
    return out
