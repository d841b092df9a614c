"""The workloads, each a closed loop of one client.

A workload generates its inputs from the seed, warms the session up, runs
one complete *pass* per ``run_pass`` call and checks every pass's output
against the repository's own oracles after the clock has stopped.  Every
call into the program goes through ``Recorder.call``, so the untraced and
the traced run time exactly the same calls.
"""

from __future__ import annotations

import collections
import hashlib
import inspect
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd

from recorder import Recorder

# input columns that identify a corpus row (image_id alone is ~0.5 % duplicated)
ROW_KEY = ["image_id", "caption", "phash", "w", "h", "fmt"]
VERDICT = ["keep", "fail_rules", "caption_scrubbed"]


@dataclass
class Pass:
    """One complete pass: what it produced, for the check after the clock."""

    wall_s: float
    outputs: dict


@dataclass
class Verdict:
    attempted: int = 0
    wrong: int = 0
    keep_f1: list[float] = field(default_factory=list)


def _null(v):
    return "<NULL>" if v is None or (isinstance(v, float) and v != v) else v


def _canon_verdicts(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[ROW_KEY + VERDICT].copy()
    out["fail_rules"] = out["fail_rules"].map(lambda a: tuple(a) if a is not None else ())
    for c in ("caption", "caption_scrubbed", "image_id", "fmt"):
        out[c] = out[c].map(_null)
    out["keep"] = out["keep"].astype(bool)
    return out.sort_values(ROW_KEY + ["keep"], kind="mergesort").reset_index(drop=True)


def compare_verdicts(got: pd.DataFrame, want: pd.DataFrame) -> tuple[int, float]:
    """(rows that differ, keep F1) between two verdict tables as multisets.

    Rows are matched on their input columns, never joined on ``image_id``;
    rows whose inputs are identical are interchangeable."""
    from data_quality_analyzer_spark.oracle.pandas_oracle import f1_keep

    a, b = _canon_verdicts(got), _canon_verdicts(want)
    ca = collections.Counter(map(tuple, a.itertuples(index=False)))
    cb = collections.Counter(map(tuple, b.itertuples(index=False)))
    wrong = max(sum((ca - cb).values()), sum((cb - ca).values()))
    f1 = f1_keep(a["keep"], b["keep"]) if len(a) == len(b) else 0.0
    return wrong, f1


def _counter_diff(got: pd.DataFrame, want: pd.DataFrame) -> int:
    cg = collections.Counter(map(tuple, got.astype(str).itertuples(index=False)))
    cw = collections.Counter(map(tuple, want.astype(str).itertuples(index=False)))
    return max(sum((cg - cw).values()), sum((cw - cg).values()))


def _source_digest(module) -> str:
    return hashlib.sha256(inspect.getsource(module).encode()).hexdigest()[:12]


def _walk(root: str, data_only: bool = False):
    """(1, size) per file under ``root``; ``data_only`` skips ``_``/``.`` files."""
    for d, _dirs, files in os.walk(root):
        for f in files:
            if data_only and f[0] in "_.":
                continue
            yield 1, os.path.getsize(os.path.join(d, f))


def written_bytes(out_dir: str, LN) -> dict[str, tuple[int, int]]:
    """(files, bytes) under a checkpointed table, in three groups: data
    buckets, the per-bucket metric tables, and the manifest."""
    groups = {"data": [0, 0], "metrics": [0, 0], "manifest": [0, 0]}
    metric_dirs = {LN.RULE_METRICS_DIR, LN.LANGID_HIST_DIR}
    for entry in os.listdir(out_dir):
        path = os.path.join(out_dir, entry)
        if entry in metric_dirs:
            g = "metrics"
        elif entry == LN.MANIFEST:
            g = "manifest"
        else:
            g = "data"
        files = _walk(path) if os.path.isdir(path) else [(1, os.path.getsize(path))]
        for f, b in files:
            groups[g][0] += f
            groups[g][1] += b
    return {k: (v[0], v[1]) for k, v in groups.items()}


class Workload:
    """Interface: ``generate`` (timed in set-up), ``prepare`` (untimed),
    ``warm_up``, ``run_pass`` (timed) and ``check`` (after the clock)."""

    name = ""
    unit = ""

    def __init__(self, work: str, cache: str, seed: int, cores: int):
        self.work, self.cache, self.seed, self.cores = work, cache, seed, cores
        self._dirs = 0

    def fresh_dir(self, name: str) -> str:
        """A new output directory under the run's work directory."""
        self._dirs += 1
        return os.path.join(self.work, f"{name}.{self._dirs}")

    def items(self) -> int:
        raise NotImplementedError

    def spark_conf(self) -> dict[str, str]:
        return {}

    def generate(self, dst: str) -> None:
        raise NotImplementedError

    def prepare(self, spark, src: str) -> None:
        raise NotImplementedError

    def warm_up(self, spark, rec: Recorder, passes: int = 2) -> None:
        """Untimed passes; a fresh JVM needs two."""
        raise NotImplementedError

    def run_pass(self, spark, rec: Recorder, i: int) -> Pass:
        raise NotImplementedError

    def check(self, p: Pass, v: Verdict) -> None:
        raise NotImplementedError

    def trace_layers(self, spark, passes: list[Pass]) -> dict[str, float]:
        """Per-layer figures only this workload can give (traced run)."""
        return {}


class ResumableIngest(Workload):
    """``plans.lineage.run_with_checkpoints`` in chunked mode over a seeded
    image+caption corpus: the first call crashes after ``CRASH_AFTER``
    chunks, the second resumes, then the committed table and its per-bucket
    rule metrics are read back.  About a quarter of the rows share one
    phash bucket, so commit skew shows."""

    name = "resumable_ingest"
    unit = "images"
    ROWS = 1500
    BUCKETS = 8
    CHUNK = 4
    CRASH_AFTER = 1

    def items(self) -> int:
        return self.ROWS

    def spark_conf(self) -> dict[str, str]:
        # one scan task per corpus part file (as the frozen bench.py does)
        return {
            "spark.sql.files.maxPartitionBytes": str(6 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
        }

    def generate(self, dst: str) -> None:
        from data_quality_analyzer_spark.sources.fixtures import write_corpus

        write_corpus(dst, self.ROWS, seed=self.seed, n_files=self.cores)

    def prepare(self, spark, src: str) -> None:
        self.images_path = os.path.join(src, "images.parquet")
        self.images = spark.read.parquet(self.images_path)
        self._oracle = None

    def warm_up(self, spark, rec: Recorder, passes: int = 2) -> None:
        # a fresh JVM runs its first pass about three times as slow as later
        # ones (Python workers start, models load, the JIT compiles the hot
        # paths) and its second still 10-15 % slower than the third; a pass
        # measured on that slope varies by a third from run to run
        for _ in range(passes):
            self._cycle(spark, rec, -1)

    def _crash(self, spark, rec: Recorder, i: int, out: str, run_id: str) -> None:
        from data_quality_analyzer_spark.plans import lineage as LN

        with rec.call(i, "crash"):
            try:
                LN.run_with_checkpoints(
                    spark, self.images, out, run_id,
                    num_buckets=self.BUCKETS, chunk_size=self.CHUNK,
                    fail_after_chunks=self.CRASH_AFTER,
                )
            except RuntimeError as exc:
                if "injected failure" not in str(exc):
                    raise
            else:
                raise RuntimeError("the injected crash did not happen")

    def _cycle(self, spark, rec: Recorder, i: int) -> dict:
        from data_quality_analyzer_spark.plans import lineage as LN

        out = self.fresh_dir(f"ledger_{i}")
        run_id = f"bench-{self.seed}-{i}"
        self._crash(spark, rec, i, out, run_id)
        with rec.call(i, "resume"):
            manifest = LN.run_with_checkpoints(
                spark, self.images, out, run_id,
                num_buckets=self.BUCKETS, chunk_size=self.CHUNK,
            )
        with rec.call(i, "read_committed"):
            table = LN.read_committed(spark, out).drop("bytes").toPandas()
            metrics = LN.read_committed_metrics(spark, out).toPandas()
        return {"dir": out, "manifest": manifest, "table": table, "metrics": metrics}

    def run_pass(self, spark, rec: Recorder, i: int) -> Pass:
        with rec.op(i) as clock:
            outputs = self._cycle(spark, rec, i)
        return Pass(clock.wall_s, outputs)

    def oracle(self) -> pd.DataFrame:
        """Oracle verdicts for this seed, cached on disk across runs."""
        if self._oracle is not None:
            return self._oracle
        from data_quality_analyzer_spark.oracle import pandas_oracle as PO

        path = os.path.join(
            self.cache,
            f"oracle-{self.ROWS}-{self.seed}-{_source_digest(PO)}.parquet",
        )
        if not os.path.exists(path):
            pdf = pd.read_parquet(self.images_path)
            want = PO.oracle_verdicts(pdf)
            for c in ROW_KEY[1:]:
                want[c] = pdf[c].values
            os.makedirs(self.cache, exist_ok=True)
            want.to_parquet(path + ".tmp", index=False)
            os.replace(path + ".tmp", path)
        self._oracle = pd.read_parquet(path)
        return self._oracle

    def check(self, p: Pass, v: Verdict) -> None:
        from data_quality_analyzer_spark.oracle.pandas_oracle import oracle_metrics

        want = self.oracle()
        committed = p.outputs["manifest"]["committed"]
        v.attempted += self.BUCKETS
        v.wrong += self.BUCKETS - len(committed)
        if sum(b["rows"] for b in committed.values()) != len(want):
            v.wrong += 1
        wrong, f1 = compare_verdicts(p.outputs["table"], want)
        v.attempted += len(want)
        v.wrong += wrong
        v.keep_f1.append(f1)
        # per-bucket rule metrics against the oracle's, bucket by bucket
        cols = ["bucket", "rule_key", "severity", "pass_count", "fail_count"]
        parts = []
        for b, grp in want.groupby(want["phash"] % self.BUCKETS):
            m = oracle_metrics(grp)
            m.insert(0, "bucket", int(b))
            parts.append(m)
        exp = pd.concat(parts)[cols]
        v.attempted += len(exp)
        v.wrong += _counter_diff(p.outputs["metrics"][cols], exp)

    def kernel_rates(self, reps: int = 3) -> dict[str, float]:
        """Driver-side rows/s of the two Python kernels on the corpus
        (median of ``reps`` calls)."""
        from data_quality_analyzer_spark.config import DEFAULT_SETTINGS as S
        from data_quality_analyzer_spark.functions import caption_scores as CS
        from data_quality_analyzer_spark.functions import langid as LI
        from data_quality_analyzer_spark.functions import perplexity as PX
        from data_quality_analyzer_spark.functions import quality_clf as QC
        from data_quality_analyzer_spark.operators import images as IM

        pdf = pd.read_parquet(self.images_path)
        models = (LI.get_model(), PX.get_model(), QC.get_model())
        calls = {
            "functions.score_all.rows_per_s": lambda: CS.score_all(pdf["caption"], *models),
            "operators.validate_batch.rows_per_s": lambda: IM.validate_batch(
                pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"], S.min_dim, S.max_dim
            ),
        }
        out = {}
        for name, fn in calls.items():
            fn()  # first call pays lazy imports and allocations
            secs = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn()
                secs.append(time.perf_counter() - t0)
            out[name] = len(pdf) / statistics.median(secs)
        return out

    def trace_layers(self, spark, passes):
        from data_quality_analyzer_spark.plans import lineage as LN
        from data_quality_analyzer_spark.plans import pipeline as PL

        groups = written_bytes(passes[-1].outputs["dir"], LN)
        # the plain filter+scrub stage on the same rows, as the frozen
        # bench.py runs it: its verdict bytes are the base of write_amp
        plain = os.path.join(self.work, "plain_out")
        secs = []
        for _ in range(2):
            t0 = time.perf_counter()
            PL.run_pipeline(spark, self.images).drop("bytes").write.mode(
                "overwrite"
            ).parquet(plain)
            secs.append(time.perf_counter() - t0)
        plain_bytes = sum(b for _, b in _walk(plain, data_only=True))
        total_bytes = sum(b for _, b in groups.values())
        out = {
            "plans.lineage.files_written": float(sum(f for f, _ in groups.values())),
            "plans.lineage.bytes_written": float(total_bytes),
            "plans.lineage.data_files": float(groups["data"][0]),
            "plans.lineage.metric_files": float(groups["metrics"][0]),
            "plans.lineage.write_amp": total_bytes / plain_bytes,
            "plans.lineage.buckets_committed": float(
                len(passes[-1].outputs["manifest"]["committed"])
            ),
            "plans.pipeline.rows_per_s": self.ROWS / statistics.median(secs),
        }
        out.update(self.kernel_rates())
        return out


class QuerySweep(Workload):
    """A fixed list of registered ``plans.entry_queries`` queries over the
    seeded scale-factor tables, each result collected to the client and
    compared with its DuckDB twin."""

    name = "query_sweep"
    unit = "queries"
    SF = 0.001
    # the per-job fixed-cost tail: short single-aggregate queries
    LIGHT = ("q01_pricing_summary", "q17_events_daily")
    # heavier multi-job queries whose plans later changes target
    HEAVY = (
        "q37_near_dup_pairs", "q43_minhash_poly_signatures",
        "q64_crossdoc_dup_ngrams", "q88_session_funnel",
    )
    QUERIES = LIGHT + HEAVY

    def items(self) -> int:
        return len(self.QUERIES)

    def generate(self, dst: str) -> None:
        import sfgen

        sfgen.write(dst, self.SF, self.seed)

    def prepare(self, spark, src: str) -> None:
        from data_quality_analyzer_spark.plans import entry_queries as EQ

        self.sf_dir = src
        registry = EQ.queries()
        missing = [q for q in self.QUERIES if q not in registry]
        if missing:
            raise RuntimeError(f"queries not registered: {missing}")
        self.fns = {q: registry[q] for q in self.QUERIES}
        self._duck = None

    def _sweep(self, spark, rec: Recorder, i: int) -> dict:
        results = {}
        for name, fn in self.fns.items():
            try:
                with rec.call(i, name):
                    with rec.fn(f"plans.entry_queries.{name}"):
                        df = fn(spark, self.sf_dir)
                    results[name] = df.toPandas()
            except Exception:  # counted by the recorder; the sweep goes on
                traceback.print_exc()
                results[name] = None
        return results

    def warm_up(self, spark, rec: Recorder, passes: int = 2) -> None:
        # the first sweep of a fresh JVM runs about 3x slower and the second
        # still ~15 % slower and far more variable than later ones
        for _ in range(passes):
            self._sweep(spark, rec, -1)

    def run_pass(self, spark, rec: Recorder, i: int) -> Pass:
        with rec.op(i) as clock:
            results = self._sweep(spark, rec, i)
        return Pass(clock.wall_s, {"results": results})

    def _twins(self) -> dict[str, pd.DataFrame]:
        if self._duck is None:
            from data_quality_analyzer_spark.oracle.compare import duck_connection
            from data_quality_analyzer_spark.plans import entry_queries as EQ

            con = duck_connection(self.sf_dir)
            sql = EQ.oracle_sql()
            self._duck = {q: con.sql(sql[q]).df() for q in self.QUERIES}
            con.close()
        return self._duck

    def check(self, p: Pass, v: Verdict) -> None:
        from data_quality_analyzer_spark.oracle.compare import compare_frames

        twins = self._twins()
        for name, got in p.outputs["results"].items():
            if got is None:  # raised; already counted as a failed call
                continue
            v.attempted += 1
            if not compare_frames(name, got, twins[name]).ok:
                v.wrong += 1


WORKLOADS = {w.name: w for w in (ResumableIngest, QuerySweep)}
