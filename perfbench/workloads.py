"""The benchmark's workloads.

A workload owns its inputs, one untimed correctness pass (``gate``) that
also warms the JVM, the timed pass (``run_pass``) and an appendix the
traced run adds after the timed passes. Each call into the engine runs
inside ``Recorder.op(name, phase)``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

import datagen
import gate

# Input sizes (measured in perfbench/STEADINESS.md, "Data work at these
# sizes"): at 150 000 distinct rows the entregas pass keeps most of its
# task slots busy, mostly writing CSV. The registry tables have the sf0.1
# testdata's row counts; engine-mix is bound by Spark's per-job floor at
# that scale, and larger tables would not fit the run budget.
ENTREGAS_UNIQUE_ROWS = 150_000
STAR_SCALE = 0.1


class Workload:
    name = ""

    def __init__(self, spark, cfg, run_dir: str, seed: int, rec):
        self.spark = spark
        self.cfg = cfg
        self.run_dir = run_dir
        self.seed = seed
        self.rec = rec
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.input_bytes = 0

    def fail(self, op: str, problems: list[str]) -> None:
        self.failed += 1
        self.problems.extend(f"{op}: {p}" for p in problems)

    def prepare(self) -> None:
        raise NotImplementedError

    def gate(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> None:
        raise NotImplementedError

    def appendix(self, repeats: int) -> dict[str, float]:
        raise NotImplementedError

    def store_bytes(self) -> int:
        return 0


class EntregasEtl(Workload):
    """The reference's own job: seeded CSV through the six pipeline stages."""

    name = "entregas-etl"

    def prepare(self) -> None:
        from etl_entregas_pyspark_spark import EntregasPipeline

        self.csv = os.path.join(self.run_dir, "entregas.csv")
        self.ladder = datagen.write_entregas_csv(self.csv, self.seed, ENTREGAS_UNIQUE_ROWS)
        self.input_bytes = os.path.getsize(self.csv)
        self.out_dir = os.path.join(self.run_dir, "delivered")
        cfg = dict(self.cfg)
        cfg["paths"] = {"input_file": self.csv, "output_base": self.out_dir}
        self.pipeline = EntregasPipeline(self.spark, cfg)

    def gate(self) -> None:
        self.attempted += 1
        try:
            with self.rec.op("pipeline.run", "run"):
                metrics = self.pipeline.run(write=True)
            problems = gate.ladder_problems(self.ladder, metrics["data_quality"])
            problems += gate.output_problems(self.ladder, metrics.get("output_rows", -1), self.out_dir)
        except Exception as exc:  # counted in failed_share; the run goes on
            problems = [_error(exc)]
        if problems:
            self.fail("pipeline.run", problems)

    def run_pass(self) -> None:
        """The four stage calls; a failing stage fails the rest of the pass."""
        p, op = self.pipeline, self.rec.op
        self.attempted += 4
        try:
            with op("extract", "run"):
                raw = p.extract()
            with op("quality", "run"):
                cleaned, dq = p.apply_data_quality(raw)
            with op("plan", "build"):
                final = p.standardize_columns(p.transform(p.apply_filters(cleaned)))
            with op("load", "run"):
                p.load(final)
        except Exception as exc:  # counted in failed_share; the run goes on
            self.fail("pass", [_error(exc)])
            return
        problems = gate.ladder_problems(self.ladder, dq)
        if problems:
            self.fail("quality", problems)

    def appendix(self, repeats: int) -> dict[str, float]:
        """The ladder ``repeats`` times; the fastest reading of each step."""
        runs = [self._ladder() for _ in range(repeats)]
        return {k: min(r[k] for r in runs) for k in runs[0]}

    def _ladder(self) -> dict[str, float]:
        """Cumulative-prefix ladder: each step's plan, noop-written, so a
        step's time minus the previous step's is the cost it adds."""
        import time

        from etl_entregas_pyspark_spark.io.writers import write_partitioned
        from etl_entregas_pyspark_spark.operators import quality

        p = self.pipeline
        raw = p.extract()
        steps = [("io.readers.scan_s", raw)]
        steps.append(("operators.quality.apply_s", quality.apply_quality(raw, p.config)))
        steps.append(("operators.filters.apply_s", p.apply_filters(steps[-1][1])))
        steps.append(("operators.derive.derive_all_s", p.transform(steps[-1][1])))
        steps.append(("operators.project.standardize_s", p.standardize_columns(steps[-1][1])))
        out: dict[str, float] = {}
        for metric, df in steps:
            with self.rec.op(metric, "run"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                out[metric] = time.perf_counter() - t0
        ladder_out = os.path.join(self.run_dir, "ladder_out")
        with self.rec.op("io.writers.write_partitioned_s", "run"):
            t0 = time.perf_counter()
            write_partitioned(steps[-1][1], ladder_out, partition_cols=["fecha_proceso"], fmt="csv")
            out["io.writers.write_partitioned_s"] = time.perf_counter() - t0
        files = [os.path.join(d, f) for d, _, fs in os.walk(ladder_out) for f in fs if f.startswith("part-")]
        out["io.writers.files"] = float(len(files))
        out["io.writers.write_amp"] = sum(os.path.getsize(f) for f in files) / self.input_bytes
        shutil.rmtree(ladder_out, ignore_errors=True)
        return out


# "<module>.<function>" under etl_entregas_pyspark_spark.queries. Builds
# run with force=True, so every pass rewrites the store.
BUILD_OPS = ("ivf_index.ensure_ivf_index",)
INDEX_PROBES = {"q223_ivf_probe_persisted": "ivf_index.probe_s"}
DEDUP = "q42_fingerprint_dedup"
# The epoch-fenced ingest (streaming.epoch_store): every pass commits the
# arriving vector batch into an emptied membership store. The correctness
# pass then reads the committed epochs back through q224.
INGEST = "ivf_index.ensure_ivf_commit"
INGEST_READBACK = "q224_ivf_ingest_commit"
ENGINE_QUERIES = (
    *INDEX_PROBES,  # reads the persisted IVF index
    DEDUP,  # exact-fingerprint near-dup dedup
    "q05_region_revenue",  # relational: multi-way join + aggregate
    "q30_events_tumbling",  # events: tumbling-window aggregate
)
# A streaming replay (7 micro-batches) costs more than the rest of a pass
# together, so it runs only in the traced run's appendix, after the timed
# passes: it feeds the streaming.* layer metrics, not pass_s.
STREAM_REPLAY = "q201_stream_disordered_tumbling"


class EngineMix(Workload):
    """Registry operations over seeded parquet: a forced IVF index build
    (the write side), a probe of the persisted index (the read side), an
    epoch-fenced ingest, dedup, a relational and an events query. The seed
    fixes the operation order within a pass."""

    name = "engine-mix"

    def prepare(self) -> None:
        import importlib

        from etl_entregas_pyspark_spark.queries import REGISTRY

        def engine_function(op: str):
            module, func = op.split(".")
            return getattr(importlib.import_module(f"etl_entregas_pyspark_spark.queries.{module}"), func)

        self.sf_dir = os.path.join(self.run_dir, "sf")
        self.input_bytes = datagen.write_star_tables(self.sf_dir, self.seed, STAR_SCALE)
        ops = [(op, "build", engine_function(op)) for op in BUILD_OPS]
        ops.append((INGEST_READBACK, "ingest", REGISTRY[INGEST_READBACK]))
        ops += [(q, "query", REGISTRY[q]) for q in ENGINE_QUERIES]
        order = np.random.default_rng(self.seed).permutation(len(ops))
        self.ops = [ops[i] for i in order]
        self.commit = engine_function(INGEST)
        self.commit_path = ""
        self.index_input_bytes = sum(
            os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet")) for t in ("documents", "embeddings")
        )
        self.store_paths: dict[str, str] = {}

    def _build(self, name: str, ensure) -> None:
        with self.rec.op(name, "build"):
            self.store_paths[name] = ensure(self.spark, self.sf_dir, force=True)

    def _ingest(self) -> None:
        if self.commit_path:
            shutil.rmtree(self.commit_path)  # the commit must find an empty store
        with self.rec.op(INGEST, "build"):
            self.commit_path = self.commit(self.spark, self.sf_dir)

    def gate(self) -> None:
        oracle = gate.Oracle(self.sf_dir, datagen.STAR_TABLES)
        try:
            for name, kind, target in self.ops:
                self.attempted += 1
                try:
                    if kind == "build":
                        self._build(name, target)
                        problems = self._store_problems(self.store_paths[name])
                    else:
                        if kind == "ingest":
                            self._ingest()
                        problems = self._checked_query(name, target, oracle)
                except Exception as exc:  # one failing operation must not end the run
                    problems = [_error(exc)]
                if problems:
                    self.fail(name, problems)
        finally:
            oracle.close()

    def _checked_query(self, name: str, spec, oracle: gate.Oracle) -> list[str]:
        with self.rec.op(name, "build"):
            df = spec.spark(self.spark, self.sf_dir)
        with self.rec.op(name, "run"):
            rows = [tuple(r) for r in df.collect()]
        want_cols, want_rows = oracle.run(spec.oracle) if spec.oracle else (None, None)
        return gate.result_problems(df.columns, rows, want_cols, want_rows)

    def _query(self, name: str, spec) -> list[str]:
        with self.rec.op(name, "build"):
            df = spec.spark(self.spark, self.sf_dir)
        with self.rec.op(name, "run"):
            df.write.format("noop").mode("overwrite").save()
        return []

    @staticmethod
    def _store_problems(path: str) -> list[str]:
        marked = any("_SUCCESS" in files for _, _, files in os.walk(path))
        return [] if marked else [f"store {path} has no _SUCCESS marker"]

    def run_pass(self) -> None:
        for name, kind, target in self.ops:
            self.attempted += 1
            try:
                if kind == "build":
                    self._build(name, target)
                elif kind == "ingest":
                    self._ingest()
                else:
                    self._query(name, target)
            except Exception as exc:  # counted in failed_share; the pass goes on
                self.fail(name, [_error(exc)])

    def appendix(self, repeats: int) -> dict[str, float]:
        """The streaming replay, ``repeats`` times; the first is checked."""
        from etl_entregas_pyspark_spark.queries import REGISTRY

        spec = REGISTRY[STREAM_REPLAY]
        oracle = gate.Oracle(self.sf_dir, datagen.STAR_TABLES)
        try:
            for i in range(repeats):
                self.attempted += 1
                try:
                    problems = self._query(STREAM_REPLAY, spec) if i else self._checked_query(STREAM_REPLAY, spec, oracle)
                except Exception as exc:  # counted in failed_share
                    problems = [_error(exc)]
                if problems:
                    self.fail(STREAM_REPLAY, problems)
        finally:
            oracle.close()
        return {}

    def store_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f)) for p in self.store_paths.values() for d, _, fs in os.walk(p) for f in fs
        )


def _error(exc: Exception) -> str:
    return f"error: {type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}"


WORKLOADS = {w.name: w for w in (EntregasEtl, EngineMix)}
