"""The benchmark's workloads: what one request is, how it is built from
the seeded inputs, how it is sent to the engine through its public
calls, and how its output is checked.

A request is one extraction batch or one operator query. The engine is
driven only through ``Engine.extract_batch``, ``execute_dispatched``,
``fetch_registry_snapshot``/``load_snapshot`` and ``Engine.query``; every
span, job count and check lives here, outside the engine.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from metadata_extractors_api_spark.plans.extract_batch import execute_dispatched
from metadata_extractors_api_spark.sources.registry import FILES_SCHEMA
from metadata_extractors_api_spark.sources.registry_fetch import (
    fetch_registry_snapshot,
    load_snapshot,
)
from perfbench import inputs
from perfbench.probes import JobCounter, Tracer
from tools.compare import compare_one, duckdb_conn

FETCH = "sources.registry_fetch.fetch_s"
LOAD = "sources.registry_fetch.load_s"
RESOLVE_BUILD = "plans.extract_batch.resolve_build_s"
RESOLVE_RUN = "plans.extract_batch.resolve_run_s"
EXECUTE_BUILD = "plans.extract_batch.execute_dispatched.execute_build_s"
EXECUTE_RUN = {
    "python": "plans.extract_batch.execute_dispatched.execute_python_run_s",
    "cli": "plans.extract_batch.execute_dispatched.execute_cli_run_s",
}
#: Untimed extraction requests before timing: one cold request does not
#: warm the JVM's JIT and the Python workers, so the first timed requests
#: would still run slower than the rest.
WARMUP_REQUESTS = 2
FILES_COLUMNS = ["file_id", "path", "filetype_id", "size_bytes"]
SINK_COLLECT = "sink.collect_s"
SINK_PARQUET = "sink.parquet_s"
COUNTS = "trace.counts_s"
# Spans of work only a traced request does; their share of the traced
# requests' remaining time is the tracing overhead.
TRACE_ONLY = (RESOLVE_RUN, *EXECUTE_RUN.values(), COUNTS)

#: query_mix queries -> per-layer metric (operators.<module>.<query>_s).
#: dedup_minhash is left out: building and caching its candidate memo
#: costs about 10 s of every run's set-up, more than the run-time budget
#: allows; dedup_jaccard_prefix keeps operators/llm.py measured.
QUERY_METRICS = {
    "tpch_q3_shipping": "operators.workload.tpch_q3_shipping_s",
    "join_multiway": "operators.relational.join_multiway_s",
    "dedup_jaccard_prefix": "operators.llm.dedup_jaccard_prefix_s",
    "tokenizer_bpe_encode": "operators.corpus.tokenizer_bpe_encode_s",
    "orders_basket_affinity": "operators.training.orders_basket_affinity_s",
    "agg_percentile_cont": "operators.quality.agg_percentile_cont_s",
}


@dataclass
class Context:
    """What every workload shares: the session, the engine facade, the
    probes, the seed and a work directory inside the checkout."""

    spark: object
    engine: object
    tracer: Tracer
    jobs: JobCounter
    seed: int
    work: str


@dataclass
class Outcome:
    """One request's checked result."""

    ok: bool
    items: int  # files dispatched+executed+verified, or 1 per query
    stats: dict


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


@dataclass(frozen=True)
class ExtractionSpec:
    batch: int  # files per request
    mix: dict  # execution mode -> share of the batch (None = orphan)
    refresh: bool  # fetch + load the registry snapshot on every request
    sink: str  # "parquet" (written, read back to check) or "collect"


class Extraction:
    """Extraction batches: files -> resolve -> execute -> sink."""

    round_size = 1  # every batch of a workload has the same shape

    def __init__(self, ctx: Context, spec: ExtractionSpec) -> None:
        self.ctx, self.spec = ctx, spec
        self.rng = random.Random(ctx.seed)
        self.registry = inputs.make_registry(self.rng)
        self.payloads = self.registry.payloads()
        self.snapshot = os.path.join(ctx.work, "registry")
        self.sink_dir = os.path.join(ctx.work, "sink")
        self.frames = None
        self.snapshot_bytes = 0
        self.cli_ms_per_file: list[float] = []
        if not spec.refresh:  # fetch once, serve every batch from it
            self.frames = self._refresh(self.registry.mode)
        self._next_id = 1

    def _refresh(self, filetypes) -> tuple:
        """Snapshot the registry subgraph for ``filetypes`` through an
        in-process opener (no network) and load it as typed frames."""
        tr = self.ctx.tracer
        fts = sorted(ft for ft in filetypes if self.registry.mode[ft])
        with tr.span(FETCH):
            fetch_registry_snapshot(fts, self.snapshot, base_url=inputs.BASE_URL,
                                    opener=self.payloads.__getitem__)
        self.snapshot_bytes = _dir_bytes(self.snapshot)
        with tr.span(LOAD):
            return load_snapshot(self.ctx.spark, self.snapshot)

    def next_request(self) -> inputs.Batch:
        b = inputs.make_batch(self.rng, self.registry, self.spec.batch,
                              self.spec.mix, first_id=self._next_id)
        self._next_id += self.spec.batch
        return b

    def send(self, batch: inputs.Batch, rid: str):
        ctx, tr = self.ctx, self.ctx.tracer
        ctx.jobs.tag(rid)
        frames = self.frames
        if frames is None:
            frames = self._refresh({r[2] for r in batch.rows})
        files = ctx.spark.createDataFrame(  # Arrow path: one columnar handoff
            pd.DataFrame(batch.rows, columns=FILES_COLUMNS), FILES_SCHEMA)
        with tr.span(RESOLVE_BUILD):
            dispatched = ctx.engine.extract_batch(files, frames)
        with tr.span(EXECUTE_BUILD):
            todo = dispatched.select("file_id", "method", "setup", "rendered")
            runs = execute_dispatched(todo)
        if tr.enabled:
            # Materialise the layers one by one under a separate job
            # group, so the request's own group counts what an untraced
            # request runs.
            ctx.jobs.tag(rid + "/trace")
            with tr.span(RESOLVE_RUN):
                dispatched.write.format("noop").mode("overwrite").save()
            n_cli = batch.n_dispatched - batch.n_python
            for mode, n in (("python", batch.n_python), ("cli", n_cli)):
                if n:
                    with tr.span(EXECUTE_RUN[mode]):
                        execute_dispatched(todo.filter(F.col("method") == mode)) \
                            .write.format("noop").mode("overwrite").save()
                    if mode == "cli":
                        self.cli_ms_per_file.append(1000 * tr.spans[-1].seconds / n)
            ctx.jobs.tag(rid)
        if self.spec.sink == "parquet":
            with tr.span(SINK_PARQUET):
                runs.write.mode("overwrite").parquet(self.sink_dir)
            return None
        with tr.span(SINK_COLLECT):
            return runs.collect()

    def check(self, batch: inputs.Batch, out) -> Outcome:
        """Row count, method split and two value checksums against the
        closed-form expectation computed from the generated paths."""
        if out is None:
            t = pq.read_table(self.sink_dir, columns=["file_id", "method", "value"])
            fid = t.column("file_id").to_numpy()
            method = np.asarray(t.column("method").to_pylist())
            value = t.column("value").to_numpy()
            stats = {"sink_bytes": _dir_bytes(self.sink_dir)}
        else:
            fid = np.fromiter((r.file_id for r in out), np.int64, len(out))
            method = np.asarray([r.method for r in out])
            value = np.fromiter((r.value for r in out), np.float64, len(out))
            stats = {}
        v100 = np.rint(value * 100).astype(np.int64)
        n_files = len(np.unique(fid))
        ok = (
            len(v100) == batch.n_rows
            and n_files == batch.n_dispatched
            and int((method == "python").sum()) == batch.n_python * inputs.ROWS_PER_FILE
            and int(v100.sum()) == batch.sum100
            and int((v100 * fid).sum()) == batch.wsum100
        )
        stats.update(
            submitted=len(batch.rows),
            dispatched=n_files,
            rows=len(v100),
            n_cli=batch.n_dispatched - batch.n_python,
        )
        return Outcome(ok, batch.n_dispatched if ok else 0, stats)

    def warm_up(self) -> list[str]:
        """Untimed, checked requests of the workload's own shape; the
        first one's time is the cold-request cost."""
        notes = []
        for k in range(WARMUP_REQUESTS):
            t = time.perf_counter()
            b = self.next_request()
            if not self.check(b, self.send(b, f"warmup{k}")).ok:
                notes.append(f"warm-up request {k} failed its check")
            if k == 0:
                self.first_req_s = time.perf_counter() - t
        return notes


class QueryMix:
    """The registered operator queries in seed-shuffled rounds over
    seeded tables, each sent through ``Engine.query`` to a noop sink.
    Each query is checked once per run against its DuckDB oracle; the
    check doubles as the query's warm-up and its oracle time is left
    out of set-up time."""

    def __init__(self, ctx: Context, scale: float = 0.01) -> None:
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.sf_dir = os.path.join(ctx.work, "tables")
        inputs.write_tables(ctx.seed, self.sf_dir, scale)
        self.round_size = len(QUERY_METRICS)
        self.order: list[str] = []
        self.failed: set[str] = set()
        self.oracle_s = 0.0

    def next_request(self) -> str:
        if not self.order:
            self.order = list(QUERY_METRICS)
            self.rng.shuffle(self.order)
        return self.order.pop()

    def send(self, name: str, rid: str):
        self.ctx.jobs.tag(rid)
        with self.ctx.tracer.span(QUERY_METRICS[name]):
            self.ctx.engine.query(name, self.sf_dir) \
                .write.format("noop").mode("overwrite").save()

    def check(self, name: str, out) -> Outcome:
        ok = name not in self.failed
        return Outcome(ok, int(ok), {})

    def warm_up(self) -> list[str]:
        """Run every query once through ``tools.compare.compare_one``."""
        t = time.perf_counter()
        con = _TimedConn(duckdb_conn(self.sf_dir))
        notes = []
        for name in sorted(QUERY_METRICS, key=lambda _: self.rng.random()):
            self.ctx.jobs.tag(f"check/{name}")
            try:
                ok, msg = compare_one(self.ctx.spark, con, name, self.sf_dir)
            except Exception as e:  # a raising query fails its requests
                ok, msg = False, f"{type(e).__name__}: {e}"
            if not ok:
                self.failed.add(name)
                notes.append(f"{name}: {msg}")
        self.oracle_s = con.seconds
        self.first_req_s = time.perf_counter() - t - con.seconds
        return notes


class _TimedConn:
    """DuckDB connection wrapper that times the oracle side of
    ``compare_one`` so it can be left out of set-up time."""

    def __init__(self, con) -> None:
        self.con, self.seconds = con, 0.0

    def execute(self, sql: str):
        t = time.perf_counter()
        df = self.con.execute(sql).df()
        self.seconds += time.perf_counter() - t
        return SimpleNamespace(df=lambda: df)


EXTRACTION = {
    "bulk_python": ExtractionSpec(12_000, {"python": 1.0}, False, "parquet"),
    "cli_subprocess": ExtractionSpec(32, {"cli": 1.0}, False, "collect"),
    "interactive_mixed": ExtractionSpec(
        64, {"python": 7 / 8, "cli": 1 / 16, None: 1 / 16}, True, "collect"
    ),
}
WORKLOADS = (*EXTRACTION, "query_mix")


def make(name: str, ctx: Context):
    if name == "query_mix":
        return QueryMix(ctx)
    return Extraction(ctx, EXTRACTION[name])
