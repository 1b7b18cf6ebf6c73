"""The benchmark's workloads and the operations each one runs.

An operation calls only the program's public entry points: registry
query functions, ``pipeline.curate.curate_corpus``, ``operators.*`` and
the ``streaming.scoring`` sinks. Each operation can

- ``run`` once, timed, forcing every output column with
  ``write.format("noop")`` (``count()`` would let Catalyst prune
  columns);
- ``check`` once, untimed, against an independent answer: the DuckDB
  oracle of a registry query, or batch ``exact_dedup`` for the stream.

With tracing on, ``run`` records a span around the query-function call, the
action, each flagship operator call, the curate recipe call and each
micro-batch. The operator and recipe spans come from wrapping those
functions on their modules while the registry's own query function runs.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass

from perfbench import inputs

DOC_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def dir_size(path: str) -> tuple[int, int]:
    """Number of files under ``path`` and their total size in bytes."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# the canonical form of scripts/check_oracle.py, copied so that the
# benchmark keeps working whatever later changes do to scripts/
def _norm(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def canon(rows, cols) -> list[str]:
    """Order-free canonical form of a result: columns sorted by name,
    floats to 9 significant digits, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def spark_canon(df) -> list[str]:
    cols = df.columns
    return canon([[r[c] for c in cols] for r in df.collect()], cols)


@dataclass
class Ctx:
    """What an operation needs: the session, the input directory, the
    DuckDB connection holding the same tables, the tracer and a working
    directory for anything the operation writes."""

    spark: object
    data_dir: str
    duck: object
    tracer: object
    work_dir: str
    streams: int = 0


# the flagship's five operator calls and the curate recipe; the registry
# bodies call each through its module, so the traced passes run the
# same code as the timed ones
TRACED_CALLS = (
    "datas_spark.operators.clustering.embedding_proxy",
    "datas_spark.operators.clustering.kmeans_lloyd",
    "datas_spark.operators.scoring.perplexity_scorer_proxy",
    "datas_spark.operators.selection.middle_confidence_sample",
    "datas_spark.operators.selection.gather_rows",
    "datas_spark.pipeline.curate.curate_corpus",
)


class RegistryQuery:
    def __init__(self, name: str):
        self.name = name

    def build(self, ctx: Ctx, traced: bool):
        from datas_spark.registry import QUERIES

        if not traced:
            return QUERIES[self.name](ctx.spark, ctx.data_dir)
        with ctx.tracer.span(f"registry.build/{self.name}", group=True), \
                ctx.tracer.calls(TRACED_CALLS):
            return QUERIES[self.name](ctx.spark, ctx.data_dir)

    def run(self, ctx: Ctx, traced: bool) -> None:
        if traced:
            with ctx.tracer.span(f"op/{self.name}"):
                df = self.build(ctx, traced)
                with ctx.tracer.span(f"registry.action/{self.name}", group=True):
                    noop(df)
        else:
            noop(self.build(ctx, traced))

    def oracle(self, ctx: Ctx) -> list[str]:
        from datas_spark.registry import ORACLES

        res = ctx.duck.execute(ORACLES[self.name])
        return canon(res.fetchall(), [d[0] for d in res.description])

    def check(self, ctx: Ctx, traced: bool) -> tuple[str | None, float]:
        """Run once, collecting the output, and compare it with the
        oracle. Returns what differed (``None`` when nothing did) and the
        seconds the program took, the oracle's time left out."""
        t0 = time.perf_counter()
        got = spark_canon(self.build(ctx, traced))
        spent = time.perf_counter() - t0
        want = self.oracle(ctx)
        if got == want:
            return None, spent
        return f"{self.name}: {len(got)} rows vs oracle {len(want)}", spent


class IngestStream:
    """The corpus as JSON-lines micro-batch files, fed one file per
    trigger (availableNow) through ``incremental_dedup_sink`` into a
    fresh durable store per pass."""

    name = "incremental_dedup_sink"

    def __init__(self):
        self.last_store = None
        self.last_progress: list[dict] = []

    def _stream_once(self, ctx: Ctx, traced: bool) -> str:
        from datas_spark.streaming.scoring import incremental_dedup_sink

        ctx.streams += 1
        root = os.path.join(ctx.work_dir, f"stream-{ctx.streams}")
        shutil.rmtree(root, ignore_errors=True)
        state = os.path.join(root, "state")
        stream = (
            ctx.spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(os.path.join(ctx.data_dir, "stream"))
        )
        with ctx.tracer.span("streaming.query") as span:
            q = incremental_dedup_sink(
                stream, state, "text", "doc_id", os.path.join(root, "checkpoint")
            )
            if traced:
                span["groups"].append(str(q.runId))
            q.awaitTermination()
        self.last_progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if traced:
            span["store_files"], span["store_bytes"] = dir_size(state)
            for p in self.last_progress:
                ctx.tracer.add_child(span, "streaming.batch", p)
        if self.last_store is not None:
            shutil.rmtree(os.path.dirname(self.last_store), ignore_errors=True)
        self.last_store = state
        return state

    def run(self, ctx: Ctx, traced: bool) -> None:
        self._stream_once(ctx, traced)

    def check(self, ctx: Ctx, traced: bool) -> tuple[str | None, float]:
        """Stream once and compare the store's survivors with batch
        ``exact_dedup`` over the whole corpus (batches hold ascending id
        ranges, so "earlier batch wins" is "lowest id wins")."""
        from datas_spark.io.sources import read_table
        from datas_spark.operators.dedup import exact_dedup

        t0 = time.perf_counter()
        state = self._stream_once(ctx, traced)
        spent = time.perf_counter() - t0
        cols = ["doc_id", "text", "lang", "source", "n_chars"]
        got = spark_canon(ctx.spark.read.parquet(state + "/rows").select(*cols))
        want = spark_canon(
            exact_dedup(read_table(ctx.spark, ctx.data_dir, "documents"), "text", "doc_id")
        )
        if got == want:
            return None, spent
        return f"stream survivors {len(got)} rows vs batch exact_dedup {len(want)}", spent


@dataclass
class Workload:
    name: str
    why: str
    n_docs: int
    make_ops: object
    # timed passes a run makes at least; the JVM is still compiling over
    # the first passes after the check, so a run that made more passes
    # on a faster host would read faster for that alone
    passes: int
    stream_batches: int = 0

    def prepare(self, data_dir: str, seed: int) -> dict:
        """Write this workload's inputs for ``seed``."""
        info = {"documents": inputs.write_documents(data_dir, seed, self.n_docs)}
        if self.stream_batches:
            info["stream"] = inputs.write_stream_batches(
                os.path.join(data_dir, "documents.parquet"),
                os.path.join(data_dir, "stream"),
                self.stream_batches,
            )
        return info


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "select_flagship",
            "datas_full_pipeline (embed, Lloyd loop, score, band, sample, gather)"
            " and multi_scorer_wide's pandas_udf scorers; writes nothing",
            # the smallest size measured at which a pass grows with the
            # corpus (see README.md)
            n_docs=8000, passes=8,
            make_ops=lambda: [
                RegistryQuery("datas_full_pipeline"),
                RegistryQuery("multi_scorer_wide"),
            ],
        ),
        Workload(
            "curate_ingest",
            "curate_corpus_full, then the same corpus as micro-batches through"
            " incremental_dedup_sink: shuffles, CC loop, dedup, store writes",
            # per-job overhead bound at this size; a size at which the
            # recipe grows costs 20 s more per run in its oracle (README.md)
            n_docs=500, passes=3, stream_batches=4,
            make_ops=lambda: [RegistryQuery("curate_corpus_full"), IngestStream()],
        ),
    )
}
