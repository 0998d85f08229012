"""Spans around calls into the package's layers, with the Spark work
each span started.

A span has a name, start, end, parent and run id. While it is open
its Spark job group is set on the calling thread; when it closes, the
status store is read for that group's jobs (jobs, stages, tasks,
executor run/CPU/GC time, shuffle write, spill, input bytes). Spans
are kept in memory and written out once, by ``Tracer.dump``.

``traced_layers`` replaces the package's public layer functions with
wrappers that open a span and materialize the layer's output at the
boundary (persist + count), so each span holds its own layer's work
and later layers read the cached result. Spark is lazy: without this
a layer's work would run inside whichever later call forces it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from unittest import mock

_STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("input_bytes", "inputBytes", 1),
)


class Span:
    def __init__(self, tracer: "Tracer", name: str, parent: "Span | None"):
        self.tracer, self.name, self.parent = tracer, name, parent
        self.id = len(tracer.spans)
        self.group = f"{tracer.run_id}-span-{self.id}"
        self.start = self.end = self.read_s = 0.0
        self.counts: dict[str, float] = {}

    def job_ids(self) -> list[int]:
        return sorted(self.tracer.sc.statusTracker().getJobIdsForGroup(self.group))

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def self_seconds(self) -> float:
        """Duration minus the children's, and minus the time spent
        reading the status store when each child closed."""
        kids = [s for s in self.tracer.spans if s.parent is self]
        return self.seconds - sum(k.seconds + k.read_s for k in kids)

    def record(self) -> dict:
        return {
            "id": self.id, "name": self.name, "run_id": self.tracer.run_id,
            "parent": None if self.parent is None else self.parent.id,
            "start": self.start, "end": self.end, "seconds": self.seconds,
            "self_seconds": self.self_seconds(), "counts": self.counts,
        }


class Tracer:
    """Span recorder for one process; ``run_id`` tags every span."""

    def __init__(self, spark, run_id: str):
        self.sc, self.run_id = spark.sparkContext, run_id
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.cached: list = []
        self.notes: dict = {}  # layer counts recorded by the wrappers

    @contextlib.contextmanager
    def span(self, name: str):
        sp = Span(self, name, self.stack[-1] if self.stack else None)
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp.counts.update(spark_counts(self.sc, sp.job_ids()))
            sp.read_s = time.perf_counter() - sp.end

    def materialize(self, df):
        """Persist ``df`` and count it; the cache lives until ``release``."""
        df = df.persist()
        self.cached.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [s.record() for s in self.spans], **extra}, f, indent=1)


def spark_counts(sc, job_ids: list[int], graph_match: str | None = None) -> dict:
    """Jobs, stages, tasks and stage metrics summed over ``job_ids``.

    With ``graph_match``, only stages whose RDD operation graph has a
    node or cluster label containing that string are summed (used to
    pick out the binaryFile scan stages)."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "spill_bytes": 0}
    out.update({k: 0 for k, _, _ in _STAGE_FIELDS})
    seen: set[int] = set()
    graph_cls = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info is not None else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            if graph_match is not None:
                dot = graph_cls.makeDotFile(store.operationGraphForStage(sid))
                if graph_match not in dot:
                    continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            for key, getter, scale in _STAGE_FIELDS:
                out[key] += getattr(st, getter)() * scale
    return out


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own
    QueryExecution, which an action on ``df`` has forced."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            ph = phases.apply(name)
            total += ph.endTimeMs() - ph.startTimeMs()
    return total / 1000.0


@contextlib.contextmanager
def traced_layers(tr: Tracer, command: str):
    """Context in which the layer functions that the CLI's ``command``
    (``index`` or ``curate``) calls are wrapped in spans. The CLI
    imports them from their modules at call time, so replacing the
    module attributes is enough. Counts land in ``tr.notes``."""
    wrappers = {"index": _index_wrappers, "curate": _curate_wrappers}[command]
    with contextlib.ExitStack() as stack:
        for obj, attr, value in wrappers(tr):
            stack.enter_context(mock.patch.object(obj, attr, value))
        yield


def _index_wrappers(tr: Tracer) -> list[tuple[object, str, object]]:
    from pyspark.sql import functions as F

    from document_vector_indexer_spark.operators import chunking, embedding, ranking
    from document_vector_indexer_spark.plans import pipeline
    from document_vector_indexer_spark.sources import binary_docs

    orig = {
        "read_documents": binary_docs.read_documents,
        "chunk_documents": chunking.chunk_documents,
        "global_id": ranking.global_id,
        "fit_local_embedder": embedding.fit_local_embedder,
        "embed_with_model": embedding.embed_with_model,
        "write_chunk_table": pipeline.write_chunk_table,
    }
    notes = tr.notes

    def read_documents(spark, path, *a, **kw):
        with tr.span("sources"):
            out, n = tr.materialize(orig["read_documents"](spark, path, *a, **kw))
        notes["sources.files"] = n
        notes["sources.error_rows"] = out.filter(~F.col("ok")).count()
        return out

    def chunk_documents(df, *a, **kw):
        with tr.span("chunking"):
            out, n = tr.materialize(orig["chunk_documents"](df, *a, **kw))
        notes["chunking.chunks"] = n
        return out

    def global_id(df, *a, **kw):
        with tr.span("ranking.global_id") as sp:
            out = orig["global_id"](df, *a, **kw)
            notes["ranking.global_id_jobs"] = len(sp.job_ids())
            out, _ = tr.materialize(out)
        return out

    def fit_local_embedder(df, *a, **kw):
        with tr.span("embedding.fit"):
            return orig["fit_local_embedder"](df, *a, **kw)

    def embed_with_model(model, df, *a, **kw):
        with tr.span("embedding.transform"):
            out, _ = tr.materialize(orig["embed_with_model"](model, df, *a, **kw))
        return out

    def write_chunk_table(chunks, path, *a, **kw):
        with tr.span("pipeline.write"):
            orig["write_chunk_table"](chunks, path, *a, **kw)
        files = [os.path.join(d, f) for d, _, fs in os.walk(path)
                 if "split_strategy=" in d for f in fs if f.startswith("part-")]
        notes["pipeline.files_written"] = len(files)
        notes["pipeline.bytes_written"] = sum(os.path.getsize(f) for f in files)

    return [
        (binary_docs, "read_documents", read_documents),
        (chunking, "chunk_documents", chunk_documents),
        (ranking, "global_id", global_id),
        (embedding, "fit_local_embedder", fit_local_embedder),
        (embedding, "embed_with_model", embed_with_model),
        (pipeline, "write_chunk_table", write_chunk_table),
    ]


def _curate_wrappers(tr: Tracer) -> list[tuple[object, str, object]]:
    """``cli curate`` calls ``gopher_rules`` (a column expression, no
    work of its own), ``exact_dedup_keep_first``, ``hash_split`` (a
    column, no shuffle) and a parquet write. So the Gopher-filtered
    docs are materialized at the dedup boundary (their span includes
    the parquet scan), and the split is timed with the write that
    computes it."""
    from pyspark.sql.readwriter import DataFrameWriter

    from document_vector_indexer_spark.operators import dedup

    orig_dedup = dedup.exact_dedup_keep_first
    orig_write = DataFrameWriter.parquet
    notes = tr.notes

    def exact_dedup_keep_first(df, *a, **kw):
        with tr.span("textanalysis.gopher"):
            df, kept = tr.materialize(df)
        with tr.span("dedup.exact"):
            out, n = tr.materialize(orig_dedup(df, *a, **kw))
        notes["textanalysis.kept"] = kept
        notes["dedup.exact_removed"] = kept - n
        return out

    def parquet(self, path, *a, **kw):
        with tr.span("trainprep.split_write"):
            return orig_write(self, path, *a, **kw)

    return [
        (dedup, "exact_dedup_keep_first", exact_dedup_keep_first),
        (DataFrameWriter, "parquet", parquet),
    ]
