"""The workloads. One client drives each one in a closed loop:
it submits one command or query, waits for the result, then submits
the next.

A workload writes its inputs (``generate``), may prepare once after
the session starts (``prepare``), and then runs passes. ``run_pass``
returns one ``Op`` per operation; ``check`` turns an op's output into
a list of problems, outside the timed window.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import os
import shutil
import time

import numpy as np

import checks
import gen
import spans

# Input sizes. They set how long a pass takes; the run must fit its
# time budget with several passes, so they are small.
INDEX_FILES = 90           # index_raw: raw files (1/3 each PDF, DOCX, TXT)
CURATE_DOCS = 2000         # curate: rows of the documents table
QUERY_SCALE = 0.005        # query_mix: table scale (lineitem = 6M x scale rows)
EMBEDDING_DIM = 64         # the CLI's default --embedding-dim
KNN_K = 5                  # the CLI's default --k

# The 12 headline registry keys of the repo's query bench, fixed here
# so that the workload does not move when that list does.
HEADLINE = (
    "q_agg_basic", "q_join_inner", "q_join_broadcast", "q_win_rank",
    "q_topk", "q_join_asof", "flagship_chunk_topk", "q_chunk_sentence",
    "q_vec_cosine", "q_knn_brute", "q_dedup_ngram", "q_stream_session",
)


@dataclasses.dataclass
class Op:
    name: str
    seconds: float
    output: object = None
    error: str | None = None


def _cli(argv: list[str]) -> tuple[str, str]:
    """Run the package CLI in this process; return (stdout, stderr)."""
    from document_vector_indexer_spark import cli

    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        cli.main(argv)
    return out.getvalue(), err.getvalue()


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _cli_traced(argv: list[str], tracer) -> tuple[str, str]:
    """``cli index`` or ``cli curate``; traced, its layer calls get
    spans of their own."""
    if tracer is None:
        return _cli(argv)
    with spans.traced_layers(tracer, argv[0]):
        return _cli(argv)


def _timed(name: str, fn, tracer=None) -> Op:
    t = time.perf_counter()
    try:
        with _span(tracer, name):
            out = fn()
        return Op(name, time.perf_counter() - t, out)
    except Exception as e:  # a failed operation is counted, the loop goes on
        return Op(name, time.perf_counter() - t, error=f"{type(e).__name__}: {e}")


def _read_parquet_dir(path: str, columns: list[str] | None = None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()


class IndexRaw:
    """``cli index <dir> --output <dest>`` with default flags over raw
    PDF/DOCX/TXT files: extraction, chunking, ids, TF-IDF embedding and
    the chunk-table write. No dedup, search or registry query runs."""

    name = "index_raw"
    # The first pass runs ~3.5x slower than later ones (JIT, codegen,
    # Python workers). The second, still ~1.15x slower, is timed: a run
    # must stay short for three workloads to fit the comparison budget.
    warmup_passes = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.corpus = os.path.join(work, "corpus")

    def generate(self) -> None:
        self.truth = gen.write_raw_corpus(self.corpus, self.seed, INDEX_FILES)
        self.n_docs = INDEX_FILES
        self.input_bytes = self.truth["bytes"]

    def prepare(self, spark, tracer=None) -> None:
        pass

    def run_pass(self, k: int, tracer=None) -> list[Op]:
        dest = os.path.join(self.work, f"out{k}")
        op = _timed("cli.index", lambda: _cli_traced(["index", self.corpus, "--output", dest], tracer),
                    tracer)
        if op.error is None:
            op.output = (dest, op.output[1])
        return [op]

    def check(self, op: Op) -> list[str]:
        dest, stderr = op.output
        table = _read_parquet_dir(os.path.join(dest, "split_strategy=fixed"))
        shutil.rmtree(dest)
        return (checks.check_chunk_table(table, self.truth["expected"], EMBEDDING_DIM)
                + checks.check_error_rows(stderr, self.truth["corrupt"]))


class Curate:
    """``cli curate <docs.parquet> --output <dest>`` with default flags
    (Gopher quality rules, exact dedup keeping the lowest doc_id, hash
    split, parquet write partitioned by split) over a documents table
    with planted duplicates and low-quality docs. No extraction, no
    embedding. ``--dedup near`` is not run: it removes distinct docs
    (see BASELINE.md), so its output check fails."""

    name = "curate"
    # The second pass is still up to ~1.4x slower than later ones.
    warmup_passes = 2

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.input = os.path.join(work, "docs.parquet")

    def generate(self) -> None:
        self.truth = gen.write_docs_table(self.input, self.seed, CURATE_DOCS)
        self.n_docs = CURATE_DOCS
        self.input_bytes = self.truth["bytes"]

    def prepare(self, spark, tracer=None) -> None:
        pass

    def run_pass(self, k: int, tracer=None) -> list[Op]:
        dest = os.path.join(self.work, f"out{k}")
        op = _timed("cli.curate", lambda: _cli_traced(["curate", self.input, "--output", dest], tracer),
                    tracer)
        if op.error is None:
            op.output = dest
        return [op]

    def check(self, op: Op) -> list[str]:
        table = _read_parquet_dir(op.output, ["doc_id", "text", "split"])
        shutil.rmtree(op.output)
        return checks.check_curated(table, self.truth)


class QueryMix:
    """A fixed mix of short queries, one after another: the 12 headline
    registry keys over the engine's ingested layout, one ``cli query``
    kNN lookup and one ``cli query --hybrid`` over a chunk table that
    set-up builds with ``cli index``. The per-query floor (planning and
    scheduling) dominates, and the queries read the layout the write
    side produced."""

    name = "query_mix"
    warmup_passes = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.raw = os.path.join(work, "tables")
        self.layout = os.path.join(work, "layout")
        self.chunks = os.path.join(work, "chunks")
        self.oracle: dict[str, object] = {}
        self.knn_want: list | None = None

    def generate(self) -> None:
        self.texts = gen.write_tables(self.raw, self.seed, QUERY_SCALE)
        import pyarrow.parquet as pq

        self.n_docs = pq.read_metadata(os.path.join(self.raw, "documents.parquet")).num_rows

    def prepare(self, spark, tracer=None) -> None:
        from document_vector_indexer_spark import io as dio
        from document_vector_indexer_spark.queries.registry import all_queries

        self.spark = spark
        self.specs = {k: all_queries()[k] for k in HEADLINE}
        with _span(tracer, "io.ingest_layout"):
            dio.ingest_engine_layout(spark, self.raw, self.layout)
        with _span(tracer, "cli.index"):
            _cli_traced(["index", os.path.join(self.raw, "documents.parquet"), "--output",
                         self.chunks], tracer)
        self.mix = [(f"queries.{k}", self._headline(k)) for k in HEADLINE]
        self.mix += [("similarity.knn", self._query(self.texts[0], hybrid=False)),
                     ("search.hybrid", self._query(self.texts[1], hybrid=True))]

    def _headline(self, key: str):
        def run():
            df = self.specs[key].fn(self.spark, self.layout)
            return df.toPandas(), df  # the frame keeps its QueryExecution for the trace
        return run

    def _query(self, text: str, hybrid: bool):
        argv = ["query", "--chunks", self.chunks, "--text", text, "--k", str(KNN_K)]
        return lambda: _cli(argv + (["--hybrid"] if hybrid else []))[0]

    def run_pass(self, k: int, tracer=None) -> list[Op]:
        return [_timed(name, fn, tracer) for name, fn in self.mix]

    def check(self, op: Op) -> list[str]:
        if op.name == "search.hybrid":
            return checks.check_hybrid(op.output, KNN_K)
        if op.name == "similarity.knn":
            if self.knn_want is None:
                self.knn_want = self._knn_truth(self.texts[0])
            return checks.check_knn(op.output, self.knn_want)
        key = op.name.removeprefix("queries.")
        if key not in self.oracle:
            con = checks.tests_module("parity_util").duckdb_conn(self.raw)
            self.oracle[key] = con.execute(self.specs[key].oracle).fetchdf()
            con.close()
        return checks.check_frame(op.output[0], self.oracle[key])

    def _knn_truth(self, text: str) -> list[tuple[str, str, float]]:
        """NumPy brute-force top-k over the chunk table, with the query
        embedded by the saved model as the CLI does."""
        from pyspark.ml import PipelineModel
        from pyspark.ml.functions import vector_to_array
        from pyspark.sql import functions as F

        model = PipelineModel.load(os.path.join(self.chunks, "_idf_model"))
        q = model.transform(self.spark.createDataFrame([(text,)], "chunk_text string"))
        qv = np.array(q.select(vector_to_array(F.col("_emb")).cast("array<float>")).first()[0],
                      dtype=np.float32)
        t = _read_parquet_dir(os.path.join(self.chunks, "split_strategy=fixed"),
                              ["id", "embedding", "filename", "chunk_text"])
        emb = np.stack(t["embedding"].to_numpy()).astype(np.float32)
        top = checks.numpy_topk(emb, t["id"].to_numpy(), qv, KNN_K)
        by_id = t.set_index("id")
        return [(by_id.at[i, "filename"], by_id.at[i, "chunk_text"], s) for i, s in top]


WORKLOADS = {w.name: w for w in (IndexRaw, Curate, QueryMix)}
