"""The reference's whole program (/root/reference/index_documents.py:253-308
``main()``) as ONE declarative DataFrame chain:

    read -> clean (R3) -> chunk (R4/R6/R7 via R8) -> embed (R9) ->
    chunk table with (id, chunk_text, embedding, filename,
    split_strategy, created_at) -> sink (R10-R12)

Differences from the reference, by design:
- Parallel by partition instead of a sequential batch loop; embedding
  batches form per Arrow batch inside mapInPandas (same 32-text
  batching, reference index_documents.py:261,291-306).
- Idempotent-by-overwrite sink: the reference duplicates rows on
  re-run (no global txn, SURVEY.md §3.1); we overwrite per
  (filename, split_strategy) partition via dynamic partition
  overwrite, so a re-run converges instead of duplicating.
- `id` is a deterministic dense rank over (filename, strategy,
  chunk_pos) via ``operators.ranking.global_id`` — the two-pass
  sample-boundaries form, never a single-task empty-partitionBy
  window (the reference's SERIAL, index_documents.py:217). Assigned on
  the CHUNK frame, before embedding, so the boundary-sampling job
  never executes the mapInPandas embedder. At 100 TB scale prefer the
  composite natural key and skip the global id; the flag keeps both
  contracts available.
- `created_at` is stamped once per run (the reference stamps per
  insert-batch, index_documents.py:235) — excluded from any oracle
  output (wall clock).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_vector_indexer_spark.functions import text as TX
from document_vector_indexer_spark.operators.chunking import chunk_documents
from document_vector_indexer_spark.operators.embedding import (
    DEFAULT_DIM,
    embed_api_map_in_pandas,
    embed_with_model,
    fit_local_embedder,
)


def index_documents(
    docs: DataFrame,
    strategy: str = "fixed",
    chunk_size: int = 1200,
    overlap: int = 200,
    embedding_dim: int = DEFAULT_DIM,
    embedder: str = "local",
    text_col: str = "text",
    filename_col: str | None = None,
    with_global_id: bool = True,
) -> DataFrame:
    """documents -> embedded chunk table (the `document_chunks` schema,
    index_documents.py:214-223, minus autoincrement semantics)."""
    if filename_col is None:
        docs = docs.withColumn("filename", F.concat(F.lit("doc_"), F.col("doc_id")))
        filename_col = "filename"
    cleaned = docs.withColumn(text_col, TX.clean_text(text_col))
    chunks = chunk_documents(
        cleaned,
        strategy=strategy,
        chunk_size=chunk_size,
        overlap=overlap,
        text_col=text_col,
        id_cols=(filename_col,),
    )
    if embedder not in ("local", "api"):
        raise ValueError(f"unknown embedder: {embedder}")
    # The IDF fit reads no id, so it runs on the pre-id chunks: its
    # treeAggregate then never pays for global_id's sample and shuffle.
    model = (
        fit_local_embedder(chunks, text_col="chunk_text", dim=embedding_dim)
        if embedder == "local"
        else None
    )
    if with_global_id:
        from document_vector_indexer_spark.operators.ranking import global_id

        chunks = global_id(
            chunks, [filename_col, "split_strategy", "chunk_pos"], "id"
        ).withColumn("id", F.col("id").cast("long"))
    if model is not None:
        embedded = embed_with_model(model, chunks)
    else:
        embedded = embed_api_map_in_pandas(chunks, dim=embedding_dim)

    out = embedded.withColumn("created_at", F.current_timestamp())
    return out.select(
        *(["id"] if with_global_id else []),
        F.col("chunk_text"),
        F.col("embedding"),
        F.col(filename_col).alias("filename"),
        F.col("split_strategy"),
        F.col("chunk_pos"),
        F.col("created_at"),
    )


def incremental_index(
    docs: DataFrame,
    existing_chunks_path: str,
    strategy: str = "fixed",
    chunk_size: int = 1200,
    overlap: int = 200,
    embedding_dim: int = DEFAULT_DIM,
    embedder: str = "local",
    filename_col: str = "filename",
) -> DataFrame:
    """Index only documents not yet present in the chunk table (anti
    join on filename) — the converge-don't-recompute path for periodic
    re-runs over a growing corpus. At 100 TB the anti join is a
    broadcast of the existing filename set when small, or a shuffle
    join pruned to one column otherwise; either way no text is
    re-chunked or re-embedded.

    Returns the NEW chunks only (append them with write_chunk_table —
    partition overwrite keeps per-strategy idempotence).
    """
    spark = docs.sparkSession
    import os

    if os.path.exists(existing_chunks_path):
        seen = spark.read.parquet(existing_chunks_path).select(filename_col).distinct()
        docs = docs.join(seen, filename_col, "left_anti")
    if docs.isEmpty():
        # nothing new — IDF/Word2Vec cannot fit on an empty corpus
        from pyspark.sql import types as T

        empty_schema = T.StructType(
            [
                T.StructField("chunk_text", T.StringType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("filename", T.StringType()),
                T.StructField("split_strategy", T.StringType()),
                T.StructField("chunk_pos", T.IntegerType()),
                T.StructField("created_at", T.TimestampType()),
            ]
        )
        return spark.createDataFrame([], empty_schema)
    return index_documents(
        docs,
        strategy=strategy,
        chunk_size=chunk_size,
        overlap=overlap,
        embedding_dim=embedding_dim,
        embedder=embedder,
        filename_col=filename_col,
        with_global_id=False,
    )


def write_chunk_table(chunks: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Idempotent parquet sink: dynamic overwrite of only the
    (split_strategy) partitions present in this run — re-running a
    strategy replaces its rows instead of appending duplicates.
    Use mode="append" for incremental_index output (new documents
    only; the anti join already guarantees no duplicates)."""
    spark = chunks.sparkSession
    # scope the dynamic-overwrite conf to this write: permanently
    # flipping a session-wide mode would silently change the semantics
    # of every later overwrite in the same session (round-2 ADVICE)
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    try:
        prev = spark.conf.get(conf_key)
    except Exception:  # unset in fresh sessions
        prev = None
    spark.conf.set(conf_key, "dynamic")
    try:
        (
            chunks.write.mode(mode)
            .partitionBy("split_strategy")
            .parquet(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
