"""RAG indexing + retrieval flagship: the end-to-end shape of a retrieval
corpus build over 100 TB of documents —

    chunk (sliding token windows, row-local explode)
      → embed (hashed BoW stand-in; swap for a mapInPandas model call)
      → retrieve (broadcast query batch, exact-int dot products, top-k)

Everything is one lazy DAG: the corpus is scanned once; the only shuffles
are the embed groupBy (chunk-keyed partial aggregates, output-sized) and
the k×|queries| candidate exchange. Chunk text rides to the output via a
final id-keyed join against the chunk relation, so embedding vectors never
carry payloads through the shuffle (the multimodal lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chunking import chunk_windows
from ..operators.embed import EMBED_DIMS, cosine_retrieve, hash_embed

RAG_WINDOW = 64
RAG_STRIDE = 64  # non-overlapping index chunks


def rag_retrieve(
    spark: SparkSession,
    docs: DataFrame,
    query_texts: list[str],
    k: int = 5,
    dims: int = EMBED_DIMS,
) -> DataFrame:
    """Top-k chunks per query string, with the chunk text re-attached."""
    chunks = chunk_windows(docs, window=RAG_WINDOW, stride=RAG_STRIDE)
    index = hash_embed(chunks, ["doc_id", "chunk_id"], text_col="chunk_text", dims=dims)
    qdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(query_texts)], "query_id int, text string"
    )
    qemb = hash_embed(qdf, ["query_id"], text_col="text", dims=dims)
    # hits is k×|queries| rows by construction. Materialize it ONCE
    # (localCheckpoint on a driver-bounded relation) so the expensive
    # chunk→embed→score subtree is not re-evaluated by the two consumers
    # below — and so the text re-attach can prune its corpus re-chunk to
    # only the hit documents instead of re-chunking everything (the
    # pre-round-3 plan chunked the full corpus twice: once to embed, once
    # to re-attach text).
    hits = cosine_retrieve(index, qemb, ["doc_id", "chunk_id"], k=k, dims=dims).localCheckpoint()
    hit_docs = hits.select("doc_id").distinct()
    hit_chunks = chunk_windows(
        docs.join(F.broadcast(hit_docs), "doc_id", "left_semi"),
        window=RAG_WINDOW,
        stride=RAG_STRIDE,
    )
    # broadcast hits so the re-attach is a map-side hash join against the
    # pruned chunk scan (without the hint Catalyst sees two unknown-size
    # relations and sort-merges)
    return F.broadcast(hits).join(
        hit_chunks.select("doc_id", "chunk_id", "chunk_text"), ["doc_id", "chunk_id"]
    ).select("query_id", "rank", "doc_id", "chunk_id", "score", "chunk_text")
