"""Persisted inverted text index — serving-grade BM25 without rescanning
the corpus.

The third standing-index artifact next to the LSH dedup index
(functions/dedup.py:build_lsh_index) and the IVF ANN index: built once
per corpus build, probed by every retrieval query afterwards. At 100 TB
the difference is a full corpus tokenize-and-scan per query versus
reading a handful of term-bucket files.

Layout under ``path`` (same MetaFS metadata / Spark data split as
ManifestTable, so the index lives on ``s3://``/``hdfs://`` unchanged):

- ``postings/bucket=<crc32(term) % 64>/``: (term, doc_id, tf, dlen) —
  hive-partitioned by a term-hash bucket so a query's terms prune to
  their buckets; ``dlen`` is DENORMALIZED into the posting row (classic
  search-index trick) so serving needs no corpus-sized doc-length join.
- ``_text_index.json``: corpus stats as exact integers (n_docs,
  total_tokens) — avgdl is derived at serve time by the same IEEE
  division every engine performs identically, keeping index-served
  scores bit-identical to the direct corpus computation
  (functions/retrieval.py:bm25_scores) and its DuckDB oracle.

Incremental growth: ``extend_text_index`` appends a batch's postings as
new fragments in the same bucket layout and bumps the integer corpus
stats; probes see the union. Versioned-dir maintenance — compaction into
fresh dirs, pointer repoint, vacuum, staleness counters — is the shared
:class:`~pipelinewise_spark.functions.indexlife.IndexLifecycle` contract
(one implementation across the LSH / IVF / PQ / text index families);
this module keeps only the postings kernel.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipelinewise_spark.functions.retrieval import B, K1
from pipelinewise_spark.functions.text import tokens
from pipelinewise_spark.functions.indexlife import IndexLifecycle
from pipelinewise_spark.partitioning import local_frame, spread
from pipelinewise_spark.session import scoped_conf

N_BUCKETS = 64
_META = "_text_index.json"


def _postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    d = spread(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    d = d.withColumn("__dl", F.size("__toks").cast("double"))
    return (
        d.select(id_col, "__dl", F.explode("__toks").alias("term"))
        .groupBy(id_col, "__dl", "term")
        .agg(F.count("*").cast("double").alias("tf"))
        .select(
            "term",
            F.col(id_col).alias("doc_id"),
            "tf",
            F.col("__dl").alias("dlen"),
            F.pmod(
                F.crc32(F.encode(F.col("term"), "utf-8")), F.lit(N_BUCKETS)
            ).cast("string").alias("bucket"),
        )
    )


def _doc_stats(df: DataFrame, text_col: str) -> tuple[int, int]:
    row = df.select(tokens(F.col(text_col)).alias("__t")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("__t")).alias("tok"),
    ).first()
    return int(row["n"]), int(row["tok"] or 0)


def _life(path: str) -> IndexLifecycle:
    return IndexLifecycle.load(path, _META, ("postings",))


def _write_postings(p: DataFrame, uri: str, mode: str) -> None:
    (
        p.repartition(F.col("bucket"))
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(uri)
    )


def build_text_index(
    corpus: DataFrame, path: str, id_col: str, text_col: str
) -> None:
    n_docs, total_tokens = _doc_stats(corpus, text_col)
    life = IndexLifecycle.create(
        path, _META, ("postings",),
        {
            "id_col": id_col, "text_col": text_col,
            "n_buckets": N_BUCKETS,
            "n_docs": n_docs, "total_tokens": total_tokens,
        },
    )
    _write_postings(
        _postings(corpus, id_col, text_col), life.uri("postings"),
        "overwrite",
    )
    life.save()


def extend_text_index(batch: DataFrame, path: str) -> None:
    """Admit an ingest batch: append its postings fragments and bump the
    exact corpus stats (batch-sized work only)."""
    life = _life(path)
    meta = life.meta
    p = _postings(batch, meta["id_col"], meta["text_col"])
    _write_postings(p, life.uri("postings"), "append")
    n, tok = _doc_stats(batch, meta["text_col"])
    meta["n_docs"] += n
    meta["total_tokens"] += tok
    life.record_extension()


def compact_text_index(spark: SparkSession, path: str) -> dict:
    """Consolidate postings fragments (shared IndexLifecycle.compact):
    every ``extend`` appends one file per bucket, so a long-running
    ingest daemon accumulates fragments that tax probe-time listing and
    open costs. The rewrite keeps the bucket partitioning (re-clustered);
    search results are unchanged by construction. Returns the updated
    meta."""
    return _life(path).compact({
        "postings": lambda cur, new: _write_postings(
            spark.read.parquet(cur), new, "overwrite"
        ),
    })


def vacuum_text_index(path: str) -> list[str]:
    """Delete postings dirs no longer referenced by the meta pointer."""
    return _life(path).vacuum()


def text_index_status(path: str) -> dict:
    """Staleness/maintenance surface (metadata-only — no data read):
    corpus stats plus the shared lifecycle counters; ``fragment_files``
    counts live postings files (each extend adds ~1 per touched
    bucket — the signal a maintenance loop thresholds on to schedule
    :func:`compact_text_index`)."""
    life = _life(path)
    out = life.status(fragment_role="postings")
    out["n_docs"] = life.meta["n_docs"]
    out["total_tokens"] = life.meta["total_tokens"]
    return out


def search_text_index(
    spark: SparkSession,
    path: str,
    query_terms: list[str],
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """(doc_id, score) BM25 over the index — reads ONLY the query terms'
    buckets (hive partition dirs), never the corpus. Scores match
    ``bm25_scores`` on the same corpus exactly (6-dp rounded)."""
    life = _life(path)
    mfs, meta = life.mfs, life.meta
    n_docs = float(meta["n_docs"])
    avgdl = meta["total_tokens"] / meta["n_docs"]
    pdir = meta["postings_dir"]
    buckets = sorted(
        {zlib.crc32(t.encode("utf-8")) % meta["n_buckets"] for t in query_terms}
    )
    dirs = [
        mfs.uri(pdir, f"bucket={bk}")
        for bk in buckets
        if mfs.exists(pdir, f"bucket={bk}")
    ]
    if not dirs:
        return local_frame(spark, [], "doc_id long, score double")
    with scoped_conf(spark, mfs.known_paths_conf(spark, len(dirs))):
        post = spark.read.parquet(*dirs)
    post = post.filter(F.col("term").isin(query_terms))
    dfreq = post.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    return (
        post.join(F.broadcast(dfreq), "term")
        .withColumn(
            "__s",
            idf
            * (F.col("tf") * (k1 + 1.0))
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dlen") / avgdl)),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("__s"), 6).alias("score"))
    )
