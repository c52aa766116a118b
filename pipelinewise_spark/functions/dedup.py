"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- exact dedup: one hash-groupBy on the canonical key (single shuffle).
- MinHash+LSH: shingle → k minhash signatures (one shuffle to aggregate) →
  band keys → candidate pairs via band-bucket self-join (shuffle on band key;
  NO O(n²) cross join) → exact Jaccard verify on candidates only.
- SimHash: per-token 32-bit hashes aggregated into a per-doc signature with
  bit-majority vote — one explode + one groupBy; near-dup lookup then joins
  on rotated signature bands (classic Charikar; bands not materialized here).
- n-gram Jaccard: quadratic only *within* a blocking key (here: lang) —
  the blocked self-join is the scale-path contract; skewed blocks get salted
  upstream.

Hashing is md5-hex everywhere (portable: identical in Spark and DuckDB, so
every operator has an exact SQL oracle). minhash = lexicographic MIN of the
seeded md5 hex — a uniform order statistic, equivalent to numeric minhash.
"""

from __future__ import annotations

import contextlib
import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipelinewise_spark.caching import register_cache, unregister_cache
from pipelinewise_spark.functions.text import fingerprint, tokens
from pipelinewise_spark.partitioning import spread

NUM_HASHES = 16
NUM_BANDS = 8  # rows per band = NUM_HASHES / NUM_BANDS = 2
SIMHASH_BITS = 32


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group by canonical fingerprint; keep lowest id as survivor."""
    return (
        spread(df).withColumn("__fp", fingerprint(F.col(text_col)))
        .groupBy(F.col("__fp").alias("fingerprint"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingles) — distinct word-n-gram sets, narrow projection.

    Tokenization is materialized as its own column first: inlining the
    split() into every element_at of the shingle lambda makes Catalyst
    re-evaluate it per access (~n·|shingles| splits per row).
    """
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    shingles = F.when(F.size(toks) >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )
    return (
        spread(df)
        .withColumn("__toks", tokens(F.col(text_col)))
        # filter on the cheap precondition (shingles nonempty ⟺ ≥n tokens):
        # filtering on size(shingles) would re-evaluate the whole shingle
        # expression in the pushed-down predicate
        .filter(F.size(toks) >= n)
        .select(F.col(id_col), shingles.alias("shingles"))
    )


MINHASH_SEEDS = 4
MINHASH_CHUNKS = 4  # NUM_HASHES = MINHASH_SEEDS * MINHASH_CHUNKS


def minhash_signatures(
    sh: DataFrame, id_col: str, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """(id, h0..h{k-1}) from a shingle-set frame — one explode + one
    groupBy-shuffle; signatures only, no arrays carried.

    k hash functions come from k/4 md5 calls: each seeded md5 is split into
    four 8-hex chunks, each an independent uniform order statistic
    (h_{4s+c} = chunk c of md5("s:" ++ shingle)). The md5s are materialized
    as columns before the aggregate so each is computed once per row, not
    once per chunk."""
    assert num_hashes == MINHASH_SEEDS * MINHASH_CHUNKS
    ex = sh.select(id_col, F.explode("shingles").alias("shingle")).select(
        id_col,
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle"))).alias(f"m{s}")
            for s in range(MINHASH_SEEDS)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"m{s}"), 1 + 8 * c, 8)).alias(f"h{4 * s + c}")
        for s in range(MINHASH_SEEDS)
        for c in range(MINHASH_CHUNKS)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two pre-distinct arrays, as double."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def bounded_bucket_candidates(
    bands: DataFrame,
    id_col: str,
    max_pairs_per_bucket: int,
    bucket_col: str = "band_key",
) -> DataFrame:
    """Candidate pairs with a per-bucket EMISSION GUARD — the dedup-side
    twin of record linkage's dense-block cap (functions/linkage.py:
    link_records ``max_block_pairs``), except dense buckets here must
    NOT be skipped: in dedup the dense bucket IS the signal (a pile of
    replicas), so it degrades to a SPANNING PATH instead of a quadratic
    emission.

    Buckets whose full pair set fits the cap (n·(n−1)/2 ≤ cap) emit all
    C(n,2) pairs, exactly as the unguarded join would. Larger buckets
    emit the n−1 CONSECUTIVE-id pairs of their id-sorted member list —
    a spanning path: linear in bucket size, and every member stays
    reachable from every other, so connected components over the
    guarded pairs equal the unguarded components wherever consecutive
    members verify (exact replicas always do — identical shingle sets
    give Jaccard 1.0 on every consecutive pair). That is the contract:
    cluster-driving fidelity (dedup_clusters / resolve_duplicates /
    cluster_aware_split are component-consumers) at O(n) emission — on
    a degenerate replica corpus the unguarded pair set is
    output-quadratic BY CONSTRUCTION and no plan shape can fix an
    answer that big (SCALE.md r10 had to omit the R=100 measurement for
    exactly this reason).

    Cost shape: ONE hash exchange on the bucket key carrying narrow
    (id, bucket) rows; both the per-bucket count and the lead() ride
    that single partitioning (two Window nodes, one exchange), and the
    sparse branch's self-join reuses it. Returns (id_a, id_b) with
    id_a < id_b, deduped across buckets.
    """
    from pyspark.sql import Window

    wc = Window.partitionBy(bucket_col)
    wo = Window.partitionBy(bucket_col).orderBy(F.col(id_col))
    # integer form of n(n-1)/2 > cap — no division, no float
    dense = F.col("__bn") * (F.col("__bn") - 1) > 2 * int(
        max_pairs_per_bucket
    )
    tagged = bands.select(F.col(id_col), F.col(bucket_col)).withColumn(
        "__bn", F.count(F.lit(1)).over(wc)
    )
    sparse = tagged.filter(~dense).select(id_col, bucket_col)
    a, b = sparse.alias("a"), sparse.alias("b")
    full = a.join(
        b,
        (F.col(f"a.{bucket_col}") == F.col(f"b.{bucket_col}"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )
    spanning = (
        tagged.filter(dense)
        .withColumn("__nxt", F.lead(id_col).over(wo))
        .filter(F.col("__nxt").isNotNull())
        .select(
            F.col(id_col).alias("id_a"), F.col("__nxt").alias("id_b")
        )
    )
    return full.unionByName(spanning).dropDuplicates(["id_a", "id_b"])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    max_pairs_per_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    Banding: band key b = md5('b|' ++ concat of its rows' minhashes); docs
    sharing any band key become candidates; candidates verified with exact
    Jaccard on their shingle sets. Never materializes the cross product.

    ``max_pairs_per_bucket`` is the production emission guard for
    duplicate-dense corpora: band buckets whose full pair set exceeds
    the cap degrade to a spanning path over their id-sorted members
    (see :func:`bounded_bucket_candidates`) — per-bucket output drops
    from C(n,2) to n−1 while connected components over the verified
    pairs stay intact for replica runs, which is what the cluster
    consumers (dedup_clusters / resolve_duplicates) need. ``None``
    keeps the exact full pair set.
    """
    rows_per_band = num_hashes // num_bands
    # sh feeds three plan branches (signatures + both verify joins): persist
    # so scan+shingling runs once (at 100 TB this is a materialized sidecar).
    # Registered with the session cache registry: the host releases it via
    # caching.release_caches() once the returned plan has been consumed.
    sh = register_cache(shingle_sets(df, id_col, text_col).persist())
    sigs = minhash_signatures(sh, id_col, num_hashes)
    band_cols = []
    for b in range(num_bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat(F.lit(f"{b}|"), *parts)))
    # narrow (id, band_key) frame — candidate generation never touches arrays
    bands = sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band_key")
    )
    if max_pairs_per_bucket is not None:
        cand = bounded_bucket_candidates(
            bands, id_col, max_pairs_per_bucket
        )
    else:
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    # verification joins fetch each side's shingle set once per pair
    x = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    y = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _band_keys(
    sigs: DataFrame, id_col: str, num_hashes: int, num_bands: int
) -> DataFrame:
    """Narrow (id, band_key) frame from a signature frame."""
    rows_per_band = num_hashes // num_bands
    band_cols = []
    for b in range(num_bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat(F.lit(f"{b}|"), *parts)))
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band_key")
    )


def minhash_lsh_pairs_against(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    caches: list | None = None,
) -> DataFrame:
    """Incremental near-dup detection: pairs (id_a ∈ corpus, id_b ∈ batch,
    jaccard >= threshold) — dedup a NEW ingest batch against the standing
    corpus without re-pairing the corpus against itself.

    Cache lifetime: the two shingle-set frames are persisted (each feeds
    both the band-key derivation and the verify join). Handles are
    registered with :mod:`pipelinewise_spark.caching` so a host's
    ``release_caches()`` sweep frees them; callers wanting tighter scoping
    pass a list as ``caches`` to receive the handles directly, or use the
    :func:`lsh_index` context manager, which unpersists deterministically
    on exit. A per-batch ingest loop that does none of these accumulates
    dead shingle sets in executor storage memory until LRU eviction.

    Scale shape: the corpus side's shingles/signatures/band keys are the
    materialized LSH index (at 100 TB: written once per corpus build,
    re-read per batch — here derived in-plan); the per-batch cost is
    shingling the batch, one band-key equi-join (batch bands broadcast when
    the batch is small) and exact-Jaccard verification on candidates only.
    Corpus self-pairs never form, which is the entire point: ingest dedup
    cost is O(batch × collision rate), not O(corpus²).
    """
    sh_c = register_cache(shingle_sets(corpus, id_col, text_col).persist())
    sh_b = register_cache(shingle_sets(batch, id_col, text_col).persist())
    if caches is not None:
        caches.extend([sh_c, sh_b])
    bands_c = _band_keys(
        minhash_signatures(sh_c, id_col, num_hashes), id_col, num_hashes, num_bands
    )
    bands_b = _band_keys(
        minhash_signatures(sh_b, id_col, num_hashes), id_col, num_hashes, num_bands
    )
    cand = (
        bands_c.alias("a")
        .join(bands_b.alias("b"), "band_key")
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    x = sh_c.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    y = sh_b.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


@contextlib.contextmanager
def lsh_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
):
    """Leak-proof form of incremental LSH dedup for long-running ingest
    loops: the corpus-side shingle sets (the standing index) are persisted
    ONCE and reused across every ``pairs_against(batch)`` call inside the
    ``with`` block; exit unpersists the index and every per-batch cache
    deterministically — a daemon cannot leak executor storage by default.

    >>> with lsh_index(corpus, "doc_id", "text") as idx:
    ...     for batch in batches:
    ...         idx.pairs_against(batch).write...

    At 100 TB the corpus index is a materialized sidecar table written by
    the corpus build; ``pairs_against`` then costs O(batch x collision
    rate) — the corpus never self-pairs (see minhash_lsh_pairs_against).
    """
    handles: list[DataFrame] = []
    sh_c = register_cache(shingle_sets(corpus, id_col, text_col).persist())
    handles.append(sh_c)
    bands_c = _band_keys(
        minhash_signatures(sh_c, id_col, num_hashes), id_col, num_hashes, num_bands
    )

    class _Index:
        def __init__(self) -> None:
            self._batch_cache: DataFrame | None = None

        def release_batch(self) -> None:
            """Free the previous batch's shingle cache. Called implicitly
            at the start of the next ``pairs_against`` (by then the prior
            batch's pairs have been consumed), so a daemon looping inside
            one ``with`` block holds at most ONE batch cache at a time —
            unpersisting is always safe (a still-referenced plan silently
            recomputes instead of reading cache)."""
            if self._batch_cache is not None:
                with contextlib.suppress(Exception):
                    self._batch_cache.unpersist()
                unregister_cache(self._batch_cache)
                if self._batch_cache in handles:
                    handles.remove(self._batch_cache)
                self._batch_cache = None

        def pairs_against(self, batch: DataFrame) -> DataFrame:
            self.release_batch()
            sh_b = register_cache(
                shingle_sets(batch, id_col, text_col).persist()
            )
            self._batch_cache = sh_b
            handles.append(sh_b)
            bands_b = _band_keys(
                minhash_signatures(sh_b, id_col, num_hashes),
                id_col, num_hashes, num_bands,
            )
            cand = (
                bands_c.alias("a")
                .join(bands_b.alias("b"), "band_key")
                .select(
                    F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                )
                .filter(F.col("id_a") != F.col("id_b"))
                .dropDuplicates(["id_a", "id_b"])
            )
            x = sh_c.select(
                F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
            )
            y = sh_b.select(
                F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
            )
            return (
                cand.join(x, "id_a")
                .join(y, "id_b")
                .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard")
            )

    try:
        yield _Index()
    finally:
        for h in handles:
            with contextlib.suppress(Exception):
                h.unpersist()
            unregister_cache(h)


def _hash32(col: Column) -> Column:
    """Portable 32-bit token hash: first 8 hex chars of md5 as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """Charikar SimHash over the distinct token set (weight 1 per token).

    bit_j(doc) = majority over tokens of bit_j(hash32(token)); signature =
    Σ bit_j·2^j. One explode + one groupBy with `bits` conditional sums.
    """
    ex = spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", _hash32(F.col("tok")))
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = ex.groupBy(id_col).agg(F.count("*").alias("n_tokens"), *bit_sums)
    sig = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"b{j}") * 2 > F.col("n_tokens"), F.lit(1 << j))
            .otherwise(F.lit(0))
            .cast("bigint")
            for j in range(bits)
        ],
    )
    return agg.select(
        F.col(id_col), sig.alias("simhash"), F.col("n_tokens").cast("bigint").alias("n_tokens")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str] | str,
    threshold: float = 0.5,
    n: int = 3,
    grid: int = 1,
) -> DataFrame:
    """Character-n-gram Jaccard near-dups, quadratic only within a block.

    Scale levers (plan-level only — output is block/threshold semantics):
    - ``grid`` > 1 salts the self-join into a grid of id-hash cells so a hot
      block parallelizes across grid² tasks instead of one (each unordered
      pair meets in exactly one cell).
    - a size prefilter (min/max gram-set size >= threshold, a necessary
      condition for Jaccard >= threshold) prunes pairs before the
      intersection is computed.
    """
    if isinstance(block_cols, str):
        block_cols = [block_cols]
    # materialize the normalized text once (see shingle_sets note)
    t = F.col("__t")
    idx = F.sequence(F.lit(1), F.length(t) - (n - 1))
    grams = F.when(
        F.length(t) >= n,
        F.array_distinct(F.transform(idx, lambda i: F.substring(t, i, F.lit(n)))),
    ).otherwise(F.array().cast("array<string>"))
    # gram sets feed candidate sizing AND two verify joins → persist
    g = (
        spread(df)
        .withColumn("__t", F.lower(F.trim(F.col(text_col))))
        .select(
            F.col(id_col),
            *[F.col(c) for c in block_cols],
            grams.alias("grams"),
        )
        .persist()
    )
    register_cache(g)

    # candidate generation on NARROW rows only (id, blocks, gsize) — the
    # grid replication never copies the gram arrays through the shuffle
    narrow = g.select(
        F.col(id_col), *[F.col(c) for c in block_cols],
        F.size("grams").alias("gsize"),
    )
    cells = F.array(*[F.lit(i) for i in range(max(grid, 1))])
    a = (
        narrow.withColumn("__ga", F.pmod(F.col(id_col), F.lit(grid)).cast("int"))
        .withColumn("__gb", F.explode(cells))
        .alias("a")
    )
    b = (
        narrow.withColumn("__gb", F.pmod(F.col(id_col), F.lit(grid)).cast("int"))
        .withColumn("__ga", F.explode(cells))
        .alias("b")
    )
    cond = (F.col("a.__ga") == F.col("b.__ga")) & (
        F.col("a.__gb") == F.col("b.__gb")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    # size prefilter: a necessary condition for jaccard >= threshold,
    # evaluated on ints before any array work
    cond = cond & (
        F.least(F.col("a.gsize"), F.col("b.gsize")).cast("double")
        / F.greatest(F.col("a.gsize"), F.col("b.gsize"))
        >= threshold
    )
    cand = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )
    # verification joins fetch each side's gram set once per pair
    x = g.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a"))
    y = g.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b"))
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .withColumn("jaccard", jaccard(F.col("g_a"), F.col("g_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> None:
    """Materialize the standing LSH dedup index as a PERSISTED table —
    the artifact the incremental-dedup docstrings promise at 100 TB:
    built once per corpus build (or incrementally appended), then every
    ingest batch reads it instead of re-shingling the corpus in-plan.

    Layout under ``path``:
    - ``shingles/``: (id, shingles array) — the verify side;
    - ``bands/``:    (id, band_key) — the candidate-join side, written
      REPARTITIONED BY band_key so a batch's band probe co-locates.
    ``_lsh_index.json`` records the parameters; loading with different
    ones is a hard error (band keys are parameter-specific).
    """
    import json as _json

    from pipelinewise_spark.operators.fsio import MetaFS

    from pipelinewise_spark.functions.indexlife import IndexLifecycle

    # sidecar metadata goes through the MetaFS seam (pyarrow.fs), data
    # through Spark — same split as ManifestTable, so the index lives on
    # s3://…/hdfs://… exactly like a local directory. Versioned-dir
    # maintenance is the shared IndexLifecycle contract.
    life = IndexLifecycle.create(
        path, "_lsh_index.json", ("shingles", "bands"),
        {
            "id_col": id_col, "text_col": text_col,
            "num_hashes": num_hashes, "num_bands": num_bands,
        },
    )
    sh = shingle_sets(corpus, id_col, text_col)
    sh.write.mode("overwrite").parquet(life.uri("shingles"))
    spark = corpus.sparkSession
    sh_back = spark.read.parquet(life.uri("shingles"))
    bands = _band_keys(
        minhash_signatures(sh_back, id_col, num_hashes),
        id_col, num_hashes, num_bands,
    )
    (
        bands.repartition(F.col("band_key"))
        .write.mode("overwrite")
        .parquet(life.uri("bands"))
    )
    life.save()


def _load_index_life(path: str):
    from pipelinewise_spark.functions.indexlife import IndexLifecycle

    # pre-lifecycle sidecars default to the legacy unversioned dirs
    return IndexLifecycle.load(path, "_lsh_index.json", ("shingles", "bands"))


def extend_lsh_index(batch: DataFrame, path: str) -> None:
    """Admit a processed ingest batch into the standing index: append its
    shingle sets and band keys as new parquet fragments under the current
    index dirs (the post-dedup step of an ingest loop — probe first with
    :func:`minhash_lsh_pairs_against_index`, then extend so LATER batches
    dedup against this one too). Batch-sized work only; a months-long
    loop accumulates small fragment files, which
    :func:`compact_lsh_index` consolidates."""
    life = _load_index_life(path)
    meta = life.meta
    id_col, text_col = meta["id_col"], meta["text_col"]
    # pin the batch-sized shingle frame (the minhash_lsh_pairs pattern —
    # every other shingle consumer in this module persists or reads back):
    # it feeds BOTH appends, and on an unpersisted plan the band write not
    # only re-shingles the batch — the explode's inferred non-empty filter
    # (InferFiltersFromGenerate) substitutes the whole 3-gram expression
    # into the scan filter BELOW the spread() exchange, evaluating it
    # twice per row in an input-partition-count (often 1) stage. Measured:
    # a 2.2s single-task stage; persisting makes the inferred filter a
    # size() check over materialized arrays.
    sh = shingle_sets(batch, id_col, text_col).persist()
    try:
        sh.write.mode("append").parquet(life.uri("shingles"))
        bands = _band_keys(
            minhash_signatures(sh, id_col, meta["num_hashes"]),
            id_col, meta["num_hashes"], meta["num_bands"],
        )
        bands.write.mode("append").parquet(life.uri("bands"))
    finally:
        sh.unpersist()
    life.record_extension()


def compact_lsh_index(spark, path: str) -> dict:
    """Consolidate index fragments (shared IndexLifecycle.compact):
    rewrite the shingle and band tables into fresh versioned dirs — bands
    re-clustered by band_key so probes stay co-located — and atomically
    repoint the meta file. Candidate sets are unchanged by construction
    (same rows, new files). Old dirs stay on disk for in-flight readers
    until :func:`vacuum_lsh_index`. Returns the updated meta."""
    par = spark.sparkContext.defaultParallelism
    return _load_index_life(path).compact({
        "shingles": lambda cur, new: (
            spark.read.parquet(cur).repartition(par)
            .write.mode("overwrite").parquet(new)
        ),
        "bands": lambda cur, new: (
            spark.read.parquet(cur).repartition(F.col("band_key"))
            .write.mode("overwrite").parquet(new)
        ),
    })


def vacuum_lsh_index(path: str) -> list[str]:
    """Delete index data dirs no longer referenced by the meta pointer
    (shared IndexLifecycle.vacuum). Returns the removed dir names."""
    return _load_index_life(path).vacuum()


def minhash_lsh_pairs_against_index(
    spark,
    path: str,
    batch: DataFrame,
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """Incremental near-dup detection against a PERSISTED index (see
    :func:`build_lsh_index`): identical pairs to
    :func:`minhash_lsh_pairs_against`, but the corpus side costs a
    parquet read — shingling/banding ran once at index-build time. The
    batch side still shingles/bands in-plan (it is batch-sized)."""
    life = _load_index_life(path)
    meta = life.meta
    if (meta["num_hashes"], meta["num_bands"]) != (num_hashes, num_bands):
        raise ValueError(
            f"index at {path} was built with (hashes, bands)="
            f"({meta['num_hashes']}, {meta['num_bands']}), "
            f"requested ({num_hashes}, {num_bands})"
        )
    id_col = meta["id_col"]
    sh_c = spark.read.parquet(life.uri("shingles"))
    bands_c = spark.read.parquet(life.uri("bands"))
    sh_b = register_cache(
        shingle_sets(batch, id_col, meta["text_col"]).persist()
    )
    bands_b = _band_keys(
        minhash_signatures(sh_b, id_col, num_hashes),
        id_col, num_hashes, num_bands,
    )
    cand = (
        bands_c.alias("a")
        .join(bands_b.alias("b"), "band_key")
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    x = sh_c.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    y = sh_b.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int = 32,
    num_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """EXACT near-duplicate pairs under Hamming distance over integer
    signatures (SimHash, perceptual hashes) — banded blocking, never
    all-pairs.

    Pigeonhole completeness: split the ``bits``-bit signature into
    ``num_bands`` contiguous bands; two signatures within Hamming
    distance ``max_hamming`` < ``num_bands`` differ in at most
    ``max_hamming`` bands, so at least one band matches EXACTLY — the
    band-key equi-join therefore surfaces every qualifying pair (this
    is a complete exact algorithm, not an approximation; enforced by
    ``max_hamming < num_bands``). Candidates verify with one
    ``bit_count(a XOR b)`` and dedupe by unordered id. Cost: shuffle on
    band keys, quadratic only within a (band, value) bucket — random
    signatures spread uniformly; adversarial hot buckets are the same
    grid-salting territory as the MinHash path."""
    if max_hamming >= num_bands:
        raise ValueError(
            "completeness requires max_hamming < num_bands (pigeonhole)"
        )
    if bits % num_bands:
        raise ValueError("bits must divide evenly into num_bands")
    bw = bits // num_bands
    mask = (1 << bw) - 1
    # the signature lineage (e.g. perceptual_hash's 32-sample fold) feeds
    # BOTH sides of the self-join — persist the tiny (id, sig) projection
    # so it computes once, not once per side (registered for host-side
    # release; measured 20x on the bench query)
    df = register_cache(
        df.select(F.col(id_col), F.col(sig_col)).persist()
    )
    sig = F.col(sig_col).cast("bigint")
    bands = df.select(
        F.col(id_col).alias("__id"),
        sig.alias("__sig"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(sig, b * bw).bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(num_bands)
            ])
        ).alias("bk"),
    ).select("__id", "__sig", "bk.band", "bk.val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sig").alias("sig_a"),
            F.col("b.__sig").alias("sig_b"),
        )
        .distinct()
    )
    # mask the XOR to the low `bits`: a signed signature with its top
    # bit set (e.g. F.hash output) sign-extends through cast('bigint'),
    # and unmasked bit_count would count the 64-bits extension — silently
    # dropping true near-dup pairs
    x = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    if bits < 64:
        x = x.bitwiseAND(F.lit((1 << bits) - 1))
    ham = F.bit_count(x).cast("int")
    return cand.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    ).drop("sig_a", "sig_b")
