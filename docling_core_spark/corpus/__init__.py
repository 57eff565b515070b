"""Corpus-level training-data operators over the driver's parquet tables.

These are the large-scale data-pipeline companions of the document engine
(SURVEY.md §2 covers the per-document operators; this package covers the
cross-document ones): deduplication (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding cosine), similarity search (brute-force + LSH-bucketed
ANN), text analysis (language-ID, quality scoring, token counting,
fingerprinting) and multimodal column plumbing.

Every operator is expressed as JVM-side DataFrame expressions (no Python
row loops); each has a DuckDB oracle built from the SAME constants so the
driver's correctness gate can verify values bit-for-bit.

Two helpers are shared by every operator: `read_spread` reads a table
with enough scan parallelism, and `materialize` persists and eagerly
fills a table (or stores a trained artifact) once per session, which
`clear` unpersists again.
"""

from pyspark.sql import DataFrame, SparkSession


def artifact_path(sf_dir: str, prefix: str) -> str:
    """Committed per-sf artifact under goldens/ (`<prefix>_sf<sf>.json`)
    — the ONE place that derives the scale token from an sf dir, shared
    by the IVF centroid and PCA component loaders so the Spark query
    and its DuckDB oracle can never resolve different artifacts."""
    import os

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    repo = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)
    )))
    return os.path.join(repo, "goldens", f"{prefix}_sf{sf}.json")


# Every memoized table and trained artifact of the engine, keyed by
# (applicationId, name_tag, *parts): applicationId, not id(sparkContext),
# because CPython can reuse an id after a stopped context is collected.
_MATERIALIZED: dict = {}


def materialize(spark: SparkSession, key: tuple, build):
    """Session-memoize `build()` under `key` = (name_tag, *parts).

    A DataFrame result is persisted and filled EAGERLY with one count():
    a lazily-filled cache consumed by several branches of one job races
    to recompute the same partitions concurrently (measured 5x slowdown
    at 8 cores on a cold 16x-inflated corpus) — one clean fill job is
    the "materialize the signature table first" step a production run
    performs. Any other value (trained centroids, codebooks) is stored
    as it is."""
    if not key or not isinstance(key[0], str):
        raise ValueError(f"materialize key needs a name tag first: {key!r}")
    full = (spark.sparkContext.applicationId, *key)
    if full not in _MATERIALIZED:
        out = build()
        if isinstance(out, DataFrame):
            out = out.persist()
            out.count()
        _MATERIALIZED[full] = out
    return _MATERIALIZED[full]


def clear() -> None:
    """Unpersist and forget every `materialize` entry. A long-lived
    session iterating sf dirs calls this between dirs: dropping entries
    WITHOUT unpersisting strands the cached RDDs in executor storage,
    and enough leaked copies push later persists into eviction/spill
    (measured a 20x slowdown after two leaked fills of a 16x-inflated
    corpus)."""
    for out in _MATERIALIZED.values():
        if isinstance(out, DataFrame):
            try:
                out.unpersist()
            except Exception:
                pass  # owning SparkContext already stopped
    _MATERIALIZED.clear()


def read_spread(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a parquet table and make sure the scan's parallelism covers
    the cluster. A production-scale table has thousands of row-group
    splits and the repartition branch never fires; the driver's small
    test files arrive as ONE split, which would serialize all the
    per-row hashing onto a single core (measured 10x slowdown on the
    fingerprint/minhash ops). The shuffle moved here is the table
    itself — trivial at test scale, skipped at real scale.
    """
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        df = df.repartition(n)
    return df
