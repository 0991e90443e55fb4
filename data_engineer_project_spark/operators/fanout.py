"""Plan shape from size signals Spark already has: the guarded
small-scan fan-out and the large-source gate (r13/r14/r15, guide
§1.2/§2.4/§6).

A sub-128 MB parquet arrives as ONE split, so every compute-bound
stage welded to the scan (codec Arrow stages, shingle explosion,
sign-LSH signature folds, range-join probes) runs on one core
regardless of cluster size. ``fanout_small`` asks Spark for the scan's
split count and only repartitions when it is below the default
parallelism, so at 100 TB split counts it is a plan no-op and no
shuffle is added; when it fires, the exchange moves at most a few MB
to light up every core for the per-row compute that follows.

``is_large_source`` picks between a small-corpus and a big-corpus plan
shape from the backing files' on-disk size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Source size at which the big-corpus plan shapes win (r15): below it
# the extra stages of the scale-shape layout cost more than they save
# (the measured d12 repartition regression, the d99 semi-join
# prefilter rejection).
LARGE_SOURCE_BYTES = 256 << 20


def estimated_source_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of ``df``'s backing files, from a
    driver-side listing only — zero Spark jobs. Returns None when the
    frame has no file lineage (pure in-memory fixtures, streams) or a
    file cannot be stat'ed.

    It deliberately measures the SOURCE, not the operator input: a
    filtered frame reports its full source size, which for a gate
    choosing between a small-corpus and a big-corpus plan shape is the
    conservative side (a selective filter over a big source takes the
    big-corpus shape; results are identical either way)."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        path = unquote(parsed.path) if parsed.scheme else uri
        try:
            total += os.stat(path).st_size
        except OSError:
            return None
    return total


def is_large_source(df: DataFrame) -> bool:
    """True when ``df``'s backing files total at least
    ``LARGE_SOURCE_BYTES``; False when the size is unknown (no file
    lineage), so callers keep their small-input plan shape."""
    size = estimated_source_bytes(df)
    return size is not None and size >= LARGE_SOURCE_BYTES


def fanout_small(df: DataFrame, scan: DataFrame | None = None) -> DataFrame:
    """Fan ``df`` out to the session's default parallelism when its
    scan has fewer splits than that; otherwise return ``df`` unchanged.

    The split count is Spark's own: ``(scan or df).rdd
    .getNumPartitions()``. Apply the guard ONLY to scan-shaped frames
    (a base table or a filter/projection over one). On a scan,
    ``df.rdd`` runs no Spark job; on an intermediate, AQE materializes
    every upstream exchange to answer it — the measured +0.5 s of
    duplicated stage work on d101 (r14 A/B). So callers wrap the scan
    they pass to an operator, and operators never guard their inputs.

    A stream cannot be introspected (``df.rdd`` is illegal on it): pass
    ``scan`` as the batch read of the stream's resolved source, whose
    split count is what each micro-batch inherits. A stream with no
    ``scan`` passes through unchanged. Any failure to read the split
    count also returns ``df`` unchanged."""
    if scan is None and df.isStreaming:
        return df
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        nparts = (df if scan is None else scan).rdd.getNumPartitions()
    except Exception:
        return df
    if nparts >= target:
        return df
    return df.repartition(target)
