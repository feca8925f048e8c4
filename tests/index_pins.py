"""Plan pins for the bucket-range index layout.

Every bucketed index artifact stores each generation in bucket-range
dirs ``r=<bucket * g // buckets>`` and records ``g`` and its non-empty
ranges in the manifest (``incremental._write_ranged``). A pruned probe's
scan of one generation must carry a partition filter naming exactly the
ranges that hold the asked buckets at that generation's ``g`` (at
``g = buckets``, exactly the asked buckets), and a data filter naming
exactly the asked buckets."""

from __future__ import annotations

import re


def plan_of(df) -> str:
    """The executed plan, with every scan's filters printed in full
    (Spark abbreviates scan metadata to 100 characters by default)."""
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    old = conf.get(key)
    conf.set(key, 1 << 20)
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.set(key, old)


def _section(line: str, key: str) -> str:
    return line.partition(key)[2].partition("]")[0]


def _values(text: str, col: str) -> set[int] | None:
    # Spark prints a list of more than 10 literals as INSET
    m = re.search(
        rf"\b{col}#\d+ (?:IN \(([^)]*)\)|INSET (-?\d+(?:, -?\d+)*))", text
    )
    if m:
        return {int(v) for v in (m.group(1) or m.group(2)).split(",")}
    m = re.search(rf"\({col}#\d+ = (-?\d+)\)", text)
    return {int(m.group(1))} if m else None


def bucket_scans(plan: str, col: str) -> list[tuple[set[int], set[int]]]:
    """(ranges named by the partition filter, buckets named by the data
    filter) of every file scan whose data filter names bucket column
    ``col``."""
    out = []
    for line in plan.splitlines():
        if "FileScan" not in line:
            continue
        buckets = _values(_section(line, "DataFilters: ["), col)
        if buckets is not None:
            ranges = _values(_section(line, "PartitionFilters: ["), "r")
            out.append((ranges, buckets))
    return out


def ranges_for(entry: dict, artifact: str, n_buckets: int, buckets) -> set[int]:
    """The non-empty ranges of ``artifact`` in one manifest entry that
    hold any of ``buckets``."""
    g = min(int(entry["g"]), n_buckets)
    return {b * g // n_buckets for b in buckets} & set(entry["ranges"][artifact])


def assert_scans_pruned(
    plan: str, man: dict, artifact: str, col: str, n_buckets: int, buckets
) -> None:
    """One scan per generation holding any asked bucket, each naming
    exactly that generation's ranges and exactly the asked buckets."""
    want = sorted(
        sorted(r)
        for r in (
            ranges_for(e, artifact, n_buckets, buckets) for e in man["generations"]
        )
        if r
    )
    got = bucket_scans(plan, col)
    assert sorted(sorted(r or ()) for r, _ in got) == want, (got, want, plan)
    assert all(b == set(buckets) for _, b in got), (got, buckets)


def assert_scans_consistent(
    plan: str, man: dict, artifact: str, col: str, n_buckets: int
) -> None:
    """Every scan of ``artifact`` names exactly the ranges that hold the
    buckets of its own data filter at some listed generation's ``g``
    (for probes whose buckets the test does not know up front, such as
    an ANN probe's routed cells)."""
    got = bucket_scans(plan, col)
    assert got, plan
    for ranges, buckets in got:
        assert ranges is not None, plan
        assert any(
            ranges == ranges_for(e, artifact, n_buckets, buckets)
            for e in man["generations"]
        ), (ranges, buckets, man["generations"])


def pushes_terms(plan: str, terms) -> bool:
    """The term predicate reaches the parquet reader as ``In(term, ...)``."""
    pushed = (
        line.partition("PushedFilters: [")[2]
        for line in plan.splitlines()
        if "FileScan" in line
    )
    return any(
        set(m.group(1).split(",")) == set(terms)
        for text in pushed
        for m in [re.search(r"In\(term, \[([^\]]*)\]\)", text)]
        if m
    )
