"""User-facing takedown verification (round-15 verdict task 4).

The artifact-level proof that a taken-down document is really gone
lived only in tests (tests/test_text_index_deletes.py greps the index
artifacts); compliance users need it as an OPERATOR: given doc_ids,
report any residue per artifact family across every index the pipeline
maintains — the evidence a right-to-be-forgotten audit files.

Spark-first shape: each family check is one delete-sized semi-join
against the family's id column (narrow-column parquet scans, nothing
corpus-sized materializes on the driver), unioned into a single
residue report. ``scope`` picks the contract being audited:

- ``"served"`` (default): what probes can SEE — tombstone masks
  applied. Must be empty immediately after a committed takedown; any
  row is a serving bug.
- ``"physical"``: raw artifact rows on disk. Tombstone-masked rows are
  physically present BY DESIGN until compaction folds them, so this
  scope is the post-compaction audit ("has the fingerprint left the
  disk"), not a delete-correctness check.

Every audited artifact is keyed by id, so an id frame is all an audit
needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .incremental import _read_artifact

from ..functions.local_frames import literal_frame

_REPORT_SCHEMA = "artifact string, doc_id bigint, n_rows bigint"


def _residue(df: DataFrame, key: str, want: DataFrame, label: str) -> DataFrame:
    return (
        df.select(F.col(key).cast("long").alias("doc_id"))
        .join(want, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(label).alias("artifact"), "doc_id", "n_rows")
    )


def verify_forgotten(
    spark,
    ids: DataFrame,
    lex_index_path: str | None = None,
    ann_index_path: str | None = None,
    text_index_path: str | None = None,
    merged_dir: str | None = None,
    scope: str = "served",
    id_col: str = "doc_id",
) -> DataFrame:
    """Residue report for a takedown: one row per (artifact, doc_id)
    still holding rows for an asked id — EMPTY means fully forgotten at
    the chosen ``scope``. Families audited (each present only when its
    path is configured): lex ``postings`` / ``positions`` (when the
    index stores them) / ``doclist``; ann ``vectors`` / ``veclist``;
    text ``grams`` / ``sizes`` / ``hashes``; ``merged`` corpus rows.

    Cost: delete-sized semi-joins on narrow id columns — the same probe
    class as the deletes themselves; the merged check prunes children
    via the purge's `_child_stats.json` id statistics, so a no-overlap
    child costs nothing. Wired into ``run_nightly(verify_deletes=True)``
    as a per-night audit of that night's takedowns."""
    if scope not in ("served", "physical"):
        raise ValueError(f"scope must be 'served' or 'physical', got {scope!r}")
    served = scope == "served"
    want = ids.select(
        F.col(id_col).cast("long").alias("doc_id")
    ).distinct()
    parts: list[DataFrame] = []
    if lex_index_path is not None:
        from . import lexindex as lx

        man = lx._load_manifest(lex_index_path)
        tomb = lx._active_tombstones(spark, lex_index_path, man) if served else None
        post = _read_artifact(
            spark, lex_index_path, "postings", man, lx._POSTINGS_SCHEMA
        )
        parts.append(
            _residue(lx._mask_deleted(post, tomb), "doc_id", want, "lex:postings")
        )
        if man.get("positions"):
            pos = _read_artifact(
                spark, lex_index_path, "positions", man, lx._POSITIONS_SCHEMA
            )
            parts.append(
                _residue(
                    lx._mask_deleted(pos, tomb), "doc_id", want, "lex:positions"
                )
            )
        dl = _read_artifact(
            spark, lex_index_path, "doclist", man, lx._DOCLIST_SCHEMA
        )
        parts.append(
            _residue(lx._mask_deleted(dl, tomb), "doc_id", want, "lex:doclist")
        )
    if ann_index_path is not None:
        from . import annindex as ax

        man = ax._load_manifest(ann_index_path)
        tomb = (
            ax._active_vec_tombstones(spark, ann_index_path, man)
            if served
            else None
        )
        vecs = ax._read_vectors(spark, ann_index_path, man)
        parts.append(
            _residue(
                ax._mask_deleted_vecs(vecs, tomb), "vec_id", want, "ann:vectors"
            )
        )
        vl = _read_artifact(
            spark, ann_index_path, "veclist", man, ax._VECLIST_SCHEMA
        )
        parts.append(
            _residue(
                ax._mask_deleted_vecs(vl, tomb), "vec_id", want, "ann:veclist"
            )
        )
    if text_index_path is not None:
        from . import incremental as inc

        man = inc._load_manifest(text_index_path)
        tomb = (
            inc._active_text_tombstones(spark, text_index_path, man)
            if served
            else None
        )
        grams = _read_artifact(
            spark, text_index_path, "grams", man, inc._GRAMS_SCHEMA
        )
        sizes = _read_artifact(
            spark, text_index_path, "sizes", man, inc._SIZES_SCHEMA
        )
        hashes = _read_artifact(
            spark, text_index_path, "hashes", man, inc._HASHES_SCHEMA
        )
        parts.append(
            _residue(
                inc._mask_deleted_ids(grams, tomb), "base_id", want, "text:grams"
            )
        )
        parts.append(
            _residue(
                inc._mask_deleted_ids(sizes, tomb), "base_id", want, "text:sizes"
            )
        )
        parts.append(
            _residue(
                inc._mask_deleted_ids(hashes, tomb, "doc_id"),
                "doc_id",
                want,
                "text:hashes",
            )
        )
    if merged_dir is not None:
        import os

        from ..streaming.nightly import (
            _id_stats_of,
            _load_child_stats,
            _merged_children,
            _stats_disjoint,
        )

        del_stats = _id_stats_of(want, "doc_id")
        stats = _load_child_stats(merged_dir)
        out = None
        for name in _merged_children(merged_dir):
            if _stats_disjoint(stats.get(name), del_stats):
                continue
            part = spark.read.parquet(os.path.join(merged_dir, name)).select(
                F.col(id_col).cast("long").alias("doc_id")
            )
            out = part if out is None else out.unionByName(part)
        if out is not None:
            parts.append(_residue(out, "doc_id", want, "merged"))
    report = literal_frame(spark, _REPORT_SCHEMA, [])
    for p in parts:
        report = report.unionByName(p)
    return report.orderBy("artifact", "doc_id")
