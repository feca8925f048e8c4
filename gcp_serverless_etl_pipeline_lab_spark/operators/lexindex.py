"""Persisted inverted (BM25) lexical index — the LEXICAL twin of the
text dedup index (operators/incremental.py) and the ANN index
(operators/annindex.py), completing the round-10 retrieval work: the
scan-based ``retrieval.bm25_topk`` re-explodes every document's tokens
per query, so one query costs a corpus scan; a query SERVICE builds the
postings ONCE and every probe reads only the term buckets the query
names.

Layout under ``path`` (same generational manifest/claim/flock
discipline as the sibling indexes — immutable ``gen=N`` dirs, atomic
manifest replace as the one commit point, crash orphans invisible,
``increment_id`` replays committed no-ops, shared ``vacuum_index``):

Every bucketed artifact shares one layout (``incremental._write_ranged``):
a generation's rows land in bucket RANGE dirs ``r=<bucket * g //
buckets>``, one file per non-empty range with rows sorted by bucket,
where the generation's granularity ``g`` (a power of two up to the
bucket count) is sized to its token count. A nightly delta is one file
per artifact; a large build keeps ``g = 64``, one dir per bucket. The
generation's manifest entry records ``g`` and the non-empty ranges of
each artifact.

- ``postings/gen=N`` — one row per (term, doc) pair: ``(term, doc_id,
  tf, dl, tb)``, bucketed by ``tb = pmod(xxhash64(term),
  TERM_BUCKETS)``. The document length ``dl`` is DENORMALIZED onto
  every posting (one extra int) so the probe never touches a
  corpus-sized doc-length table — everything BM25 needs for a matched
  doc rides in the pruned ranges.
- ``doclist/gen=N`` — one row per indexed document: ``(doc_id, dl,
  db)``, bucketed by ``db = pmod(doc_id, DOC_BUCKETS)`` (round 12).
  The membership artifact: "are these doc_ids already indexed?" probes
  read only the asked ids' buckets — never the postings, whose doc_id
  column is |postings|-sized and term-bucketed (every bucket would
  scan). Feeds the nightly driver's cross-increment dedup guard and the
  hybrid-consistency check (streaming/nightly.run_nightly); includes
  tokenless docs (zero postings but counted in ``n_docs``). The doc
  length ``dl`` (round 13) lets a DELETE subtract exact lengths without
  reading postings.
- ``tombstones/gen=N`` (round 13) — one row per DELETED doc, same
  doc-bucket layout; each tombstone's manifest entry records the
  generations it covers (``max_gen``), so probes mask dead rows with a
  generation-scoped anti-join (a re-appended doc serves from its new,
  uncovered generation), live stats subtract the recorded removals,
  and compaction applies tombstones physically and retires the fully
  absorbed ones. Takedown cost = one bounded membership probe + one
  delete-sized write — never a postings rewrite.
- ``_MANIFEST.json`` — per-generation corpus stats ``{n_docs, sum_dl}``
  (tiny driver-side integers) beside the layout fields: N and avgdl
  come from summing manifest entries, zero scan. ``df`` per term is
  counted over the PRUNED postings at probe time — BM25 only ever needs
  df for the query's own terms, so a separate df artifact would buy
  nothing.

Probe cost at 100 TB: |query terms| bucket ranges of the postings per
generation (at ``g = 64`` exactly the query's buckets, ≤
terms/TERM_BUCKETS of the index, and a targeted probe's terms have
bounded df), one window + one aggregate over matched rows, TakeOrdered
for top-k. No corpus scan, no doc-length join, no full-vocabulary
anything. Building a probe fires no Spark job: the bucket list is
computed on the driver over an inline VALUES relation
(``_term_buckets``), and each generation's scan paths are the range
dirs its manifest entry records for those buckets
(``incremental._read_artifact``) — no glob, no listing job; the
``tb IN (...)`` row filter then drops the other buckets of a shared
range, inside the file through parquet's row-group statistics. Score
parity with ``retrieval.bm25_topk`` is EXACT (same integer tf/df/dl,
same manifest-exact avgdl = sum/count, same round-4 discipline) —
pinned by tests/test_lexindex.py and the ``a0h_hybrid_from_index``
oracle.

Tokenization contract: whitespace split, empty tokens dropped from the
postings but COUNTED in ``dl`` (``size(split(text, ' '))``) — exactly
``bm25_topk``'s accounting, so the two spellings rank identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.local_frames import literal_frame
from .incremental import (
    _MANIFEST_VERSION,
    _claim_generation,
    _granularity,
    _load_manifest,
    _manifest_lock,
    _read_artifact,
    _read_gen,
    _write_manifest,
    _write_ranged,
)

TERM_BUCKETS = 64
DOC_BUCKETS = 64

_POSTINGS_SCHEMA = "term string, doc_id bigint, tf bigint, dl int, tb int"
# positions (round-14 verdict task 4 — phrase queries): one row per
# (term, doc), carrying every occurrence position as a sorted array
# (array rows align 1:1 with postings cardinality and compress far
# better than exploded per-occurrence rows). TERM-bucketed like the
# postings — a phrase probe prunes to ITS terms' buckets exactly as a
# BM25 probe does; positions are opt-in at build time (the artifact is
# token-count-sized, the one index artifact that is).
_POSITIONS_SCHEMA = "term string, doc_id bigint, positions array<int>, tb int"
# the doclist carries the doc length so DELETES can subtract exact
# (n_docs, sum_dl) even for tokenless docs (no postings to read dl
# from)
_DOCLIST_SCHEMA = "doc_id bigint, dl int, db int"


def _tb(col: str):
    return F.pmod(F.xxhash64(col), F.lit(TERM_BUCKETS)).cast("int")


def _db(col: str):
    return F.pmod(F.col(col), F.lit(DOC_BUCKETS)).cast("int")


def _term_buckets(spark, terms: list[str]) -> list[int]:
    """The term buckets (``_tb``) of ``terms``, computed on the driver
    with no Spark job: the projection over an inline VALUES relation
    folds into a LocalRelation, so ``collect`` never schedules a task
    (a ``.distinct()`` would — an Aggregate always runs as a job; the
    dedup is Python's). The hash is still Spark's own xxhash64, so the
    buckets match the writer's."""
    if not terms:
        return []
    rows = spark.sql(
        f"SELECT CAST(pmod(xxhash64(term), {TERM_BUCKETS}) AS INT) AS tb "
        "FROM VALUES " + ", ".join(["(CAST(? AS STRING))"] * len(terms))
        + " AS v(term)",
        args=list(terms),
    ).collect()
    return sorted({r["tb"] for r in rows})


def _postings_of(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, doc_id, tf, dl, tb) for one corpus slice — one explode +
    one partially-aggregated (doc, term) shuffle; dl is computed map-side
    BEFORE the explode so it rides the shuffle as a grouping column
    instead of needing a join back."""
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(F.split(F.col(text_col), " ", -1)).alias("dl"),
        F.explode(F.split(F.col(text_col), " ", -1)).alias("term"),
    ).filter(F.col("term") != "")
    return (
        toks.groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id", "tf", F.col("dl").cast("int").alias("dl"), _tb("term").alias("tb"))
    )


def _positions_of(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, doc_id, positions, tb) for one corpus slice. Positions are
    0-based indexes over the FULL naive-split token list (empty tokens
    from doubled separators keep their slot so adjacency offsets match
    any independent tokenization of the same text; the empty rows
    themselves are dropped — no phrase contains an empty term)."""
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ", -1)).alias("pos", "term"),
    ).filter(F.col("term") != "")
    return (
        toks.groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .select("term", "doc_id", "positions", _tb("term").alias("tb"))
    )


def _write_positions_gen(
    positions: DataFrame, path: str, gen: int, g: int
) -> list[int]:
    return _write_ranged(
        positions.select("term", "doc_id", "positions", "tb"),
        path, "positions", gen, "tb", TERM_BUCKETS, g,
    )[0]


def _corpus_stats(docs: DataFrame, text_col: str) -> tuple[int, int]:
    """(n_docs, sum_dl) — one tiny aggregate, single-row collect (the
    same bounded-gate class as the quality gates)."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split(F.col(text_col), " ", -1))).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def _write_postings_gen(
    postings: DataFrame, path: str, gen: int, g: int
) -> list[int]:
    return _write_ranged(
        postings.select("term", "doc_id", "tf", "dl", "tb"),
        path, "postings", gen, "tb", TERM_BUCKETS, g,
    )[0]


def _write_doclist_gen(
    doclist: DataFrame, path: str, gen: int, g: int
) -> list[int]:
    return _write_ranged(
        doclist.select("doc_id", "dl", "db"), path, "doclist", gen, "db",
        DOC_BUCKETS, g,
    )[0]


def _doclist_of(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Membership rows (doc_id, dl, db) for one corpus slice — EVERY doc
    of the slice (tokenless ones included: they carry no postings but
    are in ``n_docs``, and the membership question is about documents,
    not terms). ``dl`` uses the same accounting as the postings (empty
    tokens counted), so a later DELETE can subtract the doc's exact
    length from ``sum_dl`` without touching the postings."""
    return (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.size(F.split(F.col(text_col), " ", -1)).cast("int").alias("dl"),
        )
        .groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
        .withColumn("db", _db("doc_id"))
    )


def _write_slice(
    docs: DataFrame,
    path: str,
    gen: int,
    id_col: str,
    text_col: str,
    positions: bool,
    sum_dl: int,
) -> dict:
    """Write the postings, doclist and (``positions``) positions of one
    corpus slice as generation ``gen`` and return the entry's layout
    fields ``{"g", "ranges"}``. The granularity comes from the slice's
    token count, an upper bound on its postings rows."""
    g = _granularity(sum_dl, TERM_BUCKETS)
    ranges = {
        "postings": _write_postings_gen(
            _postings_of(docs, id_col, text_col), path, gen, g
        ),
        "doclist": _write_doclist_gen(
            _doclist_of(docs, id_col, text_col), path, gen, g
        ),
    }
    if positions:
        ranges["positions"] = _write_positions_gen(
            _positions_of(docs, id_col, text_col), path, gen, g
        )
    return {"g": g, "ranges": ranges}


def build_lexical_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    positions: bool = False,
) -> None:
    """Tokenize and invert ``docs`` ONCE; persist postings as generation
    0 of an appendable index. One corpus pass for the postings, one tiny
    aggregate for the stats; the manifest replace is the commit point.

    ``positions=True`` (round-14 verdict task 4) additionally persists
    per-occurrence token positions — the artifact phrase queries
    (``phrase_topk_from_index``) verify adjacency against. Opt-in
    because it is token-count-sized (the postings are distinct-(term,
    doc)-sized); once set, every append and fold maintains it."""
    n_docs, sum_dl = _corpus_stats(docs, text_col)
    layout = _write_slice(docs, path, 0, id_col, text_col, positions, sum_dl)
    _write_manifest(
        path,
        {
            # the shared generational layout contract, the only layout
            # incremental._load_manifest reads
            "version": _MANIFEST_VERSION,
            "term_buckets": TERM_BUCKETS,
            "positions": bool(positions),
            "generations": [
                {
                    "gen": 0,
                    "increment_id": None,
                    "n_docs": n_docs,
                    "sum_dl": sum_dl,
                    **layout,
                }
            ],
        },
    )


def append_lexical_index(
    spark,
    increment: DataFrame,
    path: str,
    increment_id: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    assert_new_doc_ids: bool = False,
) -> bool:
    """Extend the index with NEWLY MERGED documents WITHOUT touching the
    existing postings — the nightly-loop step, same contract as the
    sibling indexes: cost tracks increment size; the new postings land
    as an immutable generation committed by one atomic manifest replace;
    ``increment_id`` replays are committed no-ops (returns False);
    concurrent appenders claim distinct generation numbers and the
    locked commit drops neither. Corpus stats ride the generation entry,
    so N/avgdl stay exact without any rescan.

    CONTRACT — the increment must contain only doc_ids NOT already in
    the index (round-11 advice): a replayed doc would double-count its
    tf/df and inflate ``n_docs``, silently skewing every later BM25
    score. The ledger makes whole-increment replays no-ops, but a doc_id
    arriving inside TWO DIFFERENT increments is the caller's to exclude —
    ``indexed_doc_ids`` is the bounded probe for exactly this, and
    ``streaming/nightly.run_nightly`` applies it
    before every append. ``assert_new_doc_ids=True`` makes this append
    verify the contract itself (one doc-bucket-pruned anti-probe; off by
    default — the loop already guards, and a double probe buys nothing)."""
    import os

    man = _load_manifest(path)
    applied = {
        g.get("increment_id") for g in man["generations"]
    } | set(man.get("compacted_increments", []))
    if increment_id is not None and increment_id in applied:
        return False
    # the stats aggregate doubles as the emptiness gate and sizes the
    # generation's bucket ranges
    n_docs, sum_dl = _corpus_stats(increment, text_col)
    if n_docs == 0:
        return False
    if assert_new_doc_ids:
        dup = indexed_doc_ids(spark, path, increment.select(
            F.col(id_col).cast("long").alias("doc_id")
        ))
        hit = dup.limit(1).collect()
        if hit:
            raise ValueError(
                f"increment {increment_id!r} contains doc_ids already "
                f"indexed at {path} (e.g. {hit[0]['doc_id']}); appending "
                "would double-count tf/df/n_docs — exclude them first "
                "(indexed_doc_ids gives the overlap)"
            )
    gen = _claim_generation(path)
    layout = _write_slice(
        increment, path, gen, id_col, text_col, bool(man.get("positions")),
        sum_dl,
    )
    from .incremental import _GENCLAIM_PREFIX

    with _manifest_lock(path):
        cur = _load_manifest(path)
        applied_now = {
            g.get("increment_id") for g in cur["generations"]
        } | set(cur.get("compacted_increments", []))
        if increment_id is not None and increment_id in applied_now:
            try:
                os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
            except OSError:
                pass
            return False
        if any(g["gen"] == gen for g in cur["generations"]):
            raise RuntimeError(
                f"generation {gen} already committed at {path}; "
                "claim was lost mid-append — retry the append"
            )
        cur["generations"].append(
            {
                "gen": gen,
                "increment_id": increment_id,
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                **layout,
            }
        )
        _write_manifest(path, cur)
    try:
        os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
    except OSError:
        pass
    return True


def compact_lexical_index(
    spark,
    path: str,
    max_generations_to_fold: int | None = None,
    protect_increments: set[str] | None = None,
) -> int:
    """Fold committed posting generations — same discipline as the
    sibling compactors: fresh claimed generation, artifacts first,
    locked flip, abort if a concurrent append landed, old dirs left for
    in-flight readers (vacuum_index sweeps them), applied increment_ids
    preserved under ``compacted_increments``. Postings are immutable
    facts (a doc's tf/dl never change), so the fold is a pure rewrite —
    probe-after == probe-before.

    **Tiered fold** (``max_generations_to_fold=K``, round 12 — the
    round-11 lever the text index got, completed across the family): a
    full fold rewrites the WHOLE postings set, so at 100 TB the nightly
    maintenance window would grow with INDEX size. Folding only the
    NEWEST ``K`` listed generations (the small nightly increments,
    LSM-style) bounds the fold by recent-increment volume; repeated
    nightly folds geometrically merge older tiers because the previous
    fold is itself the newest listed generation next time. The folded
    entry's manifest stats are the SUM of the folded entries' (n_docs,
    sum_dl) — total corpus stats are unchanged, which is all any probe
    reads. Unfolded entries keep their place and order. The lexical
    index has no capped ledger (postings never die), so the partial
    fold is a plain union-rewrite of the folded slice.

    ``protect_increments`` (round-12 advice): generation entries whose
    ``increment_id`` is in this set are pulled out of the fold slice and
    stay listed under their own generation — the nightly driver passes
    its lex-applied ids still pending in a sibling leg so a fold can never
    absorb an increment whose crash-replay still needs
    ``indexed_doc_ids(..., exclude_increment_id=...)`` to match it (a
    folded entry's id moves to ``compacted_increments`` and the
    exclusion stops matching, which would starve the replayed ANN leg).
    Raises when protection leaves fewer than 2 foldable generations —
    nothing useful to rewrite."""
    import os

    from .incremental import _GENCLAIM_PREFIX, _split_fold_slice

    man = _load_manifest(path)
    entries = list(man["generations"])
    old_gens = [g["gen"] for g in entries]
    fold_entries, keep_entries = _split_fold_slice(
        entries, max_generations_to_fold, protect_increments
    )
    # a 1-generation fold is a no-op rewrite UNLESS there are active
    # tombstones — then it is exactly how a delete gets applied
    # physically without waiting for more generations
    if not fold_entries or (
        len(fold_entries) < 2 and not man.get("tombstones")
    ):
        raise ValueError(
            f"nothing to fold at {path}: {len(fold_entries)} unprotected "
            "generation(s) in the fold slice and no tombstones to apply "
            "(a 1-fold is a no-op rewrite; re-run after the pending "
            "sibling-leg appends land)"
        )
    fold_man = dict(man, generations=fold_entries)
    n_docs = sum(int(g["n_docs"]) for g in fold_entries)
    sum_dl = sum(int(g["sum_dl"]) for g in fold_entries)
    # tombstones (round-13 deletes) apply PHYSICALLY at fold time: masked
    # rows in the folded slice are dropped from the rewrite (they must be
    # — folded rows land under a NEW generation number above every
    # tombstone's cover, so a row carried through would un-mask). A
    # tombstone whose whole cover lies inside the fold is fully absorbed:
    # it leaves the manifest, its increment_id moves to applied_deletes,
    # and its recorded removals move INTO the fold entry's stats (they
    # were subtracted globally before; the global arithmetic
    # Σ generations − Σ active tombstones is invariant). One still
    # covering a KEPT generation stays listed — its folded rows are
    # gone but its kept-generation rows still need the probe-side mask.
    tomb = _active_tombstones(spark, path, man)
    old_tomb_gens = {t["gen"] for t in man.get("tombstones", [])}
    absorbed = [
        t
        for t in man.get("tombstones", [])
        if not any(g["gen"] <= t["max_gen"] for g in keep_entries)
    ]
    absorbed_gens = {t["gen"] for t in absorbed}
    n_docs -= sum(int(t["n_docs_removed"]) for t in absorbed)
    sum_dl -= sum(int(t["sum_dl_removed"]) for t in absorbed)
    gen = _claim_generation(path)
    granularity = _granularity(sum_dl, TERM_BUCKETS)
    ranges = {
        "postings": _write_postings_gen(
            _mask_deleted(
                _read_artifact(
                    spark, path, "postings", fold_man, _POSTINGS_SCHEMA
                ),
                tomb,
            ),
            path,
            gen,
            granularity,
        )
    }
    if man.get("positions"):
        # the positional artifact folds alongside, under the same
        # tombstone mask (positions rows are (doc_id, _gen)-keyed like
        # postings, so the one mask covers both)
        ranges["positions"] = _write_positions_gen(
            _mask_deleted(
                _read_artifact(
                    spark, path, "positions", fold_man, _POSITIONS_SCHEMA
                ),
                tomb,
            ),
            path,
            gen,
            granularity,
        )
    ranges["doclist"] = _write_doclist_gen(
        _mask_deleted(
            _read_artifact(spark, path, "doclist", fold_man, _DOCLIST_SCHEMA),
            tomb,
        ),
        path,
        gen,
        granularity,
    )
    applied = [
        g["increment_id"]
        for g in fold_entries
        if g.get("increment_id") is not None
    ]
    with _manifest_lock(path):
        cur = _load_manifest(path)
        if {g["gen"] for g in cur["generations"]} != set(old_gens):
            raise RuntimeError(
                f"concurrent append landed during compaction of {path}; "
                "re-run compact_lexical_index"
            )
        if {t["gen"] for t in cur.get("tombstones", [])} != old_tomb_gens:
            # a delete that landed mid-fold was not applied to the
            # rewrite, and the rewrite moved its covered rows above the
            # tombstone's cover — committing would resurrect them
            raise RuntimeError(
                f"concurrent delete landed during compaction of {path}; "
                "re-run compact_lexical_index"
            )
        cur["compacted_increments"] = sorted(
            set(cur.get("compacted_increments", [])) | set(applied)
        )
        if absorbed:
            cur["applied_deletes"] = sorted(
                set(cur.get("applied_deletes", []))
                | {
                    t["increment_id"]
                    for t in absorbed
                    if t.get("increment_id") is not None
                }
            )
            cur["tombstones"] = [
                t
                for t in cur.get("tombstones", [])
                if t["gen"] not in absorbed_gens
            ]
        cur["generations"] = keep_entries + [
            {
                "gen": gen,
                "increment_id": None,
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                "g": granularity,
                "ranges": ranges,
            }
        ]
        _write_manifest(path, cur)
    try:
        os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
    except OSError:
        pass
    return gen


def _active_tombstones(spark, path: str, man: dict) -> DataFrame | None:
    """(doc_id, max_gen) union of the listed tombstone generations, or
    None when the index has no active deletes. ``max_gen`` (the highest
    listed generation at delete-commit time, a manifest field stamped
    per tombstone) scopes the mask: rows from generations <= max_gen are
    dead, rows appended later (a re-added doc) are live. The set is
    delete-volume-sized — deletes are rare events, so the mask join
    rides a small frame AQE broadcasts."""
    out = None
    for t in man.get("tombstones", []):
        part = _read_gen(spark, path, "tombstones", t, "doc_id bigint, db int")
        if part is None:
            continue
        part = part.select("doc_id", F.lit(int(t["max_gen"])).alias("max_gen"))
        out = part if out is None else out.unionByName(part)
    if out is None:
        return None
    # a doc deleted, re-added, and deleted again carries two tombstone
    # rows — the widest cover wins (one tiny aggregate on a small frame)
    return out.groupBy("doc_id").agg(F.max("max_gen").alias("max_gen"))


def _mask_deleted(df: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Drop rows whose (doc_id, _gen) a tombstone covers — the probe-
    side view of a delete until compaction applies it physically."""
    if tomb is None:
        return df
    return df.join(
        tomb,
        (df["doc_id"] == tomb["doc_id"]) & (df["_gen"] <= tomb["max_gen"]),
        "left_anti",
    )


def _live_stats(man: dict) -> tuple[int, int]:
    """(n_docs, sum_dl) visible to probes: generation sums minus the
    active tombstones' recorded removals — exact, because doc_ids are
    unique across generations (the append contract) and every delete
    records the removed docs' exact counts at delete time."""
    n = sum(int(g["n_docs"]) for g in man["generations"])
    s = sum(int(g["sum_dl"]) for g in man["generations"])
    for t in man.get("tombstones", []):
        n -= int(t["n_docs_removed"])
        s -= int(t["sum_dl_removed"])
    return n, s


def delete_from_lexical_index(
    spark,
    ids: DataFrame,
    path: str,
    increment_id: str | None = None,
) -> bool:
    """Remove documents from the served index WITHOUT rewriting the
    postings (round 13 — the takedown / right-to-be-forgotten step a
    training-data pipeline cannot ship without): the asked ids resolve
    against current membership (doc-bucket-pruned, already-deleted docs
    excluded), their exact (count, total dl) comes from the doclist's
    stored ``dl`` in the same doc-bucket-pruned read, and one
    doc-bucketed ``tombstones/gen=N`` artifact plus an atomic manifest
    append commits the delete. Every probe masks tombstoned docs and
    subtracts their mass from N/avgdl, so **probe-after-delete is
    row-identical to a probe of an index rebuilt without those docs**
    (df recomputes over surviving postings; oracled by
    a0k_lex_delete_probe). Compaction applies tombstones physically and
    retires the fully-absorbed ones.

    Scoped by generation: the tombstone covers generations listed at
    commit time (``max_gen``), so RE-APPENDING a deleted doc_id later
    works — the new generation is above the cover and serves normally.
    ``increment_id`` replays are committed no-ops (returns False), same
    ledger discipline as appends; deleting ids that are not (or no
    longer) members is a no-op that does NOT consume the id. Cost:
    one bucket-pruned membership probe + one delete-sized write —
    never a postings rewrite."""
    import os

    from .incremental import _GENCLAIM_PREFIX

    man = _load_manifest(path)
    applied = {
        t.get("increment_id") for t in man.get("tombstones", [])
    } | set(man.get("applied_deletes", []))
    if increment_id is not None and increment_id in applied:
        return False
    want = ids.select(
        F.col(ids.columns[0]).cast("long").alias("doc_id")
    ).distinct()
    # the members with their exact removal mass: the live doclist rows of
    # the asked ids (a deleted-then-re-added doc has TWO doclist rows and
    # only the live one may contribute its dl)
    picked = (
        _live_doclist(spark, path, man, want)
        .join(want, "doc_id", "left_semi")
        .select("doc_id", "dl")
    )
    row = picked.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    d_n, d_s = int(row["n"]), int(row["s"] or 0)
    if d_n == 0:
        return False
    gen = _claim_generation(path)
    granularity = _granularity(d_n, DOC_BUCKETS)
    ranges = _write_ranged(
        picked.select("doc_id", _db("doc_id").alias("db")),
        path, "tombstones", gen, "db", DOC_BUCKETS, granularity,
    )[0]
    with _manifest_lock(path):
        cur = _load_manifest(path)
        applied_now = {
            t.get("increment_id") for t in cur.get("tombstones", [])
        } | set(cur.get("applied_deletes", []))
        if increment_id is not None and increment_id in applied_now:
            try:
                os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
            except OSError:
                pass
            return False
        if {g["gen"] for g in cur["generations"]} != {
            g["gen"] for g in man["generations"]
        }:
            # an append committed between membership resolution and this
            # commit: max_gen stamped from cur would cover generations
            # the membership probe never saw — a concurrently
            # (re-)appended doc would be masked while its stats were
            # never subtracted, a permanent live-stat overcount. Same
            # fence as compact/rebuild (round-14 advice); the tombstone
            # dir is an orphan vacuum_index sweeps.
            raise RuntimeError(
                f"concurrent append landed during delete from {path}; "
                "re-run delete_from_lexical_index"
            )
        cur.setdefault("tombstones", []).append(
            {
                "gen": gen,
                "increment_id": increment_id,
                # cover = everything listed NOW; a later re-append gets
                # a higher generation and serves unmasked
                "max_gen": max(g["gen"] for g in cur["generations"]),
                "n_docs_removed": d_n,
                "sum_dl_removed": d_s,
                "g": granularity,
                "ranges": {"tombstones": ranges},
            }
        )
        _write_manifest(path, cur)
    try:
        os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
    except OSError:
        pass
    return True


def indexed_doc_ids(
    spark,
    path: str,
    ids: DataFrame,
    exclude_increment_id: str | None = None,
) -> DataFrame:
    """Which of ``ids`` (a 1-column (doc_id) frame) are ALREADY indexed —
    the nightly driver's cross-increment dedup guard and the hybrid-
    consistency probe. Reads only the doclist ranges holding the asked
    ids' ``db`` buckets (``_live_doclist``; the bucket list is computed
    before the read, so scan paths come from the manifest — no listing
    job), so probe cost tracks |ids| x bucket share, never index size.

    ``exclude_increment_id``: skip the generation that THIS increment
    itself committed — a crash-replay re-resolves an increment whose lex
    append already landed, and without the exclusion the guard would see
    the increment's own docs as "already indexed" and starve the ANN leg
    (the nightly driver's replay contract depends on this). The
    exclusion requires that generation to still be LISTED: a compaction
    folds it into an ``increment_id=None`` entry and the exclusion stops
    matching. The nightly driver guarantees the ordering (its lex fold
    protects every increment a sibling leg still lacks); do not
    hand-run ``compact_lexical_index`` between a mid-night crash and its
    replay.

    Tokenless docs are members too: the doclist lists every indexed
    doc, postings or not."""
    man = _load_manifest(path)
    gens = [
        g for g in man["generations"]
        if exclude_increment_id is None
        or g.get("increment_id") != exclude_increment_id
    ]
    if not gens:
        return ids.select(F.col("doc_id").cast("long").alias("doc_id")).limit(0)
    want = ids.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
    dl = _live_doclist(spark, path, dict(man, generations=gens), want)
    return want.join(dl.select("doc_id"), "doc_id", "left_semi")


def _live_doclist(spark, path: str, man: dict, want: DataFrame) -> DataFrame:
    """The doclist rows of ``man``'s generations in the doc buckets of
    ``want``'s ids (a ≤DOC_BUCKETS-value driver-side collect over the
    IDS, so only the ranges holding those buckets are read), with
    deleted docs masked. The mask is scoped by generation, so a
    re-appended doc's new row stays live (round 13)."""
    dbs = [r["db"] for r in want.select(_db("doc_id").alias("db")).distinct().collect()]
    dl = _read_artifact(
        spark, path, "doclist", man, _DOCLIST_SCHEMA, ("db", DOC_BUCKETS, dbs)
    )
    return _mask_deleted(dl, _active_tombstones(spark, path, man))


def bm25_topk_from_index(
    spark,
    path: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    filter_ids: DataFrame | None = None,
    match_all_terms: bool = False,
) -> DataFrame:
    """``retrieval.bm25_topk`` served from the stored postings — result-
    identical (same schema (doc_id, n_terms, score), same integer
    inputs, same rounding), but the only data read is the bucket ranges
    holding the ≤|terms| buckets the query's terms hash into (static
    pruning from a bucket list computed over the TERMS, not the corpus,
    on the driver with no Spark job — ``_term_buckets``). The scan paths
    of each generation's ranges come from its manifest entry, and a
    generation holding none of them is skipped, so building the probe
    fires no job at all. Per-query cost tracks matched-postings size,
    never corpus size. N/avgdl come from the manifest's per-generation stats; df per
    query term is a count-window over the pruned postings.

    ``filter_ids`` (round-12 verdict task 2 — metadata-filtered
    retrieval): optional 1-column (doc_id) frame of ALLOWED documents.
    The semi-join lands on the pruned postings AFTER the df window, so
    df/N/avgdl stay INDEX-level statistics (the filter narrows
    candidates, not the corpus's term rarity — a doc's score is the same
    whether or not its neighbors are filtered away) while the top-k
    fills to ``k`` from allowed docs only. Term-bucket pruning is
    untouched — the filter joins the matched-postings stream on the
    narrow id column.

    ``match_all_terms`` (round 13): conjunctive (AND) semantics — only
    docs whose postings match EVERY distinct query term rank; scores
    unchanged, candidate set narrowed before top-k (identical to the
    scan twin's flag; oracled by a0j_bm25_conjunctive)."""
    man = _load_manifest(path)
    # live stats: generation sums minus active-tombstone removals — so
    # after a delete, N/avgdl are exactly what a rebuild-without would
    # compute (round 13)
    n_docs, sum_dl = _live_stats(man)
    if n_docs == 0:
        raise ValueError(f"lexical index at {path} is empty")
    # exactly Spark's avg-of-int semantics (sum/count in double), which
    # is also what the scan-based bm25_topk and the DuckDB oracle compute
    avgdl = float(sum_dl) / float(n_docs)
    # bucket list from the query terms themselves, on the driver with no
    # job; only the ranges holding those buckets are read
    post = _read_artifact(
        spark, path, "postings", man, _POSTINGS_SCHEMA,
        ("tb", TERM_BUCKETS, _term_buckets(spark, terms)),
    ).filter(F.col("term").isin(list(terms)))
    # tombstone mask BEFORE the df window: df is a surviving-docs fact
    post = _mask_deleted(post, _active_tombstones(spark, path, man))
    tfdf = post.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    if filter_ids is not None:
        allowed = (
            filter_ids.select(
                F.col(filter_ids.columns[0]).cast("long").alias("doc_id")
            ).distinct()
        )
        tfdf = tfdf.join(allowed, "doc_id", "left_semi")
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
    )
    out = (
        tfdf.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(idf * norm), 4).alias("score"),
        )
    )
    if match_all_terms:
        # postings are one row per (term, doc), so n_terms is the
        # distinct matched-term count — the conjunctive gate is a filter
        out = out.filter(F.col("n_terms") == len(set(terms)))
    return out.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def phrase_topk_from_index(
    spark,
    path: str,
    phrase: str | list[str],
    k: int = 10,
) -> DataFrame:
    """Exact-phrase top-k from the persisted positional index (round-14
    verdict task 4 — the first thing a retrieval user asks for after AND
    semantics): documents containing the words of ``phrase`` as ADJACENT
    tokens, ranked by occurrence count (ties by doc_id). Requires an
    index built with ``positions=True``.

    Plan shape — the same build-once-serve-many discipline as the BM25
    probe: the only data read is the term-bucket ranges holding the
    <=|terms| buckets the phrase's words hash into (static pruning from a
    driver-side bucket list computed over the WORDS, pinned in
    tests/test_plans_round14.py); candidates are the matched positions
    rows only, so per-query cost tracks the phrase terms' total
    occurrence count, never corpus size. Adjacency verification is one
    aggregate: word ``i`` at position ``p`` votes for a phrase start at
    ``p - i``; a (doc, start) collecting ALL slot votes is one
    occurrence — no joins between per-term streams, no window over the
    corpus, and repeated words in the phrase are handled exactly (each
    slot must be satisfied at its own offset). Deleted docs are masked
    generation-scoped like every other probe.

    Returns (doc_id, n_hits) — top ``k`` by (n_hits desc, doc_id);
    oracled by a0l_phrase_topk against an independent DuckDB
    tokenization."""
    return (
        phrase_matching_docs(spark, path, phrase)
        .orderBy(F.col("n_hits").desc(), F.col("doc_id"))
        .limit(k)
    )


def phrase_matching_docs(
    spark,
    path: str,
    phrase: str | list[str],
) -> DataFrame:
    """ALL documents containing ``phrase`` as adjacent tokens, with
    occurrence counts — (doc_id, n_hits), unranked and unlimited. The
    probe body behind ``phrase_topk_from_index`` (same bucket pruning,
    vote aggregate, tombstone masking), exposed separately because the
    matching set COMPOSES: pass it as ``filter_ids`` to
    ``bm25_topk_from_index`` / the hybrid spellings for quoted-phrase
    search ("rank by relevance among docs containing this exact
    phrase" — oracled by a0l_phrase_bm25), or to the ANN probe for
    phrase-constrained vector search."""
    terms = phrase.split(" ") if isinstance(phrase, str) else list(phrase)
    terms = [t for t in terms if t != ""]
    if not terms:
        raise ValueError("phrase_matching_docs needs a non-empty phrase")
    man = _load_manifest(path)
    if not man.get("positions"):
        raise ValueError(
            f"lexical index at {path} was built without positions=True; "
            "run add_positions_to_index (in-place backfill) or rebuild "
            "to serve phrase queries"
        )
    slots = literal_frame(
        spark, "slot int, term string", [(i, t) for i, t in enumerate(terms)]
    )
    pos = _read_artifact(
        spark, path, "positions", man, _POSITIONS_SCHEMA,
        ("tb", TERM_BUCKETS, _term_buckets(spark, terms)),
    ).filter(F.col("term").isin(terms))
    pos = _mask_deleted(pos, _active_tombstones(spark, path, man))
    votes = (
        pos.join(F.broadcast(slots), "term")
        .select("doc_id", "slot", F.explode("positions").alias("p"))
        .select(
            "doc_id", "slot", (F.col("p") - F.col("slot")).alias("start")
        )
    )
    occ = (
        votes.groupBy("doc_id", "start")
        .agg(F.countDistinct("slot").alias("_ns"))
        .filter(F.col("_ns") == len(terms))
    )
    return occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))


def lexical_index_stats(spark, path: str) -> DataFrame:
    """One-row observability report for a lexical index (round 15): the
    LIVE statistics every probe prices with (``_live_stats`` — manifest
    per-generation sums minus tombstone-recorded removals, maintained
    incrementally through appends, deletes, and folds) plus the
    lifecycle counters an operator watches (generations → fold pressure,
    tombstones → mask pressure, positions → phrase capability). Pure
    manifest read — no artifact scan, safe to poll. Because n_docs /
    sum_dl are maintained incrementally rather than recounted, oracling
    them against a fresh recount of the source corpus
    (a0m_index_stats) is a real parity check on the whole
    append/delete/fold accounting chain."""
    import math

    man = _load_manifest(path)
    n, s = _live_stats(man)
    avgdl = (
        # half-up at 1e-4, matching F.round/DuckDB ROUND (Python's
        # built-in round is banker's and would diverge on exact ties)
        math.floor(float(s) / float(n) * 1e4 + 0.5) / 1e4 if n else None
    )
    # literal projection over range(1), NOT createDataFrame: a 1-row
    # createDataFrame is a Python-RDD-backed plan whose every scan pays
    # a Python-worker round trip, and joins of two such frames fan into
    # empty-task storms (measured 9-15 s for a 1x1 join); this stays a
    # single JVM-side codegen'd task
    return spark.range(1).select(
        F.lit(int(n)).cast("bigint").alias("n_docs"),
        F.lit(int(s)).cast("bigint").alias("sum_dl"),
        F.lit(avgdl).cast("double").alias("avgdl"),
        F.lit(len(man["generations"])).cast("int").alias("n_generations"),
        F.lit(len(man.get("tombstones", []))).cast("int").alias("n_tombstones"),
        F.lit(bool(man.get("positions"))).alias("positions"),
    )


def proximity_matching_docs(
    spark,
    path: str,
    terms: list[str],
    window: int = 8,
) -> DataFrame:
    """Documents containing ALL of ``terms`` within a ``window``-token
    span (round 15 — the positional-index capability between AND
    semantics and exact phrase: "join near filter", order-free).
    Returns (doc_id, n_hits), n_hits = the number of matched positions
    whose forward window [p, p+window-1] covers every distinct term —
    unranked and unlimited, because the matching set COMPOSES exactly
    like ``phrase_matching_docs``: pass it as ``filter_ids`` to the
    BM25/hybrid probes for proximity-constrained relevance ranking.

    Plan shape: the same build-once-serve-many contract as the phrase
    probe — only the query terms' term-bucket ranges are read
    (static pruning from a driver-side bucket list), candidates are the
    matched positions rows only, and the window check is ONE range-frame
    window aggregate over those rows (collect_set(term) over
    [p, p+window-1] per doc) — no self-join of per-term position
    streams, no corpus-sized window. Per-query cost tracks the terms'
    matched positions × window width. Deleted docs are masked
    generation-scoped like every probe. Oracled by a0m_proximity_topk
    against an independent DuckDB tokenization + positions self-join."""
    terms = [t for t in terms if t != ""]
    if not terms:
        raise ValueError("proximity_matching_docs needs non-empty terms")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    n_terms = len(set(terms))
    man = _load_manifest(path)
    if not man.get("positions"):
        raise ValueError(
            f"lexical index at {path} was built without positions=True; "
            "run add_positions_to_index (in-place backfill) or rebuild "
            "to serve proximity queries"
        )
    pos = _read_artifact(
        spark, path, "positions", man, _POSITIONS_SCHEMA,
        ("tb", TERM_BUCKETS, _term_buckets(spark, terms)),
    ).filter(F.col("term").isin(list(set(terms))))
    pos = _mask_deleted(pos, _active_tombstones(spark, path, man))
    occ = pos.select("doc_id", "term", F.explode("positions").alias("p"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rangeBetween(0, window - 1)
    )
    hits = occ.withColumn(
        "_nt", F.size(F.collect_set("term").over(w))
    ).filter(F.col("_nt") == n_terms)
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits"))


def proximity_matching_docs_batch(
    spark,
    path: str,
    query_terms: DataFrame,
    window: int = 8,
) -> DataFrame:
    """B proximity queries in ONE positional-index pass (round 15 — the
    proximity twin of ``phrase_matching_docs_batch``): ``query_terms``
    is a (query_id, term) frame; returns (query_id, doc_id, n_hits),
    each query's within-``window`` matching set. The positions artifact
    is read once, pruned to the union of the batch's term buckets; the
    window check is one range-frame aggregate PARTITIONED BY
    (query_id, doc_id) over the matched positions, so per-query cost
    tracks that query's matched positions × window width and the scan
    is paid once for the batch. Batch==single parity pinned in
    tests/test_phrase.py."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    man = _load_manifest(path)
    if not man.get("positions"):
        raise ValueError(
            f"lexical index at {path} was built without positions=True; "
            "run add_positions_to_index (in-place backfill) or rebuild "
            "to serve proximity queries"
        )
    qt = (
        query_terms.select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    qn = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("_qn"))
    terms = [r["term"] for r in qt.select("term").distinct().collect()]
    if not terms:
        raise ValueError("proximity_matching_docs_batch needs non-empty terms")
    pos = _read_artifact(
        spark, path, "positions", man, _POSITIONS_SCHEMA,
        ("tb", TERM_BUCKETS, _term_buckets(spark, terms)),
    ).filter(F.col("term").isin(terms))
    pos = _mask_deleted(pos, _active_tombstones(spark, path, man))
    occ = (
        pos.join(F.broadcast(qt), "term")
        .select("query_id", "doc_id", "term", F.explode("positions").alias("p"))
    )
    w = (
        Window.partitionBy("query_id", "doc_id")
        .orderBy("p")
        .rangeBetween(0, window - 1)
    )
    hits = (
        occ.withColumn("_nt", F.size(F.collect_set("term").over(w)))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("_nt") == F.col("_qn"))
    )
    return hits.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )


def add_positions_to_index(
    spark,
    path: str,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[int]:
    """In-place positions BACKFILL for an existing non-positional index
    (round-15 verdict task 3): a 100 TB index you'd rather not rebuild
    can start serving phrase queries by deriving a ``positions/gen=N``
    artifact for every committed generation from the corpus text: write
    every per-generation artifact first, then flip ``positions: true``
    in the manifest under the lock as the ONE commit point. A crash
    anywhere earlier leaves the flag off (probes unaffected — orphan
    dirs invisible) and a re-run
    overwrites the orphans idempotently; a concurrent append landing
    mid-backfill is fenced loudly (its generation would have no
    positions artifact, silently breaking phrase recall forever).

    ``corpus`` is a (doc_id, text) frame that must cover every LIVE
    indexed doc (tombstone-masked membership from the doclist) — the
    merged-corpus dir maintained by ``run_nightly`` is exactly this
    frame; missing docs raise rather than leave silent phrase-recall
    holes. Deleted docs need no backfill (probes mask them; a purged
    corpus cannot provide them). Cost: ONE corpus pass (the
    doclist-tagged join is checkpointed and re-sliced per generation)
    plus one positions write per generation — increment-sized for the
    nightly generations, base-sized once for gen 0; measured as the
    ``positions_backfill`` SCALE_STRESS row. Positions semantics are
    byte-identical to the build path (same ``_positions_of``), so a
    backfilled index answers phrase probes exactly as a
    positions=True rebuild — oracled by a0m_phrase_backfill.

    Returns the generation numbers backfilled ([] if the index already
    serves positions)."""
    man = _load_manifest(path)
    if man.get("positions"):
        return []
    dl = _read_artifact(spark, path, "doclist", man, _DOCLIST_SCHEMA)
    live = _mask_deleted(dl, _active_tombstones(spark, path, man)).select(
        "doc_id", "_gen"
    )
    docs = (
        corpus.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
        .groupBy("doc_id")
        .agg(F.min("text").alias("text"))
    )
    missing = live.join(docs.select("doc_id"), "doc_id", "left_anti").count()
    if missing:
        raise ValueError(
            f"corpus is missing {missing} live indexed docs; positions "
            "backfill refuses to create silent phrase-recall holes — "
            "pass a corpus covering every live doc (e.g. the merged dir)"
        )
    tagged = live.join(docs, "doc_id").localCheckpoint(eager=True)
    try:
        # each generation's positions take the granularity its postings
        # were written with
        ranges = {
            int(g["gen"]): _write_positions_gen(
                _positions_of(
                    tagged.filter(F.col("_gen") == int(g["gen"])),
                    "doc_id",
                    "text",
                ),
                path,
                int(g["gen"]),
                int(g["g"]),
            )
            for g in man["generations"]
        }
        gens = list(ranges)
        with _manifest_lock(path):
            cur = _load_manifest(path)
            if {g["gen"] for g in cur["generations"]} != set(gens):
                raise RuntimeError(
                    f"concurrent append landed during positions backfill "
                    f"of {path}; re-run add_positions_to_index"
                )
            for g in cur["generations"]:
                g["ranges"]["positions"] = ranges[g["gen"]]
            cur["positions"] = True
            _write_manifest(path, cur)
        return gens
    finally:
        from .bpetrain import _checkpointed_rdd_id, _unpersist_rdd_ids

        rid = _checkpointed_rdd_id(tagged)
        if rid is not None:
            _unpersist_rdd_ids(spark.sparkContext, {rid})


def phrase_matching_docs_batch(
    spark,
    path: str,
    phrases: DataFrame,
) -> DataFrame:
    """B phrases in ONE positional-index pass (round-15 verdict task 5)
    — ``phrases`` is a (query_id, phrase) frame; returns (query_id,
    doc_id, n_hits), each query's exact-phrase matching set, unranked.

    Plan shape mirrors ``hybrid_topk_rrf_batch``'s lexical leg: the
    positions artifact is read ONCE, pruned to the UNION of the batch's
    term buckets (one driver-side collect of the batch's distinct
    words — bounded by the batch's own vocabulary, the same gate class
    as the batch BM25 bucket list), and the per-query slot frames ride
    a single broadcast join — per-phrase cost tracks that phrase's
    matched positions, and the scan cost is paid once for the batch
    instead of once per phrase. Slot numbering compacts empty tokens
    exactly as the single-phrase spelling (``phrase_matching_docs``), so
    batch==single parity is exact — pinned in tests/test_phrase.py."""
    man = _load_manifest(path)
    if not man.get("positions"):
        raise ValueError(
            f"lexical index at {path} was built without positions=True; "
            "rebuild, re-append, or run add_positions_to_index to serve "
            "phrase queries"
        )
    raw = (
        phrases.select(
            F.col("query_id").cast("long").alias("query_id"),
            F.posexplode(F.split(F.col("phrase"), " ", -1)).alias("p0", "term"),
        )
        .filter(F.col("term") != "")
    )
    w = Window.partitionBy("query_id").orderBy("p0")
    slots = raw.select(
        "query_id", (F.row_number().over(w) - 1).alias("slot"), "term"
    )
    qn = slots.groupBy("query_id").agg(F.countDistinct("slot").alias("_qn"))
    terms = [r["term"] for r in slots.select("term").distinct().collect()]
    if not terms:
        raise ValueError("phrase_matching_docs_batch needs non-empty phrases")
    pos = _read_artifact(
        spark, path, "positions", man, _POSITIONS_SCHEMA,
        ("tb", TERM_BUCKETS, _term_buckets(spark, terms)),
    ).filter(F.col("term").isin(terms))
    pos = _mask_deleted(pos, _active_tombstones(spark, path, man))
    votes = (
        pos.join(F.broadcast(slots), "term")
        .select("query_id", "doc_id", "slot", F.explode("positions").alias("p"))
        .select(
            "query_id", "doc_id", "slot",
            (F.col("p") - F.col("slot")).alias("start"),
        )
    )
    occ = (
        votes.groupBy("query_id", "doc_id", "start")
        .agg(F.countDistinct("slot").alias("_ns"))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("_ns") == F.col("_qn"))
    )
    return occ.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )


def hybrid_topk_rrf_from_index(
    spark,
    lex_path: str,
    ann_path: str,
    terms: list[str],
    query: DataFrame,
    k: int = 10,
    depth: int = 50,
    nprobe: int = 3,
    rrf_k: int = 60,
    filter_ids: DataFrame | None = None,
    auto_escalate: bool = True,
    match_all_terms: bool = False,
    phrase: str | list[str] | None = None,
    near_terms: list[str] | None = None,
    near_window: int = 8,
) -> DataFrame:
    """``retrieval.hybrid_topk_rrf`` in its SERVING shape (round-11
    verdict task 1): the BM25 leg probes the persisted lexical index
    (bucket-pruned postings — no corpus token scan) and the vector leg
    probes the persisted IVF index (cell-pruned vectors — no full
    embedding scan); the legs rank to ``depth`` and fuse by Reciprocal
    Rank Fusion exactly as the scan-based spelling. Per-query cost
    tracks matched postings + probed cells — independent of corpus
    size, the build-once-serve-many shape the other indexes already
    have.

    ``query`` is a 1-row (vec_id, embedding) frame (its vec_id is
    excluded from the vector leg, matching hybrid_topk_rrf); any other
    row count raises ``ValueError`` (a multi-row frame would fuse every
    query's neighbours into one ranking). It is evaluated exactly once:
    one collect reads the row, and the vector leg runs on a driver-local
    VALUES relation of it (same column types), so a costly caller frame
    (a Python-backed ``createDataFrame``, a filtered scan) is not
    re-run by the cell gate and again by each branch of the final plan.
    The vector
    leg is IVF-approximate at ``nprobe`` < cells — rank parity with the
    brute-force leg holds whenever the true top-``depth`` lives in the
    probed cells (the a0h oracle mirrors the IVF routing exactly, so
    the parity pinned there is EXACT, not approximate).

    Measured overlap@10 vs the exact scan spelling (round-12 task 5;
    floors asserted in tests/test_hybrid_recall.py, stress rows in
    SCALE_STRESS.json ``hybrid_batch``): sf0.01 full-corpus model,
    cells=8 — nprobe=2/3/4 = 0.77/0.80/0.83 mean over 3 queries;
    stress corpus sampled model (sample_rate=0.1, nprobe=3) — the
    pinned probe reads 0.68/0.84/0.90 at x1/x3/x10, and the serving
    default (low-coverage escalation, round 13) reads **0.94/0.98/
    0.96** on the same corpora. Approximation comes from the IVF leg
    only: the BM25 leg is probe-exact (test_lexindex.py), so overlap
    tracks whether the probed cells cover the true top-``depth``.

    ``filter_ids`` (round-12 verdict task 2): optional 1-column (doc_id)
    frame of allowed documents — "top-k among docs WHERE <metadata
    predicate>". Applied INSIDE both legs before their depth ranking
    (lexical: semi-join on the pruned postings after the df window; ANN:
    semi-join on the probed-cell candidates), so the fused top-k fills
    to ``k`` from allowed docs — a post-filter of an unfiltered fusion
    under-fills whenever the unfiltered top-k contains filtered-out
    docs. Bucket/cell partition pruning survives the filter (pinned in
    tests/test_plans_round13.py). ``auto_escalate`` forwards to the ANN
    probe's low-coverage nprobe escalation.

    ``match_all_terms`` (round-14 verdict task 6): conjunctive (AND)
    semantics on the LEXICAL leg only — its candidates narrow to docs
    matching every distinct query term (exactly ``bm25_topk_from_index``'s
    flag) before depth ranking; the ANN leg and the RRF fill are
    unchanged, so the fused top-k backfills from vector neighbors when
    few docs satisfy the conjunction (oracled by a0l_hybrid_conjunctive).

    ``phrase`` (round-15 verdict task 1 — quoted-phrase + vector
    ranking, the composition users run first once quoted search works):
    constrains BOTH legs to documents containing the exact phrase
    (``lex_path`` must be a positional index). The matching set comes
    from one extra bucket-pruned probe (``phrase_matching_docs``) and is
    ANDed into ``filter_ids``, so it applies INSIDE each leg before its
    depth ranking — the fused top-k fills to ``k`` from phrase-matching
    docs and the RRF arithmetic is unchanged (oracled by
    a0m_hybrid_phrase; bucket/cell pruning under the phrase semi-join is
    plan-pinned in tests/test_plans_round15.py). BM25 df/N/avgdl stay
    INDEX-level, exactly the ``filter_ids`` statistics contract.

    ``near_terms``/``near_window`` (round 15): the proximity twin —
    both legs constrained to docs containing all of ``near_terms``
    within a ``near_window``-token span (``proximity_matching_docs``),
    same composition mechanics as ``phrase`` (the two AND together when
    both are given). Oracled by a0m_hybrid_proximity.

    Returns (doc_id, bm25_rank, ann_rank, rrf_score) — top ``k`` by
    (rrf_score desc, doc_id); absent-leg ranks are NULL."""
    import json

    from .annindex import query_ann_index

    query = query.select("vec_id", "embedding")
    rows = query.limit(2).collect()
    if len(rows) != 1:
        raise ValueError(
            "hybrid_topk_rrf_from_index takes a 1-row query frame, got "
            + ("0 rows" if not rows else "2 or more rows")
        )
    # the embedding rides as one JSON text parameter (float reprs round-
    # trip exactly); a list parameter would cost one py4j call a value
    id_type, emb_type = (f.dataType.simpleString() for f in query.schema.fields)
    query = spark.sql(
        f"SELECT * FROM VALUES (CAST(? AS {id_type}), "
        f"from_json(?, '{emb_type}')) AS v(vec_id, embedding)",
        args=[rows[0][0], json.dumps(rows[0][1])],
    )
    # positional constraints (round 15) — each is one extra bucket-
    # pruned probe whose matching set ANDs into filter_ids, applied
    # inside both legs before depth ranking; they compose with each
    # other and with a caller-supplied filter_ids ("quoted phrase AND
    # these terms near each other AND tenant slice")
    for constraint in (
        (lambda: phrase_matching_docs(spark, lex_path, phrase))
        if phrase is not None
        else None,
        (
            lambda: proximity_matching_docs(
                spark, lex_path, near_terms, window=near_window
            )
        )
        if near_terms is not None
        else None,
    ):
        if constraint is None:
            continue
        pm = constraint().select("doc_id")
        if filter_ids is not None:
            allowed = filter_ids.select(
                F.col(filter_ids.columns[0]).cast("long").alias("doc_id")
            )
            pm = pm.join(allowed, "doc_id", "left_semi")
        filter_ids = pm
    w_lex = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex = (
        bm25_topk_from_index(
            spark, lex_path, terms, k=depth, filter_ids=filter_ids,
            match_all_terms=match_all_terms,
        )
        .withColumn("bm25_rank", F.row_number().over(w_lex))
        .select("doc_id", "bm25_rank")
    )
    # the stored probe already ranks with the index's tie discipline
    # (row_number over unrounded score desc, neighbor_id) — reuse it
    vec = query_ann_index(
        spark, query, ann_path, k=depth, nprobe=nprobe,
        auto_escalate=auto_escalate, filter_ids=filter_ids,
    ).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("ann_rank")
    )
    rrf = F.round(
        F.coalesce(1.0 / (F.lit(rrf_k) + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("ann_rank")), F.lit(0.0)),
        6,
    )
    return (
        lex.join(vec, "doc_id", "full_outer")
        .select("doc_id", "bm25_rank", "ann_rank", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(k)
    )


def hybrid_topk_rrf_batch(
    spark,
    lex_path: str,
    ann_path: str,
    query_terms: DataFrame,
    query_vecs: DataFrame,
    k: int = 10,
    depth: int = 50,
    nprobe: int = 3,
    rrf_k: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
    filter_ids: DataFrame | None = None,
    filter_pairs: DataFrame | None = None,
    auto_escalate: bool = True,
    match_all_terms: bool = False,
    query_phrases: DataFrame | None = None,
    query_near_terms: DataFrame | None = None,
    near_window: int = 8,
) -> DataFrame:
    """Batch-of-queries hybrid retrieval (round-11 verdict task 7) — the
    serving shape: a QUERIES DataFrame in, per-query fused top-k out,
    both legs from the persisted indexes.

    ``query_terms``: (query_id, term) — one row per query keyword.
    ``query_vecs``: (vec_id, embedding) — the queries' vectors
    (vec_id == query_id; each query's own vec_id is excluded from its
    vector leg, as in the single-query spelling).

    Leg shapes: the BM25 leg prunes the postings to the UNION of the
    batch's term buckets (one driver-side collect of the distinct query
    terms — bounded by the batch's own vocabulary, the same gate class
    as the single-query bucket list), computes per-term df ONCE over the
    pruned postings (df is a corpus fact, not a per-query one — joining
    queries first would double-count docs for shared terms), scores per
    (query_id, doc) and ranks to ``depth`` with a window PARTITIONED BY
    query_id. The vector leg is one ``query_ann_index`` batch probe —
    cell-pruned to the union of the batch's probe lists. Fusion is a
    per-(query_id, doc_id) full outer join over ≤ 2·depth rows per
    query. Nothing anywhere scales with corpus size beyond the matched
    postings and probed cells.

    ``filter_ids``: one allowed-doc set shared by the whole batch (the
    serving shape for a tenant- or corpus-slice filter), applied inside
    both legs before ranking exactly as in the single-query spelling.
    ``filter_pairs`` (round 13): a (query_id, doc_id) frame of allowed
    pairs — PER-QUERY filters for a multi-tenant batch, applied inside
    both legs before their per-query depth ranking (lexical: semi-join
    on the scored (query_id, doc_id) stream after the batch-level df;
    ANN: on the probed candidates), so each query's fused top-k fills
    from ITS allowed slice; composes with ``filter_ids`` (global ANDs
    with per-query). ``auto_escalate`` forwards to the ANN probe's
    low-coverage escalation.

    ``query_phrases`` (round-15 verdict tasks 1+5): a (query_id, phrase)
    frame — a batch of QUOTED searches. Every query in the batch must
    appear (a partially-phrased batch is ambiguous about intent and is
    rejected loudly); the matching sets come from ONE batch positional
    probe (``phrase_matching_docs_batch`` — positions scanned once for
    the whole batch) and are ANDed into ``filter_pairs``, so each
    query's both legs rank only its phrase-matching docs and the fused
    top-k fills from them. Batch==single parity is exact (pinned in
    tests/test_phrase.py); per-query RRF arithmetic unchanged.
    ``query_near_terms``/``near_window``: the proximity twin — one
    (query_id, term) frame, one batch positional probe
    (``proximity_matching_docs_batch``), same full-coverage contract;
    ANDs with ``query_phrases`` when both are given.

    Returns (query_id, doc_id, bm25_rank, ann_rank, rrf_score) — top
    ``k`` per query by (rrf_score desc, doc_id); absent-leg ranks NULL."""
    from .annindex import query_ann_index

    if query_phrases is not None:
        n_q = query_terms.select("query_id").distinct().count()
        n_p = query_phrases.select("query_id").distinct().count()
        covered = (
            query_terms.select("query_id")
            .distinct()
            .join(query_phrases.select("query_id").distinct(), "query_id", "left_semi")
            .count()
        )
        if covered < n_q or n_p != covered:
            raise ValueError(
                "query_phrases must carry exactly one phrase per batch "
                f"query ({n_q} queries, {n_p} phrases, {covered} covered)"
            )
        pm = phrase_matching_docs_batch(spark, lex_path, query_phrases).select(
            "query_id", "doc_id"
        )
        if filter_pairs is not None:
            qc, dc = filter_pairs.columns[:2]
            pm = pm.join(
                filter_pairs.select(
                    F.col(qc).cast("long").alias("query_id"),
                    F.col(dc).cast("long").alias("doc_id"),
                ),
                ["query_id", "doc_id"],
                "left_semi",
            )
        filter_pairs = pm
    if query_near_terms is not None:
        # the proximity twin of query_phrases (round 15): same
        # full-coverage contract, same one-batch-probe composition into
        # filter_pairs (ANDs with a phrase batch when both are given)
        n_q = query_terms.select("query_id").distinct().count()
        covered = (
            query_terms.select("query_id")
            .distinct()
            .join(
                query_near_terms.select("query_id").distinct(),
                "query_id",
                "left_semi",
            )
            .count()
        )
        n_p = query_near_terms.select("query_id").distinct().count()
        if covered < n_q or n_p != covered:
            raise ValueError(
                "query_near_terms must carry terms for every batch "
                f"query ({n_q} queries, {n_p} constrained, {covered} covered)"
            )
        nm = proximity_matching_docs_batch(
            spark, lex_path, query_near_terms, window=near_window
        ).select("query_id", "doc_id")
        if filter_pairs is not None:
            qc, dc = filter_pairs.columns[:2]
            nm = nm.join(
                filter_pairs.select(
                    F.col(qc).cast("long").alias("query_id"),
                    F.col(dc).cast("long").alias("doc_id"),
                ),
                ["query_id", "doc_id"],
                "left_semi",
            )
        filter_pairs = nm
    man = _load_manifest(lex_path)
    n_docs, sum_dl = _live_stats(man)
    if n_docs == 0:
        raise ValueError(f"lexical index at {lex_path} is empty")
    avgdl = float(sum_dl) / float(n_docs)
    terms = [
        r["term"]
        for r in query_terms.select("term").distinct().collect()
    ]
    post = _read_artifact(
        spark, lex_path, "postings", man, _POSTINGS_SCHEMA,
        ("tb", TERM_BUCKETS, _term_buckets(spark, terms)),
    ).filter(F.col("term").isin(terms))
    # tombstone mask before ANY statistics (deleted docs are gone from
    # df too); then df over the UNFILTERED-by-metadata pruned postings —
    # index-level term rarity, same contract as the single-query path
    post = _mask_deleted(post, _active_tombstones(spark, lex_path, man))
    dfx = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if filter_ids is not None:
        allowed = (
            filter_ids.select(
                F.col(filter_ids.columns[0]).cast("long").alias("doc_id")
            ).distinct()
        )
        post = post.join(allowed, "doc_id", "left_semi")
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
    )
    aggs = [F.round(F.sum(idf * norm), 4).alias("score")]
    if match_all_terms:
        aggs.append(F.countDistinct("term").alias("_nt"))
    scored = (
        query_terms.select("query_id", "term")
        .join(post, "term")
        .join(F.broadcast(dfx), "term")
        .groupBy("query_id", "doc_id")
        .agg(*aggs)
    )
    if match_all_terms:
        # conjunctive per query (round-14 task 6): a doc ranks for a
        # query only when it matched EVERY distinct term of THAT query —
        # one filter against the batch-sized per-query term counts, no
        # extra shuffle of the postings
        qn = query_terms.groupBy("query_id").agg(
            F.countDistinct("term").alias("_qn")
        )
        scored = (
            scored.join(F.broadcast(qn), "query_id")
            .filter(F.col("_nt") == F.col("_qn"))
            .drop("_nt", "_qn")
        )
    if filter_pairs is not None:
        qc, dc = filter_pairs.columns[:2]
        _pairs = filter_pairs.select(
            F.col(qc).cast("long").alias("query_id"),
            F.col(dc).cast("long").alias("doc_id"),
        ).distinct()
        scored = scored.join(_pairs, ["query_id", "doc_id"], "left_semi")
    w_lex = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    lex = (
        scored.withColumn("bm25_rank", F.row_number().over(w_lex))
        .filter(F.col("bm25_rank") <= depth)
        .select("query_id", "doc_id", "bm25_rank")
    )
    vec = query_ann_index(
        spark, query_vecs, ann_path, k=depth, nprobe=nprobe,
        auto_escalate=auto_escalate, filter_ids=filter_ids,
        filter_pairs=filter_pairs,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("ann_rank"),
    )
    rrf = F.round(
        F.coalesce(1.0 / (F.lit(rrf_k) + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("ann_rank")), F.lit(0.0)),
        6,
    )
    w_fused = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        lex.join(vec, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id", "doc_id", "bm25_rank", "ann_rank", rrf.alias("rrf_score")
        )
        .withColumn("rk", F.row_number().over(w_fused))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
