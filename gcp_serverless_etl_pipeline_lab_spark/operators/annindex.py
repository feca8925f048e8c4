"""Persisted IVF index over an embedding column — the VECTOR twin of the
text incremental index (operators/incremental.py).

``ivf_trained_topk`` trains + assigns per invocation; the operating mode
for a served corpus is train ONCE, assign ONCE, store the vectors
BUCKETED BY CELL, and let every query batch read only the cells it
probes:

- ``build_ann_index`` fits the deterministic k-means coarse quantizer
  (or accepts a prior model), assigns every vector map-side against the
  literal centroids, and writes ``vectors/`` in the shared bucket-range
  layout (``incremental._write_ranged``) with the cell as the bucket:
  each generation's vectors land in range dirs ``r=<cell * g //
  cells>``, one file per non-empty range sorted by cell, where the
  granularity ``g`` is sized to the generation's vector count — one
  file for a nightly append, one dir per cell for a large build. The
  serialized model (k x dim rounded floats — JSON round-trips them
  exactly) and each generation's ``g``, non-empty ranges, per-cell
  counts and the embedding type its vectors are read back with go to
  ``_MANIFEST.json``;
- ``query_ann_index`` rebuilds the probe list from the manifest model
  (no training, no corpus scan), collects the <= ``cells``-value probed
  cell list driver-side (a bounded gate, same class as the text index's
  gram-bucket gate), and scans ONLY the ranges holding those cells, by
  path, with the cell filter kept — per-batch cost tracks |queries| x
  nprobe x cell size, never corpus size.

Output parity: ``query_ann_index(spark, queries, path, k, nprobe)`` is
row-identical to ``ivf_trained_topk(corpus, queries, dim, k, nprobe,
model=<the stored model>)`` — same assignment expression, same probe
ranking, same tie rules (pinned by tests/test_ann_index.py and the
``a0e_ann_index_query`` oracle query).

At 100 TB: the cell is the pruning unit (raise ``cells`` so each holds
many files); ``append_ann_index`` adds vectors WITHOUT
retraining — new arrivals are assigned against the STORED model and
land as an immutable generation dir committed by one atomic manifest
replace, the same crash/idempotence discipline as the text index's
``append_to_index`` (orphans invisible, ``increment_id`` replays are
no-ops). The model itself is pinned per index: appending changes which
vectors each cell holds, never the cell geometry, so
query-after-append == query-against-rebuild WITH THE SAME MODEL
(pinned by tests and the ``a0f_ann_index_append`` oracle).

Lifecycle beyond append (round 10): ``compact_ann_index`` folds the
accumulated generations back to one scan (probe cost flat in nights
elapsed), ``vacuum_index`` (shared with the text index) sweeps orphaned
``vectors/gen=N`` dirs and unlisted pre-compaction generations, every
append records its quantization error so ``ann_drift_report`` can flag
when the pinned centroids stop fitting the data, and
``rebuild_ann_index`` performs the recommended retrain entirely from
the stored vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.local_frames import literal_frame

from .incremental import (
    _MANIFEST_VERSION,
    _granularity,
    _load_manifest,
    _read_artifact,
    _read_gen,
    _write_manifest,
    _write_ranged,
)
from .similarity import (
    _assign_cell,
    _dot,
    _rank_topk,
    _sq_dist_expr,
    kmeans_centroids,
)

# the ANN membership artifact (round-12 verdict task 6): one row per
# indexed vector, bucketed by vb = pmod(vec_id, VEC_BUCKETS) — the
# vector twin of the lexical doclist. "Are these vec_ids indexed?"
# probes read only the asked ids' buckets of this narrow artifact,
# never the cell-bucketed vectors/ (whose rows carry the embedding
# payload and whose CELL bucketing prunes nothing for an id lookup —
# every cell would scan). Feeds the nightly hybrid-consistency check at
# consistency_scope="full", whose cost now tracks asked-set size.
VEC_BUCKETS = 64
_VECLIST_SCHEMA = "vec_id bigint, vb int"


def _vb(col: str):
    return F.pmod(F.col(col), F.lit(VEC_BUCKETS)).cast("int")

# an append whose mean assignment distance exceeds this multiple of the
# build-time baseline is drifting away from the pinned centroids —
# recall against it degrades and a retrain (rebuild_ann_index with a
# fresh model) is recommended
DRIFT_REBUILD_RATIO = 2.0

# a coarse quantizer trained on less than this fraction of the corpus
# sits on noisier centroid estimates: cell boundaries land off the true
# density ridges, the nearest-probed cells cover less of the true
# top-depth, and served recall quietly sags (measured: the stress
# corpus's sample_rate=0.1 model served 0.68 overlap@10 at nprobe=3 —
# below the 0.75 contract floor the full-corpus model clears at 0.80;
# SCALE_STRESS.json hybrid_batch). Serving compensates by probing more
# cells for such models (see _effective_nprobe) — wider probes recover
# the coverage the noisier centroids lost, at proportionally higher
# probe cost; a full-coverage retrain is the permanent fix.
LOW_COVERAGE_SAMPLE_RATE = 0.5
LOW_COVERAGE_NPROBE_FACTOR = 2


def _effective_nprobe(man: dict, nprobe: int, auto_escalate: bool) -> int:
    """The nprobe a probe should ACTUALLY use against this index: the
    caller's ask, escalated x``LOW_COVERAGE_NPROBE_FACTOR`` (capped at
    the cell count) when the manifest records a training sample rate
    below ``LOW_COVERAGE_SAMPLE_RATE`` (round-12 verdict task 1 — the
    serving path must KNOW the stored model is sample-trained instead of
    silently serving degraded recall). Indexes built from a
    caller-supplied model carry ``train_sample_rate=None`` (coverage
    unknown) and are never escalated — no signal is not a low-coverage
    signal, the same rule the drift report applies."""
    sr = man.get("train_sample_rate")
    if auto_escalate and sr is not None and float(sr) < LOW_COVERAGE_SAMPLE_RATE:
        return min(len(man["model"]), nprobe * LOW_COVERAGE_NPROBE_FACTOR)
    return nprobe


def _total_cell_counts(man: dict) -> dict:
    """Per-cell occupancy summed across the listed generations (round
    14); a generation without ``cell_counts`` (written before round 14)
    raises — rebuild such an index. Observability: cell skew (a
    mega-cell forming under appends, a starved cell) is readable from
    the manifest without scanning the index. This was also the instrument for the task-8 selective-
    escalation experiment — whose measured rejection is documented at
    the probe construction in ``query_ann_index``. Tombstoned vectors
    stay counted until their fold retires them (counts are occupancy
    bookkeeping, not membership truth)."""
    totals: dict[int, int] = {}
    for g in man["generations"]:
        if "cell_counts" not in g:
            raise ValueError(
                f"ANN index generation {g['gen']} records no cell_counts "
                "(written before round 14); rebuild the index with "
                "build_ann_index"
            )
        for c, n in g["cell_counts"].items():
            totals[int(c)] = totals.get(int(c), 0) + int(n)
    return totals


class ModelEpochChangedError(RuntimeError):
    """A retrain flipped the index's coarse quantizer between an
    append's model read and its manifest commit — the appended vectors
    are assigned under superseded centroids, so the append aborted
    (its generation dir stays an orphan for ``vacuum_index``). Retrying
    the append re-reads the NEW model and re-assigns. A dedicated type
    (round-11 advice) so retry logic catches the CLASS, not a message
    substring that a reworded error would silently stop matching."""


def _mean_assign_msd(df: DataFrame, model) -> tuple[float | None, int]:
    """(mean squared distance of each vector to its NEAREST pinned
    centroid — the quantization error the IVF probe's recall rides on —,
    row count). One partial-aggregated pass, single-row collect (bounded
    gate); the count sizes the generation's cell ranges."""
    darr = "array(" + ", ".join(_sq_dist_expr("embedding", c) for _, c in model) + ")"
    row = df.select(
        F.avg(F.expr(f"array_min({darr})")).alias("msd"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return None if row["msd"] is None else float(row["msd"]), int(row["n"])


def build_ann_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    cells: int = 8,
    iters: int = 2,
    sample_rate: float = 0.1,
    model: list[tuple[int, list[float]]] | None = None,
) -> None:
    """Train (or take) the coarse quantizer and persist the cell-assigned
    corpus under ``path``. ``sample_rate`` forwards to training (0.1 =
    the scale-safe hash-Bernoulli sample; 1.0 = the full-corpus model the
    DuckDB oracles mirror)."""
    trained_sr: float | None = None
    if model is None:
        model = kmeans_centroids(
            corpus, dim, k=cells, iters=iters, sample_rate=sample_rate
        )
        trained_sr = float(sample_rate)
    baseline, n = _mean_assign_msd(corpus, model)
    layout = _write_vectors_gen(corpus, path, 0, model, n)
    _write_manifest(
        path,
        {
            "version": _MANIFEST_VERSION,
            "dim": dim,
            "model": [[cid, vec] for cid, vec in model],
            # training coverage (round-12 verdict task 1): what fraction
            # of the corpus the quantizer saw. None = caller-supplied
            # model, coverage unknown. Serving reads this to escalate
            # nprobe for sample-trained models (_effective_nprobe).
            "train_sample_rate": trained_sr,
            # bumped by every retrain (rebuild_ann_index) — an append's
            # locked commit rejects a manifest whose epoch moved after it
            # read the model, so vectors assigned under stale centroids
            # can never land behind a retrain's back
            "model_epoch": 0,
            # per-generation cell occupancy (round-14 task 8): the
            # selective-escalation probe reads these driver-side to
            # decide WHICH low-coverage queries escalate
            "generations": [{"gen": 0, "increment_id": None, **layout}],
            # build-time quantization error — the drift baseline every
            # append's own error is compared against (ann_drift_report)
            "baseline_msd": baseline,
        },
    )


def _write_vectors_gen(
    vectors: DataFrame, path: str, gen: int, model, rows: int
) -> dict:
    """Write one vector generation of ``rows`` vectors, assigned to the
    model's cells, plus its veclist, and return the generation's manifest
    fields: ``cell_counts`` (round-14 task 8 — the selective-escalation
    signal, observed during the write, so the counts are exactly what
    probes will scan) and the layout fields ``{"g", "ranges"}``."""
    g = _granularity(rows, VEC_BUCKETS)
    assigned = _assign_cell(
        vectors.select(
            F.col("vec_id").cast("long").alias("vec_id"), "embedding"
        ),
        "embedding",
        model,
    )
    cell_counts, ranges = _write_cells(assigned, path, gen, model, g)
    return {
        "cell_counts": cell_counts,
        "embedding_type": _embedding_type(assigned),
        "g": g,
        "ranges": {
            "vectors": ranges,
            "veclist": _write_veclist_gen(vectors, path, gen, g),
        },
    }


def _embedding_type(vectors: DataFrame) -> str:
    """The embedding column's type, recorded per generation: its vectors
    are read back with it, so no read infers a schema with a job, and
    generations appended with another element type (float vs double)
    each read as written."""
    return vectors.schema["embedding"].dataType.simpleString()


def _write_cells(
    assigned: DataFrame, path: str, gen: int, model, g: int
) -> tuple[dict, list[int]]:
    """The cell-assigned vectors of one generation, bucketed by cell
    (``len(model)`` buckets; a null embedding's sentinel cell -1 gets its
    own range), and their per-cell row counts, observed during the
    write."""
    cells = [int(cid) for cid, _ in model] + [-1]
    ranges, got = _write_ranged(
        assigned.select("vec_id", "embedding", "cell"),
        path, "vectors", gen, "cell", len(model), g,
        [F.count_if(F.col("cell") == c).alias(f"cell{c}") for c in cells],
    )
    counts = {str(c): int(got.get(f"cell{c}") or 0) for c in cells}
    return {c: n for c, n in counts.items() if n}, ranges


def _write_veclist_gen(vectors: DataFrame, path: str, gen: int, g: int) -> list[int]:
    """Membership rows (vec_id, vb) for one slice — written alongside
    every vector generation (build/append/rebuild/compact), committed by
    the same manifest flip that lists the generation."""
    return _write_ranged(
        vectors.select(F.col("vec_id").cast("long").alias("vec_id"))
        .distinct()
        .withColumn("vb", _vb("vec_id")),
        path, "veclist", gen, "vb", VEC_BUCKETS, g,
    )[0]


def append_ann_index(
    spark,
    increment: DataFrame,
    path: str,
    increment_id: str | None = None,
) -> bool:
    """Add vectors to a stored index WITHOUT retraining: assign the
    increment against the manifest model and commit it as a new
    generation (atomic manifest replace; ``increment_id`` replays are
    committed no-ops; a crash before the commit leaves an orphan no
    query reads). Cost is one map-side assignment pass over the
    INCREMENT. An empty increment is a no-op (returns False) — an empty
    generation dir would carry no schema to read back.

    Concurrent appenders are safe — same claim+locked-commit discipline
    as the text index (operators/incremental.append_to_index), with no
    cap-consistency relaxation to document: the model is pinned, so
    concurrent assignments never interact.

    Concurrent RETRAINS are fenced from both sides: an append committing
    before ``rebuild_ann_index``'s manifest flip makes the retrain abort
    (its generation-set check), and an append that read the model BEFORE
    the flip but commits AFTER it is rejected here by the manifest's
    ``model_epoch`` (the retrain bumps it) — its vectors were assigned
    under the superseded centroids, and committing them would leave
    queries routing by the new model silently missing them. The raise is
    retriable: a re-run re-reads the new model and re-assigns."""
    import os

    from .incremental import _GENCLAIM_PREFIX, _claim_generation, _manifest_lock

    man = _load_manifest(path)
    applied = {
        g.get("increment_id") for g in man["generations"]
    } | set(man.get("compacted_increments", []))
    if increment_id is not None and increment_id in applied:
        return False
    _, model = _model_of(man)
    model_epoch = int(man.get("model_epoch", 0))
    # the increment's own quantization error against the PINNED model —
    # one aggregate over the increment (cost tracks increment size),
    # recorded with the generation so ann_drift_report can flag when the
    # data has drifted away from the centroids (recall decays silently
    # otherwise; the model is never retrained by appends). Its row count
    # is the emptiness gate and sizes the generation's ranges.
    drift_msd, n = _mean_assign_msd(increment, model)
    if n == 0:
        return False
    gen = _claim_generation(path)  # manifests share the generations shape
    layout = _write_vectors_gen(increment, path, gen, model, n)
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
        if int(cur.get("model_epoch", 0)) != model_epoch:
            # a retrain flipped the model between our model read and this
            # commit: our vectors are assigned under superseded centroids
            # and queries would route by the NEW model straight past them.
            # The written generation stays an orphan for vacuum_index.
            raise ModelEpochChangedError(
                f"model epoch changed during append at {path} "
                f"(read {model_epoch}, now {cur.get('model_epoch', 0)}); "
                "retry the append to re-assign against the new model"
            )
        if any(g["gen"] == gen for g in cur["generations"]):
            # stolen claim (vacuumed past the horizon) already committed
            # this number — a second commit would double-read gen={gen}
            raise RuntimeError(
                f"generation {gen} already committed at {path}; "
                "claim was lost mid-append — retry the append"
            )
        cur["generations"].append(
            {
                "gen": gen,
                "increment_id": increment_id,
                "drift_msd": drift_msd,
                **layout,
            }
        )
        _write_manifest(path, cur)
    try:
        os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
    except OSError:
        pass
    return True


def load_ann_model(path: str) -> tuple[int, list[tuple[int, list[float]]]]:
    """(dim, centroid model) from the index manifest."""
    return _model_of(_load_manifest(path))


def _model_of(man: dict) -> tuple[int, list[tuple[int, list[float]]]]:
    return int(man["dim"]), [
        (int(cid), [float(x) for x in vec]) for cid, vec in man["model"]
    ]


def _read_vectors(
    spark, path: str, man: dict, cells: list[int] | None = None
) -> DataFrame:
    """Union of the committed vector generations (manifest-listed only —
    crashed appends' orphans are never read), or with ``cells`` only the
    cell ranges holding those cells. Each generation is read with the
    embedding type its entry records, so no read infers a schema with a
    job, and the union widens mixed element types as schema inference
    did. Each slice carries its generation number as ``_gen`` (a
    literal) so tombstone masking can scope deletes to the generations
    they covered (round 13 — a vec_id re-appended after its delete lands
    in a higher generation and serves unmasked)."""
    out = None
    for ent in man["generations"]:
        part = _read_artifact(
            spark, path, "vectors", dict(man, generations=[ent]),
            f"vec_id bigint, embedding {ent['embedding_type']}, cell int",
            None if cells is None else ("cell", len(man["model"]), cells),
        )
        out = part if out is None else out.unionByName(part)
    return out


def _active_vec_tombstones(spark, path: str, man: dict) -> DataFrame | None:
    """(vec_id, max_gen) union of the listed tombstone generations, or
    None — the ANN twin of ``lexindex._active_tombstones``; the frame is
    delete-volume-sized (deletes are rare) so the mask join broadcasts."""
    out = None
    for t in man.get("tombstones", []):
        part = _read_gen(spark, path, "tombstones", t, "vec_id bigint, vb int")
        if part is None:
            continue
        part = part.select("vec_id", F.lit(int(t["max_gen"])).alias("max_gen"))
        out = part if out is None else out.unionByName(part)
    if out is None:
        return None
    return out.groupBy("vec_id").agg(F.max("max_gen").alias("max_gen"))


def _mask_deleted_vecs(df: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Drop rows whose (vec_id, _gen) a tombstone covers."""
    if tomb is None:
        return df
    return df.join(
        tomb,
        (df["vec_id"] == tomb["vec_id"]) & (df["_gen"] <= tomb["max_gen"]),
        "left_anti",
    )


def delete_from_ann_index(
    spark,
    ids: DataFrame,
    path: str,
    increment_id: str | None = None,
) -> bool:
    """Remove vectors from a stored index WITHOUT rewriting the cells
    (round 13 — the vector side of takedown; when a doc leaves a hybrid
    deployment, delete it from the ANN index FIRST, then the lexical
    index, so the serving invariant ANN ⊆ lexical-doclist holds at every
    point — the reverse of the append order, for the same reason): the
    asked ids resolve against current membership, one vec-bucketed
    ``tombstones/gen=N`` artifact plus an atomic manifest append commits
    the delete, and every probe masks covered rows — query-after-delete
    is row-identical to querying an index holding only the survivors
    under the SAME pinned model (oracled by a0k_ann_delete_query).
    Compaction and retrain apply tombstones physically and retire them.
    Generation-scoped like the lexical twin (re-appends serve);
    ``increment_id`` replays are committed no-ops; deleting non-members
    is a no-op that does not consume the id."""
    import os

    from .incremental import _GENCLAIM_PREFIX, _claim_generation, _manifest_lock

    man = _load_manifest(path)
    applied = {
        t.get("increment_id") for t in man.get("tombstones", [])
    } | set(man.get("applied_deletes", []))
    if increment_id is not None and increment_id in applied:
        return False
    want = ids.select(
        F.col(ids.columns[0]).cast("long").alias("vec_id")
    ).distinct()
    member = indexed_vec_ids(spark, path, want)
    d_n = member.count()
    if d_n == 0:
        return False
    gen = _claim_generation(path)
    granularity = _granularity(d_n, VEC_BUCKETS)
    ranges = _write_ranged(
        member.withColumn("vb", _vb("vec_id")),
        path, "tombstones", gen, "vb", VEC_BUCKETS, granularity,
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
            # concurrent-append fence (round-14 advice): membership was
            # resolved against ``man``; stamping max_gen from ``cur``
            # would cover an append the probe never saw, silently
            # masking a concurrently (re-)appended vector. Same fence
            # as compact/retrain; the tombstone dir is a vacuum orphan.
            raise RuntimeError(
                f"concurrent append landed during delete from {path}; "
                "re-run delete_from_ann_index"
            )
        cur.setdefault("tombstones", []).append(
            {
                "gen": gen,
                "increment_id": increment_id,
                "max_gen": max(g["gen"] for g in cur["generations"]),
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


def indexed_vec_ids(
    spark,
    path: str,
    ids: DataFrame,
    exclude_increment_id: str | None = None,
    generations: list[dict] | None = None,
) -> DataFrame:
    """Which of ``ids`` (a 1-column (vec_id) frame) are already in the
    ANN index — the vector twin of ``lexindex.indexed_doc_ids``, reading
    only the veclist ranges holding the asked ids' ``vb`` buckets (the
    bucket list is a ≤VEC_BUCKETS-value driver-side collect over the
    IDS — bounded gate), never the embedding-carrying vectors/. Probe
    cost tracks |ids| x bucket share, not index size.

    ``exclude_increment_id`` skips the generation that increment itself
    committed (the crash-replay contract, same as the lexical twin).
    ``generations`` restricts the probe to an explicit entry subset
    (the nightly consistency check scopes to tonight's generations);
    entries must come from this index's manifest."""
    man = _load_manifest(path)
    gens = [
        g
        for g in (generations if generations is not None else man["generations"])
        if exclude_increment_id is None
        or g.get("increment_id") != exclude_increment_id
    ]
    want = ids.select(F.col(ids.columns[0]).cast("long").alias("vec_id")).distinct()
    if not gens:
        return want.limit(0)
    vbs = [r["vb"] for r in want.select(_vb("vec_id").alias("vb")).distinct().collect()]
    vl = _read_artifact(
        spark, path, "veclist", dict(man, generations=gens), _VECLIST_SCHEMA,
        ("vb", VEC_BUCKETS, vbs),
    )
    # deleted vectors are not members; the mask is generation-scoped so
    # a re-appended vec_id's new row stays a member (round 13)
    vl = _mask_deleted_vecs(vl, _active_vec_tombstones(spark, path, man))
    return want.join(vl.select("vec_id"), "vec_id", "left_semi")


def query_ann_index(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 3,
    auto_escalate: bool = True,
    filter_ids: DataFrame | None = None,
    filter_pairs: DataFrame | None = None,
) -> DataFrame:
    """Top-k per query against the stored index: probe list from the
    manifest model, a scan of the ranges holding the probed cells only
    (every committed generation; appended vectors are served the moment
    their manifest commit lands).

    ``auto_escalate`` (default on): when the manifest records a training
    sample rate below ``LOW_COVERAGE_SAMPLE_RATE``, probe
    x``LOW_COVERAGE_NPROBE_FACTOR`` more cells (capped at the cell
    count) — a sample-trained quantizer's cells cover less of the true
    top-k, and without this the serving path has no idea the stored
    model is low-coverage (round-12 verdict task 1: measured 0.68
    overlap@10 at nprobe=3 under a 0.1-sampled model vs the 0.75
    contract floor; escalation restores it — tests/test_hybrid_recall.py
    pins the sampled path, SCALE_STRESS.json records the cost).
    Escalation is deliberately whole-batch: round-14 task 8's
    per-query selective variant was implemented, measured, and REJECTED
    — the inline comment at the probe construction records the numbers
    (no cheap per-query signal separates the queries that lose recall
    under a low-coverage model). Pass False to probe exactly ``nprobe``
    cells regardless.

    ``filter_ids`` (round-12 verdict task 2): optional 1-column
    (doc_id) frame of ALLOWED neighbors — metadata-filtered search
    ("top-k among docs WHERE lang='en'"). Applied to the probed-cell
    candidates BEFORE ranking, so the top-k is fully filled from the
    allowed set rather than post-filtered down from an unfiltered top-k;
    cell pruning is untouched (the filter is a semi-join on the
    candidate stream, not a scan predicate). Compute the frame by
    filtering whatever metadata table owns the predicate — its parquet
    scan keeps predicate pushdown, and candidates join on the narrow id
    column only.

    ``filter_pairs`` (round 13): a (query_id, doc_id) frame of allowed
    pairs — PER-QUERY filters for a multi-tenant batch (each query sees
    its own allowed slice). Applied to the probed candidates on BOTH
    keys before ranking; composes with ``filter_ids`` (a global filter
    ANDs with the per-query one)."""
    from pyspark.sql import Window

    man = _load_manifest(path)
    dim, model = _model_of(man)
    nprobe_eff = _effective_nprobe(man, nprobe, auto_escalate)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    dist_cols = [
        F.expr(_sq_dist_expr("qe", cvec)).alias(f"d{cid}") for cid, cvec in model
    ]
    stack = ", ".join(f"{cid}, d{cid}" for cid, _ in model)
    w = Window.partitionBy("query_id").orderBy("dist", "cell")
    # Escalation stays WHOLE-BATCH deliberately (round-14 verdict task 8
    # proposed escalating only queries whose probed-cell mass is low —
    # implemented, MEASURED, and rejected): on the sampled-model corpus
    # the per-query signals a probe can afford are non-predictive of
    # which queries lose recall — measured base-nprobe mass 0.512-0.566
    # covered pinned overlap@10 0.50 (worst) AND 1.00 (best), the
    # mass-selective probe escalated ZERO of the floor suite's queries
    # (mean stayed at the pinned 0.70 < the 0.75 contract), and the
    # routing-ambiguity margin d3/d4 read 0.89-0.99 for good and bad
    # queries alike — high-dimensional distance concentration flattens
    # every cheap router-side statistic. The B=1000 escalated surcharge
    # (1.6x, SCALE_STRESS hybrid_batch) is the documented price of
    # correct recall under a low-coverage model; a full-coverage retrain
    # retires it. The per-generation cell_counts the experiment added
    # stay recorded (occupancy observability — mega-cell skew is visible
    # from the manifest without scanning the index).
    probes = (
        q.select("query_id", "qe", *dist_cols)
        .select(
            "query_id",
            "qe",
            F.expr(f"stack({len(model)}, {stack}) AS (cell, dist)"),
        )
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= nprobe_eff)
        .select("query_id", "qe", "cell")
    )
    # bounded driver-side gate (<= len(model) values): the scan below
    # reads only the ranges holding the probed cells, by path, and keeps
    # the cell filter
    probed = [r["cell"] for r in probes.select("cell").distinct().collect()]
    vec = _read_vectors(spark, path, man, probed)
    # tombstone mask (round-13 deletes) — deleted vectors never rank
    vec = _mask_deleted_vecs(vec, _active_vec_tombstones(spark, path, man))
    if filter_ids is not None:
        # allowed-set semi-join on the probed candidates — BEFORE the
        # ranking window, so every returned row is allowed AND the top-k
        # is filled to k from the allowed population (a post-filter would
        # under-fill). Narrow id column only; AQE picks broadcast when
        # the allowed set is small and degrades to a shuffled semi-join
        # when it isn't (the same no-forced-broadcast rule as the
        # capped-gram sets).
        allowed = (
            filter_ids.select(
                F.col(filter_ids.columns[0]).cast("long").alias("vec_id")
            ).distinct()
        )
        vec = vec.join(allowed, "vec_id", "left_semi")
    scored = (
        vec.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("ce"),
            "cell",
        )
        .join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score_raw", _dot("qe", "ce", dim))
    )
    if filter_pairs is not None:
        qc, dc = filter_pairs.columns[:2]
        pairs = filter_pairs.select(
            F.col(qc).cast("long").alias("query_id"),
            F.col(dc).cast("long").alias("neighbor_id"),
        ).distinct()
        scored = scored.join(pairs, ["query_id", "neighbor_id"], "left_semi")
    return _rank_topk(scored, k)


def compact_ann_index(
    spark, path: str, max_generations_to_fold: int | None = None
) -> int:
    """Fold all committed vector generations into ONE — the maintenance
    step that completes the ANN lifecycle (build -> append* -> compact),
    mirroring the text index's compact_index. A year of nightly appends
    means ~365 generation dirs; ``_read_vectors`` unions one parquet scan
    per generation, so probe plan size and small-file count grow linearly
    with nights elapsed until this folds them back to one scan.

    The vectors are already cell-assigned and the model is PINNED, so
    compaction is a pure rewrite — no re-assignment, no training, no
    driver data: one shuffle-by-cell of the unioned generations into a
    fresh cell-bucketed generation dir. Query-after-compact is
    row-identical to query-before (pinned by tests and the
    ``a0g_ann_index_compact`` oracle).

    Commit discipline matches the text index exactly: fresh claimed
    generation number, artifacts first, atomic manifest flip under the
    lock, ABORT if a concurrent append committed while folding (the
    folded dir would silently drop that generation — the orphan is
    vacuum's business, the caller re-runs), old generation dirs LEFT on
    disk for in-flight readers until ``vacuum_index``'s age-based sweep.
    Applied increment_ids move into ``compacted_increments`` so append
    idempotence survives. Returns the new generation number.

    **Tiered fold** (``max_generations_to_fold=K``, round 12): fold
    only the NEWEST ``K`` listed generations — the same LSM discipline
    as the text and lexical indexes, bounding the nightly fold by
    recent-increment volume instead of index size. The folded entry
    records a fresh ``drift_msd`` over the folded population ONLY plus
    the ``carried_max_drift_msd`` of what it folded; KEPT generations
    keep their own entries, so ``ann_drift_report`` still sees every
    recorded drift stat — a partial fold can neither clear nor dilute
    the rebuild flag."""
    import os

    from .incremental import (
        _GENCLAIM_PREFIX,
        _claim_generation,
        _manifest_lock,
        _split_fold_slice,
    )

    man = _load_manifest(path)
    entries = list(man["generations"])
    old_gens = [g["gen"] for g in entries]
    fold_entries, keep_entries = _split_fold_slice(
        entries, max_generations_to_fold
    )
    fold_man = dict(man, generations=fold_entries)
    # tombstones apply PHYSICALLY at fold time (round 13): folded rows
    # land under a NEW generation above every tombstone's cover, so a
    # covered row carried through would un-mask — same discipline and
    # retirement rule as the lexical compactor
    tomb = _active_vec_tombstones(spark, path, man)
    old_tomb_gens = {t["gen"] for t in man.get("tombstones", [])}
    absorbed_gens = {
        t["gen"]
        for t in man.get("tombstones", [])
        if not any(g["gen"] <= t["max_gen"] for g in keep_entries)
    }
    absorbed_ids = {
        t["increment_id"]
        for t in man.get("tombstones", [])
        if t["gen"] in absorbed_gens and t.get("increment_id") is not None
    }
    gen = _claim_generation(path)
    # the folded generations' recorded occupancy bounds the fold's rows
    granularity = _granularity(
        sum(_total_cell_counts(fold_man).values()), VEC_BUCKETS
    )
    _, model_t = _model_of(man)
    vec = _mask_deleted_vecs(_read_vectors(spark, path, fold_man), tomb)
    fold_cell_counts, vec_ranges = _write_cells(
        vec, path, gen, model_t, granularity
    )
    # fold the membership artifact alongside — from the folded slice's
    # own veclists (narrow scan)
    vl = _read_artifact(spark, path, "veclist", fold_man, _VECLIST_SCHEMA)
    vl_ranges = _write_ranged(
        _mask_deleted_vecs(vl, tomb).select("vec_id", "vb"),
        path, "veclist", gen, "vb", VEC_BUCKETS, granularity,
    )[0]
    # drift must SURVIVE compaction (round-11 verdict task 3): the folded
    # generation records (a) a fresh overall quantization error of the
    # whole folded population — one extra aggregate over vectors the fold
    # scanned anyway — and (b) the max drift any folded generation had
    # recorded. (a) alone can DILUTE below threshold when a small drifted
    # increment folds into a large well-fitted base (the drifted vectors
    # are exactly as far from the centroids as before — folding moved
    # files, not data), so ann_drift_report considers both; only a
    # retrain (rebuild_ann_index, fresh baseline) clears the flag.
    fold_msd, _ = _mean_assign_msd(vec.select("vec_id", "embedding"), model_t)
    carried = [
        m
        for g in fold_entries
        for m in (g.get("drift_msd"), g.get("carried_max_drift_msd"))
        if m is not None
    ]
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
                "re-run compact_ann_index"
            )
        if {t["gen"] for t in cur.get("tombstones", [])} != old_tomb_gens:
            raise RuntimeError(
                f"concurrent delete landed during compaction of {path}; "
                "re-run compact_ann_index"
            )
        cur["compacted_increments"] = sorted(
            set(cur.get("compacted_increments", [])) | set(applied)
        )
        if absorbed_gens:
            cur["applied_deletes"] = sorted(
                set(cur.get("applied_deletes", [])) | absorbed_ids
            )
            cur["tombstones"] = [
                t
                for t in cur.get("tombstones", [])
                if t["gen"] not in absorbed_gens
            ]
        entry: dict = {
            "gen": gen,
            "increment_id": None,
            "drift_msd": fold_msd,
            "cell_counts": fold_cell_counts,
            "embedding_type": _embedding_type(vec),
            "g": granularity,
            "ranges": {"vectors": vec_ranges, "veclist": vl_ranges},
        }
        if carried:
            entry["carried_max_drift_msd"] = max(carried)
        cur["generations"] = keep_entries + [entry]
        _write_manifest(path, cur)
    try:
        os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
    except OSError:
        pass
    return gen


# served-overlap decay ratio: a nightly telemetry reading below this
# fraction of the SAME model's first (fresh) reading is an OBSERVED
# recall decay — the drift report folds it into rebuild_recommended.
# Baseline-relative, not an absolute floor, because absolute overlap
# conflates data difficulty with index health (measured: a healthy
# full-coverage model on the synthetic test corpus reads 0.54-0.59
# ANN-only overlap at nprobe=3/8 cells, while a genuinely broken stale
# model on an easy clustered corpus reads ~0.5 — same number, opposite
# health); each model's own fresh reading is the only fair yardstick,
# the same philosophy as baseline_msd. Enable telemetry from day one:
# the first reading under a model epoch IS that epoch's baseline, so a
# model that was never measured healthy cannot be flagged by telemetry
# (the msd drift flag still covers that case).
SERVED_OVERLAP_DECAY_RATIO = 0.8


def serving_overlap_probe(
    spark,
    path: str,
    n_queries: int = 8,
    k: int = 10,
    nprobe: int = 3,
) -> float | None:
    """OBSERVED serving recall (round-12 verdict task 7): mean overlap@k
    between the index's own probe (``query_ann_index``, serving defaults
    including low-coverage escalation) and the exact brute-force top-k
    over the stored vectors, for a deterministic held-out query set
    drawn from the index itself (the ``n_queries`` smallest
    ``xxhash64(vec_id)`` — hash-spread across the corpus, stable across
    nights so readings are comparable, shifting only as the corpus
    grows). The msd drift flag INFERS recall risk from quantization
    error; this MEASURES the recall the serving path actually delivers,
    so decay from any cause (drift, bad model, low coverage) is observed
    nightly instead of discovered by users.

    Cost: one exact scan of the index's vectors against ``n_queries``
    broadcast queries — the documented price of ground truth, bounded by
    the query count and paid once per night by the maintenance loop,
    never on the serving path. Returns None for an empty index."""
    from .similarity import brute_force_topk

    man = _load_manifest(path)
    dim = int(man["dim"])
    # ground truth over the LIVE population only (tombstone mask) — the
    # served probe masks identically, so overlap measures the probe, not
    # the deletes
    vec = _mask_deleted_vecs(
        _read_vectors(spark, path, man),
        _active_vec_tombstones(spark, path, man),
    ).select("vec_id", "embedding")
    picked = (
        vec.withColumn("h", F.xxhash64("vec_id"))
        .orderBy("h", "vec_id")
        .limit(n_queries)
        .drop("h")
        .collect()
    )
    if not picked:
        return None
    qdf = literal_frame(spark, vec.schema, picked)
    served = query_ann_index(spark, qdf, path, k=k, nprobe=nprobe).select(
        "query_id", "neighbor_id"
    )
    truth = brute_force_topk(vec, qdf, dim, k=k).select(
        "query_id", F.col("neighbor_id").alias("true_id")
    )
    # per-query overlap fraction, averaged — one tiny aggregate over
    # <= n_queries * k rows (bounded driver gate)
    row = (
        truth.join(
            served.withColumnRenamed("neighbor_id", "true_id"),
            ["query_id", "true_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .agg(F.sum("hits").alias("h"))
        .collect()[0]
    )
    hits = int(row["h"] or 0)
    return round(hits / (len(picked) * k), 4)


def record_serving_overlap(
    path: str, overlap: float, n_queries: int, k: int, nprobe: int,
    keep_last: int = 30,
) -> None:
    """Append a telemetry reading to the manifest (locked read-modify-
    replace, capped at ``keep_last`` entries — the manifest stays a tiny
    driver-side JSON). ``night`` is a monotone counter, not a clock:
    readings order by position."""
    from .incremental import _manifest_lock

    with _manifest_lock(path):
        man = _load_manifest(path)
        tel = list(man.get("telemetry", []))
        tel.append(
            {
                "night": (tel[-1]["night"] + 1) if tel else 1,
                "served_overlap": overlap,
                "n_queries": n_queries,
                "k": k,
                "nprobe": nprobe,
                "model_epoch": int(man.get("model_epoch", 0)),
            }
        )
        man["telemetry"] = tel[-keep_last:]
        _write_manifest(path, man)


def ann_drift_report(path: str, ratio_threshold: float = DRIFT_REBUILD_RATIO) -> dict:
    """Is the pinned coarse quantizer still a good fit for what the index
    now holds? Appends record their mean squared assignment distance
    (``drift_msd``) against the build-time ``baseline_msd``; a generation
    whose error exceeds ``ratio_threshold`` x baseline is drifting — its
    vectors sit far from every centroid, cell boundaries stop being
    meaningful there, and probe recall decays silently. Pure manifest
    read, no Spark job.

    Returns ``{"baseline_msd", "generations": [{gen, increment_id,
    drift_msd, ratio, carried_max_drift_msd?}...], "max_ratio",
    "rebuild_recommended"}``. Generations without a recorded drift stat
    (the build generation, pre-drift manifests) carry ratio None and
    never trip the flag — no signal is not a drift signal. A
    post-compaction fold carries BOTH a fresh overall ``drift_msd`` and
    the ``carried_max_drift_msd`` of what it folded (compact_ann_index):
    the max_ratio considers the carried value too, so routine
    maintenance can never silently clear ``rebuild_recommended`` by
    diluting a drifted increment into a well-fitted base — only
    ``rebuild_ann_index``'s baseline reset clears it."""
    man = _load_manifest(path)
    baseline = man.get("baseline_msd")
    gens = []
    max_ratio = None
    for g in man["generations"]:
        msd = g.get("drift_msd")
        carried = g.get("carried_max_drift_msd")
        ratio = (
            None
            if msd is None or not baseline
            else float(msd) / float(baseline)
        )
        for cand in (ratio,) + (
            (float(carried) / float(baseline),)
            if carried is not None and baseline
            else ()
        ):
            if cand is not None:
                max_ratio = (
                    cand if max_ratio is None else max(max_ratio, cand)
                )
        entry = {
            "gen": g["gen"],
            "increment_id": g.get("increment_id"),
            "drift_msd": msd,
            "ratio": ratio,
        }
        if carried is not None:
            entry["carried_max_drift_msd"] = carried
        gens.append(entry)
    sr = man.get("train_sample_rate")
    # OBSERVED serving recall (serving_overlap_probe, recorded by the
    # nightly driver) — only readings taken under the CURRENT model
    # epoch count, so a reading that triggered a rebuild cannot keep the
    # flag up after the rebuild fixed it. The epoch's FIRST reading is
    # its fresh-model baseline; decay = the latest reading dropping
    # below SERVED_OVERLAP_DECAY_RATIO of it (see the constant's note on
    # why relative, not absolute).
    cur_epoch = int(man.get("model_epoch", 0))
    epoch_tel = [
        t
        for t in man.get("telemetry", [])
        if t.get("served_overlap") is not None
        and int(t.get("model_epoch", cur_epoch)) == cur_epoch
    ]
    # baseline comparability (round-14 advice): the epoch-first baseline
    # only means something against readings taken at the SAME probe
    # parameters — changing telemetry_queries/k/nprobe mid-epoch would
    # otherwise mix incomparable baselines and falsely flip (or
    # suppress) the decay flag. Restrict to readings matching the
    # LATEST reading's (n_queries, k, nprobe); a parameter change thus
    # resets the baseline to the first reading under the new parameters.
    if epoch_tel:
        _latest = epoch_tel[-1]
        _params = ("n_queries", "k", "nprobe")
        epoch_tel = [
            t
            for t in epoch_tel
            if all(t.get(p) == _latest.get(p) for p in _params)
        ]
    observed = float(epoch_tel[-1]["served_overlap"]) if epoch_tel else None
    observed_baseline = (
        float(epoch_tel[0]["served_overlap"]) if epoch_tel else None
    )
    observed_low = (
        len(epoch_tel) >= 2
        and observed < SERVED_OVERLAP_DECAY_RATIO * observed_baseline
    )
    return {
        "baseline_msd": baseline,
        "generations": gens,
        "max_ratio": max_ratio,
        # training coverage, surfaced alongside drift (round-12 verdict
        # task 1): low coverage is a RECALL hazard (noisy centroids),
        # distinct from drift (data moved away from good centroids).
        # Serving auto-escalates nprobe for it (_effective_nprobe), so
        # it does not flip rebuild_recommended — but a full-coverage
        # retrain removes the standing probe surcharge, hence the flag.
        "train_sample_rate": sr,
        "low_training_coverage": sr is not None
        and float(sr) < LOW_COVERAGE_SAMPLE_RATE,
        "served_overlap": observed,
        "served_overlap_baseline": observed_baseline,
        "served_overlap_low": observed_low,
        # rebuild on either signal: inferred (quantization-error ratio,
        # the leading indicator) or observed (nightly served-overlap
        # telemetry under the current model, the ground truth)
        "rebuild_recommended": (
            max_ratio is not None and max_ratio >= ratio_threshold
        )
        or observed_low,
    }


def ann_index_stats(spark, path: str) -> "DataFrame":
    """One-row observability report for an ANN index (round 15, the
    lexical twin of ``lexical_index_stats``): listed vector count (the
    per-generation ``cell_counts`` summed by ``_total_cell_counts``),
    model shape, and the lifecycle counters (generations, tombstones,
    model_epoch). Pure manifest read; oracling the vector count against
    a fresh recount of the source embeddings (a0m_index_stats)
    parity-checks the append accounting."""
    man = _load_manifest(path)
    gens = man["generations"]
    nv = sum(_total_cell_counts(man).values())
    # literal projection over range(1) — see lexical_index_stats: a
    # 1-row createDataFrame is Python-RDD-backed and join-hostile
    return spark.range(1).select(
        F.lit(int(nv)).cast("bigint").alias("n_vectors"),
        F.lit(int(man["dim"])).cast("int").alias("dim"),
        F.lit(len(man["model"])).cast("int").alias("cells"),
        F.lit(len(gens)).cast("int").alias("n_generations"),
        F.lit(len(man.get("tombstones", []))).cast("int").alias("n_tombstones"),
        F.lit(int(man.get("model_epoch", 0))).cast("int").alias("model_epoch"),
    )


def rebuild_ann_index(
    spark,
    path: str,
    cells: int | None = None,
    iters: int = 2,
    sample_rate: float = 0.1,
) -> int:
    """The retrain ``ann_drift_report`` recommends: re-fit the coarse
    quantizer on what the index NOW holds and re-assign every vector —
    entirely FROM the index (no base corpus needed; the stored vectors
    are the corpus). The fresh model replaces the pinned one, the
    re-assigned vectors land as one fresh generation, the baseline
    resets, and applied increment_ids move to ``compacted_increments``
    so append idempotence survives the retrain. Old generation dirs stay
    for in-flight readers (vacuum sweeps them). Returns the new
    generation number.

    Commit discipline matches compaction, including the concurrent-append
    abort — a generation committed mid-retrain would have been assigned
    against the OLD model. The flip also bumps ``model_epoch``, which
    fences the OTHER interleaving: an append that read the old model and
    commits after the flip fails its own epoch check (see
    ``append_ann_index``), so stale-centroid assignments can never land
    on either side of the retrain."""
    import os

    from .incremental import (
        _GENCLAIM_PREFIX,
        _claim_generation,
        _manifest_lock,
    )

    man = _load_manifest(path)
    dim = int(man["dim"])
    if cells is None:
        cells = len(man["model"])
    old_gens = [g["gen"] for g in man["generations"]]
    old_tomb_gens = {t["gen"] for t in man.get("tombstones", [])}
    gen = _claim_generation(path)
    # deleted vectors must not shape the new quantizer NOR re-enter the
    # rebuilt index — the retrain consumes only the live population, so
    # every tombstone is fully applied and retires below (round 13)
    vec = _mask_deleted_vecs(
        _read_vectors(spark, path, man),
        _active_vec_tombstones(spark, path, man),
    ).select("vec_id", "embedding")
    model = kmeans_centroids(
        vec, dim, k=cells, iters=iters, sample_rate=sample_rate
    )
    baseline, n = _mean_assign_msd(vec, model)
    layout = _write_vectors_gen(vec, path, gen, model, n)
    applied = [
        g["increment_id"]
        for g in man["generations"]
        if g.get("increment_id") is not None
    ]
    with _manifest_lock(path):
        cur = _load_manifest(path)
        if {g["gen"] for g in cur["generations"]} != set(old_gens):
            raise RuntimeError(
                f"concurrent append landed during retrain of {path}; "
                "re-run rebuild_ann_index"
            )
        if {t["gen"] for t in cur.get("tombstones", [])} != old_tomb_gens:
            raise RuntimeError(
                f"concurrent delete landed during retrain of {path}; "
                "re-run rebuild_ann_index"
            )
        cur["model"] = [[cid, list(vec_)] for cid, vec_ in model]
        # fence in-flight appends: one that read the OLD model but commits
        # after this flip sees the bumped epoch and raises (its vectors
        # were assigned under the superseded centroids)
        cur["model_epoch"] = int(cur.get("model_epoch", 0)) + 1
        cur["baseline_msd"] = baseline
        # the retrain's own coverage replaces the build's — a
        # sample_rate=1.0 rebuild is exactly how an operator retires the
        # low-coverage probe surcharge
        cur["train_sample_rate"] = float(sample_rate)
        cur["compacted_increments"] = sorted(
            set(cur.get("compacted_increments", [])) | set(applied)
        )
        # every tombstone was applied to the rebuilt population — retire
        # them all (ids preserved for replay idempotence)
        if cur.get("tombstones"):
            cur["applied_deletes"] = sorted(
                set(cur.get("applied_deletes", []))
                | {
                    t["increment_id"]
                    for t in cur["tombstones"]
                    if t.get("increment_id") is not None
                }
            )
            cur["tombstones"] = []
        cur["generations"] = [{"gen": gen, "increment_id": None, **layout}]
        _write_manifest(path, cur)
    try:
        os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
    except OSError:
        pass
    return gen
