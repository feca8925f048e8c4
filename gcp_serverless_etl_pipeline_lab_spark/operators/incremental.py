"""Incremental-batch deduplication: a NEW batch against an EXISTING base.

The daily shape of a 100 TB corpus: the base is already deduped; each
increment must answer "which of these new documents are (exact or near)
duplicates OF THE BASE" without re-running corpus×corpus detection.

- exact: one left-semi join of the batch's md5 against the base's md5 —
  at scale the base side is a pre-materialized hash column (store it at
  ingest; it never changes), so the increment pays one shuffle of the
  BATCH plus a scan of base hashes.
- near: CROSS n-gram Jaccard — gram lists built per side, equi-joined on
  the gram, pair-counted, verified against both sides' set sizes. Only
  new×base pairs exist by construction (no base×base re-detection). The
  document-frequency cap applies to the BASE gram table (the side whose
  boilerplate would otherwise fan out); error mode is false-negative
  only, same contract as dedup.ngram_jaccard_pairs.

At 100 TB the base gram table is the big side: bucket/partition it by
gram at ingest and the increment's join co-locates; the batch side is
small enough that AQE usually broadcasts it.

PERSISTED BASE INDEX (the actual 100 TB operating mode): the functions
above re-shingle the ENTIRE base corpus on every increment — correct,
but the per-batch cost is proportional to base size, which at warehouse
scale means every nightly increment rescans 100 TB of text.
``build_base_index`` pays that cost ONCE: it persists the base's md5
hashes, its (df-capped) gram postings partitioned by a gram-hash bucket,
and its full shingle-set sizes; ``*_vs_index`` then probe the stored
artifacts — the increment never touches base TEXT again, only the
compact index:

- the exact probe scans one narrow hash column;
- the near probe reads ONLY the gram-bucket partitions the batch's own
  grams hash into (static partition pruning from a <=64-value driver
  list), so a small nightly batch reads a small slice of the postings —
  per-batch cost tracks BATCH size, not base size;
- output is bit-identical to the recompute path by construction (same
  shingler, same df-cap rule, sizes from the same full shingle sets) —
  pinned by the ``a0d_incremental_index`` oracle query and
  tests/test_incremental_index.py.

The index is extended, not rebuilt, after an increment is merged into
the base: ``append_to_index`` writes the increment's hashes / postings /
sizes as a new immutable GENERATION directory per artifact and commits
it with one atomic manifest replace — append cost tracks INCREMENT
size, never base size, and the df-cap contract is re-enforced across
old+new (a gram whose cumulative document frequency crosses the cap at
append time is added to a capped-grams ledger the probes anti-join, so
probe-after-append is bit-identical to probe-against-rebuilt-index —
pinned by tests/test_incremental_index.py and the ``a0e_index_append``
oracle query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _with_shingles, cap_document_frequency


def exact_dups_vs_base(batch: DataFrame, base: DataFrame) -> DataFrame:
    """Batch rows whose full text already exists in base (by md5)."""
    b = batch.select("doc_id", F.md5("text").alias("k"))
    base_k = base.select(F.md5("text").alias("k"))
    return b.join(base_k, "k", "left_semi").select("doc_id")


def near_dups_vs_base(
    batch: DataFrame,
    base: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """(doc_id, base_id, jaccard) for batch docs whose word-3-gram
    Jaccard vs some base doc clears ``threshold``.

    Round-15 optimization (guide §2.3/§2.4, same restructure as
    dedup.ngram_jaccard_pairs): the full shingle-set sizes ride the two
    gram streams as one extra int per row instead of re-running the
    ngram projection per side for a separate size frame and joining both
    back after the intersection count. Removes one full shingle
    projection per side and both size joins; the denominators come out
    of the intersection aggregate via ``first()`` (exact — constant per
    (new_id, base_id) group)."""
    g_new = _with_shingles(batch).select(
        F.col("doc_id").alias("new_id"),
        F.size("shingles").alias("sz_n"),
        F.explode("shingles").alias("g"),
    )
    g_base = _with_shingles(base).select(
        F.col("doc_id").alias("base_id"),
        F.size("shingles").alias("sz_b"),
        F.explode("shingles").alias("g"),
    )
    if max_df is not None:
        g_base = cap_document_frequency(
            g_base.withColumnRenamed("base_id", "doc_id"), max_df
        ).withColumnRenamed("doc_id", "base_id")
    inter = (
        g_new.join(g_base, "g")
        .groupBy("new_id", "base_id")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first("sz_n").alias("sz_n"),
            F.first("sz_b").alias("sz_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("i").cast("double")
                / (F.col("sz_n") + F.col("sz_b") - F.col("i")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("new_id").alias("doc_id"), "base_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# Persisted base index
# ---------------------------------------------------------------------------

INDEX_GRAM_BUCKETS = 64
_MANIFEST = "_MANIFEST.json"

# Active probe-cache registry (see probe_cache_scope). A contextvar, not a
# module global, so concurrent probe scopes (e.g. two streaming queries in
# one driver) each release exactly their own frames.
import contextvars as _contextvars

_PROBE_CACHES: _contextvars.ContextVar[list | None] = _contextvars.ContextVar(
    "incremental_probe_caches", default=None
)


def probe_cache_scope():
    """Context manager bounding the lifetime of probe-side caches.

    ``near_dups_vs_index`` persists the batch-shingle frame (it has three
    consumers — the bucket gate, the intersection join, the size
    denominator). Without a scope that cache lives until session eviction
    — fine for a one-shot probe, but a long-lived driver running hundreds
    of probes (the nightly stream: one probe per micro-batch) accumulates
    one pinned MEMORY_AND_DISK entry per epoch, and disk-backed blocks
    are never evicted. Wrap each probe in this scope and every frame the
    probe pinned is unpersisted on exit::

        with probe_cache_scope():
            out = classify_batch_vs_index(spark, batch, idx)
            out.write.parquet(...)   # materialize INSIDE the scope

    Materialize inside the scope (the caches exist to be reused across
    the probe's consumers); a plan executed after exit stays CORRECT —
    unpersist only drops the cache, Spark recomputes — it just re-shingles
    the batch. Scopes nest; each releases only its own frames.
    """
    import contextlib

    @contextlib.contextmanager
    def _scope():
        reg: list = []
        token = _PROBE_CACHES.set(reg)
        try:
            yield reg
        finally:
            _PROBE_CACHES.reset(token)
            for frame in reg:
                try:
                    frame.unpersist()
                except Exception:
                    pass  # session already stopped: nothing left to release

    return _scope()


def _register_probe_cache(frame: DataFrame) -> None:
    reg = _PROBE_CACHES.get()
    if reg is not None:
        reg.append(frame)


# hashes v3 (round 14, deletes): generations written since carry the
# doc_id next to the content hash so an id-only takedown can resolve
# the k it must stop matching; legacy generations' files lack the
# column and read as NULL doc_id under this explicit schema (their
# docs need the text passed to delete_from_index — documented there)
_HASHES_SCHEMA = "k string, doc_id bigint"
_GRAMS_SCHEMA = "base_id bigint, g string, gb int"
_SIZES_SCHEMA = "base_id bigint, sz_b int"
_GRAMDF_SCHEMA = "g string, df bigint, gb int"
_CAPPED_SCHEMA = "g string"


def _gb(col: str):
    return F.pmod(F.xxhash64(col), F.lit(INDEX_GRAM_BUCKETS)).cast("int")


def build_base_index(
    base: DataFrame,
    path: str,
    max_df: int | None = 10_000,
    n: int = 3,
) -> None:
    """Shingle and sign ``base`` ONCE; persist the probe artifacts under
    ``path`` as GENERATION 0 of an appendable index (v2 layout —
    ``append_to_index`` adds later generations without touching these):

    - ``hashes/gen=0``  — md5(text) of every base doc (exact-dup probe);
    - ``grams/gen=0``   — (base_id, g) postings, df-capped at build time
      with the same rule as ``near_dups_vs_base`` and hive-partitioned by
      ``gb = pmod(xxhash64(g), INDEX_GRAM_BUCKETS)`` so probes prune to
      the buckets their own grams occupy;
    - ``sizes/gen=0``   — full (uncapped) shingle-set size per base doc,
      the union-size denominator;
    - ``gramdf/gen=0``  — TRUE document frequency of every gram,
      including over-cap grams (gb-partitioned) — what lets an append
      decide whether old+new df crosses the cap without rescanning base
      text;
    - ``capped/gen=0``  — grams whose cumulative df exceeds ``max_df``
      (small by construction: at most total_occurrences/max_df entries,
      the same bound as cap_document_frequency's hot list). Probes
      anti-join it; at build time it is redundant (those postings were
      never written) but appends extend it when a gram CROSSES the cap,
      excluding the physically-present older postings.

    ``max_df``/``n`` land in ``_MANIFEST.json`` so probes and appends
    replay the exact build contract; at 100 TB raise INDEX_GRAM_BUCKETS
    and let each bucket hold many files — the partition count, not the
    file count, is the pruning unit.

    The shingle frame is persisted (MEMORY_AND_DISK) across its
    consumers — the postings/gramdf writes and the sizes write — so the
    build tokenizes and n-grams the corpus ONCE, not once per artifact.
    For a one-off build job that is the right trade even at warehouse
    scale (the spill is bounded by the shingle frame, comparable to the
    text itself); a build that cannot afford the spill can drop the
    persist and pay the second pass."""
    from pyspark.storagelevel import StorageLevel

    sh = _with_shingles(base, n).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        grams = sh.select(
            F.col("doc_id").cast("long").alias("base_id"),
            F.explode("shingles").alias("g"),
        )
        df_tab = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        if max_df is not None:
            hot = df_tab.filter(F.col("df") > max_df).select("g")
            grams = grams.join(F.broadcast(hot), "g", "left_anti")
        else:
            hot = df_tab.filter(F.lit(False)).select("g")
        _write_generation(
            path,
            0,
            hashes=base.select(
                F.md5("text").alias("k"),
                F.col("doc_id").cast("long").alias("doc_id"),
            ),
            grams=grams.select("base_id", "g", _gb("g").alias("gb")),
            sizes=sh.select(
                F.col("doc_id").cast("long").alias("base_id"),
                F.size("shingles").alias("sz_b"),
            ),
            gramdf=df_tab.select("g", "df", _gb("g").alias("gb")),
            capped=hot,
        )
        _write_manifest(
            path,
            {
                "version": 2,
                "max_df": max_df,
                "ngram": n,
                "gram_buckets": INDEX_GRAM_BUCKETS,
                "generations": [{"gen": 0, "increment_id": None}],
            },
        )
        # manifest replace is the commit point (see _write_manifest); a
        # crash before it leaves no manifest, and the builder retries
        # into the same path cleanly (gen-0 overwrite).
    finally:
        sh.unpersist()


def _write_generation(
    path: str,
    gen: int,
    hashes: DataFrame,
    grams: DataFrame,
    sizes: DataFrame,
    gramdf: DataFrame,
    capped: DataFrame,
) -> None:
    """Write one immutable generation of every artifact. mode=overwrite
    so a CRASHED prior attempt at the same generation number is replaced
    wholesale on retry (generations become visible only via the manifest
    commit, so a half-written gen dir is never read)."""
    import os

    hashes.write.mode("overwrite").parquet(
        os.path.join(path, "hashes", f"gen={gen}")
    )
    (
        grams.repartition(INDEX_GRAM_BUCKETS, F.col("gb"))
        .write.mode("overwrite")
        .partitionBy("gb")
        .parquet(os.path.join(path, "grams", f"gen={gen}"))
    )
    sizes.write.mode("overwrite").parquet(
        os.path.join(path, "sizes", f"gen={gen}")
    )
    (
        gramdf.repartition(INDEX_GRAM_BUCKETS, F.col("gb"))
        .write.mode("overwrite")
        .partitionBy("gb")
        .parquet(os.path.join(path, "gramdf", f"gen={gen}"))
    )
    capped.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "capped", f"gen={gen}")
    )


def _write_manifest(path: str, man: dict) -> None:
    """Atomic manifest replace — THE commit point for builds and appends
    (write temp + os.replace; the object-store analogue is one PUT)."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, _MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(man, fh)
    os.replace(tmp, os.path.join(path, _MANIFEST))


_GENCLAIM_PREFIX = ".genclaim-"


class LegacyHashResolutionError(ValueError):
    """An id-only delete hit documents whose index generations predate
    per-row-id hash rows (pre-round-14): the content hash to tombstone
    can only come from the document text, so the caller must re-issue
    the delete with a (doc_id, text) frame. A DEDICATED type (round-15
    advice) so the nightly delete stage's corpus-resolution retry
    triggers ONLY for this condition — not for unrelated ValueErrors
    (flat-layout/config errors), which previously cost a full merged-
    corpus read before re-raising."""


def _claim_generation(path: str) -> int:
    """Reserve the next generation number with an exclusive-create marker
    (the warehouse's version-claim discipline, sinks._claim_version):
    racing appenders write DISTINCT gen dirs instead of clobbering one.
    Crashed appenders leave a stale marker — swept by vacuum_index —
    which only costs a skipped number."""
    import os

    while True:
        man = _load_manifest(path)
        taken = {g["gen"] for g in man["generations"]}
        # tombstone generations (lexical/ANN deletes, round 13) share
        # the number space: without this a later claim could reuse an
        # active tombstone's number and overwrite its rows
        taken |= {t["gen"] for t in man.get("tombstones", [])}
        for name in os.listdir(path):
            if name.startswith(_GENCLAIM_PREFIX) and name[
                len(_GENCLAIM_PREFIX):
            ].isdigit():
                taken.add(int(name[len(_GENCLAIM_PREFIX):]))
        cand = max(taken) + 1
        try:
            with open(os.path.join(path, f"{_GENCLAIM_PREFIX}{cand}"), "x"):
                pass
            return cand
        except FileExistsError:
            continue


def _manifest_lock(path: str):
    """Exclusive flock on the manifest's sidecar lock — serializes the
    read-modify-replace commit (the object-store analogue is a
    conditional PUT on the manifest's etag, retried on failure)."""
    import contextlib
    import fcntl
    import os

    @contextlib.contextmanager
    def _lock():
        with open(os.path.join(path, "." + _MANIFEST + ".lock"), "w") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh, fcntl.LOCK_UN)

    return _lock()


def _split_fold_slice(
    entries: list[dict],
    max_generations_to_fold: int | None,
    protect_increments: set[str] | None = None,
) -> tuple[list[dict], list[dict]]:
    """The one tiering policy every compactor in the family shares
    (text, lexical, ANN — round-12 advice factored it out of three
    verbatim copies): ``(fold_entries, keep_entries)`` where the fold
    slice is the NEWEST ``max_generations_to_fold`` listed generations
    (all of them when None or >= len — a full fold), and keep is the
    untouched prefix in its original order. ``k < 2`` raises — a 1-fold
    is a no-op rewrite.

    ``protect_increments`` (round-12 advice on the one-legged-increment
    hazard): entries whose ``increment_id`` is in the set are PULLED OUT
    of the fold slice and kept listed under their own generation — the
    nightly driver (streaming/nightly.run_nightly) passes the lex-applied
    ids still pending in a sibling (ANN or text) leg so
    a compaction between a mid-night crash and its replay can never fold
    an increment whose sibling leg still needs ``exclude_increment_id``
    to find it. Protected entries keep their relative order ahead of the
    fold result."""
    if max_generations_to_fold is not None and max_generations_to_fold < 2:
        raise ValueError(
            "max_generations_to_fold must be >= 2 (a 1-fold is a no-op rewrite)"
        )
    entries = list(entries)
    full = (
        max_generations_to_fold is None
        or max_generations_to_fold >= len(entries)
    )
    fold = entries if full else entries[-max_generations_to_fold:]
    keep = [] if full else entries[: -max_generations_to_fold]
    if protect_increments:
        keep = keep + [
            g for g in fold if g.get("increment_id") in protect_increments
        ]
        fold = [g for g in fold if g.get("increment_id") not in protect_increments]
    return fold, keep


def _load_manifest(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, _MANIFEST)) as fh:
        return json.load(fh)


def _read_artifact(spark, path: str, name: str, man: dict, schema: str) -> DataFrame:
    """Union of the artifact's COMMITTED generations (manifest-listed
    only — an orphaned gen dir from a crashed append is never read).
    v1 indexes (round-8 flat layout, no ``version`` key) read the bare
    artifact dir. The explicit schema makes an EMPTY generation (e.g. an
    all-capped increment's postings) read as zero rows instead of
    failing schema inference; partition columns (gb) resolve from dir
    names as usual. Each slice carries its generation number as ``_gen``
    (a literal — free) so tombstone masking can scope a delete to the
    generations it covered (round 14; v1 reads as gen 0): writers that
    persist an artifact back must select it away."""
    import os

    if man.get("version", 1) < 2:
        gens = [(0, os.path.join(path, name))]
    else:
        gens = [
            (int(g["gen"]), os.path.join(path, name, f"gen={g['gen']}"))
            for g in man["generations"]
        ]
    out = None
    for gen, d in gens:
        part = (
            spark.read.schema(schema)
            .option("basePath", d)
            .parquet(d)
            .withColumn("_gen", F.lit(gen))
        )
        out = part if out is None else out.unionByName(part)
    return out


def _active_text_tombstones(spark, path: str, man: dict) -> DataFrame | None:
    """(doc_id, k, max_gen) union of the listed tombstone generations, or
    None when the index has no active deletes — the text index's twin of
    ``lexindex._active_tombstones``. The frame is delete-volume-sized
    (deletes are rare events), so every mask join rides a small frame
    AQE broadcasts."""
    import os

    out = None
    for t in man.get("tombstones", []):
        d = os.path.join(path, "tombstones", f"gen={t['gen']}")
        part = (
            spark.read.schema("doc_id bigint, k string")
            .option("basePath", d)
            .parquet(d)
            .select("doc_id", "k", F.lit(int(t["max_gen"])).alias("max_gen"))
        )
        out = part if out is None else out.unionByName(part)
    return out


def _mask_deleted_ids(df: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Drop rows whose (base_id, _gen) a tombstone covers — the probe-
    side view of a text-index delete for the id-keyed artifacts (grams,
    sizes) until compaction applies it physically."""
    if tomb is None:
        return df
    t = tomb.groupBy(F.col("doc_id").alias("base_id")).agg(
        F.max("max_gen").alias("max_gen")
    )
    return df.join(
        t,
        (df["base_id"] == t["base_id"]) & (df["_gen"] <= t["max_gen"]),
        "left_anti",
    )


def _mask_deleted_hashes(df: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Drop covered rows from the hashes artifact. v3 rows (doc_id
    stored) mask precisely by id; legacy rows (NULL doc_id) mask by the
    content hash the delete recorded — which also masks a byte-identical
    TWIN doc living in a legacy generation (over-masking documented at
    ``delete_from_index``: indistinguishable without per-row ids, and
    conservative for the dedup guard's purpose)."""
    if tomb is None:
        return df
    t = tomb.select(
        F.col("doc_id").alias("t_id"), F.col("k").alias("t_k"), "max_gen"
    )
    cond = (df["_gen"] <= t["max_gen"]) & (
        (df["doc_id"] == t["t_id"])
        | (df["doc_id"].isNull() & (df["k"] == t["t_k"]))
    )
    return df.join(t, cond, "left_anti")


def _keyed_shingles(batch: DataFrame, n: int) -> DataFrame:
    """(doc_id, k, shingles) in ONE pass over the batch (round 16, guide
    §1.2/§2.3): the md5 exact-probe key rides the token barrier next to
    the shingle array, so ``classify_batch_vs_index`` synthesizes and
    scans the batch once instead of three times (exact key pass, shingle
    pass, classification spine). The shingle expression is byte-identical
    to ``dedup._with_shingles``; ``k`` is byte-identical to the exact
    probe's ``md5(text)`` — parity pinned in
    tests/test_r16_optimizations.py."""
    from .dedup import _barrier

    toks = _barrier(
        batch.select(
            "doc_id",
            F.md5("text").alias("k"),
            F.expr("split(text, ' ', -1)").alias("t"),
        )
    )
    from ..functions.text import word_ngrams_sql

    return toks.select(
        "doc_id", "k", F.expr(word_ngrams_sql("t", n)).alias("shingles")
    )


def exact_dups_vs_index(
    spark, batch: DataFrame, path: str, keyed: DataFrame | None = None
) -> DataFrame:
    """``exact_dups_vs_base`` against the stored hash column — the base's
    md5s were materialized at build/append time; the probe shuffles only
    the batch and scans one narrow parquet column. Deleted docs (round
    14) are masked out: a taken-down doc must stop matching future
    ingests as "already seen", or its takedown silently suppresses the
    legitimate re-ingest forever.

    ``keyed`` (round 16): optional pre-computed (doc_id, k=md5(text))
    frame — ``classify_batch_vs_index`` passes a slice of its persisted
    one-pass batch frame so the batch is not re-synthesized here."""
    man = _load_manifest(path)
    b = (
        keyed.select("doc_id", "k")
        if keyed is not None
        else batch.select("doc_id", F.md5("text").alias("k"))
    )
    base_k = _mask_deleted_hashes(
        _read_artifact(spark, path, "hashes", man, _HASHES_SCHEMA),
        _active_text_tombstones(spark, path, man),
    )
    return b.join(base_k, "k", "left_semi").select("doc_id")


def near_dups_vs_index(
    spark,
    batch: DataFrame,
    path: str,
    threshold: float = 0.8,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """``near_dups_vs_base`` against the stored postings: the batch is
    shingled fresh; the base side is READ, never recomputed, and only the
    gram-bucket partitions the batch's grams hash into are scanned (the
    <=``gram_buckets``-value bucket list is collected driver-side — a
    bounded gate, same class as the 1-row gates). The df-cap is enforced
    physically at build/append time plus the capped-grams anti-join (a
    gram that CROSSED the cap in a later generation still has its older
    postings on disk — the ledger excludes them), so results match
    ``near_dups_vs_base(batch, merged_base, threshold, max_df)`` for the
    build's ``max_df`` exactly, however many appends have landed.

    ``shingled`` (round 16): optional pre-computed (doc_id, shingles)
    frame — ``classify_batch_vs_index`` passes a slice of its persisted
    one-pass batch frame (md5 + shingles in one synthesis); the caller
    then owns persistence and lifetime."""
    man = _load_manifest(path)
    nb = int(man["gram_buckets"])
    if shingled is not None:
        sh_new = shingled.select("doc_id", "shingles")
    else:
        # The batch-shingle frame has three consumers — the eager bucket-
        # gate collect below, the intersection join, and the union-size
        # denominator — so persist it; the collect materializes the
        # cache, so the join and sizes reuse it instead of re-tokenizing
        # the batch (measured 2x on the sf0.1 probe). Lifetime:
        # registered with the active probe_cache_scope() when one is
        # open (the nightly stream wraps each micro-batch probe, so
        # per-epoch caches are released); without a scope the cache
        # lives until session eviction — bounded for a one-shot probe,
        # but long-lived drivers running many probes should use the
        # scope.
        from pyspark.storagelevel import StorageLevel

        sh_new = _with_shingles(batch, int(man["ngram"])).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _register_probe_cache(sh_new)
    g_new = sh_new.select(
        F.col("doc_id").alias("new_id"), F.explode("shingles").alias("g")
    )
    gbs = [
        r["gb"]
        for r in g_new.select(
            F.pmod(F.xxhash64("g"), F.lit(nb)).cast("int").alias("gb")
        )
        .distinct()
        .collect()
    ]
    g_base = _read_artifact(spark, path, "grams", man, _GRAMS_SCHEMA)
    if len(gbs) < nb:
        g_base = g_base.filter(F.col("gb").isin(gbs))
    # mask deleted docs' postings and sizes (round 14) — a taken-down
    # doc must stop near-matching future ingests; the mask is
    # generation-scoped so a re-appended doc's new rows stay live
    _tomb = _active_text_tombstones(spark, path, man)
    g_base = _mask_deleted_ids(g_base, _tomb)
    if man.get("version", 1) >= 2:
        # exclude grams that crossed the df-cap in a later generation
        # (their pre-crossing postings are physically present). The
        # ledger is small by construction — broadcast anti-join, no
        # extra shuffle of the postings.
        capped = _read_artifact(spark, path, "capped", man, _CAPPED_SCHEMA)
        g_base = g_base.join(F.broadcast(capped), "g", "left_anti")
    inter = (
        g_new.join(g_base.select("base_id", "g"), "g")
        .groupBy("new_id", "base_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sz_new = sh_new.select(
        F.col("doc_id").alias("new_id"), F.size("shingles").alias("sz_n")
    )
    sz_base = _mask_deleted_ids(
        _read_artifact(spark, path, "sizes", man, _SIZES_SCHEMA), _tomb
    )
    return (
        inter.join(sz_new, "new_id")
        .join(sz_base, "base_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("i").cast("double")
                / (F.col("sz_n") + F.col("sz_b") - F.col("i")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("new_id").alias("doc_id"), "base_id", "jaccard")
    )


def append_to_index(
    spark,
    increment: DataFrame,
    path: str,
    increment_id: str | None = None,
) -> bool:
    """Extend a persisted base index with an increment that has been
    MERGED into the base — the nightly-loop step that keeps the index in
    lockstep with the warehouse without ever rebuilding it. Probing the
    appended index is bit-identical to probing an index rebuilt from the
    merged corpus (same ``max_df``); cost tracks INCREMENT size:

    - the increment is shingled once (its text; base text untouched);
    - its per-gram document frequencies join against the stored
      ``gramdf`` slices PRUNED to the increment's own gram buckets, so
      the old-df lookup reads a bounded fraction of the gram table;
    - postings/hashes/sizes/gramdf land as a new immutable generation
      directory per artifact; nothing existing is rewritten;
    - the df-cap contract is re-enforced across old+new: a gram whose
      CUMULATIVE df crosses ``max_df`` at this append gets no new
      postings and is added to the ``capped`` ledger, which probes
      anti-join — excluding its physically-present older postings
      exactly as a rebuild would have dropped them. (The dead postings
      stay on disk until a rebuild; they are never read past the
      anti-join. Grams already over the cap stay capped — df only
      grows.)

    CRASH SAFETY / IDEMPOTENCE: the atomic manifest replace is the one
    commit point. A crash mid-append leaves orphaned ``gen=K`` dirs no
    reader ever sees; the replay overwrites them and commits. Pass
    ``increment_id`` (e.g. the stream's epoch id) and a replay of an
    ALREADY-COMMITTED append is detected and skipped — returns False;
    a performed append returns True. Without an id, callers own
    exactly-once delivery.

    CONCURRENT APPENDERS are safe: each claims a distinct generation
    number via an exclusive-create marker (racing appends land in
    distinct dirs) and the manifest commit re-reads under an exclusive
    flock, so no committed generation is ever dropped and a same-
    increment-id race commits exactly once (the loser's orphaned dir is
    vacuum_index's business). One documented relaxation: each
    concurrent appender enforces the df-cap against ITS manifest
    snapshot, so a gram pushed over the cap only by two IN-FLIGHT
    increments together keeps its postings until the next
    ``compact_index``, which recomputes the ledger from the summed true
    dfs and restores exact cap semantics. Serial appends (the nightly
    loop) are always exact.

    Requires a v2 (generational) index; round-8 flat-layout indexes must
    be rebuilt once with ``build_base_index``.
    """
    from pyspark.storagelevel import StorageLevel

    man = _load_manifest(path)
    if man.get("version", 1) < 2:
        raise ValueError(
            f"index at {path} uses the pre-append flat layout; rebuild it "
            "with build_base_index to enable appends"
        )
    applied = {
        g.get("increment_id") for g in man["generations"]
    } | set(man.get("compacted_increments", []))
    if increment_id is not None and increment_id in applied:
        return False
    max_df = man["max_df"]
    gen = _claim_generation(path)

    sh = _with_shingles(increment, int(man["ngram"])).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    inc_grams = sh.select(
        F.col("doc_id").cast("long").alias("base_id"),
        F.explode("shingles").alias("g"),
    )
    # per-gram df of the increment, joined with the CUMULATIVE stored df
    # (pruned to the increment's buckets — the same static-pruning lever
    # as the probe; an increment with few distinct grams touches few
    # partitions of the gram table). Persisted: it feeds the capped
    # ledger, the postings filter, and the gramdf write.
    inc_df = (
        inc_grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("gb", _gb("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        nb = int(man["gram_buckets"])
        gbs = [r["gb"] for r in inc_df.select("gb").distinct().collect()]
        old_df = _read_artifact(spark, path, "gramdf", man, _GRAMDF_SCHEMA)
        if len(gbs) < nb:
            old_df = old_df.filter(F.col("gb").isin(gbs))
        # semi-join against the increment's gram set BEFORE the sum:
        # within the pruned buckets only the grams this increment
        # actually touches need their cumulative df — the aggregate's
        # input drops from bucket-sized to increment-sized. No forced
        # broadcast: a nightly-sized increment broadcasts via AQE, a
        # bulk backfill shuffles safely.
        old_sum = (
            old_df.join(inc_df.select("g"), "g", "left_semi")
            .groupBy("g")
            .agg(F.sum("df").alias("old_df"))
        )
        merged = (
            inc_df.join(old_sum, "g", "left")
            .select(
                "g",
                "gb",
                "df",
                F.coalesce(F.col("old_df"), F.lit(0)).alias("old_df"),
                (F.col("df") + F.coalesce(F.col("old_df"), F.lit(0))).alias(
                    "total_df"
                ),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            if max_df is not None:
                # grams over the cap AFTER this increment: no new postings
                over = merged.filter(F.col("total_df") > max_df)
                # ...and the ones CROSSING it now enter the ledger (the
                # already-capped ones are in an earlier generation's)
                newly_capped = over.filter(F.col("old_df") <= max_df).select("g")
                # No broadcast hint on the anti-join: for a nightly-sized
                # increment AQE broadcasts the tiny over-cap set anyway,
                # but a bulk backfill against a boilerplate-heavy base can
                # put a large fraction of its gram vocabulary over a low
                # cap — a forced broadcast would bypass AQE's size check
                # and pressure the driver exactly when the set is biggest.
                post_inc = inc_grams.join(over.select("g"), "g", "left_anti")
            else:
                newly_capped = merged.filter(F.lit(False)).select("g")
                post_inc = inc_grams
            _write_generation(
                path,
                gen,
                hashes=increment.select(
                    F.md5("text").alias("k"),
                    F.col("doc_id").cast("long").alias("doc_id"),
                ),
                grams=post_inc.select("base_id", "g", _gb("g").alias("gb")),
                sizes=sh.select(
                    F.col("doc_id").cast("long").alias("base_id"),
                    F.size("shingles").alias("sz_b"),
                ),
                gramdf=inc_df.select("g", "df", "gb"),
                capped=newly_capped,
            )
            import os

            with _manifest_lock(path):
                cur = _load_manifest(path)  # re-read: racing commits land
                applied_now = {
                    g.get("increment_id") for g in cur["generations"]
                } | set(cur.get("compacted_increments", []))
                if increment_id is not None and increment_id in applied_now:
                    # same-increment race lost: our generation stays an
                    # orphan for vacuum_index; the committed one wins
                    try:
                        os.remove(
                            os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}")
                        )
                    except OSError:
                        pass
                    return False
                if any(g["gen"] == gen for g in cur["generations"]):
                    # our claim was stolen (e.g. vacuumed past the horizon
                    # during an extreme stall) and the thief already
                    # committed this number — committing too would make
                    # _read_artifact scan gen={gen} twice (double-counted
                    # postings). Fail loudly; a retry claims a fresh gen.
                    raise RuntimeError(
                        f"generation {gen} already committed at {path}; "
                        "claim was lost mid-append — retry the append"
                    )
                cur["generations"].append(
                    {"gen": gen, "increment_id": increment_id}
                )
                _write_manifest(path, cur)
            try:
                os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
            except OSError:
                pass
            return True
        finally:
            merged.unpersist()
    finally:
        inc_df.unpersist()
        sh.unpersist()


def delete_from_index(
    spark,
    docs: DataFrame,
    path: str,
    increment_id: str | None = None,
) -> bool:
    """Remove documents from the text near-dup index WITHOUT rewriting
    its artifacts (round-14 verdict task 2 — the missing leg of takedown
    / right-to-be-forgotten: the serving indexes could forget since
    round 13, but a taken-down doc kept matching future ingests here as
    "already seen", silently suppressing legitimate re-ingest, and its
    fingerprints persisted forever). Same generation-scoped tombstone
    design as the lexical/ANN twins:

    - ``docs`` is a (doc_id) or (doc_id, text) frame. The asked ids
      resolve against current membership (live ``sizes`` rows); the
      content hash each membership row must stop matching comes from the
      stored v3 ``hashes`` (doc_id column, round 14) — for docs indexed
      by a PRE-round-14 generation the hash rows carry no doc_id, so the
      text must be passed (the nightly delete stage reads it from
      ``merged_dir`` before purging); id-only deletes of such docs raise
      rather than leave the exact-dup probe still matching.
    - one ``tombstones/gen=N`` artifact (doc_id, k) plus an atomic
      manifest append commits the delete; every probe masks covered rows
      (grams/sizes by id, hashes by id or — legacy rows — by content
      hash, which also masks a byte-identical twin in a legacy
      generation: indistinguishable without per-row ids, and
      conservative for the guard's purpose).
    - generation-scoped ``max_gen`` cover: re-appending a deleted doc_id
      later works — the new generation is above the cover and matches
      normally. ``increment_id`` replays are committed no-ops (False);
      deleting non-members is a no-op that does NOT consume the id.
    - compaction applies tombstones physically and retires the fully
      absorbed ones; the stored per-gram df of a deleted doc's
      UNDER-CAP grams is subtracted from its physically-present
      postings at fold time, while its contribution to an already-
      over-cap gram's df is unrecoverable (those postings were never
      written) — the folded df is a documented UPPER bound, which can
      only cap a gram the rebuild would have left uncapped: a
      performance heuristic erring conservative, never a membership
      error.

    Cost: delete-sized membership/hash-resolution probes + one
    delete-sized write — never an artifact rewrite. Concurrent appends
    are fenced exactly as in the lexical/ANN deletes (round-14 advice):
    an append committing between membership resolution and the manifest
    commit aborts the delete loudly for a re-run."""
    import os

    man = _load_manifest(path)
    if man.get("version", 1) < 2:
        raise ValueError(
            f"index at {path} uses the pre-append flat layout; rebuild it "
            "with build_base_index to enable deletes"
        )
    applied = {
        t.get("increment_id") for t in man.get("tombstones", [])
    } | set(man.get("applied_deletes", []))
    if increment_id is not None and increment_id in applied:
        return False
    has_text = "text" in docs.columns
    want = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *([F.md5("text").alias("k_text")] if has_text else []),
    ).dropDuplicates(["doc_id"])
    tomb_now = _active_text_tombstones(spark, path, man)
    member = (
        _mask_deleted_ids(
            _read_artifact(spark, path, "sizes", man, _SIZES_SCHEMA),
            tomb_now,
        )
        .select(F.col("base_id").alias("doc_id"))
        .distinct()
        .join(want, "doc_id", "left_semi")
    )
    # resolve each member's content hash: stored v3 rows first, the
    # caller's text as the fallback for legacy rows
    stored_k = (
        _mask_deleted_hashes(
            _read_artifact(spark, path, "hashes", man, _HASHES_SCHEMA),
            tomb_now,
        )
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "k")
        .join(member, "doc_id", "left_semi")
        .distinct()
    )
    # tombstone the UNION of every resolved hash for a member (round-15
    # advice): a doc present in BOTH a pre-round-14 generation (NULL
    # doc_id hash row, resolvable only via the caller's text) and a v3
    # generation with DIFFERENT text must stop matching under both
    # hashes — a single coalesced value would leave the legacy content
    # hash live and suppress legitimate re-ingest of the old content
    # forever. Masking is per (doc_id, k) row, so extra hash rows cost
    # one tombstone row each and nothing else.
    resolved = stored_k
    if has_text:
        text_k = (
            member.join(want, "doc_id", "left")
            .filter(F.col("k_text").isNotNull())
            .select("doc_id", F.col("k_text").alias("k"))
        )
        resolved = resolved.unionByName(text_k).distinct()
    rows = member.join(resolved, "doc_id", "left")
    tomb_rows = rows.localCheckpoint(eager=True)
    n_member = tomb_rows.select("doc_id").distinct().count()
    if n_member == 0:
        return False
    if tomb_rows.filter(F.col("k").isNull()).limit(1).count():
        raise LegacyHashResolutionError(
            f"index at {path} holds pre-round-14 generations whose hash "
            "rows carry no doc_id; pass (doc_id, text) to "
            "delete_from_index so the content hash can be tombstoned"
        )
    gen = _claim_generation(path)
    tomb_rows.select("doc_id", "k").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "tombstones", f"gen={gen}"))
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
            raise RuntimeError(
                f"concurrent append landed during delete from {path}; "
                "re-run delete_from_index"
            )
        cur.setdefault("tombstones", []).append(
            {
                "gen": gen,
                "increment_id": increment_id,
                "max_gen": max(g["gen"] for g in cur["generations"]),
            }
        )
        _write_manifest(path, cur)
    try:
        os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
    except OSError:
        pass
    return True


def compact_index(
    spark, path: str, max_generations_to_fold: int | None = None
) -> int:
    """Fold committed generations — the maintenance step that completes
    the index lifecycle (build -> append* -> compact). Nightly appends
    accumulate one generation per increment; probes union every
    generation's artifacts, so a year of appends means ~365 scans per
    probe plus dead postings (grams that crossed the df-cap keep their
    pre-crossing postings on disk, excluded only by the ledger
    anti-join). Compaction rewrites the index FROM THE INDEX — no base
    text is ever re-shingled.

    **Full fold** (``max_generations_to_fold=None``, the default):

    - hashes / sizes: unions of the generations;
    - gramdf: per-gram SUM across generations (the true cumulative df);
    - capped: recomputed from the summed df (supersedes the ledger);
    - grams: union of postings with capped grams' dead postings
      PHYSICALLY dropped.

    **Tiered fold** (``max_generations_to_fold=K``, round-11 verdict
    task 5): a full fold rewrites the WHOLE index — measured 97.5 s at
    g64/sf0.1 vs the ANN fold's 6.3 s (SCALE_STRESS.json) — so at 100 TB
    the nightly maintenance window would grow with INDEX size. Folding
    only the NEWEST ``K`` listed generations (the small nightly
    increments, LSM-style) bounds the fold by recent-increment volume;
    repeated nightly folds geometrically merge older tiers because the
    previous fold is itself the newest listed generation next time.
    The partial fold is a pure rewrite of the folded slice:

    - hashes / sizes / gramdf: unions/sums of the FOLDED generations
      only (per-generation partial dfs stay partial — their total is
      unchanged, which is all appends' cumulative-df lookup reads);
    - capped: the folded generations' ledger entries are PRESERVED
      verbatim (a crossing recorded there still excludes older,
      unfolded generations' physically-present postings — recomputing
      from the folded slice alone would lose that);
    - grams: folded postings minus the GLOBAL capped set (physically
      dropping rows every probe anti-joins away is free parity-wise).

    Probe-parity is exact in both modes: the folded index answers
    identically to the pre-fold one (and the full fold to a rebuild).
    Commit discipline matches append: the folded artifacts land in a
    FRESH generation number and the atomic manifest replace flips the
    folded entries to just that one (unfolded entries keep their place,
    order preserved). The OLD generation dirs are deliberately left on
    disk — an in-flight reader that loaded the pre-flip manifest (e.g.
    a stream probe mid-scan) is still reading them, so deleting here
    would fail it with FileNotFound mid-query. They are now unlisted
    (no new reader opens them) and ``vacuum_index``'s age-based sweep
    removes them once older than the vacuum horizon — the same
    reader-grace discipline as sinks.vacuum_versions. Returns the new
    generation number. Applied increment_ids are preserved in the
    manifest under ``compacted_increments`` so append idempotence
    survives compaction."""
    import os

    man = _load_manifest(path)
    if man.get("version", 1) < 2:
        raise ValueError(
            f"index at {path} uses the pre-append flat layout; rebuild it "
            "with build_base_index (compaction is a no-op for single-"
            "generation indexes)"
        )
    max_df = man["max_df"]
    old_gens = [g["gen"] for g in man["generations"]]
    fold_entries, keep_entries = _split_fold_slice(
        man["generations"], max_generations_to_fold
    )
    full = not keep_entries
    fold_man = {"version": 2, "generations": fold_entries}
    # tombstones (round-14 deletes) apply PHYSICALLY at fold time: the
    # folded slice lands under a NEW generation number above every
    # cover, so a covered row carried through would un-mask — covered
    # rows are dropped from the rewrite instead. A tombstone whose whole
    # cover lies inside the fold is fully absorbed (leaves the manifest,
    # its increment_id moves to applied_deletes); one still covering a
    # KEPT generation stays listed for the probe-side mask. The deleted
    # docs' per-gram df is subtracted from their physically-present
    # (under-cap) postings; an already-over-cap gram's contribution is
    # unrecoverable, leaving that df a documented upper bound (see
    # delete_from_index).
    tomb = _active_text_tombstones(spark, path, man)
    old_tomb_gens = {t["gen"] for t in man.get("tombstones", [])}
    absorbed = [
        t
        for t in man.get("tombstones", [])
        if not any(g["gen"] <= t["max_gen"] for g in keep_entries)
    ]
    absorbed_gens = {t["gen"] for t in absorbed}
    gen = _claim_generation(path)

    hashes = _mask_deleted_hashes(
        _read_artifact(spark, path, "hashes", fold_man, _HASHES_SCHEMA), tomb
    ).select("k", "doc_id")
    sizes = _mask_deleted_ids(
        _read_artifact(spark, path, "sizes", fold_man, _SIZES_SCHEMA), tomb
    ).select("base_id", "sz_b")
    grams_raw = _read_artifact(spark, path, "grams", fold_man, _GRAMS_SCHEMA)
    grams = _mask_deleted_ids(grams_raw, tomb)
    gramdf = (
        _read_artifact(spark, path, "gramdf", fold_man, _GRAMDF_SCHEMA)
        .groupBy("g", "gb")
        .agg(F.sum("df").alias("df"))
        .select("g", "df", "gb")
    )
    if tomb is not None:
        # subtract the deleted docs' recoverable gram occurrences (their
        # physically-present postings in the folded slice) from the
        # folded df sums; rows hitting zero drop out entirely
        _t = tomb.groupBy(F.col("doc_id").alias("base_id")).agg(
            F.max("max_gen").alias("max_gen")
        )
        removed = (
            grams_raw.join(
                _t,
                (grams_raw["base_id"] == _t["base_id"])
                & (grams_raw["_gen"] <= _t["max_gen"]),
                "left_semi",
            )
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("rm"))
        )
        gramdf = (
            gramdf.join(removed, "g", "left")
            .select(
                "g",
                (F.col("df") - F.coalesce(F.col("rm"), F.lit(0))).alias("df"),
                "gb",
            )
            .filter(F.col("df") > 0)
        )
    # The capped (over-df-cap) gram set grows with corpus VOCABULARY —
    # heavy hitters accumulate forever — so a forced broadcast of it is
    # an unbounded driver/executor-memory object at 100 TB (the same
    # round-10 fix append_to_index got; round-12 verdict task 4 removes
    # the last two). No hint: AQE picks broadcast while the set is
    # actually small and degrades to a shuffled anti-join when it isn't.
    if full:
        if max_df is not None:
            capped = gramdf.filter(F.col("df") > max_df).select("g")
            grams = grams.join(capped, "g", "left_anti")
        else:
            capped = gramdf.filter(F.lit(False)).select("g")
    else:
        # preserve the folded slice's ledger; drop postings dead under
        # the GLOBAL ledger (safe: probes anti-join the global union)
        capped = _read_artifact(
            spark, path, "capped", fold_man, _CAPPED_SCHEMA
        ).select("g").distinct()
        global_capped = _read_artifact(
            spark, path, "capped", man, _CAPPED_SCHEMA
        ).select("g")
        grams = grams.join(global_capped, "g", "left_anti")
    _write_generation(
        path,
        gen,
        hashes=hashes,
        grams=grams.select("base_id", "g", "gb"),
        sizes=sizes,
        gramdf=gramdf,
        capped=capped,
    )
    applied = [
        g["increment_id"]
        for g in fold_entries
        if g.get("increment_id") is not None
    ]
    with _manifest_lock(path):
        cur = _load_manifest(path)
        if {g["gen"] for g in cur["generations"]} != set(old_gens):
            # an append committed while we folded: our fold is missing
            # its generation — abort loudly (the folded dirs are orphans
            # vacuum_index sweeps); caller re-runs compaction
            raise RuntimeError(
                f"concurrent append landed during compaction of {path}; "
                "re-run compact_index"
            )
        if {t["gen"] for t in cur.get("tombstones", [])} != old_tomb_gens:
            # a delete that landed mid-fold was not applied to the
            # rewrite, and the rewrite moved its covered rows above the
            # tombstone's cover — committing would resurrect them
            raise RuntimeError(
                f"concurrent delete landed during compaction of {path}; "
                "re-run compact_index"
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
            {"gen": gen, "increment_id": None}
        ]
        _write_manifest(path, cur)
    try:
        os.remove(os.path.join(path, f"{_GENCLAIM_PREFIX}{gen}"))
    except OSError:
        pass
    return gen


def _artifact_roots(path: str) -> list[str]:
    """Top-level artifact dirs of ANY generational index at ``path`` —
    discovered from the layout itself (a dir holding ``gen=N`` children),
    so the text index's five artifacts and the ANN index's ``vectors/``
    are all swept by the one vacuum."""
    import os
    import re

    roots = []
    for name in sorted(os.listdir(path)):
        root = os.path.join(path, name)
        if not os.path.isdir(root):
            continue
        if any(
            re.fullmatch(r"gen=\d+", child)
            and os.path.isdir(os.path.join(root, child))
            for child in os.listdir(root)
        ):
            roots.append(name)
    return roots


def _newest_gen_mtime(path: str, gen: int, default: float) -> float:
    """Newest file mtime across every artifact's ``gen=N`` dir — the
    liveness signal for that generation's writer (an in-flight append is
    continuously producing files there)."""
    import os

    newest = default
    for artifact in _artifact_roots(path):
        d = os.path.join(path, artifact, f"gen={gen}")
        if not os.path.isdir(d):
            continue
        for r, _, fs in os.walk(d):
            for f in fs:
                try:
                    newest = max(newest, os.path.getmtime(os.path.join(r, f)))
                except OSError:
                    pass
    return newest


def vacuum_index(path: str, min_age_seconds: float = 86400.0) -> list[str]:
    """Sweep ORPHANED generation dirs — debris of appends/compactions
    that crashed between their artifact writes and the manifest commit,
    plus the pre-compaction generations ``compact_index`` unlists but
    deliberately leaves on disk for in-flight readers. Readers never see
    orphans (only manifest-listed generations are read), so this is
    storage hygiene, not correctness. Works on any generational index —
    artifact dirs are discovered from the layout, so the text index
    (hashes/grams/sizes/gramdf/capped) and the ANN index (vectors) share
    this one sweeper. The age bound disambiguates a crash from an
    IN-FLIGHT append writing its dirs right now (same rule as
    sinks.vacuum_versions: nothing legitimately idles mid-write for
    longer than the vacuum horizon — sweeping a live append's files
    would let it commit a manifest pointing at deleted data). A claim
    marker ages off the NEWEST file its generation has produced, not its
    own creation time, so an append that runs longer than the horizon
    keeps its claim as long as it keeps writing; the locked manifest
    commit additionally rejects a generation number that is already
    listed, so even a stolen claim can never double-count a generation.
    (The residual zombie-writer window — a writer that stalls SILENTLY
    past the horizon, loses its claim, then wakes and rewrites a number
    someone else committed — is the standard snapshot-store contract:
    size the horizon beyond any possible writer stall, exactly as
    object-store table formats require for their vacuum.) Returns the
    swept ``<artifact>/gen=N`` relpaths."""
    import os
    import re
    import shutil
    import time

    man = _load_manifest(path)
    if man.get("version", 1) < 2:
        return []
    live = {g["gen"] for g in man["generations"]}
    # active tombstones (round-13 deletes) are live artifacts — only
    # retired ones (absorbed by compaction, unlisted) are debris
    live |= {t["gen"] for t in man.get("tombstones", [])}
    now = time.time()
    swept: list[str] = []
    # stale generation-claim markers (crashed appenders) age out too —
    # aged off the newest write under the claimed gen, so a slow but
    # ACTIVE appender is never swept mid-flight
    for name in os.listdir(path):
        if not name.startswith(_GENCLAIM_PREFIX):
            continue
        suffix = name[len(_GENCLAIM_PREFIX):]
        p = os.path.join(path, name)
        if not suffix.isdigit() or int(suffix) in live:
            continue
        try:
            last_alive = _newest_gen_mtime(
                path, int(suffix), os.path.getmtime(p)
            )
        except OSError:
            continue
        if now - last_alive >= min_age_seconds:
            try:
                os.remove(p)
                swept.append(name)
            except OSError:
                pass
    for artifact in _artifact_roots(path):
        root = os.path.join(path, artifact)
        for name in os.listdir(root):
            m = re.fullmatch(r"gen=(\d+)", name)
            d = os.path.join(root, name)
            if not m or not os.path.isdir(d) or int(m.group(1)) in live:
                continue
            newest = max(
                (
                    os.path.getmtime(os.path.join(r, f))
                    for r, _, fs in os.walk(d)
                    for f in fs
                ),
                default=os.path.getmtime(d),
            )
            if now - newest < min_age_seconds:
                continue
            shutil.rmtree(d, ignore_errors=True)
            swept.append(f"{artifact}/{name}")
    return sorted(swept)


def classify_batch_vs_index(
    spark,
    batch: DataFrame,
    path: str,
    threshold: float = 0.8,
) -> DataFrame:
    """``classify_batch`` probing the persisted index instead of
    re-shingling the base — identical output for the index's build-time
    ``max_df`` (parity pinned in tests/test_incremental_index.py and the
    ``a0d_incremental_index`` oracle query).

    Round 16 (guide §1.2/§2.3): ONE persisted batch pass — (doc_id,
    md5, shingles) via ``_keyed_shingles`` — feeds the exact probe, the
    near probe, and the classification spine; previously each of the
    three re-synthesized/re-scanned the batch. Registered with the
    active ``probe_cache_scope`` like the probe-side caches it
    replaces."""
    from pyspark.storagelevel import StorageLevel

    man = _load_manifest(path)
    bk = _keyed_shingles(batch, int(man["ngram"])).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _register_probe_cache(bk)
    exact = exact_dups_vs_index(
        spark, batch, path, keyed=bk.select("doc_id", "k")
    ).withColumn("_e", F.lit(1))
    near = (
        near_dups_vs_index(
            spark, batch, path, threshold, shingled=bk.select("doc_id", "shingles")
        )
        .select("doc_id")
        .distinct()
        .withColumn("_n", F.lit(1))
    )
    return (
        bk.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("category"),
        )
    )


def classify_batch(
    batch: DataFrame,
    base: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Every batch row tagged: 'exact_dup' | 'near_dup' | 'new'.

    ``max_df`` defaults ON (10_000) like dedup.ngram_jaccard_pairs — pass
    ``None`` only for an uncapped exact baseline on bounded corpora.

    Exact wins over near (an exact dup is trivially also a near dup);
    near means "no byte-identical base doc, but a Jaccard match".
    """
    exact = exact_dups_vs_base(batch, base).withColumn("_e", F.lit(1))
    near = (
        near_dups_vs_base(batch, base, threshold, max_df)
        .select("doc_id")
        .distinct()
        .withColumn("_n", F.lit(1))
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("category"),
        )
    )
