"""The benchmark's workloads. Each drives the engine only through its public
functions, on inputs made by ``gen`` from the run's seed.

A workload provides ``setup`` (counted in ``setup_s``), ``checks_after``
(untimed correctness checks after the ops, one attempt each),
``ops(deadline)`` (the timed closed loop; each op appends its wall times to
``ctx.op_ms``/``ctx.read_ms`` and checks its own answers untimed),
``install_spans`` and ``layer_metrics`` for traced runs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import inspect
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import gen


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def _du(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class SalesEtl:
    """The paper's pipeline: messy CSV -> validate/clean/derive ->
    warehouse + dead letter -> quality gate -> summary, then the reference
    reports over the fresh warehouse. One op is one ETL run and its
    summary; the reports are checked and timed for the detail record."""

    LINES = 50_000
    WARM_RUNS = 3
    MIN_OPS = 4
    LAYERS = {
        "sinks.write_warehouse": ("self_ms", "jobs", "executor_cpu_ms", "shuffle_write_bytes",
                                  "input_bytes", "output_bytes", "spill_bytes"),
        "sinks.write_dead_letter": ("self_ms", "input_bytes", "output_bytes"),
        "plans.quality_gate": ("self_ms", "jobs", "shuffle_write_bytes"),
        "pipeline.run_sales_etl": ("self_ms", "driver_ms"),
        "plans.summary_report": ("self_ms",),
        "plans.revenue_by_product": ("self_ms",),
        "plans.demo_summary": ("self_ms",),
        "sinks.read_warehouse": ("self_ms",),
    }

    def __init__(self, ctx):
        from gcp_serverless_etl_pipeline_lab_spark import pipeline, sinks
        from gcp_serverless_etl_pipeline_lab_spark.plans import quality, reports

        self.ctx, self.pipeline, self.sinks = ctx, pipeline, sinks
        self.quality, self.reports = quality, reports
        self.cached_bytes: list[int] = []
        self.written_bytes: list[int] = []
        self.report_ms: list[float] = []  # the three reports of one op, together

    def setup(self):
        self.csv = self.ctx.path("sales.csv")
        self.expected = gen.sales_csv(self.csv, self.ctx.seed, self.LINES)

    def warm_up(self):
        """ETL runs until the JIT has settled: op times keep falling for
        several runs after the first (measured 2.7 s, 1.7 s, 1.5 s, then
        1.1-1.3 s from the sixth on, on a 4-core host)."""
        for i in range(self.WARM_RUNS):
            wh, dl = self.ctx.path(f"wh-warm{i}"), self.ctx.path(f"dl-warm{i}")
            res = self.pipeline.run_sales_etl(self.ctx.spark, self.csv, wh, dl)
            res.summary.collect()
            res.unpersist()
            shutil.rmtree(wh, ignore_errors=True)
            shutil.rmtree(dl, ignore_errors=True)

    def _cycle(self, csv: str, exp: gen.SalesExpected, tag: str) -> None:
        ctx, spark = self.ctx, self.ctx.spark
        wh, dl = ctx.path(f"wh-{tag}"), ctx.path(f"dl-{tag}")
        t0 = time.perf_counter()
        res = self.pipeline.run_sales_etl(spark, csv, wh, dl)
        summary = res.summary.collect()[0]
        op_ms = _ms(t0)
        answers = {}
        t0 = time.perf_counter()
        for name, report in (("revenue_by_product", self.reports.revenue_by_product),
                             ("demo_summary", self.reports.demo_summary),
                             ("gated_validation", self.quality.gated_validation)):
            answers[name] = report(self.sinks.read_warehouse(spark, wh)).collect()
        ctx.op_ms.append(op_ms)
        self.report_ms.append(_ms(t0))
        self.cached_bytes.append(sum(
            info.memSize() + info.diskSize()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ))
        self.written_bytes.append(_du(wh)[1] + _du(dl)[1])
        errors = {r["error"]: r["count"] for r in res.errors.groupBy("error").count().collect()}
        res.unpersist()
        self._check(exp, summary, answers, errors, tag)
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(dl, ignore_errors=True)

    def _check(self, exp, summary, answers, errors, tag):
        chk = self.ctx.check
        tol = 0.01 + 1e-9 * exp.revenue
        chk(summary["total_sales"] == exp.clean,
            f"{tag}: clean rows {summary['total_sales']} != {exp.clean}")
        chk(abs(summary["total_revenue"] - exp.revenue) <= tol,
            f"{tag}: revenue {summary['total_revenue']} != {exp.revenue}")
        chk(summary["unique_products"] == exp.products, f"{tag}: products")
        want_errors = {k: v for k, v in exp.errors.items() if v}
        chk(errors == want_errors, f"{tag}: error classes {errors} != {want_errors}")
        by_product = answers["revenue_by_product"]
        chk(len(by_product) == exp.products
            and abs(sum(r["revenue"] for r in by_product) - exp.revenue) <= tol + 0.005 * len(by_product),
            f"{tag}: revenue_by_product")
        demo = answers["demo_summary"]
        chk(len(demo) == 1 and demo[0]["total_rows"] == exp.clean
            and abs(demo[0]["total_revenue"] - exp.revenue) <= tol, f"{tag}: demo_summary")
        gate = answers["gated_validation"]
        chk(len(gate) == 1 and gate[0]["total_rows"] == exp.clean, f"{tag}: gated_validation")

    def ops(self, deadline: float):
        i = 0
        while i < self.MIN_OPS or time.perf_counter() < deadline:
            yield lambda i=i: self._cycle(self.csv, self.expected, f"op{i}")
            i += 1
        self.ctx.detail["etl_lines_per_s"] = round(
            self.LINES / (statistics.median(self.ctx.op_ms) / 1000.0), 1)
        self.ctx.detail["warehouse_reports_ms_p50"] = round(statistics.median(self.report_ms), 2)

    def install_spans(self):
        t = self.ctx.tracer
        t.wrap(self.pipeline, "run_sales_etl")
        t.wrap(self.sinks, "write_warehouse")
        t.wrap(self.sinks, "write_dead_letter")
        t.wrap(self.sinks, "read_warehouse")
        t.wrap(self.quality, "quality_gate", "plans.quality_gate")
        for name in ("summary_report", "revenue_by_product", "demo_summary"):
            t.wrap(self.reports, name, f"plans.{name}")

    def layer_metrics(self) -> dict[str, float]:
        t, n = self.ctx.tracer, len(self.ctx.op_ms)
        totals = t.totals()
        out = {f"{span}.{c}": totals.get(span, {}).get(c, 0.0) / n
               for span, counters in self.LAYERS.items() for c in counters}
        etl_spans = ("pipeline.run_sales_etl", "sinks.write_warehouse",
                     "sinks.write_dead_letter", "plans.quality_gate")
        etl_input = sum(totals.get(s, {}).get("input_bytes", 0.0) for s in etl_spans) / n
        out["transform.cached_bytes"] = sum(self.cached_bytes) / n
        out["sales_etl.scan_amplification"] = etl_input / self.expected.csv_bytes
        out["sinks.bytes_written_per_input_byte"] = (
            sum(self.written_bytes) / n / self.expected.csv_bytes)
        return out


# The mix: registry queries covering every harness family, fixed by name.
# A subset, so that a run of the workload stays near a minute.
MIX = (
    "a0c_sql_validation_gate",  # sql
    "a5_revenue_by_product",  # reports
    "etl_error_counts",  # etl
    "a0b_tpch_q5_region_revenue",  # relational
    "a0b_scd2_incremental_apply",  # events
    "a0_dsir_importance_select",  # corpus
    "dedup_cluster_resolve",  # dedup
    "a0f_bpe_train_merges",  # text
    "sim_search_ivf_trained",  # similarity
    "a0_warehouse_time_travel",  # storage
)
FAMILIES = ("etl", "sql", "reports", "relational", "events", "dedup", "similarity",
            "text", "corpus", "storage")


def family_of(builder) -> str:
    """Harness family module of a registered builder (the registry wraps
    each builder in a closure over the family function)."""
    fn = inspect.getclosurevars(builder).nonlocals.get("fn", builder)
    return fn.__module__.rsplit(".", 1)[-1]


def _oracle_util():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(gen.__file__))),
                        "tests", "oracle_util.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_util", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMix:
    """Registry queries over seeded tables, each timed as builder plus a
    collect of its rows. One read sample is one pass over the mix in its
    declared order, run once per session after the ETL ops: a batch job
    runs each report once, so the pass includes each query's first-run
    costs (codegen, first-call JIT) but not the session's. The collected
    rows are checked against the DuckDB oracles afterwards, untimed."""

    def __init__(self, ctx):
        from gcp_serverless_etl_pipeline_lab_spark.harness import QUERIES

        self.ctx = ctx
        self.queries = {name: QUERIES[name] for name in MIX}
        self.order = list(MIX)
        self.passes: list[float] = []
        self.query_ms: list[float] = []
        self.exec_ms: list[float] = []
        self.rows: dict[str, tuple[list[str], list[dict]]] = {}

    def setup(self):
        self.sf = self.ctx.path("tables")
        gen.tables(self.sf, self.ctx.seed)

    def checks_after(self):
        oracle = _oracle_util()

        def check(name):
            cols, rows = self.rows[name]
            want = oracle.run_oracle(self.queries[name].oracle, self.sf)
            ok = sorted(cols) == sorted(want.columns) and oracle.canonical_rows(
                rows, cols) == oracle.canonical_rows(want.to_dict("records"), list(want.columns))
            self.ctx.check(ok, f"{name}: differs from its DuckDB oracle")

        return [lambda name=name: check(name) for name in self.order]

    def _run(self, name: str) -> None:
        ctx, q = self.ctx, self.queries[name]
        fam = family_of(q.builder)
        tracer = ctx.tracer
        t0 = time.perf_counter()
        if tracer is None:
            df = q.builder(ctx.spark, self.sf)
            t1 = time.perf_counter()
            rows = df.collect()
        else:
            with tracer.span(f"harness.{fam}.build"):
                df = q.builder(ctx.spark, self.sf)
            t1 = time.perf_counter()
            with tracer.span(f"harness.{fam}.exec"):
                rows = df.collect()
        self.query_ms.append(_ms(t0))
        self.exec_ms.append(_ms(t1))
        self.rows[name] = (df.columns, [r.asDict() for r in rows])

    def _pass(self) -> None:
        t0 = time.perf_counter()
        for name in self.order:
            self._run(name)
        self.passes.append(time.perf_counter() - t0)
        self.ctx.read_ms.append(self.passes[-1] * 1000.0)

    def ops(self, deadline: float):
        yield self._pass
        self.ctx.detail["query_ms_p50"] = round(statistics.median(self.query_ms), 2)
        self.ctx.detail["exec_ms_p50"] = round(statistics.median(self.exec_ms), 2)
        self.ctx.detail["mix_pass_s"] = round(self.passes[0], 3)

    def layer_metrics(self) -> dict[str, float]:
        totals, n = self.ctx.tracer.totals(), len(self.passes)
        out = {}
        for fam in FAMILIES:
            build = totals.get(f"harness.{fam}.build", {})
            exe = totals.get(f"harness.{fam}.exec", {})
            out[f"harness.{fam}.build_ms"] = build.get("self_ms", 0.0) / n
            out[f"harness.{fam}.build_jobs"] = build.get("jobs", 0.0) / n
            out[f"harness.{fam}.exec_ms"] = exe.get("self_ms", 0.0) / n
            out[f"harness.{fam}.stages"] = exe.get("stages", 0.0) / n
            out[f"harness.{fam}.executor_cpu_ms"] = exe.get("executor_cpu_ms", 0.0) / n
        mix = [v for k, v in totals.items() if k.startswith("harness.")]
        out["harness.driver_ms"] = sum(v["driver_ms"] for v in mix) / n
        out["harness.shuffle_write_bytes"] = sum(v["shuffle_write_bytes"] for v in mix) / n
        return out

    def build_jobs_by_query(self) -> dict[str, int]:
        """Driver-synchronous jobs each query's builder fired (traced runs)."""
        out: dict[str, int] = {}
        builds = [s for s in self.ctx.tracer.spans if s.name.endswith(".build")]
        for name, span in zip(self.order, builds):
            out[name] = len(span.jobs)
        return out


NIGHTLY_LEGS = (
    ("lexindex", "indexed_doc_ids"), ("lexindex", "append_lexical_index"),
    ("annindex", "append_ann_index"), ("incremental", "append_to_index"),
    ("annindex", "delete_from_ann_index"), ("lexindex", "delete_from_lexical_index"),
    ("incremental", "delete_from_index"), ("lexindex", "compact_lexical_index"),
    ("annindex", "compact_ann_index"), ("incremental", "compact_index"),
)
PROBES = ("bm25_topk_from_index", "hybrid_topk_rrf_from_index")


class NightlyIndex:
    """Index maintenance with reads between the writes. Set-up copies the
    lexical, ANN and text indexes of the base corpus (built by the first run
    in a checkout) and lands one untimed warm-up night. Every op restores
    the base indexes (untimed) and lands one night on them through
    ``run_nightly``: new docs, re-sent docs and a delete increment. One read
    sample is a BM25 probe plus a hybrid probe after the night.

    The first night in a session costs up to a third more than later ones,
    and a night on a grown index more than one on the base, so without the
    warm-up and the restore a run's figure would depend on JIT progress and
    on how many nights it reached.
    """

    COMPACT_EVERY = 4
    MIN_NIGHTS = 1
    INDEXES = ("lex", "ann", "text")

    def __init__(self, ctx):
        from gcp_serverless_etl_pipeline_lab_spark.operators import (
            annindex, incremental, lexindex, retrieval,
        )
        from gcp_serverless_etl_pipeline_lab_spark.streaming import nightly

        self.ctx = ctx
        self.mods = {"lexindex": lexindex, "annindex": annindex,
                     "incremental": incremental, "nightly": nightly}
        self.retrieval = retrieval
        self.nights_done = 0
        self.last_night = None
        self.new_files = 0
        self.new_bytes = 0

    def _paths(self):
        return {name: self.ctx.path(name) for name in self.INDEXES}

    def setup(self):
        self.plan = gen.corpus(self.ctx.seed)
        self.pristine = self._pristine()
        self._restore()
        self.start_files = self._index_files()
        self._night(0, record=False)

    def _pristine(self) -> str:
        """The base indexes, built once per checkout, engine source and
        benchmark source; later runs copy them. The corpus base does not
        depend on the seed."""
        import gcp_serverless_etl_pipeline_lab_spark as pkg

        digest = hashlib.sha256()
        pkg_root = os.path.dirname(pkg.__file__)
        sources = [os.path.join(d, n) for d, _, names in os.walk(pkg_root)
                   for n in names if n.endswith(".py")]
        here = os.path.dirname(os.path.abspath(__file__))
        sources += [os.path.join(here, n) for n in ("gen.py", "run.py", "workloads.py")]
        for path in sorted(sources):
            digest.update(os.path.relpath(path, pkg_root).encode())
            with open(path, "rb") as fh:
                digest.update(fh.read())
        root = os.path.join(self.ctx.cache, f"nightly-base-{digest.hexdigest()[:16]}")
        if os.path.isdir(root):
            return root
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        ctx, m = self.ctx, self.mods
        base_path = ctx.path("base.parquet")
        pq.write_table(self.plan.rows(self.plan.base_ids), base_path)
        from pyspark.sql import functions as F

        base = ctx.spark.read.parquet(base_path)
        m["lexindex"].build_lexical_index(base.select("doc_id", "text"), os.path.join(tmp, "lex"))
        m["annindex"].build_ann_index(
            base.select(F.col("doc_id").alias("vec_id"), "embedding"), os.path.join(tmp, "ann"),
            64, cells=8, iters=2, sample_rate=1.0)
        m["incremental"].build_base_index(base.select("doc_id", "text"), os.path.join(tmp, "text"))
        os.rename(tmp, root)
        return root

    def _restore(self) -> None:
        """The base indexes as built, an empty inbox, no merged corpus."""
        for name in (*self.INDEXES, "merged", "inbox", "deletes"):
            shutil.rmtree(self.ctx.path(name), ignore_errors=True)
        for name, path in self._paths().items():
            shutil.copytree(os.path.join(self.pristine, name), path)

    def _index_files(self) -> dict[str, int]:
        out = {}
        for root in self._paths().values():
            for dirpath, _, names in os.walk(root):
                for n in names:
                    full = os.path.join(dirpath, n)
                    out[full] = os.path.getsize(full)
        return out

    def _night(self, k: int, record: bool = True) -> None:
        """Night ``k`` on the base indexes, then its probes; the warm-up
        (``record`` false) lands the night only and keeps nothing."""
        ctx, night = self.ctx, self.plan.nights[k]
        self._restore()
        name = f"n{k:04d}"
        inbox, deletes = ctx.path("inbox"), ctx.path("deletes")
        os.makedirs(os.path.join(inbox, name))
        os.makedirs(os.path.join(deletes, name))
        pq.write_table(self.plan.rows(night.new_ids + night.resent_ids),
                       os.path.join(inbox, name, "part-0.parquet"))
        pq.write_table(self.plan.rows(night.deleted_ids).select(["doc_id"]),
                       os.path.join(deletes, name, "part-0.parquet"))
        queries = [self._query_frame(doc) for _, doc in night.probes] if record else []
        idx = self._paths()
        os.sync()  # the restore's writeback is not the night's
        t0 = time.perf_counter()
        r = self.mods["nightly"].run_nightly(
            ctx.spark, inbox, lex_index_path=idx["lex"], ann_index_path=idx["ann"],
            text_index_path=idx["text"], merged_dir=ctx.path("merged"),
            deletes_dir=deletes, compact_every=self.COMPACT_EVERY)
        night_ms = _ms(t0)
        if not record:
            return
        lex, probe_ms = self.mods["lexindex"], []
        for (terms, _), query in zip(night.probes, queries):
            t0 = time.perf_counter()
            lex.bm25_topk_from_index(ctx.spark, idx["lex"], terms, k=10).collect()
            lex.hybrid_topk_rrf_from_index(ctx.spark, idx["lex"], idx["ann"], terms, query,
                                           k=10).collect()
            probe_ms.append(_ms(t0))
        ctx.op_ms.append(night_ms)
        ctx.read_ms.extend(probe_ms)
        self.nights_done += 1
        self.last_night = night
        fresh = {f: b for f, b in self._index_files().items() if f not in self.start_files}
        self.new_files += len(fresh)
        self.new_bytes += sum(fresh.values())
        chk = ctx.check
        chk(r["new_docs"] == len(night.new_ids), f"{name}: new_docs {r['new_docs']}")
        chk(r["duplicate_docs"] == len(night.resent_ids),
            f"{name}: duplicate_docs {r['duplicate_docs']}")
        chk(r["applied_deletes"] == [name], f"{name}: applied_deletes {r['applied_deletes']}")
        chk(r["appended_lex"] == r["appended_ann"] == r["appended_text"] == [name],
            f"{name}: appended legs")

    def _query_frame(self, doc_id: int):
        row = self.plan.rows([doc_id])
        return self.ctx.spark.createDataFrame(
            [(doc_id, [float(x) for x in row.column("embedding")[0].as_py()])],
            "vec_id long, embedding array<float>")

    def ops(self, deadline: float):
        k = 1  # night 0 was the warm-up
        while k < len(self.plan.nights) and (k <= self.MIN_NIGHTS or time.perf_counter() < deadline):
            yield lambda k=k: self._night(k)
            k += 1
        files, size = 0, 0
        for root in self._paths().values():
            f, b = _du(root)
            files, size = files + f, size + b
        self.ctx.detail["nightly_night_ms_p50"] = round(
            statistics.median(self.ctx.op_ms), 1)
        self.ctx.detail["probe_pair_ms_p50"] = round(
            statistics.median(self.ctx.read_ms), 2)
        if self.last_night is not None:
            live = len(self.plan.live_after(self.last_night))
            self.ctx.detail["index_bytes_per_doc"] = round(size / live, 1)
        self.ctx.detail["index_files"] = files

    def checks_after(self):
        """BM25 parity: the served index against a scan of the live corpus."""
        def parity():
            ctx, night = self.ctx, self.last_night
            terms = night.probes[0][0]
            live = sorted(self.plan.live_after(night))
            path = ctx.path("live.parquet")
            pq.write_table(self.plan.rows(live).select(["doc_id", "text"]), path)
            docs = ctx.spark.read.parquet(path)
            want = sorted(map(tuple, self.retrieval.bm25_topk(docs, terms, k=10).collect()))
            got = sorted(map(tuple, self.mods["lexindex"].bm25_topk_from_index(
                ctx.spark, self._paths()["lex"], terms, k=10).collect()))
            ctx.check(got == want and bool(got), f"bm25 parity {terms}: {got[:3]} vs {want[:3]}")

        return [parity]

    def install_spans(self):
        t = self.ctx.tracer
        t.wrap(self.mods["nightly"], "run_nightly")
        for mod, fn in NIGHTLY_LEGS:
            t.wrap(self.mods[mod], fn)
        for fn in PROBES:
            t.wrap(self.mods["lexindex"], fn)

    def layer_metrics(self) -> dict[str, float]:
        totals, n = self.ctx.tracer.totals(), max(self.nights_done, 1)
        out = {}
        for span in ["nightly.run_nightly"] + [f"{m}.{f}" for m, f in NIGHTLY_LEGS] + [
                f"lexindex.{p}" for p in PROBES]:
            for c in ("self_ms", "jobs", "driver_ms"):
                out[f"{span}.{c}"] = totals.get(span, {}).get(c, 0.0) / n
        out["index.files_written"] = self.new_files / n
        out["index.bytes_written"] = self.new_bytes / n
        gens = []
        for root in self._paths().values():
            with open(os.path.join(root, "_MANIFEST.json")) as fh:
                gens.append(len(json.load(fh)["generations"]))
        out["index.generations_max"] = max(gens)
        return out


class SalesAnalytics:
    """The sales ETL and the query mix in one session: ops are ETL runs,
    the read sample is a pass over the registry mix, which includes the
    reference reports. One session serves both so that a run pays one
    JVM start and one warm-up."""

    def __init__(self, ctx):
        self.etl, self.mix = SalesEtl(ctx), QueryMix(ctx)

    def setup(self):
        self.etl.setup()
        self.mix.setup()
        self.etl.warm_up()

    def checks_after(self):
        return self.mix.checks_after()  # ETL ops check their own answers

    def ops(self, deadline: float):
        # ETL ops right after their warm-up: a mix pass in between sends
        # the next ETL run back up its warm-up curve
        yield from self.etl.ops(deadline)
        yield from self.mix.ops(deadline)

    def install_spans(self):
        self.etl.install_spans()  # the mix opens its spans per query

    def layer_metrics(self) -> dict[str, float]:
        return {**self.etl.layer_metrics(), **self.mix.layer_metrics()}

    def build_jobs_by_query(self) -> dict[str, int]:
        return self.mix.build_jobs_by_query()


WORKLOADS = {"sales_analytics": SalesAnalytics, "nightly_index": NightlyIndex}
