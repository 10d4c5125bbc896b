"""The benchmark workloads.

Each workload drives the package's public entry points only:

* ``setup()`` makes or loads its seeded inputs and warms the session up;
* ``op()`` is one timed operation, run in a closed loop by ``run.py``;
* ``check()`` compares every output with an independent reference and
  returns the number of failed operations;
* ``report()`` gives the workload's named end-to-end figures;
* ``probe()`` makes the traced run's extra measurements while the session
  is up, and ``layers()`` turns spans and Spark counters into per-layer
  figures once the event log is complete.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import inputs
import spans as TR

CORPUS_ROWS = 4000
CORPUS_FILES = 8
NUM_BUCKETS = 8
CHUNK_SIZE = 4  # two chunks; the crash comes after the first
CLAIMS = 1500
CATALOG_SF = 0.001
# The timed slice of the 102-query catalog, small enough for one run: the
# minhash near-dup pair composite with its eager-job tail (q37), the pure
# minhash kernel (q43), the driver-side k-means fit (q66),
# and three light queries (a scan aggregate, a four-way join and the
# session funnel) as the control.  ``catalog_table.py`` covers all 102.
CATALOG_QUERIES = (
    "q01_pricing_summary", "q14_multi_join", "q37_near_dup_pairs",
    "q43_minhash_poly_signatures", "q66_kmeans_clusters",
    "q88_session_funnel",
)
# Queries issuing ten or more Spark jobs at this scale; a traced run
# builds and runs each once more, for its own construct_s and job count.
HEAVY_QUERIES = (
    "q37_near_dup_pairs", "q44_near_dup_clusters", "q45_near_dup_dedup_action",
    "q46_fingerprint_group_near_dup", "q48_embedding_dedup_action", "q67_semantic_dedup",
    "q68_dsir_weighted_sample", "q80_caption_consolidation", "q85_robots_policy",
    "q89_link_graph_authority", "q94_domain_top_terms", "q95_pair_dup_crosstab",
    "q99_site_mirrors", "q100_mirror_collapse",
)
SPARK_CHECKS = ("claims_data", "stats_quality", "diagnosis_diversity", "data_quality_sampled")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _verdict_digest(pdf):
    """Order-free form of a verdict table: the rows sorted by every
    compared column."""
    cols = ["image_id", "caption", "keep", "caption_scrubbed"]
    return pdf[cols].fillna({"caption": "", "caption_scrubbed": "<NULL>"}).sort_values(cols).reset_index(drop=True)


class Workload:
    name = ""
    min_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.lat: list[float] = []  # one per op
        self.attempted = 0
        self.probe_failed = 0  # failed checks of the traced-only measurements
        self.gen_hit = False

    def work(self, *parts) -> str:
        return os.path.join(self.ctx.work_dir, *parts)

    def probe(self) -> dict:
        """Trace-only measurements that need the live session."""
        return {}

    def layers(self, counters) -> dict:
        return {}


# ---------------------------------------------------------------------------


class FilterScrub(Workload):
    """One ``run_pipeline`` plus the verdict-parquet write per operation."""

    name = "filter_scrub"
    rows = CORPUS_ROWS
    min_ops = 5

    def setup(self):
        with self.tr.span("sources.generate"):
            self.path, self.gen_hit = inputs.corpus(CORPUS_ROWS, CORPUS_FILES, self.ctx.seed)
        self.images = self.spark.read.parquet(self.path)
        self.outputs: list[str] = []
        from data_quality_analyzer_spark.plans.pipeline import run_pipeline

        # warm-up: one operation's work (codegen, Python workers, models,
        # the parquet writer); on a quarter of the rows the first timed
        # operation still ran 20-30% slower than the rest
        with self.tr.span("setup.warmup"):
            run_pipeline(self.spark, self.images).drop("bytes").write.mode("overwrite").parquet(self.work("warmup"))

    def op(self, i):
        from data_quality_analyzer_spark.plans.pipeline import run_pipeline

        self.attempted += 1
        out = self.work("out", f"op{i}")
        with self.tr.span("op"):
            with self.tr.span("plans.pipeline.construct"):
                verdicts = run_pipeline(self.spark, self.images)
            with self.tr.span("plans.pipeline.execute"):
                verdicts.drop("bytes").write.mode("overwrite").parquet(out)
        self.outputs.append(out)

    def check(self):
        """Every written verdict table against the pandas oracle."""
        import pandas as pd
        from data_quality_analyzer_spark.oracle.pandas_oracle import f1_keep, oracle_verdicts

        self.corpus = pd.read_parquet(self.path).reset_index(drop=True)
        self.orc = oracle_verdicts(self.corpus).join(self.corpus[["caption"]])
        want = _verdict_digest(self.orc)
        self.f1, failed = [], 0
        for out in self.outputs:
            got = _verdict_digest(pd.read_parquet(out))
            ok = len(got) == len(want) and (got["image_id"] == want["image_id"]).all()
            f1 = f1_keep(got["keep"], want["keep"]) if ok else 0.0
            self.f1.append(f1)
            ok = ok and f1 >= 0.99 and (got["caption_scrubbed"] == want["caption_scrubbed"]).all()
            failed += not ok
        return failed

    def report(self):
        return {"keep_f1_min": (min(self.f1) if self.f1 else 0.0, "ratio")}

    def probe(self):
        import pandas as pd
        from data_quality_analyzer_spark.functions import caption_scores as CS
        from data_quality_analyzer_spark.functions import langid as LI
        from data_quality_analyzer_spark.functions import perplexity as PX
        from data_quality_analyzer_spark.functions import quality_clf as QC
        from data_quality_analyzer_spark.operators import images as IM

        # the UDF bodies, called directly on the rows the gate lets through
        gate = self.orc["pass_caption_present"] & self.orc["pass_toxicity"] & self.orc["pass_bytes_present"]
        c = self.corpus.assign(caption=self.corpus["caption"].where(gate, None),
                               bytes=self.corpus["bytes"].where(gate, None))
        models = (LI.get_model(), PX.get_model(), QC.get_model())
        batches = [c.iloc[a:a + 10_000].reset_index(drop=True) for a in range(0, len(c), 10_000)]
        t0 = time.perf_counter()
        for b in batches:
            CS.score_all(b["caption"], *models)
        t1 = time.perf_counter()
        for b in batches:
            IM.validate_batch(b["bytes"], b["w"], b["h"], b["fmt"])
        t2 = time.perf_counter()
        flags = pd.read_parquet(self.outputs[0],
                                columns=["pass_caption_present", "pass_toxicity", "pass_bytes_present"])
        self.lineage = LineageCycle(self)
        self.attempted += self.lineage.run()
        self.probe_failed = self.lineage.check()
        return {
            "sources.scan_s": self.ctx.bare_scan(self.images),
            "sources.chunk_scan_s": self.lineage.scan_s(),
            "functions.caption_scores.busy_s": t1 - t0,
            "operators.images.validate_busy_s": t2 - t1,
            "functions.gate_pass_ratio": float(flags.all(axis=1).sum()) / len(flags),
        }

    def layers(self, counters):
        ops = self.tr.named("op")
        per_op = [TR.rollup(self.tr, counters, s["id"]) for s in ops]
        m = {
            "plans.pipeline.construct_s": median(self.tr.durations("plans.pipeline.construct")),
            "plans.pipeline.execute_s": median(self.tr.durations("plans.pipeline.execute")),
        }
        for k in ("jobs", "executor_run_s", "gc_s", "python_rows_out", "python_bytes_sent", "python_bytes_received"):
            m[f"plans.pipeline.{k}"] = median([c.get(k, 0) for c in per_op])
        return {**m, **self.lineage.layers(counters)}


# ---------------------------------------------------------------------------


class LineageCycle:
    """Chunked ``run_with_checkpoints`` on the filter_scrub corpus, crashed
    halfway through its chunks, resumed, then the ``scripts/run_pipeline.py``
    tail.  Traced runs of filter_scrub make one such cycle after the timed
    loop, so the lineage layer is measured where the UDF work is the same."""

    def __init__(self, wl: Workload):
        self.wl, self.tr, self.spark = wl, wl.tr, wl.spark
        self.n_chunks = -(-NUM_BUCKETS // CHUNK_SIZE)
        self.crash_after = self.n_chunks // 2

    def run(self) -> int:
        """Run the cycle; returns the chunk commits attempted."""
        from data_quality_analyzer_spark.plans import lineage as LN
        from data_quality_analyzer_spark.plans.pipeline import langid_histogram, pipeline_metrics

        images, rows = self.wl.images, self.wl.rows
        self.ref_dir, self.out = self.wl.work("single_pass"), self.wl.work("cycle")
        with self.tr.span("plans.lineage.single_pass") as sp:
            LN.run_with_checkpoints(self.spark, images, self.ref_dir, "ref", num_buckets=NUM_BUCKETS)
        self.single_pass_id = sp["id"]
        args = (self.spark, images, self.out, "cycle")
        kw = {"num_buckets": NUM_BUCKETS, "chunk_size": CHUNK_SIZE}
        with self.tr.span("plans.lineage.cycle") as cyc:
            with self.tr.span("plans.lineage.first_pass"):
                try:
                    LN.run_with_checkpoints(*args, fail_after_chunks=self.crash_after, **kw)
                except RuntimeError as exc:
                    if "injected failure" not in str(exc):
                        raise
            committed = LN.read_manifest(self.out)["committed"]
            self.pending_rows = rows - sum(b["rows"] for b in committed.values())
            with self.tr.span("plans.lineage.resume"):
                LN.run_with_checkpoints(*args, **kw)
            with self.tr.span("plans.lineage.tail"):
                verdicts = LN.read_committed(self.spark, self.out)
                pipeline_metrics(verdicts).write.mode("overwrite").parquet(os.path.join(self.out, "_metrics"))
                langid_histogram(verdicts).write.mode("overwrite").parquet(
                    os.path.join(self.out, "_langid_histogram"))
                verdicts.count(), verdicts.filter("keep").count()  # the script's summary line
        self.cycle_id = cyc["id"]
        return self.n_chunks

    def _committed_rows(self, out):
        from data_quality_analyzer_spark.plans import lineage as LN

        return _verdict_digest(LN.read_committed(self.spark, out).drop("bytes").toPandas())

    def check(self) -> int:
        """The resumed table must equal the single-pass one, and the manifest
        must count every input row exactly once."""
        from data_quality_analyzer_spark.plans import lineage as LN

        manifest = LN.read_manifest(self.out)["committed"]
        got = self._committed_rows(self.out)
        ok = (
            len(manifest) == NUM_BUCKETS
            and sum(b["rows"] for b in manifest.values()) == self.wl.rows
            and len(got) == self.wl.rows
            and got.equals(self._committed_rows(self.ref_dir))
        )
        return 0 if ok else self.n_chunks

    def scan_s(self) -> float:
        """Bare scan of each chunk's input, as the chunked run reads it."""
        import pyspark.sql.functions as F

        bucketed = self.wl.images.withColumn("bucket", F.pmod(F.col("phash"), F.lit(NUM_BUCKETS)))
        return sum(
            self.wl.ctx.bare_scan(bucketed.filter(F.col("bucket").isin(list(range(a, a + CHUNK_SIZE)))))
            for a in range(0, NUM_BUCKETS, CHUNK_SIZE)
        )

    def layers(self, counters) -> dict:
        def span(name):
            (s,) = self.tr.named(name)
            return s

        def dur(name):
            s = span(name)
            return s["end"] - s["start"]

        def count(sid, key):
            return TR.rollup(self.tr, counters, sid).get(key, 0)

        jobs = sum(count(span(n)["id"], "jobs") for n in ("plans.lineage.first_pass", "plans.lineage.resume"))
        n_files = data_bytes = 0
        for root, _dirs, names in os.walk(self.out):
            for n in names:
                if n.endswith(".crc") or n.startswith("_"):
                    continue
                n_files += 1
                if os.path.dirname(root) == self.out and os.path.basename(root).startswith("bucket="):
                    data_bytes += os.path.getsize(os.path.join(root, n))
        written = count(self.cycle_id, "bytes_written")
        # rows through the Python UDFs per input row, from the single pass
        py_per_row = count(self.single_pass_id, "python_rows_out") / self.wl.rows
        recomputed = count(span("plans.lineage.resume")["id"], "python_rows_out") / py_per_row if py_per_row else 0.0
        return {
            "plans.lineage.first_pass_s": dur("plans.lineage.first_pass"),
            "plans.lineage.resume_s": dur("plans.lineage.resume"),
            "plans.lineage.tail_s": dur("plans.lineage.tail"),
            "plans.lineage.jobs_per_chunk": jobs / self.n_chunks,
            "plans.lineage.files_written": n_files,
            "plans.lineage.bytes_written": written,
            "plans.lineage.write_amp": written / data_bytes if data_bytes else 0.0,
            "plans.lineage.resume_recompute_ratio": recomputed / self.pending_rows if self.pending_rows else 0.0,
        }


# ---------------------------------------------------------------------------


class QueryCatalog(Workload):
    """Catalog queries, each built and then written to the noop sink, in a
    seeded order.  One operation is one pass over ``CATALOG_QUERIES``."""

    name = "query_catalog"
    min_ops = 2

    def setup(self):
        with self.tr.span("sources.generate"):
            self.sf_dir, self.gen_hit = inputs.catalog(CATALOG_SF)
        import pyarrow.parquet as pq
        from data_quality_analyzer_spark.plans import entry_queries as EQ
        from data_quality_analyzer_spark.sources.catalog import TABLES

        self.rows = sum(pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows for t in TABLES)
        self.fns = EQ.queries()
        self.order = list(CATALOG_QUERIES)
        self.ctx.rng.shuffle(self.order)
        # warm-up pass: every query once, its result kept for the check
        self.results = {}
        with self.tr.span("setup.warmup"):
            for q in self.order:
                try:
                    self.results[q] = self.fns[q](self.spark, self.sf_dir).toPandas()
                except Exception as exc:  # checked below
                    self.results[q] = exc
        self.query_lat: dict[str, list[float]] = {q: [] for q in self.order}
        self.errors: list[str] = []

    def _run(self, q: str, phase: str) -> float:
        """Build query ``q``, then write it to the noop sink."""
        t0 = time.perf_counter()
        with self.tr.span("plans.entry_queries.construct", query=q, phase=phase):
            df = self.fns[q](self.spark, self.sf_dir)
        with self.tr.span("plans.entry_queries.execute", query=q, phase=phase):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def op(self, i):
        with self.tr.span("op"):
            for q in self.order:
                self.attempted += 1
                try:
                    self.query_lat[q].append(self._run(q, "op"))
                except Exception as exc:
                    self.errors.append(f"{q}: {exc}")

    def _expected(self, con, sql: str):
        """DuckDB twin's result; cached beside the (fixed) catalog tables."""
        import pandas as pd

        path = os.path.join(self.sf_dir, "_expected", hashlib.sha256(sql.encode()).hexdigest()[:16] + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = con.sql(sql).df()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def check(self):
        from data_quality_analyzer_spark.oracle.compare import compare_frames, duck_connection
        from data_quality_analyzer_spark.plans import entry_queries as EQ

        oracles = EQ.oracle_sql()
        con = duck_connection(self.sf_dir)
        self.mismatch = [
            q for q in self.order
            if isinstance(self.results[q], Exception)
            or not compare_frames(q, self.results[q], self._expected(con, oracles[q])).ok
        ]
        con.close()
        return len(self.errors) + len(self.lat) * len(self.mismatch)

    def report(self):
        lat = sorted(x for xs in self.query_lat.values() for x in xs)
        return {
            "query_p50_s": (median(lat), "s"),
            "query_p90_s": (statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else median(lat), "s"),
            "queries_timed": (len(lat), "count"),
        }

    def probe(self):
        for q in HEAVY_QUERIES:
            self._run(q, "probe")
        return {}

    def layers(self, counters):
        c, e = "plans.entry_queries.construct", "plans.entry_queries.execute"

        def per_pass(name, key=None):
            vals = []
            for op in self.tr.named("op"):
                ids = set(self.tr.subtree(op["id"]))
                spans = [s for s in self.tr.spans if s["id"] in ids and s["name"] == name]
                vals.append(sum(
                    s["end"] - s["start"] if key is None else counters.get(s["id"], {}).get(key, 0)
                    for s in spans
                ))
            return median(vals)

        m = {
            "plans.entry_queries.construct_s": per_pass(c),
            "plans.entry_queries.execute_s": per_pass(e),
            "plans.entry_queries.construct_jobs": per_pass(c, "jobs"),
            "plans.entry_queries.execute_jobs": per_pass(e, "jobs"),
        }
        for k in ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                  "executor_run_s", "gc_s"):
            m[f"plans.entry_queries.{k}"] = per_pass(c, k) + per_pass(e, k)
        probe = {(s["name"], s["query"]): s for s in self.tr.spans if s.get("phase") == "probe"}
        for q in HEAVY_QUERIES:
            cons, exe = probe[(c, q)], probe[(e, q)]
            m[f"plans.entry_queries.{q}.construct_s"] = cons["end"] - cons["start"]
            m[f"plans.entry_queries.{q}.jobs"] = sum(counters.get(x["id"], {}).get("jobs", 0) for x in (cons, exe))
        return m


# ---------------------------------------------------------------------------


class ReadinessGate(Workload):
    """The EP2 readiness gate as ``scripts/run_checks.py`` composes it; one
    operation is one gate."""

    name = "readiness_gate"
    rows = CLAIMS
    min_ops = 6

    def setup(self):
        with self.tr.span("sources.generate"):
            self.path, self.gen_hit = inputs.claims(CLAIMS, self.ctx.seed)
        self.claims = self.spark.read.parquet(self.path)
        with self.tr.span("setup.warmup"):
            self.reference = self._gate()
        self.outputs = []

    def _gate(self):
        from data_quality_analyzer_spark import config as CFG
        from data_quality_analyzer_spark.operators import checks as CK
        from data_quality_analyzer_spark.operators import claims as CL

        claims, rs, doc = self.claims, CK.DEFAULT_READINESS, CFG.default_doc()
        with self.tr.span("operators.claims.generate_stats"):
            stats = CL.generate_stats(claims)

        def traced(name, fn):
            def call():
                with self.tr.span(f"operators.checks.{name}"):
                    return fn()
            return call

        results = CK.run_readiness_checks([
            lambda: CFG.validate_settings(doc),
            traced("claims_data", lambda: CK.check_claims_data(claims, rs)),
            traced("stats_quality", lambda: CK.check_stats_quality(claims, stats, rs, stats_age_days=None)),
            traced("diagnosis_diversity", lambda: CK.check_diagnosis_diversity(claims, rs)),
            traced("data_quality_sampled", lambda: CK.check_data_quality_sampled(stats, rs)),
        ])
        # severity-weighted readiness score, as scripts/run_checks.py
        weights = {"critical": 0.4, "high": 0.3, "medium": 0.2, "low": 0.1}
        total_w = passed_w = 0.0
        for r in results:
            w = 0.2 if r["status"] == "passed" else weights.get(r["severity"], 0.2)
            total_w += w
            passed_w += w if r["status"] == "passed" else 0.0
        score = round(passed_w / total_w * 100, 4) if total_w else 0.0
        return [(r["key"], r["status"], r["severity"]) for r in results], score

    def op(self, i):
        with self.tr.span("op"):
            self.outputs.append(self._gate())
        self.attempted += 1

    def check(self):
        return sum(out != self.reference for out in self.outputs)

    def report(self):
        return {"gate_p50_s": (median(self.lat), "s"), "readiness_score": (self.reference[1], "%")}

    def layers(self, counters):
        m = {}
        for name in SPARK_CHECKS:
            spans = [s for s in self.tr.named(f"operators.checks.{name}")
                     if self.tr.spans[s["parent"]]["name"] == "op"]
            m[f"operators.checks.{name}.s"] = median([s["end"] - s["start"] for s in spans])
            m[f"operators.checks.{name}.jobs"] = median([TR.rollup(self.tr, counters, s["id"]).get("jobs", 0) for s in spans])
        return m


WORKLOADS = {w.name: w for w in (FilterScrub, QueryCatalog, ReadinessGate)}
