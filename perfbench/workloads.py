"""The benchmark's workloads: ``extract`` and ``catalog``.

Each is a closed-loop batch job driven through the engine's public entry
points. A workload object owns its seeded inputs, its warm-up, the timed
loop (``measure``, spans off), the output checks (outside the timed
region) and the traced layer decomposition (``layers``).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

from perfbench import inputs, sparkenv
from perfbench.measure import percentile, prefix_layers, samples_beyond

# Job-group prefix of traced calls, so statusTracker can count the jobs,
# stages and tasks of exactly that call.
GROUP = "perfbench"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _in_group(spark, group: str, fn):
    spark.sparkContext.setJobGroup(group, group)
    try:
        return fn()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def _import_from(directory: str, module: str):
    """Import a module of the repository that is not in a package
    (tests/, jobs/)."""
    import importlib

    if directory not in sys.path:
        sys.path.insert(0, directory)
    return importlib.import_module(module)


def _loop(seconds: float, body, min_rounds: int = 1) -> None:
    """Run ``body(round)`` at least ``min_rounds`` times and until
    ``seconds`` have passed."""
    t0 = time.perf_counter()
    rounds = 0
    while rounds < min_rounds or time.perf_counter() - t0 < seconds:
        body(rounds)
        rounds += 1


class Outcome:
    """Attempted and failed operation counts, with the failures by name."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self, label: str, fn):
        """Run one operation; its wall time, or None when it raised (then
        it counts as failed)."""
        self.attempted += 1
        try:
            return _timed(fn)
        except Exception as e:  # a failed operation is a result, not a crash
            self.failed += 1
            self.failures.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
            return None

    def check(self, label: str, problems: list[str]) -> None:
        """Count the operation ``label`` as failed when its output check
        found problems."""
        if problems:
            self.failed += 1
            self.failures.append(f"{label}: " + "; ".join(problems))


class Workload:
    name = ""

    def __init__(self, root: str, work: str, seed: int, env: dict, tracer):
        self.root, self.seed, self.env, self.tracer = root, seed, env, tracer
        self.inputs_dir = os.path.join(work, "inputs")
        self.out_dir = os.path.join(work, "out", self.name)

    def scratch(self, name: str) -> str:
        path = os.path.join(self.out_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


# --------------------------------------------------------------------------
# extract
# --------------------------------------------------------------------------

class Extract(Workload):
    name = "extract"
    N_PAGES = 2_000
    # The jobs/extract_job.py commit scaled to an input that fits a run:
    # 500 pages a bucket, all four buckets in one commit group. A second
    # group adds about 2.5 s of fixed cost per commit, which the run
    # budget cannot afford.
    BUCKETS, PER_COMMIT = 4, 4
    ORACLE_SAMPLE = 48
    # A round is two noop passes and a commit; a noop pass spreads more
    # than a commit from run to run, so it gets twice the samples.
    NOOPS_PER_ROUND, MIN_ROUNDS = 2, 2
    # The engine keeps getting faster for several passes after the first,
    # and longer when the host is busy, so the warm-up repeats the noop
    # pass until one is less than STEADY faster than the one before it.
    WARM_PASSES, STEADY = (2, 4), 0.05

    def files(self) -> int:
        # several scan tasks per slot, so one slot slowed by a neighbour
        # delays a quarter of a task wave, not the whole pass
        return 4 * self.env["task_slots"]

    def pages_path(self) -> str:
        return os.path.join(
            self.inputs_dir, f"pages-s{self.seed}-n{self.N_PAGES}-f{self.files()}")

    def prepare(self, spark) -> None:
        from llm_document_parser_spark.datagen import write_pages

        if not inputs.is_complete(self.pages_path()):
            write_pages(spark, self.pages_path(), self.N_PAGES, seed=self.seed,
                        partitions=self.files())

    def pages(self, spark):
        from llm_document_parser_spark.iceberg import load_pages

        return load_pages(spark, self.pages_path())

    def commit(self, spark, pages, results: str, lineage_path: str) -> None:
        from llm_document_parser_spark import lineage
        from llm_document_parser_spark.pipeline import extract_pipeline

        lineage.run_with_lineage(
            spark, pages, extract_pipeline, results, lineage_path,
            num_buckets=self.BUCKETS, buckets_per_commit=self.PER_COMMIT,
        )

    def warm_up(self, spark) -> None:
        from pyspark.sql import functions as F

        from llm_document_parser_spark.pipeline import extract_pipeline

        # The commit over a tenth warms the write path; the full noop passes
        # after it warm the pipeline, so the first timed pass is no slower
        # than the later ones.
        tenth = self.pages(spark).where(F.pmod(F.xxhash64("url"), F.lit(10)) == 0)
        self.commit(spark, tenth, self.scratch("warm_results"), self.scratch("warm_lineage"))
        least, most = self.WARM_PASSES
        self.warm_noop_s = []
        while len(self.warm_noop_s) < most:
            self.warm_noop_s.append(_timed(lambda: _noop(extract_pipeline(self.pages(spark)))))
            if len(self.warm_noop_s) >= least and (
                    self.warm_noop_s[-1] > self.warm_noop_s[-2] * (1 - self.STEADY)):
                break

    def expected_texts(self) -> dict[str, str]:
        """url → oracle ``extracted_text`` for a seeded sample of pages."""
        oracle_expected = _import_from(
            os.path.join(self.root, "tests"), "test_extraction").oracle_expected
        ids = random.Random(self.seed).sample(range(self.N_PAGES), self.ORACLE_SAMPLE)
        exp = [oracle_expected(self.seed, i) for i in ids]
        return {e["url"]: e["extracted_text"] for e in exp}

    def check_commit(self, spark, results: str, expected: dict[str, str]) -> list[str]:
        from pyspark.sql import functions as F

        res = spark.read.parquet(results)
        rows, urls, ok = res.agg(
            F.count("*"), F.countDistinct("url"),
            F.sum(F.when(F.col("success"), 1).otherwise(0)),
        ).first()
        problems = []
        if rows != self.N_PAGES:
            problems.append(f"committed {rows} rows, input has {self.N_PAGES}")
        if urls != rows:
            problems.append(f"{rows - urls} duplicate urls")
        if ok != rows:
            problems.append(f"{rows - (ok or 0)} rows with success=false")
        got = dict(res.where(F.col("url").isin(list(expected)))
                   .select("url", "extracted_text").collect())
        bad = sorted(u for u, t in expected.items() if got.get(u) != t)
        if bad:
            problems.append(f"{len(bad)}/{len(expected)} sampled texts differ "
                            f"from the oracle, e.g. {bad[0]}")
        return problems

    def measure(self, spark, seconds: float):
        from llm_document_parser_spark.pipeline import extract_pipeline

        expected = self.expected_texts()
        out = Outcome()
        noop_s, commit_s = [], []

        def round_(i):
            for k in range(self.NOOPS_PER_ROUND):
                t = out.op(f"noop#{i}.{k}", lambda: _noop(extract_pipeline(self.pages(spark))))
                if t is not None:
                    noop_s.append(t)
            res, lin = self.scratch("results"), self.scratch("lineage")
            t = out.op(f"commit#{i}", lambda: self.commit(spark, self.pages(spark), res, lin))
            if t is not None:
                commit_s.append(t)
                out.check(f"commit#{i}", self.check_commit(spark, res, expected))

        _loop(seconds, round_, self.MIN_ROUNDS)
        samples = {
            "throughput_per_s": self.N_PAGES / statistics.median(noop_s),
            "op_p50_s": statistics.median(commit_s),
        }
        details = {
            "pages": self.N_PAGES,
            "extract_docs_per_s": samples["throughput_per_s"],
            "extract_commit_docs_per_s": self.N_PAGES / samples["op_p50_s"],
            "noop_s": noop_s, "commit_s": commit_s,
            "warm_up_noop_s": self.warm_noop_s,
            "oracle_sample": len(expected),
        }
        return samples, out, details

    def per_doc_us(self) -> tuple[dict[str, float], dict[str, int]]:
        """Single-thread microseconds per document of each payload
        function, called directly on a seeded sample of the pages."""
        from llm_document_parser_spark.datagen import generate_page
        from llm_document_parser_spark.html_extract import extract_main_text, sniff_doc_kind
        from llm_document_parser_spark.minipdf import extract_pdf_text
        from llm_document_parser_spark.operators.charset import decode_payload

        by_kind: dict[str, list[bytes]] = {"html": [], "pdf": [], "text": []}
        for i in random.Random(self.seed).sample(range(self.N_PAGES), 600):
            payload = generate_page(self.seed, i)[2]
            by_kind.setdefault(sniff_doc_kind(payload), []).append(payload)

        def per_doc(fn, xs) -> float:
            return _timed(lambda: [fn(x) for x in xs]) / len(xs) * 1e6

        html_text = [decode_payload(p)[0] for p in by_kind["html"]]
        us = {
            "charset.decode_payload_us": per_doc(decode_payload, by_kind["html"] + by_kind["text"]),
            "html_extract.extract_main_text_us": per_doc(extract_main_text, html_text),
            "minipdf.extract_pdf_text_us": per_doc(extract_pdf_text, by_kind["pdf"]),
        }
        return us, {k: len(v) for k, v in by_kind.items()}

    def layers(self, spark, seconds: float, out: Outcome):
        from pyspark.sql import functions as F

        from llm_document_parser_spark import lineage
        from llm_document_parser_spark.operators.extract_udfs import payload_text_udf
        from llm_document_parser_spark.operators.kind import doc_kind_col
        from llm_document_parser_spark.pipeline import extract_pipeline

        tr = self.tracer

        def kind():
            return self.pages(spark).withColumn("doc_kind", doc_kind_col(F.col("html")))

        prefixes = [
            ("iceberg.load_pages_s", lambda: self.pages(spark)),
            ("kind.doc_kind_s", kind),
            ("extract_udfs.payload_text_s", lambda: kind().withColumn(
                "raw_text", payload_text_udf(F.col("html"), F.col("doc_kind")))),
            ("pipeline.native_s", lambda: extract_pipeline(self.pages(spark))),
        ]
        times: dict[str, list[float]] = {n: [] for n, _ in prefixes}

        def round_(i):
            for name, build in prefixes:
                with tr.span(f"prefix:{name}", round=i):
                    t = out.op(f"{name}#{i}", lambda: _noop(build()))
                if t is not None:
                    times[name].append(t)

        _loop(seconds, round_)
        med = [(n, statistics.median(times[n])) for n, _ in prefixes]
        m, clamped = prefix_layers(med)

        us, sample_kinds = self.per_doc_us()
        m.update(us)
        n_kind = dict(kind().groupBy("doc_kind").count().collect())
        html_us = us["charset.decode_payload_us"] + us["html_extract.extract_main_text_us"]
        compute_s = (
            n_kind.get("html", 0) * html_us
            + n_kind.get("text", 0) * us["charset.decode_payload_us"]
            + n_kind.get("pdf", 0) * us["minipdf.extract_pdf_text_us"]
        ) / 1e6 / self.env["task_slots"]
        # UDF stage = compute spread over the task slots + the Arrow boundary
        boundary, flagged = prefix_layers([
            ("compute", compute_s),
            ("extract_udfs.boundary_s", m["extract_udfs.payload_text_s"]),
        ])
        m["extract_udfs.boundary_s"] = boundary["extract_udfs.boundary_s"]
        clamped += flagged

        res, lin = self.scratch("results"), self.scratch("lineage")
        undo = [tr.wrap(lineage, "with_bucket"), tr.wrap(lineage, "completed_buckets")]
        try:
            with tr.span("lineage.run_with_lineage") as sp:
                ok = out.op("commit", lambda: _in_group(
                    spark, f"{GROUP}-commit", lambda: self.commit(spark, self.pages(spark), res, lin)))
        finally:
            for u in undo:
                u()
        if ok is not None:
            out.check("commit", self.check_commit(spark, res, self.expected_texts()))
        commit, flagged = prefix_layers([
            ("pipeline", dict(med)["pipeline.native_s"]),
            ("lineage.commit_s", sp["end"] - sp["start"]),
        ])
        m["lineage.commit_s"] = commit["lineage.commit_s"]
        clamped += flagged
        m["lineage.spark_jobs"] = sparkenv.group_stats(spark, f"{GROUP}-commit")["jobs"]
        m["trace.op_s"] = sp["end"] - sp["start"]

        curation = Curation(self, spark, res)
        m.update(curation.layers(out))
        m["trace.clamped_layers"] = len(clamped)
        return m, {"clamped": clamped, "prefix_medians_s": dict(med),
                   "doc_kinds": n_kind, "per_doc_sample": sample_kinds,
                   "funnel": curation.funnel}


class Curation:
    """``jobs/curate_job.run_curation`` over the committed extract output:
    the dedup, decontamination and gate layers, measured in the traced
    ``extract`` run."""

    # The job defaults (threshold=0.8, min_quality=0.8) reject every
    # synthetic document as `quality` or `lang`, so phase 2 commits
    # nothing. These keep every verdict in REQUIRED non-empty.
    PARAMS = {"threshold": 0.5, "min_quality": 0.3}
    REQUIRED = ("kept", "near_dup", "lang", "contaminated")
    BENCH_ITEMS, BENCH_WORDS = 30, 20
    GEOMETRY = {"id_col": "url", "text_col": "extracted_text",
                "num_hashes": 64, "bands": 8, "hash_fn": "fast"}

    def __init__(self, wl: Extract, spark, results: str):
        from pyspark.sql import functions as F

        self.wl, self.spark = wl, spark
        self.results = spark.read.parquet(results).drop("bucket")
        text = F.col("extracted_text")
        self.docs = self.results.where(text.isNotNull() & (F.length(text) > 0))
        self.funnel: dict | None = None

    def benchmark(self):
        """Eval items cut from the text of seeded documents, so the
        decontamination gate always has hits."""
        texts = [r[0] for r in self.docs.orderBy("url").select("extracted_text").collect()]
        items = inputs.benchmark_items(texts, self.wl.seed, self.BENCH_ITEMS, self.BENCH_WORDS)
        return self.spark.createDataFrame(items, "bench_id long, text string")

    def check(self, report: dict, n_docs: int) -> list[str]:
        from pyspark.sql import functions as F

        verdicts = self.spark.read.parquet(report["output"].rstrip("/") + "_verdicts")
        rows, ids = verdicts.agg(F.count("*"), F.countDistinct("url")).first()
        funnel = report["funnel"]
        problems = []
        if rows != n_docs or ids != n_docs:
            problems.append(f"{rows} verdicts for {ids} ids, {n_docs} non-empty docs")
        empty = [v for v in self.REQUIRED if not funnel.get(v)]
        if empty:
            problems.append(f"empty verdicts {empty}")
        if report["kept_rows"] != funnel.get("kept", 0):
            problems.append(f"committed {report['kept_rows']} rows, {funnel.get('kept')} kept")
        return problems

    def layers(self, out: Outcome) -> dict:
        from pyspark.sql import functions as F

        from llm_document_parser_spark import lineage
        from llm_document_parser_spark.operators import decontaminate, dedup, textstats

        run_curation = _import_from(
            os.path.join(self.wl.root, "jobs"), "curate_job").run_curation
        spark, tr, docs = self.spark, self.wl.tracer, self.docs
        bench = self.benchmark()
        n_docs = docs.count()
        before = sparkenv.persisted_rdds(spark)
        undo = [
            tr.wrap(lineage, "run_with_lineage"),
            tr.wrap(dedup, "verified_near_dup_pairs"),
            tr.wrap(dedup, "connected_components"),
            tr.wrap(textstats, "repetition_stats"),
            tr.wrap(decontaminate, "contamination_report"),
        ]
        box = {}
        output = [self.wl.scratch(f"curated{sfx}") for sfx in ("", "_verdicts", "_lineage")][0]
        try:
            with tr.span("curate.run_curation") as root:
                ok = out.op("run_curation", lambda: box.update(report=run_curation(
                    spark, self.results, output,
                    num_buckets=self.wl.BUCKETS, buckets_per_commit=self.wl.PER_COMMIT,
                    benchmark=bench, **self.PARAMS)))
        finally:
            for u in undo:
                u()
        m = {"curate.persisted_rdds_left": sparkenv.persisted_rdds(spark) - before}
        if ok is not None:
            out.check("run_curation", self.check(box["report"], n_docs))
            self.funnel = box["report"]["funnel"]
            phase2 = next(s for s in tr.spans if s["parent"] == root["id"]
                          and s["name"] == "lineage.run_with_lineage")
            m["curate.phase1_s"] = phase2["start"] - root["start"]
            m["curate.phase2_commit_s"] = phase2["end"] - phase2["start"]

        with tr.span("dedup.verified_near_dup_pairs") as sp:
            pairs = dedup.verified_near_dup_pairs(
                docs, threshold=self.PARAMS["threshold"], **self.GEOMETRY)
            _noop(pairs)
        m["dedup.verified_near_dup_pairs_s"] = sp["end"] - sp["start"]
        pairs_path = self.wl.scratch("pairs")
        pairs.select("id_a", "id_b").write.parquet(pairs_path)
        verified = spark.read.parquet(pairs_path).count()
        candidates = dedup.minhash_candidate_pairs(docs, **self.GEOMETRY).count()
        m["dedup.candidate_pairs"] = candidates
        m["dedup.verified_pairs"] = verified
        m["dedup.verify_yield"] = verified / candidates if candidates else 0.0

        with tr.span("dedup.connected_components") as sp:
            _in_group(spark, f"{GROUP}-cc", lambda: _noop(
                dedup.connected_components(spark.read.parquet(pairs_path))))
        m["dedup.connected_components_s"] = sp["end"] - sp["start"]
        m["dedup.cc_spark_jobs"] = sparkenv.group_stats(spark, f"{GROUP}-cc")["jobs"]

        text = F.col("extracted_text")
        for name, build in [
            ("decontaminate.contamination_report_s", lambda: decontaminate.contamination_report(
                docs, bench, id_col="url", text_col="extracted_text", n=13, min_hits=1)),
            ("textstats.repetition_stats_s", lambda: textstats.repetition_stats(
                docs, id_col="url", text_col="extracted_text", unit_sep=" ")),
            ("textstats.gates_s", lambda: docs.select(
                "url", textstats.lang_id(text), textstats.quality_score(text))),
        ]:
            with tr.span(name) as sp:
                _noop(build())
            m[name] = sp["end"] - sp["start"]
        return m


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

class Catalog(Workload):
    name = "catalog"
    # A fixed slice of the registry, run in registry order: a relational
    # aggregation and a window query, language id, MinHash dedup,
    # decontamination, two fixed-point operators (connected components,
    # pagerank) and one query without an oracle. A warm pass over all 145
    # queries takes about a minute on 4 cores even at this scale, which
    # does not fit a run.
    QUERIES = (
        "pricing_summary", "latest_events_per_user", "doc_lang_id",
        "minhash_near_dup_pairs", "near_dup_clusters", "decontaminate_docs",
        "doc_compression_ratio", "host_pagerank",
    )
    # queries built on the nine hand-rolled fixed-point loops
    ITERATIVE = frozenset({
        "curation_funnel", "near_dup_clusters", "host_pagerank",
        "redirect_resolution", "host_trust_propagation", "host_hits_scores",
        "bpe_merge_learning", "kmeans_cell_centroids", "lr_langid_fit",
        "pq_vector_codes", "pq_adc_neighbors", "ivf_adc_search",
    })

    def tables_path(self) -> str:
        return os.path.join(self.inputs_dir, f"tables-s{self.seed}")

    def names(self) -> list[str]:
        from llm_document_parser_spark.queries import REGISTRY

        missing = [q for q in self.QUERIES if q not in REGISTRY]
        if missing:
            raise KeyError(f"queries not in REGISTRY: {missing}")
        return [q for q in REGISTRY if q in self.QUERIES]

    def prepare(self, spark) -> None:
        if not inputs.is_complete(self.tables_path()):
            inputs.write_catalog_tables(self.tables_path(), self.seed)

    def build(self, spark, name: str):
        from llm_document_parser_spark.queries import REGISTRY

        return REGISTRY[name](spark, self.tables_path())

    def warm_up(self, spark) -> None:
        """One pass that collects every query's rows, so the output check
        after the timed loop needs no extra Spark pass."""
        self.rows = {}
        for name in self.names():
            df = self.build(spark, name)
            self.rows[name] = (df.columns, [tuple(r) for r in df.collect()])

    def check(self) -> tuple[dict[str, str], list[str]]:
        """Per query: '' when the warm-up rows match the DuckDB oracle,
        else the problem; and the queries without an oracle (unchecked)."""
        import duckdb

        from llm_document_parser_spark.queries import ORACLES
        from tools.check_queries import TABLES, canon

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.tables_path()}/{t}.parquet'")
            verdicts, unchecked = {}, []
            for name, (scols, srows) in self.rows.items():
                if name not in ORACLES:
                    unchecked.append(name)
                    continue
                res = con.execute(ORACLES[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                if sorted(scols) != sorted(dcols):
                    verdicts[name] = f"columns {sorted(scols)} vs {sorted(dcols)}"
                elif len(srows) != len(drows):
                    verdicts[name] = f"rowcount {len(srows)} vs {len(drows)}"
                elif canon(srows, scols) != canon(drows, dcols):
                    verdicts[name] = "values differ from the oracle"
                else:
                    verdicts[name] = ""
            return verdicts, unchecked
        finally:
            con.close()

    def measure(self, spark, seconds: float):
        names = self.names()
        out = Outcome()
        per_query: dict[str, list[float]] = {q: [] for q in names}
        passes: list[float] = []

        def round_(i):
            total = 0.0
            for name in names:
                t = out.op(f"{name}#{i}", lambda: _noop(self.build(spark, name)))
                if t is not None:
                    per_query[name].append(t)
                    total += t
            passes.append(total)

        _loop(seconds, round_)
        verdicts, unchecked = self.check()
        for name, problem in verdicts.items():
            # every timed execution of a wrong query counts as failed
            for _ in per_query[name] if problem else ():
                out.check(name, [problem])
        flat = [t for ts in per_query.values() for t in ts]
        # the operation is one pass over the slice: the catalog sweep
        samples = {
            "throughput_per_s": len(flat) / sum(flat),
            "op_p50_s": statistics.median(passes),
        }
        details = {
            "queries": names, "samples": len(flat),
            "catalog_sweep_s": samples["op_p50_s"],
            "catalog_query_p50_s": statistics.median(flat),
            "catalog_query_p90_s": percentile(flat, 90),
            "samples_beyond_p90": samples_beyond(len(flat), 90),
            "per_query_s": per_query,
            "checked": {n: (v or "pass") for n, v in verdicts.items()},
            "unchecked": unchecked,
        }
        return samples, out, details

    def layers(self, spark, seconds: float, out: Outcome):
        tr = self.tracer
        before = sparkenv.persisted_rdds(spark)
        m = dict.fromkeys(("queries.plan_build_s", "queries.execute_s", "queries.iterative_s"), 0.0)
        m.update(dict.fromkeys(("queries.spark_jobs", "queries.spark_stages", "queries.spark_tasks"), 0))
        with tr.span("catalog.pass") as root:
            for name in self.names():
                group = f"{GROUP}-q-{name}"
                box = {}
                with tr.span(f"query:{name}") as q:
                    with tr.span("queries.plan_build", query=name) as b:
                        built = out.op(f"{name}.build", lambda: box.update(
                            df=_in_group(spark, group, lambda: self.build(spark, name))))
                    if built is None:
                        continue
                    with tr.span("queries.execute", query=name) as x:
                        out.op(f"{name}.execute", lambda: _in_group(spark, group, lambda: _noop(box["df"])))
                m["queries.plan_build_s"] += b["end"] - b["start"]
                m["queries.execute_s"] += x["end"] - x["start"]
                if name in self.ITERATIVE:
                    m["queries.iterative_s"] += q["end"] - q["start"]
                for k, v in sparkenv.group_stats(spark, group).items():
                    m[f"queries.spark_{k}"] += v
        m["queries.persisted_rdds_left"] = sparkenv.persisted_rdds(spark) - before
        m["trace.op_s"] = root["end"] - root["start"]
        return m, {"queries": self.names()}


WORKLOADS = {w.name: w for w in (Extract, Catalog)}
