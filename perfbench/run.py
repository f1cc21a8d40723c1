"""Benchmark runner for the extraction engine.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with spans off; ``--trace 1`` runs the same workload with spans
on and reports the per-layer metrics instead. Metric names and units come
from ``BENCHMARK.json``. The last stdout line is the result object; the
line before it is a detail record (environment, per-operation samples,
output-check verdicts, failures by name). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import sparkenv  # noqa: E402
from perfbench.measure import Tracer, failed_fraction, self_times  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")  # inputs, outputs, Spark scratch, traces
HELD_OUT_SEED = 9001  # never used while tuning; for confirming claims

# per-layer metric -> (end-to-end metric it should move, on which
# workload). The curation layers are measured in the traced extract run;
# the catalog queries near_dup_clusters, minhash_near_dup_pairs,
# decontaminate_docs and doc_lang_id carry their operators end to end.
LAYER_TAGS = {
    "iceberg.load_pages_s": ("throughput_per_s", "extract"),
    "kind.doc_kind_s": ("throughput_per_s", "extract"),
    "extract_udfs.payload_text_s": ("throughput_per_s, op_p50_s", "extract"),
    "html_extract.extract_main_text_us": ("throughput_per_s", "extract"),
    "minipdf.extract_pdf_text_us": ("throughput_per_s", "extract"),
    "charset.decode_payload_us": ("throughput_per_s", "extract"),
    "extract_udfs.boundary_s": ("throughput_per_s", "extract"),
    "pipeline.native_s": ("throughput_per_s, op_p50_s", "extract"),
    "lineage.commit_s": ("op_p50_s", "extract"),
    "lineage.spark_jobs": ("op_p50_s", "extract"),
    "dedup.verified_near_dup_pairs_s": ("throughput_per_s, op_p50_s", "catalog"),
    "dedup.candidate_pairs": ("throughput_per_s", "catalog"),
    "dedup.verified_pairs": ("throughput_per_s", "catalog"),
    "dedup.verify_yield": ("throughput_per_s", "catalog"),
    "dedup.connected_components_s": ("throughput_per_s, op_p50_s", "catalog"),
    "dedup.cc_spark_jobs": ("throughput_per_s", "catalog"),
    "decontaminate.contamination_report_s": ("throughput_per_s", "catalog"),
    "textstats.repetition_stats_s": ("none gated: run_curation only", "-"),
    "textstats.gates_s": ("throughput_per_s", "catalog"),
    "curate.phase1_s": ("none gated: run_curation only", "-"),
    "curate.phase2_commit_s": ("none gated: run_curation only", "-"),
    "curate.persisted_rdds_left": ("jvm.peak_rss_mb", "catalog"),
    "queries.plan_build_s": ("throughput_per_s, op_p50_s", "catalog"),
    "queries.execute_s": ("throughput_per_s, op_p50_s", "catalog"),
    "queries.spark_jobs": ("throughput_per_s", "catalog"),
    "queries.spark_stages": ("throughput_per_s", "catalog"),
    "queries.spark_tasks": ("throughput_per_s", "catalog"),
    "queries.iterative_s": ("throughput_per_s", "catalog"),
    "queries.persisted_rdds_left": ("jvm.peak_rss_mb, throughput_per_s", "catalog"),
    "spark.executor_cpu_s": ("throughput_per_s", "extract, catalog"),
    "spark.gc_s": ("throughput_per_s, jvm.peak_rss_mb", "extract, catalog"),
    "spark.shuffle_write_bytes": ("throughput_per_s", "extract, catalog"),
    "spark.spill_bytes": ("throughput_per_s, jvm.peak_rss_mb", "extract, catalog"),
    "spark.failed_tasks": ("throughput_per_s", "extract, catalog"),
    "jvm.peak_rss_mb": ("none gated: JVM VmHWM, run-to-run spread up to 0.23", "extract, catalog"),
    "trace.op_s": ("tracing overhead: minus the untraced time of the same operation", "extract, catalog"),
    "trace.clamped_layers": ("count of prefix differences clamped to 0", "extract"),
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seed(text: str) -> int:
    seed = int(text)
    if seed < 0:
        raise argparse.ArgumentTypeError("seed must be >= 0")
    return seed


def parse_args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=_seed, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _setup(wl, env):
    """Fresh JVM and session, inputs present, warm-up done. Returns the
    session and a record of seconds since process start at each step; the
    last step is ``setup_s``."""
    marks = {"imports": sparkenv.process_age_s()}
    spark = sparkenv.launch(env, f"perfbench-{wl.name}")
    marks["session"] = sparkenv.process_age_s()
    try:
        wl.prepare(spark)
        marks["inputs"] = sparkenv.process_age_s()
        wl.warm_up(spark)
        marks["warm_up"] = sparkenv.process_age_s()
    except BaseException:
        sparkenv.shutdown(spark)
        raise
    return spark, marks


def untraced(wl, env, seconds: float):
    spark, marks = _setup(wl, env)
    try:
        samples, outcome, details = wl.measure(spark, seconds)
        samples["setup_s"] = marks["warm_up"]
        details["peak_rss_mb"] = sparkenv.jvm_peak_rss_mb(spark)
        details["setup_marks_s"] = marks
        return samples, outcome, details
    finally:
        sparkenv.shutdown(spark)


def traced(wl, env, seconds: float, trace_path: str):
    from perfbench.workloads import Outcome

    spark, _ = _setup(wl, env)
    outcome = Outcome()
    try:
        since = sparkenv.stage_ids(spark)
        with wl.tracer.span(f"workload:{wl.name}"):
            layer_metrics, details = wl.layers(spark, seconds, outcome)
        totals = sparkenv.stage_totals(spark, since)
        layer_metrics.update({f"spark.{k}": v for k, v in totals.items()})
        layer_metrics["jvm.peak_rss_mb"] = sparkenv.jvm_peak_rss_mb(spark)
    finally:
        sparkenv.shutdown(spark)
    own = self_times(wl.tracer.spans)
    for s in wl.tracer.spans:
        s["self_s"] = own[s["id"]]
    wl.tracer.dump(trace_path)
    details["spans_json"] = os.path.relpath(trace_path, ROOT)
    details["layer_tags"] = LAYER_TAGS
    return layer_metrics, outcome, details


def _workload(name: str, seed: int, trace: bool):
    from perfbench.workloads import WORKLOADS

    env = sparkenv.pin_environment(ROOT, WORK)
    tracer = Tracer(enabled=trace, run_id=f"{name}-{seed}-{os.getpid()}")
    return env, WORKLOADS[name](ROOT, WORK, seed, env, tracer)


def main(argv=None) -> int:
    import llm_document_parser_spark  # noqa: F401  (fail fast without the engine)
    from perfbench.workloads import WORKLOADS

    args = parse_args(argv, WORKLOADS)
    spec = load_spec()
    env, wl = _workload(args.workload, args.seed, bool(args.trace))

    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        values, outcome, details = traced(wl, env, args.seconds, trace_path)
        wanted = spec["per_layer"]
    else:
        values, outcome, details = untraced(wl, env, args.seconds)
        wanted = spec["end_to_end"]
    env["loadavg_end"] = sparkenv.loadavg()

    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "held_out_seed": HELD_OUT_SEED, "env": env,
        "ops_failed_frac": failed_fraction(outcome.attempted, outcome.failed),
        "failures": outcome.failures, "details": details,
    }
    print(json.dumps(record, default=float))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
