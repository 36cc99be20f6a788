"""One benchmark client: a fresh process that sets up a session, runs
one workload phase, stops Spark and its JVM, and writes a JSON report.

Usage: ``python3 perfbench/client.py <spec.json>`` (``run.py`` writes the
spec and reads the report named in it).  Query results are reported
as digests; the parent checks them against DuckDB after this process
has exited, so the check never overlaps the timed region.
"""

from __future__ import annotations

import json
import random
import sys
import time
from contextlib import nullcontext


def _module_of(fn) -> str:
    mod = fn.__module__
    return "streaming" if mod.startswith("edinet_etl_spark.streaming") else mod.rsplit(".", 1)[-1]


def _stop(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def run_etl(spark, spec: dict, tracer, report: dict) -> None:
    import edinet_gen
    from edinet_etl_spark.pipeline import etl, transform
    from edinet_etl_spark.pipeline.config import PipelineConfig
    from edinet_etl_spark.sources import company_master, edinet_api, zip_extract

    sc = spark.sparkContext
    acc = {k: sc.accumulator(0) for k in ("list_calls", "doc_calls", "retries", "bytes")}
    fetcher = edinet_gen.BenchFetcher(spec["edinet_root"], frozenset(spec["fail_keys"]), acc)
    cfg = PipelineConfig(
        csv_file=spec["master_path"],
        output_dir=spec["output_dir"],
        start_date=spec["start_date"],
        end_date=spec["end_date"],
        request_per_second=0,
        retry_delay=0,
        companies_to_get=spec["cap"],
    )
    counts: dict[str, int] = {}
    if spec["trace"]:
        # each stage's output is forced (cached and counted) inside its
        # own span, so list/download/unzip/transform/load time separately
        def probe(mod, attr: str, layer: str, name: str, force: bool = True) -> None:
            orig = getattr(mod, attr)

            def wrapped(*a, **k):
                with tracer.span(layer, name):
                    out = orig(*a, **k)
                    if force:
                        out = out.persist()
                        counts[name] = out.count()
                return out

            setattr(mod, attr, wrapped)

        probe(company_master, "extract_companies", "sources", "company_master")
        probe(edinet_api, "list_documents", "sources", "list")
        probe(edinet_api, "download_documents", "sources", "download")
        probe(zip_extract, "extract_filings", "sources", "unzip")
        probe(transform, "select_best_filings", "pipeline", "select_best_filings")
        probe(etl, "process_financial_documents", "pipeline", "transform")
        probe(etl, "load_to_csv", "pipeline", "load", force=False)
    t0 = time.perf_counter()
    out = etl.run_pipeline(spark, cfg, fetcher)
    t1 = time.perf_counter()
    phase = "traced" if spec["trace"] else "measure"
    report["ops"] = [{"name": "etl_year", "phase": phase, "latency": t1 - t0, "out_dir": out, "error": None}]
    report["fetch"] = {k: a.value for k, a in acc.items()}
    report["counts"] = counts


def run_queries(spark, spec: dict, tracer, report: dict) -> None:
    """A warm pass over every query, then the measured pass in seeded
    order.  Traced, each measured query runs both untraced and traced,
    back to back."""
    from edinet_etl_spark import registry

    import digest

    ops: list[dict] = []

    def one(name: str, phase: str, traced: bool = False) -> None:
        fn = registry.QUERIES[name]
        err, dig, n = None, None, 0
        t0 = time.perf_counter()
        try:
            with tracer.span(_module_of(fn), name) if traced else nullcontext():
                df = fn(spark, spec["data_dir"])
                rows = df.collect()
            t1 = time.perf_counter()
            dig, n = digest.digest(df.columns, rows), len(rows)
        except Exception as e:  # noqa: BLE001 — counted as a failed operation
            t1 = time.perf_counter()
            err = f"{type(e).__name__}: {str(e)[:300]}"
        ops.append({"name": name, "phase": phase, "latency": t1 - t0, "digest": dig, "rows": n, "error": err})

    order = list(spec["queries"])
    random.Random(spec["seed"]).shuffle(order)
    for name in order:
        one(name, "warm")
    if spec["trace"]:
        spark.streams.addListener(tracer.listener)
        for i, name in enumerate(order):
            # alternate which run goes first, so warming favours neither
            runs = [("measure", False), ("traced", True)]
            for phase, traced in runs if i % 2 else reversed(runs):
                one(name, phase, traced)
    else:
        for name in order:
            one(name, "measure")
    report["ops"] = ops


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    from edinet_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=spec["cpus"])
    t1 = time.perf_counter()
    from edinet_etl_spark import registry

    registry.load_all()
    t2 = time.perf_counter()
    report = {"ready_wall": time.time(), "session_start_s": t1 - t0, "registry_load_s": t2 - t1}

    from spans import StreamCounts, Tracer

    listener = StreamCounts()
    tracer = Tracer(spark, run_id=spec["run_id"], enabled=spec["trace"], listener=listener)
    try:
        if spec["workload"] == "etl_year":
            run_etl(spark, spec, tracer, report)
        else:
            run_queries(spark, spec, tracer, report)
        if spec["trace"]:
            tracer.drain()
            report["layers"] = {k: dict(v) for k, v in tracer.layers.items()}
            report["totals"] = dict(tracer.totals)
            report["spans"] = tracer.spans
            report["streaming"] = {
                "batches": listener.batches,
                "input_rows": listener.input_rows,
                "state_rows": listener.state_rows,
            }
    finally:
        _stop(spark)
    with open(spec["report"], "w") as f:
        json.dump(report, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
