"""Benchmark of the edinet_etl_spark engine: two closed-loop workloads.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each client is a fresh process with one session on ``local[<cores>]``:

- ``etl_year``: ``pipeline.etl.run_pipeline`` over a seeded synthetic
  EDINET year (366 list days, the 1,000-filing cap, an 11,018-row cp932
  company master) in a fresh process with no warm-up.  The operation is
  one pipeline run, timed from the first ``sources`` call until the CSV
  is committed; the CSV must equal the generator's golden.
- ``interactive_mix``: one query per operator module over seeded
  tables, including the analytics write path, an ``availableNow``
  stream and the curation modules (dedup, similarity, text, llmdata)
  on a corpus with near-duplicates and clustered embeddings.  A warm
  pass runs every query once; the measured pass then runs each again,
  in seeded order.  The operation is one query in a warm session.

Both workloads are closed loops of one client: fresh client processes
run one after the other until ``--seconds`` have passed (at least one).

End-to-end metrics (``--trace 0``): ``setup_s`` (process start to a
session with the registry loaded); ``op_mean_s`` and ``op_max_s`` (mean
and slowest operation latency: a client holds one ETL run or 13 queries
of unequal cost, too few samples for a steady median or to resolve a
percentile between the median and the maximum); ``peak_rss_mb`` (peak
memory of the client's process tree: Python driver, JVM, Python
workers); ``ok_ops_ratio`` (operations that neither raised nor returned
a wrong result, over operations attempted).

Per-layer metrics (``--trace 1``) come from a traced client: time in
each layer's public calls, Spark's own job/stage/task counters per
layer and streaming progress counters.  ``trace.overhead_s`` is the
traced minus the plain time of the same operations.  For ``etl_year``
a plain client runs first; it also supplies the ``sources.fetch_*``
counters, because the traced client forces (caches) each stage, which
changes how often the plan fetches.  ``interactive_mix`` runs each
measured query plain and traced, back to back, in one client.

Every query result is checked against its DuckDB oracle after the
client has exited.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  All inputs, outputs
and temporary files live under ``.perfbench_work/`` in the checkout
and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("etl_year", "interactive_mix")
# One representative per operator module, the analytics write path and
# an availableNow stream; the curation modules (dedup, similarity,
# text, llmdata) run on the seeded corpus in the same tables.
MIX_QUERIES = [
    "local_supplier_volume",  # relational
    "large_volume_customers",  # subqueries
    "returned_item_top_customers",  # tpch_rest
    "sql_top_nation_per_region",  # sql_api
    "cdc_apply_changes",  # analytics, write path
    "incremental_agg_maintenance",  # analytics, write path
    "tumbling_hourly_stats",  # events
    "part_price_band_join",  # temporal
    "streaming_tumbling_hourly",  # streaming, availableNow
    "minhash_lsh_candidates",  # dedup
    "ivf_ann_topk",  # similarity
    "tfidf_top_terms",  # text
    "dsir_importance_weights",  # llmdata
]
# Input sizes: "full" is the benchmark; "tiny" is for the smoke test.
ETL_TRAFFIC = {
    "full": {},  # the generator's defaults: 11,018 companies, 366 days, cap 1,000
    "tiny": {"n_companies": 400, "n_days": 20, "cap": 40, "n_annual": 60},
}
MIX_TABLES = {
    "full": {"sf": 0.01, "n_docs": 1000, "n_vecs": 1000},
    "tiny": {"sf": 0.001, "n_docs": 150, "n_vecs": 150},
}
DRIVER_MEM = "2g"

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_mean_s": ("s", "lower"),
    "op_max_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "ok_ops_ratio": ("ratio", "higher"),
}
MODULES = (
    "relational", "subqueries", "tpch_rest", "sql_api", "analytics", "events",
    "temporal", "streaming", "dedup", "similarity", "text", "llmdata",
)
MODULE_COUNTERS = {
    "busy_s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s",
    "wait_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s",
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "registry.load_s": ("s", "lower"),
    "sources.list_s": ("s", "lower"),
    "sources.download_s": ("s", "lower"),
    "sources.unzip_s": ("s", "lower"),
    "sources.fetch_calls": ("count", "lower"),
    "sources.fetch_retries": ("count", "lower"),
    "sources.bytes_fetched": ("bytes", "lower"),
    "sources.fetch_calls_per_doc": ("ratio", "lower"),
    "pipeline.transform_s": ("s", "lower"),
    "pipeline.load_s": ("s", "lower"),
    "pipeline.rows_out": ("count", "higher"),
    "pipeline.shuffle_bytes": ("bytes", "lower"),
    "pipeline.filings_kept_ratio": ("ratio", "higher"),
    "tables.input_bytes": ("bytes", "lower"),
    "tables.input_records": ("count", "lower"),
    **{f"{m}.{c}": (u, "lower") for m in MODULES for c, u in MODULE_COUNTERS.items()},
    "streaming.batches": ("count", "lower"),
    "streaming.input_rows": ("count", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "engine.failed_tasks": ("count", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


CLIENT_TIMEOUT_S = 170


def run_client(work: str, n: int, spec: dict) -> tuple[dict | None, int]:
    """Run ``client.py`` in a fresh process; return its report (None if
    it failed) and the peak memory of its process tree."""
    from rss import PeakSampler, wait_gone

    spec = dict(spec, cpus=cores(), report=os.path.join(work, f"report{n}.json"))
    spec_path = os.path.join(work, f"spec{n}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
        TMPDIR=tmp,
        TZ="UTC",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=" ".join(
            shlex.quote(a)
            for a in (
                "--conf",
                # no perf-data file in the system temp directory
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "--conf",
                f"spark.hadoop.hadoop.tmp.dir={tmp}",
                "pyspark-shell",
            )
        ),
    )
    log_path = os.path.join(work, f"client{n}.log")
    with open(log_path, "wb") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "client.py"), spec_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        with PeakSampler(proc.pid) as sampler:
            try:
                code = proc.wait(timeout=CLIENT_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                code = proc.wait()
    wait_gone(sampler.seen)
    if code != 0 or not os.path.exists(spec["report"]):
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read()[-4000:].decode(errors="replace"))
        return None, sampler.peak
    with open(spec["report"]) as f:
        report = json.load(f)
    report["setup_s"] = report["ready_wall"] - spawned
    return report, sampler.peak


def drive(args, work: str, spec: dict, check, plain_client: bool) -> dict:
    """Fresh clients until ``--seconds`` have passed (at least one).  With
    ``--trace 1``, one traced client, after a plain one when the client
    cannot time its operations untraced itself (``plain_client``).
    ``check(reports)`` marks each operation ``ok`` once every client has
    exited."""
    res = {"attempted": 0, "failed": 0, "reports": [], "peaks": []}

    def one(trace: bool) -> dict | None:
        n = len(res["peaks"]) + 1
        report, peak = run_client(work, n, dict(spec, trace=trace, output_dir=os.path.join(work, f"out{n}")))
        res["peaks"].append(peak)
        if report is None:
            res["attempted"] += 1
            res["failed"] += 1
        else:
            res["reports"].append(report)
        return report

    if args.trace:
        if plain_client:
            one(False)
        one(True)
    else:
        start = time.perf_counter()
        while not res["reports"] or time.perf_counter() - start < args.seconds:
            if one(False) is None:
                break
    check(res["reports"])
    for r in res["reports"]:
        for op in r["ops"]:
            res["attempted"] += 1
            res["failed"] += 0 if op["ok"] else 1
            if not op["ok"]:
                sys.stderr.write(f"wrong or failed: {op['name']}: {op['error'] or 'wrong output'}\n")
    if args.trace:
        # traced minus untraced time of the same operations
        by_phase = {ph: sum(op["latency"] for r in res["reports"] for op in r["ops"] if op["phase"] == ph)
                    for ph in ("measure", "traced")}
        res["overhead_s"] = by_phase["traced"] - by_phase["measure"]
    return res


def etl_year(args, work: str) -> dict:
    import edinet_gen

    traffic = edinet_gen.generate(args.seed, os.path.join(work, "edinet"), **ETL_TRAFFIC[args.scale])
    spec = {
        "workload": "etl_year", "seed": args.seed, "run_id": f"etl_year-{args.seed}",
        "edinet_root": traffic.root, "master_path": traffic.master_path,
        "start_date": traffic.start_date, "end_date": traffic.end_date,
        "cap": traffic.cap, "fail_keys": sorted(traffic.fail_keys),
    }

    def check(reports: list[dict]) -> None:
        for r in reports:
            op = r["ops"][0]
            try:
                op["ok"] = op["out_dir"] is not None and edinet_gen.read_output(op["out_dir"]) == traffic.golden
            except (OSError, ValueError) as e:  # unreadable or malformed output
                op["ok"], op["error"] = False, f"{type(e).__name__}: {e}"

    res = drive(args, work, spec, check, plain_client=True)
    traced = [r for r in res["reports"] if "spans" in r]
    plain = [r for r in res["reports"] if "spans" not in r]
    if traced and plain:
        res["layers"] = etl_layers(traced[0], plain[0], traffic)
    return res


def etl_layers(traced: dict, plain: dict, traffic) -> dict:
    """Span times and stage row counts from the traced client; fetch
    counts from the plain client, whose plan is the program's own (the
    traced client caches each stage)."""
    busy = {s["name"]: s["end"] - s["start"] for s in traced["spans"]}
    fetch = plain["fetch"]
    counts = traced["counts"]
    return {
        "sources.list_s": busy.get("list", 0.0),
        "sources.download_s": busy.get("download", 0.0),
        "sources.unzip_s": busy.get("unzip", 0.0),
        "sources.fetch_calls": fetch["list_calls"] + fetch["doc_calls"],
        "sources.fetch_retries": fetch["retries"],
        "sources.bytes_fetched": fetch["bytes"],
        # attempts per document the capped pipeline needs
        "sources.fetch_calls_per_doc": fetch["doc_calls"] / max(1, traffic.n_requested),
        "pipeline.transform_s": busy.get("transform", 0.0),
        "pipeline.load_s": busy.get("load", 0.0),
        "pipeline.rows_out": counts.get("transform", 0),
        "pipeline.shuffle_bytes": traced["layers"].get("pipeline", {}).get("shuffle_bytes", 0.0),
        # filings surviving best-filing dedup per filing downloaded
        "pipeline.filings_kept_ratio": counts.get("select_best_filings", 0) / max(1, counts.get("download", 0)),
    }


def interactive_mix(args, work: str) -> dict:
    import duckdb

    import digest
    import tables_gen

    data = os.path.join(work, "tables")
    tables_gen.write_tables(data, args.seed, **MIX_TABLES[args.scale])
    spec = {
        "workload": "interactive_mix", "seed": args.seed, "run_id": f"interactive_mix-{args.seed}",
        "queries": MIX_QUERIES, "data_dir": data,
    }

    def check(reports: list[dict]) -> None:
        from edinet_etl_spark import registry

        registry.load_all()
        con = duckdb.connect()
        for t in tables_gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        expected = {n: digest.duckdb_digest(con, registry.ORACLES[n]) for n in MIX_QUERIES}
        con.close()
        for r in reports:
            for op in r["ops"]:
                op["ok"] = op["error"] is None and op["digest"] == expected[op["name"]]

    return drive(args, work, spec, check, plain_client=False)


def end_to_end(res: dict) -> dict:
    reports = res["reports"]
    # zeros when every client failed: the result then reads correct=false
    lat = [op["latency"] for r in reports for op in r["ops"] if op["phase"] == "measure"] or [0.0]
    return {
        "setup_s": statistics.median([r["setup_s"] for r in reports] or [0.0]),
        "op_mean_s": statistics.fmean(lat),
        "op_max_s": max(lat),
        "peak_rss_mb": max(res["peaks"]) / 2**20,
        "ok_ops_ratio": 1 - res["failed"] / max(1, res["attempted"]),
    }


def per_layer(res: dict) -> dict:
    values = dict.fromkeys(PER_LAYER, 0.0)
    traced = [r for r in res["reports"] if "spans" in r]
    if traced:
        r = traced[-1]
        values["session.start_s"] = r["session_start_s"]
        values["registry.load_s"] = r["registry_load_s"]
        for m in MODULES:
            for c in MODULE_COUNTERS:
                values[f"{m}.{c}"] = r["layers"].get(m, {}).get(c, 0.0)
        totals = r["totals"]
        values["tables.input_bytes"] = totals.get("input_bytes", 0.0)
        values["tables.input_records"] = totals.get("input_records", 0.0)
        values["engine.failed_tasks"] = totals.get("failed_tasks", 0.0)
        for k, v in r["streaming"].items():
            values[f"streaming.{k}"] = v
    values.update(res.get("layers", {}))
    values["trace.overhead_s"] = res.get("overhead_s", 0.0)
    return values


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full", help="tiny: smoke-test inputs")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "edinet_etl_spark", "registry.py")):
        sys.stderr.write(f"edinet_etl_spark not found under {ROOT}: nothing to benchmark\n")
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = (etl_year if args.workload == "etl_year" else interactive_mix)(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in per_layer(res).items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in end_to_end(res).items()}
    for r in res["reports"]:
        for span in r.get("spans", []):
            sys.stderr.write("span " + json.dumps(span, sort_keys=True) + "\n")
        for op in r["ops"]:
            sys.stderr.write(f"{op['phase']:>9} {op['name']:<32} {op['latency']:8.3f} s\n")
        sys.stderr.write(f"{'setup':>9} {'':<32} {r['setup_s']:8.3f} s\n")
    correct = res["failed"] == 0 and bool(res["reports"])
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
