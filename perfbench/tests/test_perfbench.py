"""Tests of the benchmark itself: generator determinism, the golden and
digest checks, the metric names, and a tiny-input smoke run.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``
(the smoke runs start Spark; ``-m "not smoke"`` skips them).
"""

from __future__ import annotations

import csv
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import digest  # noqa: E402
import edinet_gen  # noqa: E402
import rss  # noqa: E402
import run  # noqa: E402
import tables_gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_edinet_generator_is_byte_identical_per_seed(tmp_path):
    a = edinet_gen.generate(5, str(tmp_path / "a"), **run.ETL_TRAFFIC["tiny"])
    b = edinet_gen.generate(5, str(tmp_path / "b"), **run.ETL_TRAFFIC["tiny"])
    c = edinet_gen.generate(6, str(tmp_path / "c"), **run.ETL_TRAFFIC["tiny"])
    assert _tree_bytes(a.root) == _tree_bytes(b.root)
    assert a.golden == b.golden and a.fail_keys == b.fail_keys
    assert _tree_bytes(a.root) != _tree_bytes(c.root)


def test_edinet_generator_full_size_shape(tmp_path):
    t = edinet_gen.generate(1, str(tmp_path))
    with open(t.master_path, encoding="cp932") as f:
        rows = list(csv.reader(f))
    assert rows[0] == edinet_gen.MASTER_HEADER and len(rows) == 1 + 11018
    assert len(os.listdir(os.path.join(t.root, "api"))) == 366
    assert (t.start_date, t.end_date) == ("2024-01-01", "2024-12-31")
    assert t.n_requested == t.cap == 1000  # the cap binds
    assert 0 < t.n_kept < t.n_requested and t.golden
    assert any(k.startswith("list:") for k in t.fail_keys)
    assert any(k.startswith("doc:") for k in t.fail_keys)


def test_tables_generator_is_byte_identical_per_seed(tmp_path):
    size = run.MIX_TABLES["tiny"]
    tables_gen.write_tables(str(tmp_path / "a"), 3, **size)
    tables_gen.write_tables(str(tmp_path / "b"), 3, **size)
    tables_gen.write_tables(str(tmp_path / "c"), 4, **size)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))


def test_tables_match_fixture_schemas(tmp_path):
    from edinet_etl_spark.tables import SCHEMAS
    import pyarrow.parquet as pq

    tables_gen.write_tables(str(tmp_path), 1, **run.MIX_TABLES["tiny"])
    for name, schema in SCHEMAS.items():
        pf = pq.ParquetFile(str(tmp_path / f"{name}.parquet"))
        assert pf.schema_arrow.names == [f.name for f in schema.fields], name
        assert pf.metadata.num_row_groups == 1
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pydict()
    assert any(t.endswith(" dup") for t in docs["text"])  # seeded near-duplicates
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def _domain(col) -> tuple:
    """Value domain of one column: the share of each value when there
    are few (a category), the number of distinct values (names), or the
    minimum, median and 90th percentile (numbers, timestamps)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_string(col.type):
        counts = pc.value_counts(col).to_pylist()
        if len(counts) > 30:
            return ("distinct", len(counts))
        return ("shares", {c["values"]: c["counts"] / len(col) for c in counts})
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    return ("range", float(pc.min(col).as_py()), *pc.quantile(col, q=[0.5, 0.9]).to_pylist())


def test_tables_match_fixture_value_domains(tmp_path):
    """At the fixture's scale the generated TPC-H-style and events tables
    have the fixture's types, row counts, category shares and value
    ranges, and the corpus has its languages and sources."""
    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR

    if not os.path.isfile(os.path.join(SF_DIR, "lineitem.parquet")):
        pytest.skip("fixture tables not present")
    fixture_sf = 0.01
    if pq.read_metadata(os.path.join(SF_DIR, "orders.parquet")).num_rows != int(1_500_000 * fixture_sf):
        pytest.skip("fixture tables are not at scale 0.01")
    tables_gen.write_tables(str(tmp_path), 11, sf=fixture_sf, n_docs=500, n_vecs=500)
    for name in tables_gen.TABLES:
        want = pq.read_table(os.path.join(SF_DIR, f"{name}.parquet"))
        got = pq.read_table(str(tmp_path / f"{name}.parquet"))
        assert got.schema.types == want.schema.types and got.column_names == want.column_names, name
        if name in ("documents", "embeddings"):
            continue  # the benchmark's own curation corpus
        assert got.num_rows == want.num_rows, name
        for col in want.column_names:
            w, g = _domain(want[col]), _domain(got[col])
            assert g[0] == w[0], (name, col)
            if w[0] == "range":
                # quantiles of a small table vary more between seeds
                slack = max(0.05, 3 / want.num_rows**0.5) * (w[3] - w[1])
                assert all(abs(x - y) <= slack for x, y in zip(g[1:], w[1:])), (name, col, w, g)
            elif w[0] == "distinct":
                assert abs(g[1] - w[1]) <= 0.05 * w[1], (name, col, w, g)
            else:
                _assert_same_shares(g[1], w[1], want.num_rows, (name, col))
    docs = pq.read_table(str(tmp_path / "documents.parquet"))
    fixture_docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    for col in ("lang", "source"):
        _assert_same_shares(_domain(docs[col])[1], _domain(fixture_docs[col])[1], docs.num_rows, col)


def _assert_same_shares(got: dict, want: dict, n: int, where) -> None:
    """Same values, and shares within four standard errors of the
    difference of two samples of ``n`` rows."""
    assert got.keys() == want.keys(), where
    for k, p in want.items():
        assert abs(got[k] - p) <= 0.01 + 4 * (2 * p * (1 - p) / n) ** 0.5, (where, k, want, got)


def _write_spark_like_csv(path: str, rows: list[tuple]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.csv"), "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(edinet_gen.OUTPUT_HEADER)
        w.writerows(rows)


def test_golden_check_catches_one_cell_perturbation(tmp_path):
    t = edinet_gen.generate(2, str(tmp_path / "in"), **run.ETL_TRAFFIC["tiny"])
    assert t.golden
    _write_spark_like_csv(str(tmp_path / "ok"), list(reversed(t.golden)))
    assert edinet_gen.read_output(str(tmp_path / "ok")) == t.golden
    bad = list(t.golden)
    y, name, ind, geo, rev, unit = bad[0]
    bad[0] = (y, name, ind, geo, rev + 1, unit)
    _write_spark_like_csv(str(tmp_path / "bad"), bad)
    assert edinet_gen.read_output(str(tmp_path / "bad")) != t.golden


def test_digest_catches_one_cell_perturbation():
    cols = ["b", "a"]
    rows = [(1.5, "x"), (2.0, None)]
    assert digest.digest(cols, rows) == digest.digest(["a", "b"], [("x", 1.5), (None, 2.0)])
    assert digest.digest(cols, rows) == digest.digest(cols, list(reversed(rows)))
    assert digest.digest(cols, rows) != digest.digest(cols, [(1.5, "x"), (2.0000000000000004, None)])
    assert digest.digest(cols, rows) != digest.digest(cols, rows[:1])


def test_wait_gone_kills_leftovers_but_not_reused_pids():
    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        seen = rss.tree_pids(p.pid)
        assert list(seen) == [p.pid]
        # same pid, other start time: a pid reused after its process exited
        rss.wait_gone({pid: t + 1 for pid, t in seen.items()}, timeout=0.2)
        assert p.poll() is None
        rss.wait_gone(seen, timeout=0.2)
        assert p.wait(timeout=5) == -9
    finally:
        p.kill()
        p.wait()


def test_metric_names_and_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert e2e == run.END_TO_END and layer == run.PER_LAYER
    assert len(e2e) <= 16 and len(layer) <= 128
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for name, (unit, better) in {**e2e, **layer}.items():
        assert NAME.match(name) and UNIT.match(unit) and better in ("lower", "higher"), name
    assert e2e["setup_s"] == ("s", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


@pytest.mark.smoke
@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert set(res["metrics"]) == set(want)
    assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())
    if trace and workload == "etl_year":
        assert res["metrics"]["sources.fetch_calls_per_doc"]["value"] >= 1.0
        assert res["metrics"]["pipeline.rows_out"]["value"] > 0
    if trace and workload == "interactive_mix":
        assert res["metrics"]["streaming.batches"]["value"] > 0
        assert res["metrics"]["relational.jobs"]["value"] > 0
