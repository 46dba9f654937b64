"""The benchmark's own tests: seeded inputs, declared metrics, tiny
smoke runs of each workload, and the correctness gate tripping on
planted output corruption.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import common, crawl, curate, gen
from perfbench.run import declared_metrics
from perfbench.trace import LAYER_UNITS
from storm_focused_crawler_spark import spec

SMALL_CRAWL = replace(crawl.PARAMS, n_hosts=30, n_pages=300, fanout=3.0, n_seeds=40)
SMALL_CURATE = replace(curate.PARAMS, n_base=200, n_sources=6)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a = tmp_path / "a"
    b = tmp_path / "b"
    c = tmp_path / "c"
    gen.crawl_inputs(SMALL_CRAWL, 7, str(a / "crawl"))
    gen.crawl_inputs(SMALL_CRAWL, 7, str(b / "crawl"))
    gen.crawl_inputs(SMALL_CRAWL, 8, str(c / "crawl"))
    gen.curate_inputs(SMALL_CURATE, 7, str(a / "docs"))
    gen.curate_inputs(SMALL_CURATE, 7, str(b / "docs"))
    gen.curate_inputs(SMALL_CURATE, 8, str(c / "docs"))
    for sub in ("crawl", "docs"):
        same = _files(str(a / sub))
        assert same == _files(str(b / sub))
        other = _files(str(c / sub))
        assert same.keys() == other.keys()
        assert all(same[k] != other[k] for k in same)


def test_extracted_text_is_the_generated_text(tmp_path):
    paths = gen.crawl_inputs(SMALL_CRAWL, 3, str(tmp_path))
    t = pq.read_table(paths["pages"]).to_pylist()
    latest = {}
    for row in t:
        if row["url"] not in latest or row["warc_ts"] > latest[row["url"]]["warc_ts"]:
            latest[row["url"]] = row
    assert all(spec.extract_text(r["html"]) == r["text"] for r in latest.values())
    # older captures carry other text, so an as-of join that picked them would fail
    assert any(r["text"].startswith("stale capture") for r in t)


def test_tail_is_highest_percentile_with_ten_beyond():
    assert common.tail([float(x) for x in range(1, 21)]) == (10.0, 50, 20)
    assert common.tail([float(x) for x in range(1, 101)]) == (90.0, 90, 100)
    assert common.tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)


def test_layer_metrics_match_benchmark_json():
    declared = declared_metrics()
    per_layer = {n: d["unit"] for n, d in declared.items() if d["kind"] == "per_layer"}
    assert per_layer == LAYER_UNITS


def _check_names(metrics: dict, kind: str) -> None:
    declared = {n: d["unit"] for n, d in declared_metrics().items() if d["kind"] == kind}
    assert {n: u for n, (_v, u) in metrics.items()} == declared


@pytest.fixture(scope="module")
def crawl_run(spark, tmp_path_factory):
    from perfbench.trace import Tracer

    workdir = str(tmp_path_factory.mktemp("crawl"))
    tracer = Tracer(spark)
    report = crawl.run(spark, workdir, 5, 0.1, 0.0, params=SMALL_CRAWL, tracer=tracer)
    return workdir, report


@pytest.fixture(scope="module")
def curate_run(spark, tmp_path_factory):
    from perfbench.trace import Tracer

    workdir = str(tmp_path_factory.mktemp("curate"))
    tracer = Tracer(spark)
    report = curate.run(spark, workdir, 5, 0.1, 0.0, params=SMALL_CURATE, tracer=tracer)
    return workdir, report


def test_crawl_smoke(crawl_run):
    _workdir, report = crawl_run
    assert report["failures"] == [] and report["failed"] == 0
    metrics = dict(report["metrics"], peak_rss_mb=(1.0, "MB"))
    _check_names(metrics, "end_to_end")
    _check_names(report["layers"], "per_layer")
    assert all(v > 0 for v, _u in report["metrics"].values())
    assert report["layers"]["driver.plan_s"][0] > 0


def test_curate_smoke(curate_run):
    _workdir, report = curate_run
    assert report["failures"] == [] and report["failed"] == 0
    metrics = dict(report["metrics"], peak_rss_mb=(1.0, "MB"))
    _check_names(metrics, "end_to_end")
    _check_names(report["layers"], "per_layer")
    assert all(v > 0 for v, _u in report["metrics"].values())
    assert report["layers"]["curate.exact_dedup.rows_in"][0] > 0


def test_corrupted_crawl_output_trips_the_gate(spark, crawl_run):
    from storm_focused_crawler_spark.sources.storage import ParquetSnapshotStore

    workdir, report = crawl_run
    store = ParquetSnapshotStore(os.path.join(workdir, f"crawl{crawl.SETUP_PASSES - 1}", "state"))
    paths = {k: os.path.join(workdir, "inputs", v) for k, v in (
        ("pages", "pages.parquet"), ("seeds", "seeds.json"),
        ("robots", "robots.parquet"), ("host_budget", "host_budget.parquet"))}
    last = store.latest_round()
    mnt = report["notes"]["maintenance_round"]
    assert crawl.check(spark, store, paths, mnt, last) == []
    # plant one wrong byte in one extracted text of the last crawl round
    rnd = mnt - 1
    res_dir = os.path.join(store.root, f"round={rnd}", "results")
    part = next(f for f in sorted(os.listdir(res_dir)) if f.endswith(".parquet")
                and pq.read_metadata(os.path.join(res_dir, f)).num_rows > 0)
    t = pq.read_table(os.path.join(res_dir, part))
    texts = t.column("text").to_pylist()
    texts[0] = texts[0] + "!"
    t = t.set_column(t.schema.get_field_index("text"), "text",
                     pa.array(texts, t.schema.field("text").type))
    pq.write_table(t, os.path.join(res_dir, part))
    os.remove(os.path.join(res_dir, f".{part}.crc"))  # the local FS checksum sidecar
    failures = crawl.check(spark, store, paths, mnt, last)
    assert any(f"round {rnd}" in f for f in failures)


def test_curate_gate_counts_planted_duplicates():
    summary = {"docs_in": 100, "after_host_gate": 95, "after_quality": 90,
               "after_repetition": 85, "after_gopher_rules": 80, "after_lang": 60,
               "after_exact_dedup": 50, "after_near_dedup": 45}
    planted = {"exact_dups": 10, "near_dups": 8}
    assert curate.check(summary, planted) == []
    assert curate.check(dict(summary, after_exact_dedup=51), planted)
    assert curate.check(dict(summary, after_near_dedup=50), planted)
    assert curate.check(dict(summary, after_gopher_rules=0, after_lang=0,
                             after_exact_dedup=0, after_near_dedup=0), planted)


def test_benchmark_json_contract():
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    names = [w["name"] for w in bench["workloads"]]
    from perfbench.run import WORKLOADS

    assert tuple(names) == WORKLOADS
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
