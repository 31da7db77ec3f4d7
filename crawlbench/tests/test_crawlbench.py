"""Tests of the benchmark's own code.

    python3 -m pytest crawlbench/tests -q

The traced end-to-end tests start the benchmark as a subprocess, one
workload at a time (about a minute and a half each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from crawlbench import checks, gen, workloads  # noqa: E402
from crawlbench.run import unit_of  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def spark():
    from louis_crawler_legacy_spark.session import get_spark

    os.environ["PYTHONPATH"] = ROOT
    s = get_spark(app_name="crawlbench-tests", cpus="2",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


# -- generator ---------------------------------------------------------------------

def _pages(spark, seed, **kw):
    return sorted(tuple(r) for r in
                  gen.crawl_corpus(spark, seed, 60, **kw).collect())


def test_corpus_is_deterministic_per_seed_and_differs_across_seeds(spark):
    a = _pages(spark, 1)
    assert a == _pages(spark, 1)
    b = _pages(spark, 2)
    assert [r[0] for r in a] == [r[0] for r in b]  # same urls
    assert [r[3] for r in a] != [r[3] for r in b]  # other text and links


def test_skeleton_yields_the_pages_children(spark):
    from louis_crawler_legacy_spark.functions.extract import extract_page_fields

    full = _pages(spark, 3)
    skel = _pages(spark, 3, skeleton=True)
    for (url, _, _, html), (url2, _, _, sk) in zip(full, skel):
        assert url == url2
        assert (extract_page_fields(html, url, None)["children"]
                == extract_page_fields(sk, url, None)["children"])


def test_corpus_models_hub_same_host_links_and_long_blocks(spark):
    rows = gen.crawl_corpus(spark, 4, 300).collect()
    assert sum(r.host == gen.HUB for r in rows) == 100  # every third page
    assert any("/page/" in r.html and 'href="/page/' in r.html for r in rows)
    from crawlbench import layers

    assert layers.long_block_share([(r.url, r.html) for r in rows]) > 0.02


def test_query_tables_are_deterministic_and_plant_duplicates(spark, tmp_path):
    kw = dict(n_docs=80, n_events=100, n_lineitem=100)
    gen.query_tables(spark, 5, str(tmp_path / "a"), **kw)
    gen.query_tables(spark, 5, str(tmp_path / "b"), **kw)
    gen.query_tables(spark, 6, str(tmp_path / "c"), **kw)

    def docs(d):
        return sorted(tuple(r) for r in spark.read.parquet(
            str(tmp_path / d / "documents.parquet")).collect())

    assert docs("a") == docs("b") != docs("c")
    assert gen.planted_duplicates(spark, str(tmp_path / "a"))


# -- output checks --------------------------------------------------------------------

def _small_crawl():
    from louis_crawler_legacy_spark.simulator import simulate_crawl
    from louis_crawler_legacy_spark.sources.corpus import (
        corpus_dict,
        generate_corpus,
        seed_urls,
    )

    corpus = generate_corpus(seed=3, n_hosts=3, pages_per_host=15)
    sim = simulate_crawl(corpus_dict(corpus), seed_urls(corpus, 2),
                         batch_size=8, host_budget=3)
    return sim, checks.expected_crawl(sim, len(sim.rounds))


def _observed_from(expected: dict) -> dict:
    obs = dict(expected)
    obs["distinct_page_urls"] = obs["pages"]
    return obs


def test_check_passes_on_matching_outputs():
    _, exp = _small_crawl()
    assert checks.crawl_mismatches(_observed_from(exp), exp) == []


@pytest.mark.parametrize("plant", ["dropped_page", "dropped_seen",
                                   "duplicate_page", "short_round"])
def test_planted_wrong_output_fails_the_check(plant):
    sim, exp = _small_crawl()
    obs = _observed_from(exp)
    if plant == "dropped_page":
        obs["pages"] -= 1
        obs["documents"] -= 1
        obs["distinct_page_urls"] -= 1
    elif plant == "dropped_seen":
        scraped = [u for r in sim.rounds for u in r.scraped][1:]
        errored = [u for r in sim.rounds for u in r.errored]
        obs["seen"] = checks.digest([(u, "scraped") for u in scraped]
                                    + [(u, "errored") for u in errored])
    elif plant == "duplicate_page":
        obs["pages"] += 1
    else:
        obs["batch_sizes"] = obs["batch_sizes"][:-1] + [obs["batch_sizes"][-1] - 1]
    assert checks.crawl_mismatches(obs, exp)


def test_query_check_catches_a_dropped_row_and_tolerates_float_noise():
    cols = ["b", "a"]
    rows = [(1.0, "x"), (2.0, "y")]
    oracle_cols = ["a", "b"]
    oracle = [("y", 2.0 + 1e-12), ("x", 1.0)]
    assert checks.query_mismatch(cols, rows, oracle_cols, oracle) is None
    assert checks.query_mismatch(cols, rows[:1], oracle_cols, oracle)
    assert checks.query_mismatch(cols, [(1.0, "x"), (2.5, "y")],
                                 oracle_cols, oracle)


# -- names and the contract ---------------------------------------------------------

def test_metric_and_workload_names_match_benchmark_json():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert [m["name"] for m in b["end_to_end"]] == list(workloads.E2E)
    assert [m["name"] for m in b["per_layer"]] == workloads.per_layer_names()
    for m in b["end_to_end"] + b["per_layer"]:
        assert m["unit"] == unit_of(m["name"]), m["name"]
    assert b["paths"] == ["crawlbench"]


def test_bare_directory_run_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "crawlbench"), tmp_path / "crawlbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(_bench()["command"] + ["--workload", "crawl", "--seed",
                                              "1", "--seconds", "1"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# -- traced runs ---------------------------------------------------------------------

# per-layer metrics that must be nonzero where their layer runs
RUNS_ON = {
    "crawl": ("extract.", "tokenizer.ms", "chunking.", "spans.",
              "crawl.", "select.", "filter.layers", "filter.probe_s",
              "filter.merge_s", "tables.", "spark.task_s",
              "spark.default_pool_task_s", "spark.state_pool_task_s",
              "spark.background_pool_task_s", "spark.cpu_util", "trace."),
    "queries": ("query.", "spark.task_s", "spark.default_pool_task_s",
                "spark.cpu_util", "trace."),
}
# per-layer metrics of layers that do not run in a workload: they read 0
IDLE_ON = {
    "crawl": ("query.",),
    "queries": ("extract.", "tokenizer.", "chunking.", "spans.", "crawl.",
                "select.", "filter.", "tables."),
}


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_traced_run_emits_every_per_layer_metric(workload):
    p = subprocess.run(
        _bench()["command"] + ["--workload", workload, "--seed", "7",
                               "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    assert list(res["metrics"]) == workloads.per_layer_names()
    for name, m in res["metrics"].items():
        assert m["unit"] == unit_of(name)
        if name.startswith(RUNS_ON[workload]):
            assert m["value"] > 0, name
        if name.startswith(IDLE_ON[workload]):
            assert m["value"] == 0, name
