"""Tests of the benchmark's own code (no JVM needed).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import pathlib
import random
import shutil
import subprocess
import sys

import pytest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

ROWS = 256


@pytest.fixture(scope="module")
def pages():
    return inputs.web_pages_rows(5, ROWS)


def test_web_pages_rows_are_deterministic_by_seed(pages):
    again = inputs.web_pages_rows(5, ROWS)
    other = inputs.web_pages_rows(6, ROWS)
    assert again == pages
    assert [r["html"] for r in other[0]] != [r["html"] for r in pages[0]]


def test_oversized_rows_are_html_over_the_skew_threshold(pages):
    rows, expected = pages
    big = {r["url"]: r["html"] for r in rows
           if len(r["html"]) > inputs.SKEW_THRESHOLD}
    assert sorted(big) == sorted(expected["oversized"])
    assert len(big) == inputs.N_OVERSIZED > 0
    for url, raw in big.items():
        assert "." not in url.rsplit("/", 1)[1]    # an HTML slot
        assert raw.startswith(b"<!DOCTYPE html>")


def test_only_malformed_rows_fail_single_process(pages):
    rows, expected = pages
    tracer = layers.Tracer("test")
    failed = set()
    for r in rows:
        try:
            layers.convert_row(r["url"], r["html"], tracer)
        except Exception:
            failed.add(r["url"])
    assert failed == set(expected["malformed"])
    assert len(failed) == ROWS // inputs.PDF_EVERY


@pytest.mark.parametrize("n_pages", [1, 2, 5])
def test_generated_pdf_page_count_and_content(n_pages):
    from docling_spark.pdfdoc import convert_pdf
    from docling_spark.serialize import to_markdown
    rng = random.Random(n_pages)
    raw, n = inputs.pdf_bytes(rng, n_pages)
    doc = convert_pdf(raw, name="t")
    assert n == n_pages == len(doc.pages)
    md = to_markdown(doc)
    assert md.count("## ") == n_pages            # one bold heading a page
    assert len(md) > 500 * n_pages


def test_generated_pdfs_hold_ruled_tables():
    from docling_spark.pdfdoc import convert_pdf
    rng = random.Random(0)
    tables = sum(len(convert_pdf(inputs.pdf_bytes(rng, 3)[0]).tables)
                 for _ in range(6))
    assert tables > 0


def test_pdf_rows_have_the_expected_page_counts(pages):
    rows, expected = pages
    tracer = layers.Tracer("test")
    assert expected["pdf_pages"]
    by_url = {r["url"]: r["html"] for r in rows}
    from docling_spark.pdfdoc import convert_pdf
    for url, n in expected["pdf_pages"].items():
        assert len(convert_pdf(by_url[url]).pages) == n
        layers.convert_row(url, by_url[url], tracer)


def test_corpus_tables_are_deterministic_and_unit_norm():
    import numpy as np
    a = inputs.corpus_tables(3, 200, 50)
    b = inputs.corpus_tables(3, 200, 50)
    assert a["documents"].equals(b["documents"])
    assert a["embeddings"].equals(b["embeddings"])
    vecs = np.stack(a["embeddings"].column("embedding").to_pylist())
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)


def test_cache_reuses_and_rebuilds_on_content_change(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        inputs.write_pages(d, inputs.web_pages_rows(1, 64)[0], n_files=2)
        return {"n": 64}

    d1, meta = inputs.cached(tmp_path, "t", 1, (64,), build)
    d2, _ = inputs.cached(tmp_path, "t", 1, (64,), build)
    assert d1 == d2 and len(calls) == 1 and meta["n"] == 64
    next(d1.glob("*.parquet")).write_bytes(b"torn")
    inputs.cached(tmp_path, "t", 1, (64,), build)
    assert len(calls) == 2
    d3, _ = inputs.cached(tmp_path, "t", 2, (64,), build)
    assert d3 != d1


def test_replay_layers_split_parse_walk_and_serialize():
    tracer = layers.Tracer("test")
    layers.convert_row("https://x.test/a", b"<h1>T</h1><p>hello</p>", tracer)
    out = layers.replay_layers(tracer.spans)
    assert out["dom.parse_ms_sum"] > 0 and out["extractor.walk_ms_sum"] > 0
    assert out["serialize.json_ms_sum"] > 0
    assert out["formats.convert_ms_sum"] == 0
    assert out["replay_s"] * 1e3 >= out["dom.parse_ms_sum"]


def test_event_log_stats_counts_only_the_named_groups(tmp_path):
    def task(stage, ms, records, shuffle=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {
                    "Executor Run Time": ms,
                    "Input Metrics": {"Records Read": records},
                    "Shuffle Read Metrics": {"Total Records Read": 0},
                    "Shuffle Write Metrics": {
                        "Shuffle Bytes Written": shuffle}}}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "other"}},
        task(1, 1000, 5, shuffle=2_000_000), task(2, 4000, 1),
        task(2, 1000, 1), task(2, 9000, 0), task(3, 50000, 1),
    ]
    log = tmp_path / "eventlog_v2_x" / "events_1_x"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events))
    got = layers.event_log_stats(tmp_path, {"g"})
    assert got["spark.task_busy_s"] == pytest.approx(15.0)
    assert got["spark.shuffle_mb"] == pytest.approx(2.0)
    # busiest stage 2; the task that read nothing is not a skew sample
    assert got["spark.task_skew"] == pytest.approx(4000 / 2500)


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == run.LAYER_UNITS
    assert sorted(w["name"] for w in spec["workloads"]) \
        == sorted(run.WORKLOADS)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "web_pages",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
