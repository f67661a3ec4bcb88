"""End-to-end Spark tests: extraction job, skew split, metrics, resume,
parallelism invariance (SURVEY.md §7 v2 machinery)."""

import pathlib

import pytest
from pyspark.sql import functions as F

from docling_spark import engine, pages as pages_mod


def _pages(spark, n=48):
    return spark.read.parquet(pages_mod.ensure_pages(n))


def test_extract_pages_end_to_end(spark):
    res = engine.extract_pages(_pages(spark), repartition=True).cache()
    total = res.count()
    assert total == 48
    ok = res.where(F.col("status") == "success").count()
    assert ok == total  # all fixture/synthetic pages extract cleanly
    # fixture row must match the reference golden byte-for-byte
    row = res.where(F.col("url").startswith(
        "https://fixture.test/html/example_01")).first()
    golden = pathlib.Path(
        "/root/reference/tests/data/html/groundtruth/example_01.html.md"
    ).read_text()
    assert row["md"] == golden
    res.unpersist()


def test_column_pruning_reaches_scan(spark):
    """The physical plan must read only url+html from parquet."""
    pages = spark.read.parquet(pages_mod.ensure_pages(48))
    res = engine.extract_pages(pages, repartition=False)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "html" in read_schema and "url" in read_schema
    assert "warc_ts" not in read_schema and "lang" not in read_schema


def test_skew_split_partitioning(spark):
    pages = _pages(spark, 48)
    # low threshold forces the fixture wiki_duck (~800KB) into the big branch
    out = engine.partition_pages(pages.select("url", "html"),
                                 num_partitions=4, skew_threshold=100_000)
    assert out.count() == 48
    assert set(out.columns) == {"url", "html"}


def test_partition_metrics_cover_all_docs(spark):
    res = engine.extract_pages(_pages(spark), repartition=True)
    m = engine.partition_metrics(res)
    rows = m.collect()
    assert sum(r["doc_count"] for r in rows) == 48
    assert all(r["failure_count"] == 0 for r in rows)
    assert sum(r["byte_count"] for r in rows) > 0


def _resume_twice(spark, out):
    pages = _pages(spark, 40)
    ck = engine.CheckpointedExtraction(spark, out, num_buckets=4, group_size=2)
    r1 = ck.run(pages)
    assert r1["resumed_from"] == []
    assert sorted(r1["processed"]) == [0, 1, 2, 3]
    n1 = spark.read.parquet(ck.results_path).count()
    assert n1 == 40
    # resume: everything committed -> nothing reprocessed, no duplicates
    ck2 = engine.CheckpointedExtraction(spark, out, num_buckets=4, group_size=2)
    r2 = ck2.run(pages)
    assert r2["processed"] == []
    assert sorted(r2["resumed_from"]) == [0, 1, 2, 3]
    assert spark.read.parquet(ck.results_path).count() == 40
    assert spark.read.parquet(ck.manifest_path).count() == 4


def test_checkpoint_resume(spark, tmp_path):
    _resume_twice(spark, str(tmp_path / "run1"))


def test_checkpoint_resume_uri_output(spark, tmp_path):
    """job.py takes URIs (s3://...); resume must not test a local path."""
    _resume_twice(spark, (tmp_path / "run1").as_uri())


def test_checkpoint_torn_manifest_resume(spark, tmp_path):
    """A crash that commits only SOME buckets of a group must not lose or
    duplicate rows on resume: group ids come from a fixed bucket-range
    partition and the whole fixed group is re-extracted + overwritten
    (round-2 advice: order-dependent gids left stale grp dirs)."""
    pages = _pages(spark, 40)
    out = str(tmp_path / "torn")
    ck = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                       group_size=2)
    ck.run(pages)
    total = spark.read.parquet(ck.results_path).count()
    assert total == 40
    # simulate a torn commit: drop bucket 1's manifest row (group {0,1}
    # is now half-committed) but leave the results directory intact
    mf = spark.read.parquet(ck.manifest_path)
    kept = mf.where("bucket <> 1")
    import shutil
    tmp_mf = str(tmp_path / "mf_tmp")
    kept.coalesce(1).write.mode("overwrite").parquet(tmp_mf)
    shutil.rmtree(ck.manifest_path)
    shutil.move(tmp_mf, ck.manifest_path)
    ck2 = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                        group_size=2)
    assert sorted(ck2.committed_buckets()) == [0, 2, 3]
    r = ck2.run(pages)
    # only the torn group's pending bucket is (re)committed...
    assert r["processed"] == [1]
    # ...and the results hold exactly one row per input, no dupes/loss
    res = spark.read.parquet(ck.results_path)
    assert res.count() == 40
    assert res.select("url").distinct().count() == 40


def test_checkpoint_failure_commits_a_prefix(spark, tmp_path, monkeypatch):
    """A group that fails commits nothing after it; a clean re-run does
    only the rest."""
    pages = _pages(spark, 40)
    out = str(tmp_path / "fail")
    write = engine.CheckpointedExtraction._write_group

    def failing(self, bucketed, gid, full_group, skew_threshold):
        if gid == 2:
            raise RuntimeError("group 2 failed")
        return write(self, bucketed, gid, full_group, skew_threshold)

    monkeypatch.setattr(engine.CheckpointedExtraction, "_write_group",
                        failing)
    ck = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                       group_size=1)
    with pytest.raises(RuntimeError, match="group 2 failed"):
        ck.run(pages)
    assert sorted(ck.committed_buckets()) == [0, 1]
    assert len(list(pathlib.Path(ck.manifest_path).glob(
        "part-*.parquet"))) == 2
    monkeypatch.undo()
    r = engine.CheckpointedExtraction(spark, out, num_buckets=4,
                                      group_size=1).run(pages)
    assert r["resumed_from"] == [0, 1]
    assert r["processed"] == [2, 3]
    res = spark.read.parquet(ck.results_path)
    assert res.count() == 40
    assert res.select("url").distinct().count() == 40


def test_checkpoint_jobs_inherit_job_group(spark, tmp_path):
    """Jobs run on the pool's threads stay in the caller's job group, so
    statusTracker and cancelJobGroup see them."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("ck", "checkpointed extraction")
    try:
        engine.CheckpointedExtraction(
            spark, str(tmp_path / "grp"), num_buckets=4,
            group_size=1).run(_pages(spark, 40))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # results, metrics and manifest writes of four groups at least
    assert len(tracker.getJobIdsForGroup("ck")) >= 12
    assert set(tracker.getJobIdsForGroup()) - ungrouped == set()


def test_parallelism_invariance(spark):
    """Per-url output must not depend on partition layout (north rule:
    determinism under two cluster sizes)."""
    pages = _pages(spark, 40)
    a = engine.extract_pages(pages.repartition(2), repartition=False)
    b = engine.extract_pages(pages.repartition(16), repartition=False)
    da = {r["url"]: (r["md"], r["doc_json"]) for r in a.collect()}
    db = {r["url"]: (r["md"], r["doc_json"]) for r in b.collect()}
    assert da == db


def test_failure_isolation(spark):
    """A pathological row must produce status=failure, not a task error."""
    rows = [("u://good", b"<p>ok</p>"), ("u://null", None)]
    df = spark.createDataFrame(rows, "url string, html binary")
    res = engine.extract_pages(df, repartition=False).collect()
    by_url = {r["url"]: r for r in res}
    assert by_url["u://good"]["status"] == "success"
    # null html decodes to empty doc - still success, no crash
    assert by_url["u://null"]["status"] == "success"


def test_spans_view(spark):
    res = engine.extract_pages(_pages(spark, 40), repartition=False)
    spans = engine.spans_view(res)
    labels = {r["label"] for r in spans.select("label").distinct().collect()}
    assert "section_header" in labels or "title" in labels


def test_items_view_all_kinds(spark):
    from docling_spark import engine
    html = (b"<html><body><h1>T</h1><p>para</p>"
            b"<table><tr><td>1</td><td>2</td></tr></table>"
            b"<ul><li>x</li></ul>"
            b"<figure><img src='i.png'/><figcaption>c</figcaption>"
            b"</figure></body></html>")
    pages = spark.createDataFrame([("https://x/a", html)],
                                  "url string, html binary")
    res = engine.extract_pages(pages, repartition=False)
    rows = engine.items_view(res).collect()
    kinds = {r["kind"] for r in rows}
    assert kinds == {"text", "table", "picture", "group"}
    table = [r for r in rows if r["kind"] == "table"][0]
    assert (table["num_rows"], table["num_cols"]) == (1, 2)
    pic = [r for r in rows if r["kind"] == "picture"][0]
    assert pic["n_captions"] == 1
    group = [r for r in rows if r["kind"] == "group"][0]
    assert group["label"] == "list"


def test_extract_pages_with_doctags_column(spark):
    """Opt-in doctags export column (reference OutputFormat doctags)."""
    rows = [("https://x/a.html",
             b"<html><body><h1>T</h1><p>hello world</p></body></html>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = engine.extract_pages(df, repartition=False,
                               exports=("doctags",)).collect()[0]
    assert out["status"] == "success"
    dt = out["doctags"]
    assert dt.startswith("<doctag>") and dt.endswith("</doctag>")
    assert "<title>" in dt and "hello world" in dt
    # default schema unchanged
    cols = engine.extract_pages(df, repartition=False).columns
    assert "doctags" not in cols


def test_extract_pages_rejects_unknown_sidecar_and_export(spark):
    """A misspelled sidecar converter or export name fails when the plan
    is built instead of being ignored."""
    df = spark.createDataFrame([("https://x/a.ebc", b"")],
                               "url string, html binary")
    with pytest.raises(ValueError, match="ebcidc"):
        engine.extract_pages(df, sidecars={"ebcidc": {"a": "{}"}})
    with pytest.raises(ValueError, match="doctag"):
        engine.extract_pages(df, exports=("doctag",))
    # known names build the plan; export columns follow EXPORTS order
    cols = engine.extract_pages(df, sidecars={"ebcdic": {}},
                                exports=("html", "doctags")).columns
    assert cols[-2:] == ["doctags", "html"]


def test_load_pages_resolves_table_and_parquet(spark, tmp_path):
    """load_pages: a catalog-style identifier goes through
    spark.read.table (the Iceberg route), a path reads parquet."""
    rows = [("https://x/a.html", b"<p>hi</p>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    df.createOrReplaceTempView("pages_tbl")
    via_table = engine.load_pages(spark, "pages_tbl")
    assert via_table.count() == 1
    p = str(tmp_path / "pages_pq")
    df.write.parquet(p)
    via_path = engine.load_pages(spark, p)
    assert via_path.count() == 1
    assert set(via_path.columns) == {"url", "html"}


def test_extract_pages_with_html_column(spark):
    """Opt-in standalone-HTML export column (OutputFormat html)."""
    rows = [("https://x/a.html",
             b"<html><body><h2>T</h2><p>hello</p></body></html>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = engine.extract_pages(df, repartition=False,
                               exports=("html",)).collect()[0]
    assert out["status"] == "success"
    page = out["html"]
    assert page.startswith("<!DOCTYPE html>")
    assert "<p>hello</p>" in page and page.rstrip().endswith("</html>")
    assert "html" not in engine.extract_pages(df, repartition=False).columns
