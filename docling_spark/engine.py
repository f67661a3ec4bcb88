"""Spark execution layer: the scaled extraction job.

North-rule machinery (SURVEY.md §3.4, §4):

- **Salted repartition** by ``xxhash64(url)`` so hot hosts spread evenly
  across tasks at any cluster size.
- **Explicit skew split**: rows with ``length(html) > skew_threshold``
  are routed to their own fine-grained partitions (oversized blobs never
  share an Arrow batch with the bulk), then unioned back.  AQE only fixes
  join/shuffle skew, not map-side payload skew, so this is done explicitly.
- **Arrow-batched extraction** via ``mapInPandas`` - one Python invocation
  per record batch, never per row; heavy state (none today, model caches
  later) would live in per-executor module globals.
- **Per-partition lineage/metrics**: each task emits (partition_id,
  doc_count, byte_count, failure list) rows to a metrics table.
- **Checkpoint manifest + resume**: output is written per url-hash bucket;
  a manifest records committed buckets; resume anti-joins pending buckets
  against the manifest.

Reference lifecycle being mirrored: ``DocumentConverter.convert_all``
(``/root/reference/docling/document_converter.py:505-590``) with structured
per-doc error envelopes (``base_models.py:85-91,311-327``) - a failing
document NEVER fails the task; it yields status='failure' + error message.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Iterable, Iterator, Optional

import pandas as pd

from pyspark import inheritable_thread_target
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ------------------------------------------------------------------ schema

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("status", StringType(), False),
    StructField("doc_json", StringType(), True),
    StructField("md", StringType(), True),
    StructField("itxt", StringType(), True),
    StructField("n_texts", IntegerType(), True),
    StructField("n_tables", IntegerType(), True),
    StructField("n_pictures", IntegerType(), True),
    StructField("n_pages", IntegerType(), True),
    StructField("html_bytes", LongType(), True),
    StructField("parse_ms", DoubleType(), True),
    StructField("serialize_ms", DoubleType(), True),
    StructField("error", StringType(), True),
    StructField("partition_id", IntegerType(), True),
])

METRICS_SCHEMA = StructType([
    StructField("partition_id", IntegerType(), False),
    StructField("doc_count", LongType(), False),
    StructField("byte_count", LongType(), False),
    StructField("failure_count", LongType(), False),
    StructField("failures", ArrayType(StringType()), True),
])


class _Modules:
    """``_mod.jats`` imports ``docling_spark.jats`` on first use, so
    building a plan, which only reads the table's names, never pays for
    importing every converter module."""

    def __getattr__(self, module: str):
        value = importlib.import_module(f".{module}", __package__)
        setattr(self, module, value)
        return value


_mod = _Modules()


def _plain(module: str, func: str):
    """The common converter call: ``func(raw, name=<stem>,
    filename=<url tail>, binary_hash=<sha256 mod 2^64>)``."""
    def convert(raw, name, tail, bh, side):
        return getattr(getattr(_mod, module), func)(
            raw, name=name, filename=tail, binary_hash=bh)
    return convert


def _ebcdic(raw, name, tail, bh, layout):
    if layout is None:
        raise ValueError(f"no EBCDIC layout registered for {tail!r}")
    return _mod.ebcdic.convert_ebcdic(raw, layout, name=tail, filename=tail,
                                      binary_hash=bh)


_OLE = b"\xd0\xcf\x11\xe0"

# Format dispatch (the Spark analog of Docling's format->backend table,
# document_converter.py): the FIRST row whose ``match(ext, raw)`` holds
# converts the row with ``convert(raw, name, tail, bh, side)``. ``tail`` is
# the url's last path segment, ``ext`` its lower-cased extension ("html"
# when there is none), ``name`` the tail without it, ``bh`` the document
# hash, and ``side`` the side input that ``extract_pages(sidecars=)`` holds
# for this converter and row. Every row tests the extension before any
# content sniff; the %PDF- magic wins over any extension, and HTML (the
# Common-Crawl case) is the fall-through.
CONVERTERS = (
    ("pdf", lambda ext, raw: ext == "pdf" or raw[:5] == b"%PDF-",
     lambda raw, name, tail, bh, side: _mod.pdfdoc.convert_pdf(
         raw, name=name, filename=tail, binary_hash=bh,
         password=side or "")),
    ("deepseekocr", lambda ext, raw: ext == "md" and (
        b"<|ref|>" in raw[:65536] or b"<|det|>" in raw[:65536]),
     _plain("deepseekocr", "convert_deepseekocr")),
    ("ebcdic", lambda ext, raw: ext == "ebc", _ebcdic),
    ("md", lambda ext, raw: ext == "md",
     _plain("formats", "convert_markdown")),
    ("csv", lambda ext, raw: ext == "csv", _plain("formats", "convert_csv")),
    ("vtt", lambda ext, raw: ext == "vtt", _plain("formats", "convert_vtt")),
    ("epub", lambda ext, raw: ext == "epub",
     _plain("formats", "convert_epub")),
    ("eml", lambda ext, raw: ext == "eml",
     _plain("formats", "convert_email")),
    ("asciidoc", lambda ext, raw: ext in ("adoc", "asciidoc"),
     _plain("formats", "convert_asciidoc")),
    ("docx", lambda ext, raw: ext == "docx",
     _plain("msword", "convert_docx")),
    ("xlsx", lambda ext, raw: ext in ("xlsx", "xlsm"),
     _plain("msexcel", "convert_xlsx")),
    ("xls", lambda ext, raw: ext == "xls", _plain("legacy", "convert_xls")),
    ("doc", lambda ext, raw: ext == "doc" and raw[:4] == _OLE,
     _plain("worddoc", "convert_doc")),
    ("ppt", lambda ext, raw: ext == "ppt" and raw[:4] == _OLE,
     _plain("pptbin", "convert_ppt")),
    ("pptx", lambda ext, raw: ext == "pptx",
     _plain("mspptx", "convert_pptx")),
    ("odf", lambda ext, raw: ext in ("odt", "ods", "odp"),
     _plain("odf", "convert_odf")),
    ("metsgbs", lambda ext, raw: ext in ("gz", "tgz")
     and raw[:2] == b"\x1f\x8b" and _mod.metsgbs.looks_like_metsgbs(raw),
     _plain("metsgbs", "convert_metsgbs")),
    ("xbrl", lambda ext, raw: ext == "xml" and _mod.xbrl.looks_like_xbrl(raw),
     lambda raw, name, tail, bh, side: _mod.xbrl.convert_xbrl(
         raw, taxonomy=side or {}, name=name, filename=tail,
         binary_hash=bh)),
    ("jats", lambda ext, raw: ext in ("nxml", "jats") or (
        ext == "xml" and _mod.jats.looks_like_jats(raw)),
     _plain("jats", "convert_jats")),
    ("uspto", lambda ext, raw: ext in ("xml", "txt")
     and _mod.uspto.looks_like_uspto(raw),
     lambda raw, name, tail, bh, side: _mod.uspto.convert_uspto(
         raw, name=tail, filename=tail, binary_hash=bh)),
    ("boxnote", lambda ext, raw: ext == "boxnote",
     _plain("boxnote", "convert_boxnote")),
    # chandra-ocr-2 / dots.ocr VLM output; their Docs carry no binary_hash
    ("chandra", lambda ext, raw: ext in ("html", "htm")
     and _mod.vlmparsers.sniff_chandra(raw),
     lambda raw, name, tail, bh, side: _mod.vlmparsers.convert_chandra(
         raw, name=name, filename=tail)),
    ("dots", lambda ext, raw: ext == "json"
     and _mod.vlmparsers.sniff_dots(raw),
     lambda raw, name, tail, bh, side: _mod.vlmparsers.convert_dots(
         raw, name=name, filename=tail)),
    ("latex", lambda ext, raw: ext == "tex",
     lambda raw, name, tail, bh, side: _mod.latex.convert_latex(
         raw, name=name, filename=tail, binary_hash=bh, inputs=side)),
    ("html", lambda ext, raw: True,
     lambda raw, name, tail, bh, side: _mod.extractor.HtmlExtractor()
     .convert(raw, name=name, filename=name + ".html", binary_hash=bh)),
)

# Opt-in export columns (Docling OutputFormat doctags / html): name ->
# (module, serializer). They are appended to EXTRACT_SCHEMA in this order.
EXPORTS = {
    "doctags": ("serialize", "to_doctags"),
    "html": ("serialize_html", "to_html"),
}


def _extract_batches(batches: Iterable[pd.DataFrame],
                     sidecars: Optional[dict] = None,
                     exports: Iterable[str] = (),
                     ) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one call per Arrow batch; per-doc error envelope.

    Each row goes to the first ``CONVERTERS`` entry that matches it;
    ``sidecars`` and ``exports`` are described on ``extract_pages``.
    """
    from pyspark import TaskContext

    from .serialize import to_indented_text, to_json, to_markdown

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else -1
    sidecars = sidecars or {}
    exporters = [(n, getattr(getattr(_mod, m), f))
                 for n, (m, f) in EXPORTS.items() if n in exports]
    names = EXTRACT_SCHEMA.names + [n for n, _ in exporters]
    # failure envelope: zero counts, NULL outputs and exports
    failed = dict.fromkeys(names)
    failed.update(status="failure", n_texts=0, n_tables=0, n_pictures=0,
                  n_pages=0, serialize_ms=0.0)

    for pdf in batches:
        rows = []
        for url, html in zip(pdf["url"].values, pdf["html"].values):
            # Coercion stays INSIDE the try: a row with an unexpected type
            # (string html, None url) must become a failure envelope, never
            # a task failure.
            raw = b""
            url = "" if url is None else str(url)
            t0 = time.perf_counter()
            try:
                if html is None:
                    raw = b""
                elif isinstance(html, (bytes, bytearray, memoryview)):
                    raw = bytes(html)
                else:
                    raw = str(html).encode("utf-8")
                tail = url.rsplit("/", 1)[-1].split("#")[0] or "page"
                ext = (tail.rsplit(".", 1)[-1].lower()
                       if "." in tail else "html")
                name = tail.rsplit(".", 1)[0] if "." in tail else tail
                # reference-compatible document hash: sha256(bytes) mod 2^64
                bh = int.from_bytes(
                    hashlib.sha256(raw).digest()[-8:], "big")
                for conv, match, convert in CONVERTERS:
                    if match(ext, raw):
                        break
                side = sidecars.get(conv) or {}
                side = side.get(name) or side.get(tail)
                doc = convert(raw, name, tail, bh, side)
                t1 = time.perf_counter()
                md = to_markdown(doc)
                itxt = to_indented_text(doc)
                doc_json = to_json(doc)
                t2 = time.perf_counter()
                rows.append((
                    url, "success", doc_json, md, itxt, len(doc.texts),
                    len(doc.tables), len(doc.pictures), len(doc.pages),
                    len(raw), (t1 - t0) * 1e3, (t2 - t1) * 1e3, None, pid,
                    *(export(doc) for _, export in exporters)))
            except Exception as exc:  # never fail the task for one doc
                rows.append(tuple({
                    **failed, "url": url, "html_bytes": len(raw),
                    "parse_ms": (time.perf_counter() - t0) * 1e3,
                    "error": f"{type(exc).__name__}: {exc}",
                    "partition_id": pid}.values()))
        yield pd.DataFrame(rows, columns=names)


def load_pages(spark, source: str, fmt: str = "auto") -> DataFrame:
    """Resolve the pages input (north rule: an Iceberg table of
    Common-Crawl-style pages) to a DataFrame.

    - ``fmt="table"`` or a catalog-style identifier (no path separator):
      ``spark.read.table`` - the Iceberg path when the session's catalog
      is configured (iceberg tables are read through their catalog name,
      which also enables snapshot/partition pruning);
    - ``fmt="iceberg"``: ``spark.read.format("iceberg").load`` for
      direct path-based Iceberg access (needs the iceberg-spark runtime
      on the cluster classpath);
    - otherwise: a parquet directory (the sandbox testdata layout).

    Either way the result is lazily scanned - column pruning down to
    (url, html) and filter pushdown happen at the source.
    """
    if fmt == "table" or (fmt == "auto" and "/" not in source
                          and "\\" not in source):
        return spark.read.table(source)
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(source)
    return spark.read.parquet(source)


def write_bucketed(df: DataFrame, table: str, bucket_by: str = "url",
                   num_buckets: int = 64, mode: str = "overwrite",
                   sort: bool = True) -> None:
    """Persist a url-keyed table BUCKETED (and bucket-sorted) on the key.

    The 100-TB payoff: extraction output is written once with
    ``bucketBy(url)``; every later url-keyed join, semi-join dedup, or
    incremental-novelty comparison against another table bucketed the
    same way runs WITHOUT an Exchange on either side (asserted in
    tests/test_plans.py) - the shuffle that would otherwise dominate
    re-processing is paid once at write time. Requires a table catalog
    (``saveAsTable``); Spark's Hive-style bucketing is what Iceberg's
    bucket partition transform replaces in production.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(
        num_buckets, bucket_by)
    if sort:
        w = w.sortBy(bucket_by)
    w.saveAsTable(table)


def partition_pages(
    pages: DataFrame,
    num_partitions: Optional[int] = None,
    skew_threshold: int = 1 << 20,
) -> DataFrame:
    """Explicit skew-split repartition for the extraction map.

    Oversized rows (html longer than ``skew_threshold`` bytes) are split
    from the bulk and distributed at 2x granularity so one multi-MB page
    never skews a task. Output column set is unchanged.
    """
    spark = pages.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Two branches, both round-robin (exact count balance):
    # - normal rows spread over num_partitions tasks;
    # - oversized blobs get 2x granularity so a multi-MB page (the 100-TB
    #   long tail) owns its task slice and never serializes a wave.
    # Round-robin beats salt-hashing here because extraction is
    # row-independent - deterministic url-hash bucketing is only needed on
    # the checkpoint/manifest path, which buckets separately.
    big = pages.where(F.length("html") > skew_threshold)
    normal = pages.where(
        (F.length("html") <= skew_threshold) | F.col("html").isNull())
    normal = normal.repartition(num_partitions)
    big = big.repartition(2 * num_partitions)
    return normal.unionByName(big)


def extract_pages(
    pages: DataFrame,
    num_partitions: Optional[int] = None,
    skew_threshold: int = 1 << 20,
    repartition: bool = True,
    sidecars: Optional[dict] = None,
    exports: Iterable[str] = (),
) -> DataFrame:
    """The main job: pages(url, html, ...) -> extraction results.

    Column pruning: only (url, html) are shipped into the Python workers -
    Catalyst prunes the parquet scan down to those two columns.

    ``sidecars`` maps a ``CONVERTERS`` name to ``{basename: side input}``;
    a row's side input is looked up by its url tail without extension,
    then by the full tail. The dict rides the UDF (small enough to ship
    with each task; the Spark analog of the reference's sidecar files).
    The converters that read one:

    - ``pdf``: the password of an encrypted PDF (default ``""``);
    - ``ebcdic``: the copybook layout JSON; an ``.ebc`` row without one
      fails, since EBCDIC payloads are undecodable without it;
    - ``xbrl``: a ``{path: bytes}`` taxonomy package;
    - ``latex``: ``{filename: bytes}`` for ``\\input``/``\\include``.

    ``exports`` adds opt-in string columns after ``EXTRACT_SCHEMA``, in
    ``EXPORTS`` order: ``doctags`` (serialize.to_doctags) and ``html``
    (serialize_html.to_html, a standalone page). The default schema stays
    ``EXTRACT_SCHEMA``.

    Unknown ``sidecars`` keys or ``exports`` names raise ``ValueError``
    when the plan is built.
    """
    known = [c for c, _, _ in CONVERTERS]
    for label, got, allowed in (("sidecars converter", sidecars or {}, known),
                                ("export", exports, list(EXPORTS))):
        unknown = sorted(set(got) - set(allowed))
        if unknown:
            raise ValueError(f"unknown {label} {unknown}; expected one of "
                             f"{allowed}")
    cols = pages.select("url", "html")
    if repartition:
        cols = partition_pages(cols, num_partitions, skew_threshold)
    schema = StructType(EXTRACT_SCHEMA.fields + [
        StructField(n, StringType(), True) for n in EXPORTS if n in exports])
    fn = functools.partial(_extract_batches, sidecars=sidecars,
                           exports=tuple(exports))
    return cols.mapInPandas(fn, schema=schema)


def partition_metrics(results: DataFrame) -> DataFrame:
    """Per-partition lineage rows (north rule): doc/byte counts + failures."""
    return (
        results.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("html_bytes").alias("byte_count"),
            F.sum(F.when(F.col("status") != "success", 1).otherwise(0))
            .alias("failure_count"),
            F.collect_list(
                F.when(F.col("status") != "success",
                       F.concat_ws(": ", "url", "error"))
            ).alias("failures"),
        )
    )


# ----------------------------------------------------- checkpointed runs

class CheckpointedExtraction:
    """Bucket-wise extraction with a commit manifest enabling resume.

    The input is split into ``num_buckets`` disjoint buckets by
    ``pmod(xxhash64(url), num_buckets)``. Buckets are processed in fixed
    groups; each group writes its results, then its metrics, then one
    manifest file holding one row per bucket (atomic-enough for
    parquet-on-posix; an Iceberg snapshot commit in production). ``run()``
    skips buckets already in the manifest, so a re-run after a crash
    resumes from the last committed group.

    The commit is pipelined: two groups extract and write at once on a
    thread pool, while the calling thread appends their manifest files
    strictly in group order, each after that group's writes have finished.
    The manifest therefore always holds a prefix of the pending groups, a
    failure commits no group after the failing one, and ``processed`` lists
    buckets in group order. Spark jobs started by the pool run in the
    caller's job group. ``out_dir`` may be a plain path or a URI
    (``s3://``, ``file://``); resume reads the manifest through Spark, so
    both forms resume alike.
    """

    MANIFEST_SCHEMA = "bucket int, committed_at double"

    def __init__(self, spark: SparkSession, out_dir: str,
                 num_buckets: int = 16, group_size: int = 4):
        self.spark = spark
        self.out_dir = out_dir.rstrip("/")
        self.num_buckets = num_buckets
        self.group_size = group_size
        self.results_path = f"{self.out_dir}/results"
        self.metrics_path = f"{self.out_dir}/metrics"
        self.manifest_path = f"{self.out_dir}/manifest"

    def committed_buckets(self) -> set[int]:
        try:
            rows = self.spark.read.schema(self.MANIFEST_SCHEMA) \
                .parquet(self.manifest_path).collect()
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return set()
            raise
        return {r["bucket"] for r in rows}

    def _write_group(self, bucketed: DataFrame, gid: int,
                     full_group: list[int], skew_threshold: int) -> None:
        # Re-extract the WHOLE fixed group, not just its pending subset:
        # grp=<gid> is overwritten as a unit, so it must always hold the
        # full group's rows or a torn manifest would silently drop the
        # already-committed buckets' output on resume.
        part = bucketed.where(F.col("bucket").isin(full_group)).drop("bucket")
        results = extract_pages(part, skew_threshold=skew_threshold)
        # Idempotent commit protocol: each group's results land in a
        # key=value subdirectory with overwrite semantics, so a crash
        # between the results write and the manifest write leaves a
        # directory that the resumed run simply overwrites - no
        # duplicate rows, no inflated metrics. (An Iceberg snapshot
        # commit in production.) Readers of results_path see `grp` as
        # a discovered partition column.
        grp_results = f"{self.results_path}/grp={gid}"
        results.write.mode("overwrite").parquet(grp_results)
        # Metrics come from ONE scan of the group's own output - never
        # a re-read of everything committed so far; the known schema
        # spares a schema-inference job.
        metrics = partition_metrics(
            self.spark.read.schema(EXTRACT_SCHEMA).parquet(grp_results))
        metrics.write.mode("overwrite").parquet(
            f"{self.metrics_path}/grp={gid}")

    def run(self, pages: DataFrame, skew_threshold: int = 1 << 20) -> dict:
        done = self.committed_buckets()
        bucketed = pages.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(self.num_buckets)))
        # Groups are a FIXED partition of range(num_buckets) — never derived
        # from the order-dependent pending list — so a retried group always
        # lands on the same grp=<gid> directory even after a partial commit
        # (a torn manifest write must not shift group boundaries).
        todo = []
        for gid in range(0, self.num_buckets, self.group_size):
            full_group = list(range(gid, min(gid + self.group_size,
                                             self.num_buckets)))
            group = [b for b in full_group if b not in done]
            if group:
                todo.append((gid, full_group, group))
        processed = []
        # Two groups in flight hide one group's straggler task and commit
        # tail; more would widen what a crash must redo. A group is
        # submitted only after the group two before it committed, so on an
        # error nothing waits unstarted: the pool's exit waits for the
        # other group in flight, then the error propagates.
        in_flight = 2
        with ThreadPoolExecutor(in_flight) as pool:
            def submit(gid, full_group, _group):
                # wrapped per group: each thread gets its own copy of the
                # caller's local properties (job group, SQL execution id)
                write = inheritable_thread_target(self.spark)(self._write_group)
                return pool.submit(write, bucketed, gid, full_group,
                                   skew_threshold)
            futures = [submit(*g) for g in todo[:in_flight]]
            for i, (_, _, group) in enumerate(todo):
                futures[i].result()
                # Manifest appends stay on this thread, in group order, so
                # they never share manifest/_temporary and the manifest
                # stays a prefix. Rows are built in the JVM: a Python list
                # would cost a Python-worker task. coalesce(1): the group
                # commit is ONE parquet file, so it is atomic-enough on
                # posix rename semantics — a crash can lose the whole
                # group's manifest row-set but never half of it. inline_outer
                # keeps both columns nullable, as MANIFEST_SCHEMA has them.
                now = time.time()
                self.spark.range(1).select(F.inline_outer(F.array(*[
                    F.struct(F.lit(b).cast("int").alias("bucket"),
                             F.lit(now).alias("committed_at"))
                    for b in group]))
                ).coalesce(1).write.mode("append").parquet(self.manifest_path)
                processed.extend(group)
                if i + in_flight < len(todo):
                    futures.append(submit(*todo[i + in_flight]))
        return {
            "resumed_from": sorted(done),
            "processed": processed,
            "total_buckets": self.num_buckets,
        }


# ------------------------------------------------------------- utilities

def extraction_summary(results: DataFrame) -> dict:
    row = results.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("html_bytes").alias("bytes"),
        F.sum(F.when(F.col("status") == "success", 1).otherwise(0)).alias("ok"),
        F.avg("parse_ms").alias("avg_parse_ms"),
        F.avg("serialize_ms").alias("avg_serialize_ms"),
    ).collect()[0]
    return {k: row[k] for k in
            ("docs", "bytes", "ok", "avg_parse_ms", "avg_serialize_ms")}


def spans_view(results: DataFrame) -> DataFrame:
    """Queryable side-view: explode the doc's text items out of doc_json.

    Uses from_json on the flat texts array - ad-hoc queries over spans
    without re-walking HTML (SURVEY.md §1.3 'exploded side-columns').
    """
    span_schema = ("array<struct<self_ref:string,label:string,text:string,"
                   "content_layer:string>>")
    return (
        results
        .where(F.col("status") == "success")
        .withColumn(
            "span",
            F.explode(F.from_json(
                F.get_json_object("doc_json", "$.texts"), span_schema)))
        .select(
            "url",
            F.col("span.self_ref").alias("self_ref"),
            F.col("span.label").alias("label"),
            F.col("span.text").alias("text"),
            F.col("span.content_layer").alias("content_layer"),
        )
    )


def items_view(results: DataFrame) -> DataFrame:
    """Queryable side-view over ALL item kinds (texts, tables, pictures,
    groups) exploded from doc_json - one unified schema so span queries
    don't re-walk HTML for non-text items either.

    Columns: (url, kind, self_ref, label, content_layer, text, name,
    num_rows, num_cols, n_captions). JVM-side from_json only, no Python.
    """
    ok = results.where(F.col("status") == "success")
    nil = F.lit(None)

    def kind_view(json_path, schema, kind, text, name, num_rows, num_cols,
                  n_captions):
        return (ok.withColumn(
            "it", F.explode(F.from_json(
                F.get_json_object("doc_json", json_path), schema)))
            .select(
                "url", F.lit(kind).alias("kind"),
                F.col("it.self_ref").alias("self_ref"),
                F.col("it.label").alias("label"),
                F.col("it.content_layer").alias("content_layer"),
                text.alias("text"), name.alias("name"),
                num_rows.cast("int").alias("num_rows"),
                num_cols.cast("int").alias("num_cols"),
                n_captions.cast("int").alias("n_captions")))

    texts = kind_view(
        "$.texts",
        "array<struct<self_ref:string,label:string,text:string,"
        "content_layer:string>>",
        "text", F.col("it.text"), nil, nil, nil, nil)
    tables = kind_view(
        "$.tables",
        "array<struct<self_ref:string,label:string,content_layer:string,"
        "captions:array<struct<`$ref`:string>>,"
        "data:struct<num_rows:int,num_cols:int>>>",
        "table", nil, nil, F.col("it.data.num_rows"),
        F.col("it.data.num_cols"), F.size("it.captions"))
    pictures = kind_view(
        "$.pictures",
        "array<struct<self_ref:string,label:string,content_layer:string,"
        "captions:array<struct<`$ref`:string>>>>",
        "picture", nil, nil, nil, nil, F.size("it.captions"))
    groups = kind_view(
        "$.groups",
        "array<struct<self_ref:string,label:string,name:string,"
        "content_layer:string>>",
        "group", nil, F.col("it.name"), nil, nil, nil)
    return texts.unionByName(tables).unionByName(pictures).unionByName(groups)
