#!/usr/bin/env python3
"""Benchmark for docling_spark: two seeded workloads, one command.

Run from the repository root:

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 20 --trace 0

Workloads (names, units, rationale and bounds are in BENCHMARK.json):

- ``web_pages``: ``job.py``'s production path. ``engine.load_pages`` over
  a seeded Common-Crawl-style pages table (HTML, markdown, CSV,
  born-digital PDFs, one oversized and some malformed rows; see
  ``inputs.py``), then ``engine.CheckpointedExtraction.run`` into a
  fresh output directory (8 buckets, groups of 4).
- ``corpus_ops``: seven corpus operators of the ``__spark_entry__`` query
  registry over seeded ``documents``/``embeddings`` tables, each built
  and then written to a noop sink.

All load comes from this one driver process on ``local[nproc]``. A run is
``N_SETUPS`` rounds; each round sets up a fresh JVM, the session and the
workload's warm-up job (web_pages: one extraction task per core, which
starts the Python workers; corpus_ops runs no Python), then makes one
timed pass while the passes so far add up to less than
``--seconds``. Every timed pass is therefore the first work of a fresh
JVM, as in a ``job.py`` run. ``setup_s`` and ``wall_s`` are medians over
the rounds; ``docs_per_s`` and ``input_mb_per_s`` divide the rows and
bytes a pass reads (for corpus_ops: summed over the tables each query
reads) by ``wall_s``; ``peak_rss_mb`` is the largest VmHWM among the
JVM and its Python workers.

Checks, all outside the timed region: every input url exactly once in
the output, only the generated malformed rows failed, every bucket
processed (none resumed), PDF page counts; once per run a seeded sample
is compared byte for byte with single-process calls
(``layers.convert_row``), and the corpus queries' rows with their DuckDB
twins from ``oracle_sql()`` (``tools/oracle_check``'s comparison).

``--trace 1`` prints the per-layer metrics instead: one untraced round,
then a fresh JVM with the Spark event log on that repeats the pass and
times one call into each layer's public functions, then a
single-process replay of every row. Spans go to
``perfbench/.work/trace/<run>/spans.json``. Layers a workload does not
run read 0. Everything the benchmark writes stays under
``perfbench/.work``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parents[1]
WORK = ROOT / "perfbench" / ".work"

N_SETUPS = 2          # each set-up is a fresh JVM, about 11 s on 4 CPUs
WEB_ROWS = 2048
# The queries' cost is mostly fixed (driver-side build, 6-50 jobs each);
# 500 vectors keep the O(n^2) DuckDB semantic_dedup twin near 2 s.
CORPUS_DOCS, CORPUS_VECS = 2000, 500
BUCKETS, GROUP_SIZE = 8, 4                 # two commit groups per pass
SAMPLE = 12                                # byte-compared rows per run
CORPUS_QUERIES = ("minhash_near_dups", "simhash_near_dups", "semantic_dedup",
                  "kmeans_clusters", "near_dup_groups", "tfidf_keywords",
                  "bigram_surprisal")

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
             "input_mb_per_s": "MB/s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "failed_frac": "ratio", "pdf_pages_per_s": "pages/s",
    "trace.overhead_s": "s",
    "engine.scan_s": "s", "engine.partition_s": "s",
    "engine.partition_filescans": "count", "engine.skew_rows": "count",
    "engine.extract_s": "s", "engine.commit_s": "s",
    "engine.commit_jobs": "count", "engine.out_bytes_per_doc": "B/doc",
    "spark.shuffle_mb": "MB", "spark.task_busy_s": "s",
    "spark.task_skew": "ratio", "worker.boundary_s": "s",
    **{f"{layer}_{stat}": "ms"
       for layer in ("dom.parse_ms", "extractor.walk_ms",
                     "formats.convert_ms", "serialize.md_ms",
                     "serialize.itxt_ms", "serialize.json_ms")
       for stat in ("sum", "p50", "p99")},
    **{f"{layer}_{stat}": "ms"
       for layer in ("pdfio.open_ms", "pdftext.cells_ms", "pdfdoc.layout_ms")
       for stat in ("sum", "p95")},
    **{f"ops.{q}.{m}": u for q in CORPUS_QUERIES
       for m, u in (("eager_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
}


class CheckFailed(Exception):
    """The program's output or the generated input is not as expected."""


# ------------------------------------------------------------ session

def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """A sixteenth of MemTotal, between 1 and 8 GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh
                  if ln.startswith("MemTotal:"))
    return f"{max(1, min(8, kb // (16 << 20)))}g"


def _prepare_env() -> None:
    """Workers import docling_spark from the repository, and every
    temporary file (py4j handshake, JVM tmpdir, zips) lands in WORK."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher's too: temp files under WORK,
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "tools"))


def start_spark(event_dir: pathlib.Path | None = None):
    from pyspark.sql import SparkSession
    cpus = _cpus()
    heap = _driver_memory()
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "docling_spark_perfbench",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.driver.memory": heap,
        # a fixed-size heap: G1 resizing it with GC timing made the
        # JVM's peak RSS swing by a sixth between identical runs
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": str(event_dir),
                     "spark.eventLog.compress": "false"})
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited,
    so the next set-up starts from nothing."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()    # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed_setup(wl, event_dir: pathlib.Path | None = None):
    """Start a JVM and session, then run the workload's warm-up job."""
    t0 = time.perf_counter()
    spark = start_spark(event_dir)
    wl.warm(spark)
    return spark, time.perf_counter() - t0


def _descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for p in pathlib.Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Largest peak resident set (VmHWM) among this process's children:
    the JVM and the Python workers it forked."""
    peak = 0
    for pid in _descendants():
        try:
            for ln in pathlib.Path(f"/proc/{pid}/status").read_text() \
                    .splitlines():
                if ln.startswith("VmHWM:"):
                    peak = max(peak, int(ln.split()[1]))
        except OSError:
            continue
    return peak / 1024


def _reap_children() -> None:
    """Last resort at exit: no process this run started may outlive it."""
    import signal
    deadline = time.time() + 30
    while _descendants() and time.time() < deadline:
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
    for pid in _descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _dir_bytes(path: pathlib.Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _fresh(path: pathlib.Path) -> pathlib.Path:
    if path.exists():
        shutil.rmtree(path)
    return path


# --------------------------------------------------------- workloads

class Outcome:
    """What one run measured and checked."""

    def __init__(self):
        self.walls: list[float] = []
        self.attempted = 0
        self.failed = 0           # unexpected outcomes (wrong output)
        self.docs_attempted = 0   # documents (corpus_ops: queries) run
        self.docs_failed = 0      # of those: status='failure' or missing
        self.problems: list[str] = []

    def bad(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(f"{n} {what}")


def _check_statuses(out: Outcome, expected: set[str], must_fail: set[str],
                    got: list[tuple[str, str]]) -> None:
    counts = Counter(url for url, _ in got)
    failed = {url for url, status in got if status != "success"}
    missing = expected - counts.keys()
    out.attempted += len(expected)
    out.docs_attempted += len(expected)
    out.docs_failed += len(failed | missing)
    out.bad(len(missing), "input urls missing from the output")
    out.bad(sum(1 for u, c in counts.items() if c > 1), "urls repeated")
    out.bad(len(counts.keys() - expected), "urls not in the input")
    out.bad(len(failed - must_fail), "rows failed unexpectedly")
    out.bad(len(must_fail - failed - missing), "malformed rows succeeded")


def _check_sample(out: Outcome, spark, results_path: str,
                  rows: dict[str, bytes], urls: list[str]) -> None:
    """md, itxt and doc_json of the sample equal single-process calls."""
    from pyspark.sql import functions as F

    from layers import Tracer, convert_row
    got = {r["url"]: (r["md"], r["itxt"], r["doc_json"]) for r in
           spark.read.parquet(results_path)
           .where(F.col("url").isin(urls))
           .select("url", "md", "itxt", "doc_json").collect()}
    tracer = Tracer("sample")
    out.attempted += len(urls)
    out.bad(sum(1 for u in urls if got.get(u) != convert_row(
        u, rows[u], tracer)), "sampled rows differ from single-process "
            "extraction")


class WebPages:
    name = "web_pages"

    def __init__(self, seed: int):
        import inputs

        def build(d):
            rows, expected = inputs.web_pages_rows(seed, WEB_ROWS)
            inputs.write_pages(d, rows, n_files=8)
            return {"expected": expected, "urls": [r["url"] for r in rows],
                    "bytes": sum(len(r["html"]) for r in rows)}

        self.dir, meta = inputs.cached(WORK, self.name, seed, (WEB_ROWS,),
                                       build)
        expected = meta["expected"]
        self.urls = set(meta["urls"])
        self.oversized = expected["oversized"]
        self.malformed = set(expected["malformed"])
        self.pdf_pages = expected["pdf_pages"]
        self.input_bytes = meta["bytes"]
        print(f"generated {len(self.urls)} rows: {len(self.oversized)} over "
              f"{inputs.SKEW_THRESHOLD} bytes, {len(self.malformed)} "
              f"malformed, {len(self.pdf_pages)} PDFs of "
              f"{sum(self.pdf_pages.values())} pages", flush=True)
        if not (self.oversized and self.malformed and self.pdf_pages) \
                or len(self.urls) != WEB_ROWS:
            raise CheckFailed("web_pages generator lost its oversized, "
                              "malformed or PDF rows")
        rng = random.Random(seed)
        normal = sorted(self.urls - self.malformed - set(self.oversized)
                        - set(self.pdf_pages))
        self.sample = (rng.sample(normal, SAMPLE) + self.oversized[:1]
                       + rng.sample(sorted(self.pdf_pages), 2))
        self.docs = len(self.urls)

    @staticmethod
    def warm(spark) -> None:
        """One tiny extraction task per core: starts and imports the
        Python workers, as every real run must before its first batch."""
        from docling_spark import engine
        cpus = _cpus()
        df = spark.range(0, cpus, 1, cpus).selectExpr(
            "concat('https://warm.test/', id) url",
            "cast('<p>warm</p>' as binary) html")
        engine.extract_pages(df, repartition=False) \
            .write.format("noop").mode("overwrite").save()

    def rows(self, urls=None) -> dict[str, bytes]:
        import pyarrow.parquet as pq
        t = pq.read_table(self.dir, columns=["url", "html"]).to_pylist()
        return {r["url"]: r["html"] for r in t
                if urls is None or r["url"] in urls}

    def run_pass(self, spark, out: Outcome, dest: pathlib.Path,
                 first: bool) -> float:
        from docling_spark import engine
        from inputs import SKEW_THRESHOLD
        pages = engine.load_pages(spark, str(self.dir))
        t0 = time.perf_counter()
        ck = engine.CheckpointedExtraction(
            spark, str(dest), num_buckets=BUCKETS, group_size=GROUP_SIZE)
        stats = ck.run(pages, skew_threshold=SKEW_THRESHOLD)
        wall = time.perf_counter() - t0
        out.bad(len(stats["resumed_from"]), "buckets resumed, not run")
        out.bad(BUCKETS - len(set(stats["processed"])),
                "buckets not processed")
        got = spark.read.parquet(ck.results_path) \
            .select("url", "status", "n_pages").collect()
        _check_statuses(out, self.urls, self.malformed,
                        [(r["url"], r["status"]) for r in got])
        out.bad(sum(1 for r in got if r["url"] in self.pdf_pages
                    and r["n_pages"] != self.pdf_pages[r["url"]]),
                "PDFs with the wrong page count")
        if first:
            _check_sample(out, spark, ck.results_path,
                          self.rows(set(self.sample)), self.sample)
        return wall


class CorpusOps:
    name = "corpus_ops"

    def __init__(self, seed: int):
        import inputs
        import pyarrow.parquet as pq

        def build(d):
            for name, table in inputs.corpus_tables(
                    seed, CORPUS_DOCS, CORPUS_VECS).items():
                pq.write_table(table, d / f"{name}.parquet")
            return {}

        self.dir, _ = inputs.cached(WORK, self.name, seed,
                                    (CORPUS_DOCS, CORPUS_VECS), build)
        self.tables = {t: pq.read_metadata(self.dir / f"{t}.parquet")
                       for t in ("documents", "embeddings")}
        # rows and bytes the seven queries read: two read embeddings,
        # five read documents
        per_query = {q: "embeddings" if q in ("semantic_dedup",
                                              "kmeans_clusters")
                     else "documents" for q in CORPUS_QUERIES}
        self.docs = sum(self.tables[t].num_rows for t in per_query.values())
        self.input_bytes = sum((self.dir / f"{t}.parquet").stat().st_size
                               for t in per_query.values())
        self.pdf_pages: dict[str, int] = {}

    @staticmethod
    def warm(spark) -> None:
        """The JVM's first job, one task per core. These queries run no
        Python UDF, so no Python worker is started."""
        spark.range(0, _cpus(), 1, _cpus()) \
            .write.format("noop").mode("overwrite").save()

    def run_pass(self, spark, out: Outcome, dest: pathlib.Path,
                 first: bool, layer: dict | None = None) -> float:
        import __spark_entry__ as entry
        qs = entry.queries()
        sc = spark.sparkContext
        wall = 0.0
        frames = {}
        for q in CORPUS_QUERIES:
            group = f"{dest.name}-{q}"
            sc.setJobGroup(group, q)
            out.attempted += 1
            out.docs_attempted += 1
            try:
                t0 = time.perf_counter()
                df = qs[q](spark, str(self.dir))
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as exc:  # a failing query is counted, not fatal
                out.bad(1, f"{q} raised {type(exc).__name__}: {exc}")
                out.docs_failed += 1
                continue
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            wall += t2 - t0
            frames[q] = df
            if layer is not None:
                layer[f"ops.{q}.eager_s"] = t1 - t0
                layer[f"ops.{q}.exec_s"] = t2 - t1
                layer[f"ops.{q}.jobs"] = len(
                    sc.statusTracker().getJobIdsForGroup(group))
        if first:
            self.check_oracles(out, frames)
        return wall

    def check_oracles(self, out: Outcome, frames: dict) -> None:
        """Rows of each query equal its DuckDB twin (tools/oracle_check's
        comparison), outside the timed region."""
        import duckdb
        import oracle_check

        import __spark_entry__ as entry
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.dir / (t + '.parquet')}')")
            for q, df in frames.items():
                out.attempted += 1
                scols, srows = oracle_check.pandas_rows(df.toPandas())
                ocols, orows = oracle_check.pandas_rows(
                    con.execute(oracles[q]).fetchdf())
                if oracle_check.frame_repr(scols, srows) != \
                        oracle_check.frame_repr(ocols, orows):
                    out.bad(1, f"{q} rows differ from its DuckDB twin")
                    out.docs_failed += 1
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (WebPages, CorpusOps)}


# -------------------------------------------------------- measuring

def timed_pass(wl, spark, run_id: str, out: Outcome) -> float:
    """One checked pass into a fresh output directory; returns its wall."""
    dest = _fresh(WORK / "out" / f"{run_id}-{len(out.walls)}")
    try:
        wall = wl.run_pass(spark, out, dest, first=not out.walls)
    finally:
        shutil.rmtree(dest, ignore_errors=True)
    out.walls.append(wall)
    return wall


def end_to_end(wl, seconds: float, run_id: str) -> tuple[Outcome, dict]:
    """``N_SETUPS`` rounds of a fresh JVM set-up, each followed by one
    timed pass while the passes so far add up to less than ``seconds``.
    Every timed pass is thus the first work of a fresh JVM, as in a
    ``job.py`` run, and wall_s is the median over them."""
    out = Outcome()
    setups, rss = [], 0.0
    for _ in range(N_SETUPS):
        spark, dt = timed_setup(wl)
        setups.append(dt)
        try:
            if sum(out.walls) < seconds or not out.walls:
                timed_pass(wl, spark, run_id, out)
                rss = max(rss, peak_rss_mb())
        finally:
            stop_spark(spark)
    wall = statistics.median(out.walls)
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "docs_per_s": wl.docs / wall,
        "input_mb_per_s": wl.input_bytes / 1e6 / wall,
        "peak_rss_mb": rss,
    }
    return out, metrics


def traced(wl, run_id: str) -> tuple[Outcome, dict]:
    """Per-layer run: one untraced round (set-up and timed pass), then a
    fresh JVM with the event log on that repeats the pass first, then
    times one call per layer; then a single-process replay of the rows."""
    from layers import Tracer, convert_row, event_log_stats, replay_layers
    out = Outcome()
    spark, _ = timed_setup(wl)
    try:
        untraced_wall = timed_pass(wl, spark, run_id, out)
    finally:
        stop_spark(spark)

    tracer = Tracer(run_id)
    event_dir = _fresh(WORK / "trace" / run_id / "events")
    layer = {k: 0.0 for k in LAYER_UNITS}
    spark, _ = timed_setup(wl, event_dir)
    try:
        with tracer.span("run"):
            traced_wall, groups = _trace_spark(wl, spark, tracer, run_id,
                                               out, layer)
    finally:
        stop_spark(spark)
    layer.update(event_log_stats(event_dir, groups))
    if not isinstance(wl, CorpusOps):
        with tracer.span("replay"):
            for url, raw in wl.rows().items():
                try:
                    convert_row(url, raw, tracer)
                except Exception:  # malformed rows fail here as in Spark
                    pass
        replay = replay_layers(tracer.spans)
        layer.update({k: v for k, v in replay.items() if k in layer})
        layer["worker.boundary_s"] = \
            layer["spark.task_busy_s"] - replay["replay_s"]
    layer["trace.overhead_s"] = traced_wall - untraced_wall
    layer["failed_frac"] = out.docs_failed / out.docs_attempted
    layer["pdf_pages_per_s"] = sum(wl.pdf_pages.values()) / untraced_wall
    tracer.dump(WORK / "trace" / run_id / "spans.json")
    print(f"spans: {WORK / 'trace' / run_id / 'spans.json'}", flush=True)
    return out, layer


def _trace_spark(wl, spark, tracer, run_id: str, out: Outcome,
                 layer: dict) -> tuple[float, set[str]]:
    """Traced Spark-side measurements into ``layer``. Returns the wall of
    the traced pass, which runs first so that it compares with the
    untraced round's pass, and the job groups the event-log metrics
    cover."""
    sc = spark.sparkContext

    def timed(name: str, fn):
        sc.setJobGroup(name, name)
        try:
            with tracer.span(name) as s:
                fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return s["end"] - s["start"], len(
            sc.statusTracker().getJobIdsForGroup(name))

    def run_pass(tag: str, **kw) -> pathlib.Path:
        dest = _fresh(WORK / "out" / f"{run_id}-{tag}")
        wl.run_pass(spark, out, dest, first=False, **kw)
        return dest

    if isinstance(wl, CorpusOps):
        with tracer.span("workload.pass") as s:
            run_pass("traced", layer=layer)
        return (s["end"] - s["start"],
                {f"{run_id}-traced-{q}" for q in CORPUS_QUERIES})

    from pyspark.sql import functions as F

    from docling_spark import engine
    from inputs import SKEW_THRESHOLD

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    traced_wall, _ = timed("workload.first", lambda: run_pass("first"))
    pages = engine.load_pages(spark, str(wl.dir))
    cols = pages.select("url", "html")
    layer["engine.scan_s"], _ = timed("engine.scan", lambda: noop(cols))
    part = engine.partition_pages(cols, skew_threshold=SKEW_THRESHOLD)
    layer["engine.partition_s"], _ = timed("engine.partition",
                                           lambda: noop(part))
    plan = part._jdf.queryExecution().executedPlan().toString()
    layer["engine.partition_filescans"] = plan.count("FileScan")
    # partition_pages unions the bulk (first nproc partitions) with the
    # oversized rows' own partitions, so rows past them are skew rows
    layer["engine.skew_rows"] = part.where(
        F.spark_partition_id() >= _cpus()).count()
    extract_s, extract_jobs = timed(
        "engine.extract", lambda: noop(engine.extract_pages(
            pages, skew_threshold=SKEW_THRESHOLD)))
    layer["engine.extract_s"] = extract_s
    # a second pass, warm like the extract job it is compared with
    dest: list[pathlib.Path] = []
    wall, jobs = timed("workload.pass",
                       lambda: dest.append(run_pass("warm")))
    layer["engine.commit_s"] = wall - extract_s
    layer["engine.commit_jobs"] = jobs - extract_jobs
    layer["engine.out_bytes_per_doc"] = _dir_bytes(dest[0]) / wl.docs
    if layer["engine.skew_rows"] != len(wl.oversized):
        out.bad(1, f"skew split routed {layer['engine.skew_rows']} rows, "
                   f"{len(wl.oversized)} generated over the threshold")
    return traced_wall, {"engine.extract"}


# ------------------------------------------------------------- main

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("docling_spark/engine.py", "__spark_entry__.py",
                           "tools/oracle_check.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a docling_spark checkout (missing "
              f"{', '.join(missing)})", file=sys.stderr)
        return 2

    _prepare_env()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    try:
        wl = WORKLOADS[args.workload](args.seed)
        if args.trace:
            out, metrics = traced(wl, run_id)
            units = LAYER_UNITS
        else:
            out, metrics = end_to_end(wl, args.seconds, run_id)
            units = E2E_UNITS
            # also printed, not bounded: 0 on some workload by design
            print(f"failed_frac = "
                  f"{out.docs_failed / out.docs_attempted:.6g} ratio")
            if wl.pdf_pages:
                print(f"pdf_pages_per_s = "
                      f"{sum(wl.pdf_pages.values()) / metrics['wall_s']:.6g}"
                      " pages/s")
    except CheckFailed as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        _reap_children()
        shutil.rmtree(WORK / "out", ignore_errors=True)
    for k in units:
        print(f"{k} = {metrics[k]:.6g} {units[k]}", flush=True)
    print(f"passes = {len(out.walls)}; walls = "
          + ", ".join(f"{w:.3f}" for w in out.walls), flush=True)
    for p in out.problems:
        print(f"CHECK FAILED: {p}", flush=True)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
