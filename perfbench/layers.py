"""Outside-in layer measurement for the benchmark's traced run.

Nothing here reaches into the engine: each layer number comes from
timing a call into that layer's public function (single-process replay
of the generated rows), from the Spark event log, or from the plan text.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them as JSON when the run ends.
- ``convert_row`` is the single-process twin of one extraction row. It
  is also the byte-equality reference for the per-run correctness check.
- ``replay_layers`` turns the replay spans into per-layer sums and
  percentiles.
- ``event_log_stats`` reads task run time, shuffle bytes and task skew
  per job group from a Spark event log directory.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import pathlib
import statistics
import time
from collections import defaultdict


class Tracer:
    """In-memory spans; ``dump`` writes them once at the end of a run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: pathlib.Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def _dur_ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1e3


def convert_row(url: str, raw: bytes, tracer: Tracer) -> tuple:
    """Extract one row in this process through the public converters, the
    way the engine's worker dispatches the row kinds the benchmark
    generates (html, md, csv, pdf). Returns (md, itxt, doc_json); raises
    where the engine would record status='failure'. Every layer call is
    a span under one ``replay.doc`` span."""
    from docling_spark.dom import parse_html
    from docling_spark.extractor import HtmlExtractor
    from docling_spark.formats import convert_csv, convert_markdown
    from docling_spark.pdfdoc import convert_pdf
    from docling_spark.pdfio import PdfDocument
    from docling_spark.pdftext import extract_page_cells
    from docling_spark.serialize import to_indented_text, to_json, to_markdown

    tail = url.rsplit("/", 1)[-1].split("#")[0] or "page"
    ext = tail.rsplit(".", 1)[-1].lower() if "." in tail else "html"
    name = tail.rsplit(".", 1)[0] if "." in tail else tail
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    span = tracer.span
    with span("replay.doc"):
        if ext == "pdf" or raw[:5] == b"%PDF-":
            # open < cells < convert: each call repeats the one before it
            with contextlib.suppress(Exception), span("pdfio.open"):
                PdfDocument(raw)
            with contextlib.suppress(Exception), span("pdftext.cells"):
                extract_page_cells(raw, with_images=True, with_paths=True)
            with span("pdfdoc.convert"):
                doc = convert_pdf(raw, name=name, filename=tail,
                                  binary_hash=bh, password="")
        elif ext in ("md", "csv"):
            fn = convert_markdown if ext == "md" else convert_csv
            with span("formats.convert"):
                doc = fn(raw, name=name, filename=tail, binary_hash=bh)
        else:
            with span("dom.parse"):
                parse_html(raw)
            with span("extractor.convert"):
                doc = HtmlExtractor().convert(raw, name=name,
                                              filename=name + ".html",
                                              binary_hash=bh)
        with span("serialize.md"):
            md = to_markdown(doc)
        with span("serialize.itxt"):
            itxt = to_indented_text(doc)
        with span("serialize.json"):
            doc_json = to_json(doc)
    return md, itxt, doc_json


def _pct(xs: list[float], q: int) -> float:
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def replay_layers(spans: list[dict]) -> dict[str, float]:
    """Per-layer sums and percentiles (ms) from ``convert_row`` spans, plus
    ``replay_s``: the time the worker's own calls take (the PDF open and
    cells calls repeat work inside convert and are not counted)."""
    by_doc: dict[int, dict[str, float]] = defaultdict(dict)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            by_doc[s["parent"]][s["name"]] = _dur_ms(s)
    layers: dict[str, list[float]] = defaultdict(list)
    worker_ms = 0.0
    for d in by_doc.values():
        if "dom.parse" in d:
            layers["dom.parse_ms"].append(d["dom.parse"])
            layers["extractor.walk_ms"].append(
                d["extractor.convert"] - d["dom.parse"])
            worker_ms += d["extractor.convert"]
        if "formats.convert" in d:
            layers["formats.convert_ms"].append(d["formats.convert"])
            worker_ms += d["formats.convert"]
        if "pdfdoc.convert" in d:
            open_ms = d.get("pdfio.open", 0.0)
            cells_ms = d.get("pdftext.cells", 0.0)
            layers["pdfio.open_ms"].append(open_ms)
            layers["pdftext.cells_ms"].append(max(0.0, cells_ms - open_ms))
            layers["pdfdoc.layout_ms"].append(
                max(0.0, d["pdfdoc.convert"] - cells_ms))
            worker_ms += d["pdfdoc.convert"]
        for k in ("md", "itxt", "json"):
            if f"serialize.{k}" in d:
                layers[f"serialize.{k}_ms"].append(d[f"serialize.{k}"])
                worker_ms += d[f"serialize.{k}"]
    out = {"replay_s": worker_ms / 1e3}
    for name in ("dom.parse_ms", "extractor.walk_ms", "formats.convert_ms",
                 "serialize.md_ms", "serialize.itxt_ms", "serialize.json_ms"):
        xs = layers[name]
        out[f"{name}_sum"] = sum(xs)
        out[f"{name}_p50"] = _pct(xs, 50)
        out[f"{name}_p99"] = _pct(xs, 99)
    for name in ("pdfio.open_ms", "pdftext.cells_ms", "pdfdoc.layout_ms"):
        xs = layers[name]
        out[f"{name}_sum"] = sum(xs)
        out[f"{name}_p95"] = _pct(xs, 95)
    return out


def event_log_stats(event_dir: pathlib.Path, groups: set[str]) -> dict:
    """Task totals over the jobs of ``groups`` in the event log under
    ``event_dir``: summed executor run time (s), shuffle bytes written
    (MB), and the skew of the busiest stage (max over median run time of
    its tasks that read at least one record)."""
    # Spark 4 rolls the log into eventlog_v2_*/events_<n>_* files
    events = [json.loads(line) for f in event_dir.rglob("events_*")
              for line in f.read_text().splitlines() if line]
    stage_group: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
    tasks: dict[int, list[tuple[float, int]]] = defaultdict(list)
    shuffle_bytes = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" \
                or stage_group.get(ev["Stage ID"]) not in groups:
            continue
        m = ev.get("Task Metrics") or {}
        records = (m.get("Input Metrics", {}).get("Records Read", 0)
                   + m.get("Shuffle Read Metrics", {}).get(
                       "Total Records Read", 0))
        tasks[ev["Stage ID"]].append(
            (m.get("Executor Run Time", 0) / 1e3, records))
        shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
    busy = sum(t for ts in tasks.values() for t, _ in ts)
    skew = 0.0
    if tasks:
        top = max(tasks.values(), key=lambda ts: sum(t for t, _ in ts))
        live = [t for t, r in top if r > 0] or [t for t, _ in top]
        med = statistics.median(live)
        skew = max(live) / med if med > 0 else 0.0
    return {"spark.task_busy_s": busy, "spark.task_skew": skew,
            "spark.shuffle_mb": shuffle_bytes / 1e6}
