"""Seeded inputs for the benchmark workloads.

Everything here is pure Python + pyarrow (no JVM), deterministic in the
seed, and cached under the benchmark's work directory:

- ``web_pages``: a Common-Crawl-style pages table. About 7/8 HTML soup,
  1/16 markdown, 1/16 CSV, 1/64 born-digital PDFs, ``N_OVERSIZED``
  2 MiB HTML rows over the engine's 1 MiB skew threshold, and 1/64
  PDFs that lost their head (the ``%PDF-`` header), under ``.pdf`` urls:
  the only rows expected to fail. A PDF truncated at the tail still
  converts, because the reader recovers objects without an xref table.
  ``docling_spark.pages.generate_pages`` puts its oversized rows at
  ``i % 1000 == 999``, which is always a markdown/CSV slot
  (``i % 16 in {7, 15}``), so its tables never hold a row over the
  threshold; this generator picks oversized rows among HTML slots only.
  The PDFs have 2-5 pages, a classic xref table and standard-14 fonts
  only (Helvetica, Helvetica-Bold, Times-Roman): headings in a larger
  bold font, body paragraphs, two-column pages and rule-drawn tables.
- ``corpus_ops``: ``documents`` and ``embeddings`` tables with the schema
  of the sf-scale testdata the query registry reads (30-word vocabulary,
  10-100 words per document, 5 % planted near-duplicates; unit-norm
  64-d float32 vectors with labels 0-9).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import pathlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the bytes a seed produces change; part of every cache key.
GEN_VERSION = 1

SKEW_THRESHOLD = 1 << 20      # engine default, also job.py's default
# One 2 MiB HTML row per table: with two, whether they shared a commit
# group depended on the seed, and so did wall_s.
N_OVERSIZED = 1
PDF_EVERY = 64                # per 64 rows: one PDF, one malformed PDF
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("lang", pa.string()),
])

_WORDS = ("data spark arrow parquet shuffle executor cluster page html "
          "table heading list item caption figure anchor span title "
          "paragraph section footer body text document extract layout "
          "reading order column merge window filter").split()
_LANGS = ["en", "de", "fr", "es", "it", "nl", "pt", "sv"]


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


# ------------------------------------------------------------ web_pages

def _html_section(rng: random.Random, idx: int, s: int) -> str:
    parts = [f"<h2>Section {s} {rng.choice(_WORDS)}</h2>"]
    for _ in range(rng.randint(1, 4)):
        text = _words(rng, 10, 45)
        deco = rng.random()
        if deco < 0.2:
            text = f"start <b>{text}</b> finish"
        elif deco < 0.3:
            text = f'see <a href="/page/{rng.randint(0, 999)}">{text}</a>'
        parts.append(f"<p>{text}</p>")
    if rng.random() < 0.4:
        parts.append("<ul>" + "".join(
            f"<li>item {i} {rng.choice(_WORDS)}</li>"
            for i in range(rng.randint(2, 6))) + "</ul>")
    if rng.random() < 0.25:
        ncol = rng.randint(2, 4)
        parts.append("<table>" + "".join(
            "<tr>" + "".join(f"<td>{rng.choice(_WORDS)} {r}.{c}</td>"
                             for c in range(ncol)) + "</tr>"
            for r in range(rng.randint(2, 5))) + "</table>")
    if rng.random() < 0.2:
        parts.append(f'<img src="img{idx}_{s}.png" alt="figure {s}"/>')
    return "".join(parts)


def _html(rng: random.Random, idx: int, min_bytes: int = 0) -> bytes:
    head = (f"<!DOCTYPE html><html><head><title>Page {idx}</title>"
            "<style>p{margin:0}</style><script>var x=1;</script></head>"
            f"<body><nav><a href='/'>home</a></nav><h1>Document {idx}</h1>")
    body = [_html_section(rng, idx, s) for s in range(rng.randint(1, 4))]
    size = len(head) + sum(map(len, body))
    s = len(body)
    while size < min_bytes:
        body.append(_html_section(rng, idx, s))
        size += len(body[-1])
        s += 1
    tail = "<footer><p>footer boilerplate</p></footer></body></html>"
    return (head + "".join(body) + tail).encode("utf-8")


def _markdown(rng: random.Random, idx: int) -> bytes:
    parts = [f"# Markdown doc {idx}", ""]
    for s in range(rng.randint(1, 3)):
        parts += [f"## Part {s}", "", _words(rng, 10, 30), ""]
        if rng.random() < 0.5:
            parts += [f"- item {j} {rng.choice(_WORDS)}"
                      for j in range(rng.randint(2, 5))] + [""]
    return "\n".join(parts).encode("utf-8")


def _csv(rng: random.Random) -> bytes:
    cols = rng.randint(2, 5)
    lines = [",".join(f"col{c}" for c in range(cols))]
    lines += [",".join(f"{rng.choice(_WORDS)}{r}.{c}" for c in range(cols))
              for r in range(rng.randint(3, 12))]
    return "\n".join(lines).encode("utf-8")


def web_pages_rows(seed: int, n_rows: int) -> tuple[list[dict], dict]:
    """-> (rows, expected): ``expected`` names the oversized and the
    malformed urls and maps each PDF url to its page count. Row kinds are
    fixed by position; contents by seed."""
    rng = random.Random(seed)
    html_slots = [i for i in range(n_rows) if i % 16 not in (7, 15)
                  and i % PDF_EVERY not in (33, 49)]
    oversized = set(rng.sample(html_slots, N_OVERSIZED))
    epoch = _dt.datetime(2024, 1, 1)
    rows, big_urls, bad_urls, pdf_pages = [], [], [], {}
    for i in range(n_rows):
        host = f"https://h{rng.randrange(64):02d}.bench.test"
        if i % PDF_EVERY == 33:
            url = f"{host}/{i}.pdf"
            raw, _ = pdf_bytes(rng, n_pages=2)
            body = raw[rng.randint(16, len(raw) // 3):]
            bad_urls.append(url)
        elif i % PDF_EVERY == 49:
            url = f"{host}/report-{i}.pdf"
            # page counts cycle 2..5 so every seed has the same total
            body, pdf_pages[url] = pdf_bytes(rng, 2 + len(pdf_pages) % 4)
        elif i % 16 == 7:
            url, body = f"{host}/{i}.md", _markdown(rng, i)
        elif i % 16 == 15:
            url, body = f"{host}/{i}.csv", _csv(rng)
        elif i in oversized:
            url = f"{host}/{i}"
            body = _html(rng, i, min_bytes=2 * SKEW_THRESHOLD)
            big_urls.append(url)
        else:
            url, body = f"{host}/{i}", _html(rng, i)
        rows.append({"url": url, "warc_ts": epoch + _dt.timedelta(seconds=i),
                     "html": body, "lang": _LANGS[i % len(_LANGS)]})
    return rows, {"oversized": big_urls, "malformed": bad_urls,
                  "pdf_pages": pdf_pages}


# ------------------------------------------------------------------ pdf

def _pdf_escape(text: str) -> bytes:
    return (text.replace("\\", "\\\\").replace("(", "\\(")
            .replace(")", "\\)").encode("latin-1"))


def _wrap(text: str, width: int) -> list[str]:
    lines, cur = [], ""
    for w in text.split():
        if cur and len(cur) + 1 + len(w) > width:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    return lines + ([cur] if cur else [])


def _pdf_page_content(rng: random.Random, page_no: int) -> bytes:
    """One page's content stream: bold heading, then either one or two
    columns of 10 pt body text, optionally followed by a ruled table."""
    ops = [b"BT /F2 16 Tf 72 740 Td (%s) Tj ET"
           % _pdf_escape(f"{page_no} Section {rng.choice(_WORDS)} "
                         f"{rng.choice(_WORDS)}")]
    two_col = rng.random() < 0.35
    columns = [(72, 40), (318, 40)] if two_col else [(72, 88)]
    y_end = 740
    for x, width in columns:
        y = 712
        for _ in range(rng.randint(2, 3)):
            font = b"/F3" if rng.random() < 0.3 else b"/F1"
            for line in _wrap(_words(rng, 25, 60), width):
                ops.append(b"BT %s 10 Tf %d %d Td (%s) Tj ET"
                           % (font, x, y, _pdf_escape(line)))
                y -= 13
            y -= 10
        y_end = min(y_end, y)
    if rng.random() < 0.5 and y_end > 200:
        n_rows, n_cols = rng.randint(3, 6), rng.randint(3, 4)
        top, row_h, col_w, left = y_end - 20, 18, 110, 72
        for r in range(n_rows):
            for c in range(n_cols):
                text = f"{rng.choice(_WORDS)} {r}.{c}"
                ops.append(b"BT /F1 9 Tf %d %d Td (%s) Tj ET"
                           % (left + c * col_w + 4,
                              top - (r + 1) * row_h + 5, _pdf_escape(text)))
        for r in range(n_rows + 1):
            y = top - r * row_h
            ops.append(b"%d %d m %d %d l S"
                       % (left, y, left + n_cols * col_w, y))
        for c in range(n_cols + 1):
            x = left + c * col_w
            ops.append(b"%d %d m %d %d l S"
                       % (x, top, x, top - n_rows * row_h))
    return b"0.5 w\n" + b"\n".join(ops)


def pdf_bytes(rng: random.Random, n_pages: int) -> tuple[bytes, int]:
    """A born-digital PDF with a classic xref table -> (bytes, n_pages)."""
    fonts = {5: b"Helvetica", 6: b"Helvetica-Bold", 7: b"Times-Roman"}
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    kids = []
    num = 8
    for p in range(n_pages):
        content = _pdf_page_content(rng, p + 1)
        objs[num] = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
                     b" /Resources << /Font << /F1 5 0 R /F2 6 0 R"
                     b" /F3 7 0 R >> >> /Contents %d 0 R >>" % (num + 1))
        objs[num + 1] = (b"<< /Length %d >>\nstream\n" % len(content)
                         + content + b"\nendstream")
        kids.append(b"%d 0 R" % num)
        num += 2
    objs[2] = (b"<< /Type /Pages /Kids [%s] /Count %d >>"
               % (b" ".join(kids), n_pages))
    for n, base in fonts.items():
        objs[n] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /%s "
                   b"/Encoding /WinAnsiEncoding >>" % base)
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for n in sorted(objs):
        offsets[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref_off = len(out)
    size = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for n in range(1, size):
        out += (b"%010d 00000 n \n" % offsets[n] if n in offsets
                else b"0000000000 65535 f \n")
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (size, xref_off))
    return bytes(out), n_pages


# ----------------------------------------------------------- corpus_ops

_CORPUS_WORDS = ("spark window merge table column vector stream value data "
                 "small join filter big group hash customer sort order slow "
                 "line part fast row the agg key query a scan batch").split()
_CORPUS_LANGS = ["en"] * 5 + ["zh", "es", "fr", "de"] * 2


def corpus_tables(seed: int, n_docs: int, n_vecs: int
                  ) -> dict[str, pa.Table]:
    """``documents`` and ``embeddings`` in the testdata schema."""
    import numpy as np
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_CORPUS_WORDS)
                                  for _ in range(rng.randint(10, 100))))
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_CORPUS_LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = np.random.default_rng(seed).standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_vecs)],
                          pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


# ---------------------------------------------------------------- cache

def _source_digest() -> str:
    return hashlib.sha256(pathlib.Path(__file__).read_bytes()).hexdigest()


def _dir_digest(path: pathlib.Path) -> str:
    h = hashlib.sha256()
    for f in sorted(path.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def cached(work: pathlib.Path, kind: str, seed: int, size: tuple,
           build) -> tuple[pathlib.Path, dict]:
    """Build-once input directory keyed on (kind, seed, size,
    GEN_VERSION, digest of this file). ``build(dir) -> meta`` writes the
    parquet files and returns JSON-able metadata; the content digest of
    the files is stored with it and re-checked on every reuse, so a
    torn or edited cache entry is rebuilt instead of trusted."""
    key = hashlib.sha256(json.dumps(
        [kind, seed, list(size), GEN_VERSION, _source_digest()]
    ).encode()).hexdigest()[:16]
    out = work / "inputs" / f"{kind}-{key}"
    meta_path = out / "_meta.json"  # "_" files are invisible to Spark
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        if meta.get("content_digest") == _dir_digest(out):
            return out, meta
    out.mkdir(parents=True, exist_ok=True)
    for f in out.glob("*"):
        f.unlink()
    meta = build(out)
    meta["content_digest"] = _dir_digest(out)
    meta_path.write_text(json.dumps(meta))
    return out, meta


def write_pages(path: pathlib.Path, rows: list[dict], n_files: int) -> None:
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk:(i + 1) * chunk]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema=PAGES_SCHEMA),
                           path / f"part-{i:04d}.parquet")
