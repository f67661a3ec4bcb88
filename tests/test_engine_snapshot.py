"""Reference-free behaviour snapshot of the engine's per-row dispatch.

This pins CURRENT behaviour, not reference parity: every row below is
built in-repo (no corpus needed) and pushed through
``engine._extract_batches``; the test compares status, error class, the
item counts and the sha256 of md/itxt/doc_json (plus doctags/html on the
export row) against ``engine_snapshot.json``.

The rows cover one input per format converter, every fall-through to the
HTML extractor (non-OLE .doc/.ppt, .xml/.json/.gz/.txt that fail their
sniff, a ``%PDF-`` body under a non-.pdf url, .md with and without
DeepSeek markers), the side inputs that can be built in-repo (LaTeX
``inputs``, an EBCDIC layout), envelope edge cases, and 64 rows of
``pages.generate_pages``.

Regenerate after an intended behaviour change, and review the diff:

    python tests/test_engine_snapshot.py --update
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import pathlib
import sys
import tarfile
import zipfile

import pandas as pd

HERE = pathlib.Path(__file__).resolve().parent
for _p in (HERE, HERE.parent):
    if str(_p) not in sys.path:
        sys.path.insert(0, str(_p))

SNAPSHOT = HERE / "engine_snapshot.json"


# ------------------------------------------------------------ inputs

def _zip(members: dict) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for path, data in members.items():
            # fixed timestamp: the document hash covers the package bytes
            zf.writestr(zipfile.ZipInfo(path, (2024, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def _targz(members: dict) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for path, data in members.items():
            info = tarfile.TarInfo(path)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return gzip.compress(buf.getvalue(), mtime=0)


_CT = ('<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.'
       'openxmlformats.org/package/2006/content-types"/>')
_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_PR = "http://schemas.openxmlformats.org/package/2006/relationships"
_RT = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


def _docx() -> bytes:
    return _zip({
        "[Content_Types].xml": _CT,
        "_rels/.rels": (
            f'<Relationships xmlns="{_PR}"><Relationship Id="rId1" '
            f'Type="{_RT}/officeDocument" Target="word/document.xml"/>'
            '</Relationships>'),
        "word/document.xml": (
            f'<w:document xmlns:w="{_W}"><w:body>'
            '<w:p><w:r><w:t>Hello docx</w:t></w:r></w:p>'
            '<w:p><w:r><w:t>Second paragraph</w:t></w:r></w:p>'
            '</w:body></w:document>'),
    })


def _xlsx() -> bytes:
    return _zip({
        "[Content_Types].xml": _CT,
        "_rels/.rels": (
            f'<Relationships xmlns="{_PR}"><Relationship Id="rId1" '
            f'Type="{_RT}/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>'),
        "xl/workbook.xml": (
            f'<workbook xmlns="{_S}" xmlns:r="{_R}"><sheets>'
            '<sheet name="Sheet1" sheetId="1" r:id="rId1"/>'
            '</sheets></workbook>'),
        "xl/_rels/workbook.xml.rels": (
            f'<Relationships xmlns="{_PR}"><Relationship Id="rId1" '
            f'Type="{_RT}/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>'),
        "xl/worksheets/sheet1.xml": (
            f'<worksheet xmlns="{_S}"><sheetData>'
            '<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c>'
            '<c r="B1" t="inlineStr"><is><t>b</t></is></c></row>'
            '<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>'
            '</sheetData></worksheet>'),
    })


def _pptx() -> bytes:
    return _zip({
        "[Content_Types].xml": _CT,
        "_rels/.rels": (
            f'<Relationships xmlns="{_PR}"><Relationship Id="rId1" '
            f'Type="{_RT}/officeDocument" Target="ppt/presentation.xml"/>'
            '</Relationships>'),
        "ppt/presentation.xml": (
            f'<p:presentation xmlns:p="{_P}" xmlns:r="{_R}">'
            '<p:sldIdLst><p:sldId id="256" r:id="rId2"/></p:sldIdLst>'
            '<p:sldSz cx="9144000" cy="6858000"/></p:presentation>'),
        "ppt/_rels/presentation.xml.rels": (
            f'<Relationships xmlns="{_PR}"><Relationship Id="rId2" '
            f'Type="{_RT}/slide" Target="slides/slide1.xml"/>'
            '</Relationships>'),
        "ppt/slides/slide1.xml": (
            f'<p:sld xmlns:p="{_P}" xmlns:a="{_A}"><p:cSld><p:spTree>'
            '<p:sp><p:nvSpPr><p:cNvPr id="2" name="Title 1"/><p:cNvSpPr/>'
            '<p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr><p:spPr/>'
            '<p:txBody><a:bodyPr/><a:p><a:r><a:t>Slide title</a:t></a:r>'
            '</a:p></p:txBody></p:sp></p:spTree></p:cSld></p:sld>'),
    })


def _odf(kind: str) -> bytes:
    mime = {"odt": "text", "ods": "spreadsheet", "odp": "presentation"}[kind]
    body = {
        "odt": '<office:text><text:h text:outline-level="1">Heading</text:h>'
               '<text:p>Hello odt</text:p></office:text>',
        "ods": '<office:spreadsheet><table:table table:name="S1">'
               '<table:table-row><table:table-cell><text:p>x</text:p>'
               '</table:table-cell><table:table-cell><text:p>y</text:p>'
               '</table:table-cell></table:table-row></table:table>'
               '</office:spreadsheet>',
        "odp": '<office:presentation><draw:page draw:name="p1"><draw:frame>'
               '<draw:text-box><text:p>Hello odp</text:p></draw:text-box>'
               '</draw:frame></draw:page></office:presentation>',
    }[kind]
    return _zip({
        "mimetype": f"application/vnd.oasis.opendocument.{mime}",
        "content.xml": (
            '<office:document-content '
            'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
            'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
            'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
            'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0">'
            f'<office:body>{body}</office:body></office:document-content>'),
    })


def _epub() -> bytes:
    return _zip({
        "mimetype": "application/epub+zip",
        "META-INF/container.xml": (
            '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:'
            'container"><rootfiles><rootfile full-path="OEBPS/content.opf"/>'
            '</rootfiles></container>'),
        "OEBPS/content.opf": (
            '<package xmlns="http://www.idpf.org/2007/opf"><manifest>'
            '<item id="c1" href="c1.xhtml"/></manifest>'
            '<spine><itemref idref="c1"/></spine></package>'),
        "OEBPS/c1.xhtml": (
            '<html><body><h1>Chapter One</h1><p>Hello epub</p>'
            '</body></html>'),
    })


def _mets() -> bytes:
    return _targz({
        "book/book.xml": (
            b'<mets:mets xmlns:mets="http://www.loc.gov/METS/" '
            b'PROFILE="gbs"><mets:fileSec/></mets:mets>'),
    })


_EBCDIC_LAYOUT = json.dumps({
    "description": "Snapshot layout",
    "records": [{"name": "rec", "fields": [
        {"name": "NAME", "size": 6, "type": "string"},
        {"name": "CITY", "size": 6, "type": "string"},
        {"name": "QTY", "size": 5, "type": "zoned_decimal"}]}],
})
_EBCDIC_DATA = ("HELLO WORLD 12345" + "ALPHA BRAVO 00042").encode("cp037")

_XBRL = (
    b'<?xml version="1.0"?><xbrli:xbrl '
    b'xmlns:xbrli="http://www.xbrl.org/2003/instance" '
    b'xmlns:us="http://fasb.org/us-gaap/2024">'
    b'<xbrli:context id="c1"><xbrli:entity><xbrli:identifier '
    b'scheme="http://www.sec.gov/CIK">0001</xbrli:identifier>'
    b'</xbrli:entity><xbrli:period><xbrli:instant>2024-12-31'
    b'</xbrli:instant></xbrli:period></xbrli:context>'
    b'<us:Assets contextRef="c1" decimals="0" unitRef="usd">1000</us:Assets>'
    b'</xbrli:xbrl>')

_JATS = (
    b'<?xml version="1.0"?><!DOCTYPE article PUBLIC "-//NLM//DTD '
    b'JATS (Z39.96) Journal Archiving and Interchange DTD v1.2//EN" '
    b'"JATS-archivearticle1.dtd"><article><front><article-meta>'
    b'<title-group><article-title>A JATS title</article-title>'
    b'</title-group></article-meta></front><body><sec><title>Intro</title>'
    b'<p>Body text.</p></sec></body></article>')

_USPTO_XML = (
    b'<?xml version="1.0"?>\n<!DOCTYPE us-patent-grant SYSTEM '
    b'"us-patent-grant-v45-2014-04-03.dtd" []><us-patent-grant>'
    b'<us-bibliographic-data-grant><invention-title>Widget'
    b'</invention-title></us-bibliographic-data-grant>'
    b'<abstract><p>An abstract.</p></abstract></us-patent-grant>')

_USPTO_TXT = (b"PATN\nWKU  039305201\nTTL  A patented widget\n"
              b"ABST\nPAL  Short abstract text.\n")

_BOXNOTE = json.dumps({"doc": {"type": "doc", "content": [
    {"type": "heading", "attrs": {"level": 1},
     "content": [{"type": "text", "text": "Box title"}]},
    {"type": "paragraph", "content": [{"type": "text", "text": "Hi"}]}]}})

_CHANDRA = (b'<div data-bbox="10 10 900 60" data-label="Title">Chandra'
            b'</div><div data-bbox="10 80 900 200" data-label="Text">'
            b'<p>Body</p></div>')

_DOTS = json.dumps([
    {"bbox": [10, 10, 500, 40], "category": "Title", "text": "Dots"},
    {"bbox": [10, 60, 500, 120], "category": "Text", "text": "Body"}])

_LATEX_MAIN = (b"\\documentclass{article}\\begin{document}"
               b"\\section{Main}Hello \\input{part}\\end{document}")
_LATEX_INPUTS = {"part.tex": b"\\subsection{Part}From the input file."}

_HTML = b"<html><head><title>T</title></head><body><h1>Head</h1>" \
        b"<p>Hello <b>world</b>.</p><ul><li>a</li><li>b</li></ul>" \
        b"<table><tr><th>x</th></tr><tr><td>1</td></tr></table></body></html>"

_OLE = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 504


def _rows():
    """(label, url, raw, sidecars, exports, converter) for each row;
    ``converter`` names the format branch the row is meant to reach."""
    from test_pdf import _pdf_bare_helvetica
    pdf = _pdf_bare_helvetica()
    rows = [
        ("pdf", "https://s.test/a/doc.pdf", pdf, None, "pdf"),
        ("pdf_magic_html_url", "https://s.test/a/doc.html", pdf, None, "pdf"),
        ("pdf_magic_no_ext", "https://s.test/a/doc", pdf, None, "pdf"),
        ("deepseek_md", "https://s.test/a/ocr.md",
         b"<|ref|>title<|/ref|><|det|>[[10,10,500,40]]<|/det|>\n# Hello\n",
         None, "deepseekocr"),
        ("ebcdic_layout", "https://s.test/a/rec.ebc", _EBCDIC_DATA,
         {"ebcdic": {"rec": _EBCDIC_LAYOUT}}, "ebcdic"),
        ("ebcdic_layout_by_tail", "https://s.test/a/rec2.ebc", _EBCDIC_DATA,
         {"ebcdic": {"rec2.ebc": _EBCDIC_LAYOUT}}, "ebcdic"),
        ("ebcdic_no_layout", "https://s.test/a/rec.ebc", _EBCDIC_DATA,
         None, "ebcdic"),
        ("md", "https://s.test/a/notes.md",
         b"# Title\n\nSome *text* and a [link](x).\n\n- one\n- two\n",
         None, "md"),
        ("csv", "https://s.test/a/t.csv", b"a,b\n1,2\n3,4\n", None, "csv"),
        ("vtt", "https://s.test/a/c.vtt",
         b"WEBVTT\n\n00:00.000 --> 00:01.000\nHello captions\n", None,
         "vtt"),
        ("epub", "https://s.test/a/b.epub", _epub(), None, "epub"),
        ("eml", "https://s.test/a/m.eml",
         b"From: a@x.test\nTo: b@x.test\nSubject: Hi\n\nBody line.\n",
         None, "eml"),
        ("adoc", "https://s.test/a/d.adoc",
         b"= Title\n\n== Section\n\nParagraph.\n", None, "asciidoc"),
        ("asciidoc", "https://s.test/a/d.asciidoc",
         b"= Other\n\n* item\n", None, "asciidoc"),
        ("docx", "https://s.test/a/w.docx", _docx(), None, "docx"),
        ("xlsx", "https://s.test/a/s.xlsx", _xlsx(), None, "xlsx"),
        ("xlsm", "https://s.test/a/s.xlsm", _xlsx(), None, "xlsx"),
        ("xls", "https://s.test/a/s.xls", _OLE, None, "xls"),
        ("doc_ole", "https://s.test/a/w.doc", _OLE, None, "doc"),
        ("doc_not_ole", "https://s.test/a/w.doc", b"<p>not ole</p>", None,
         "html"),
        ("ppt_ole", "https://s.test/a/p.ppt", _OLE, None, "ppt"),
        ("ppt_not_ole", "https://s.test/a/p.ppt", b"<p>not ole</p>", None,
         "html"),
        ("pptx", "https://s.test/a/p.pptx", _pptx(), None, "pptx"),
        ("odt", "https://s.test/a/o.odt", _odf("odt"), None, "odf"),
        ("ods", "https://s.test/a/o.ods", _odf("ods"), None, "odf"),
        ("odp", "https://s.test/a/o.odp", _odf("odp"), None, "odf"),
        ("metsgbs", "https://s.test/a/book.tar.gz", _mets(), None,
         "metsgbs"),
        ("gz_not_mets", "https://s.test/a/x.gz",
         _targz({"a.txt": b"plain"}), None, "html"),
        ("xbrl", "https://s.test/a/inst.xml", _XBRL, None, "xbrl"),
        ("jats_xml", "https://s.test/a/art.xml", _JATS, None, "jats"),
        ("jats_nxml", "https://s.test/a/art.nxml", _JATS, None, "jats"),
        ("uspto_xml", "https://s.test/a/pat.xml", _USPTO_XML, None,
         "uspto"),
        ("uspto_txt", "https://s.test/a/pat.txt", _USPTO_TXT, None,
         "uspto"),
        ("xml_no_sniff", "https://s.test/a/plain.xml",
         b"<root><p>plain xml</p></root>", None, "html"),
        ("txt_no_sniff", "https://s.test/a/plain.txt",
         b"just text", None, "html"),
        ("boxnote", "https://s.test/a/n.boxnote", _BOXNOTE.encode(), None,
         "boxnote"),
        ("chandra", "https://s.test/a/v.html", _CHANDRA, None, "chandra"),
        ("dots", "https://s.test/a/v.json", _DOTS.encode(), None, "dots"),
        ("json_no_sniff", "https://s.test/a/x.json", b'{"a": 1}', None,
         "html"),
        ("latex_inputs", "https://s.test/a/main.tex", _LATEX_MAIN,
         {"latex": {"main": _LATEX_INPUTS}}, "latex"),
        ("latex_no_inputs", "https://s.test/a/solo.tex", _LATEX_MAIN, None,
         "latex"),
        ("html", "https://s.test/a/page.html", _HTML, None, "html"),
        ("html_no_ext_fragment", "https://s.test/a/page#frag", _HTML, None,
         "html"),
        ("html_trailing_slash", "https://s.test/a/", _HTML, None, "html"),
        ("html_str_payload", "https://s.test/a/s.htm",
         "<p>str payload é</p>", None, "html"),
        ("null_payload", "https://s.test/a/null.html", None, None, "html"),
        ("null_url", None, b"<p>no url</p>", None, "html"),
        ("empty", "https://s.test/a/empty.html", b"", None, "html"),
        ("non_utf8", "https://s.test/a/latin.html",
         "<p>café</p>".encode("latin-1"), None, "html"),
    ]
    out = [(label, url, raw, side, (), conv)
           for label, url, raw, side, conv in rows]
    out.append(("exports_doctags_html", "https://s.test/a/export.html",
                _HTML, None, ("doctags", "html"), "html"))
    from docling_spark.pages import generate_pages
    for i, r in enumerate(generate_pages(64, include_fixtures=False)):
        conv = r["url"].rsplit(".", 1)[-1]
        conv = conv if conv in ("md", "csv") else "html"
        out.append((f"generated_{i:02d}", r["url"], r["html"], None, (),
                    conv))
    return out


# ------------------------------------------------------------ running

def _sha(value) -> str | None:
    if value is None:
        return None
    return hashlib.sha256(value.encode("utf-8")).hexdigest()


def _run_row(url, raw, sidecars, exports) -> dict:
    from docling_spark.engine import _extract_batches
    batch = pd.DataFrame({"url": [url], "html": [raw]})
    out = next(_extract_batches([batch], sidecars=sidecars,
                                exports=exports))
    row = out.iloc[0]
    err = row["error"]
    rec = {
        "status": row["status"],
        "error_class": None if err is None else err.split(":", 1)[0],
        "md": _sha(row["md"]),
        "itxt": _sha(row["itxt"]),
        "doc_json": _sha(row["doc_json"]),
        "counts": [int(row[c]) for c in
                   ("n_texts", "n_tables", "n_pictures", "n_pages",
                    "html_bytes")],
    }
    for name in exports:
        rec[name] = _sha(row[name])
    return rec


def _snapshot() -> dict:
    return {label: _run_row(url, raw, side, exports)
            for label, url, raw, side, exports, _ in _rows()}


# ------------------------------------------------------------ tests

def test_engine_behaviour_snapshot():
    expected = json.loads(SNAPSHOT.read_text())["rows"]
    got = _snapshot()
    assert sorted(got) == sorted(expected)
    diff = [label for label in expected if got[label] != expected[label]]
    assert not diff, {label: (expected[label], got[label])
                      for label in diff}


def test_every_converter_is_reached(monkeypatch):
    """Each row reaches the converter it was built for, and together the
    rows reach every ``CONVERTERS`` entry."""
    from docling_spark import engine
    seen = []

    def spy(conv, convert):
        def run(raw, name, tail, bh, side):
            seen.append(conv)
            return convert(raw, name, tail, bh, side)
        return run

    monkeypatch.setattr(engine, "CONVERTERS", tuple(
        (conv, match, spy(conv, convert))
        for conv, match, convert in engine.CONVERTERS))
    routed = {}
    for label, url, raw, side, exports, conv in _rows():
        seen.clear()
        _run_row(url, raw, side, exports)
        routed[label] = (seen[:], conv)
    assert {k: v for k, v in routed.items() if v[0] != [v[1]]} == {}
    assert {c for _, c in routed.values()} == \
        {c for c, _, _ in engine.CONVERTERS}


if __name__ == "__main__":
    if "--update" in sys.argv:
        rows = _snapshot()
        lines = [f"  {json.dumps(k)}: {json.dumps(rows[k], sort_keys=True)}"
                 for k in sorted(rows)]
        SNAPSHOT.write_text(
            '{\n "note": "pins current behaviour, not reference parity; '
            'regenerate with python tests/test_engine_snapshot.py --update '
            'and review the diff",\n "rows": {\n'
            + ",\n".join(lines) + "\n }\n}\n")
    else:
        for label, rec in _snapshot().items():
            print(label, rec["status"], rec["error_class"], rec["counts"])
