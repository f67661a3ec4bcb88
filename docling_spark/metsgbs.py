"""METS-GBS (Google Books schema) backend: tar.gz -> pages -> Doc.

From-scratch, stdlib-only analog of the reference's
``docling/backend/mets_gbs_backend.py``: a gzipped tar holds a METS
manifest (``<mets:mets PROFILE="gbs">``) mapping page numbers to per-page
files - a TIFF scan (USE="image"), plain OCR text (USE="OCR") and hOCR
coordinate OCR (USE="coordOCR"). Text cells come from the hOCR spans
(``ocr_line`` / ``ocrx_word``) whose ``title`` attributes carry
``bbox l t r b; x_wconf N`` (reference ``:169-199``); page size comes from
the ``ocr_page`` div's bbox (``:384-394``). TIFF pixel decode is not
needed for the text path, so the image member is left untouched.

Security limits mirror the reference's MetsGbsBackendOptions: member
count, per-file and total extraction byte caps (decompression-bomb
guards) - essential when the tarball came off a web crawl.
"""

from __future__ import annotations

import io
import re
import tarfile
from xml.etree import ElementTree as ET

from . import xmlsafe

from .model import Doc
from .pdftext import TextCell

__all__ = ["MetsGbsDocument", "convert_metsgbs", "looks_like_metsgbs"]

METS = "http://www.loc.gov/METS/"
XLINK = "http://www.w3.org/1999/xlink"

MAX_MEMBER_COUNT = 10_000
MAX_FILE_BYTES = 256 << 20
MAX_TOTAL_BYTES = 1 << 30

_BBOX_RE = re.compile(r"bbox (\d+) (\d+) (\d+) (\d+)")
_SPAN_RE = re.compile(
    r"<span[^>]*class=[\"'](ocrx_word|ocr_line)[\"'][^>]*>", re.I)


def looks_like_metsgbs(raw: bytes) -> bool:
    """Cheap sniff: gzip magic + 'mets' & 'gbs' within the first members."""
    if raw[:2] != b"\x1f\x8b":
        return False
    try:
        tar = tarfile.open(fileobj=io.BytesIO(raw), mode="r:gz")
        for member in tar:
            if member.name.endswith(".xml"):
                f = tar.extractfile(member)
                if f is None:
                    continue
                head = f.read(4096)
                if b"loc.gov/METS" in head and b'PROFILE="gbs"' in head:
                    return True
        return False
    except (tarfile.TarError, OSError, EOFError):
        return False


def _extract_rect(title: str):
    m = _BBOX_RE.search(title or "")
    if not m:
        return None
    return tuple(int(x) for x in m.groups())  # l, t, r, b (top-left origin)


def _hocr_cells(content: bytes):
    """hOCR bytes -> (page_size, line_cells, word_cells).

    Parsed with ElementTree when the markup is well-formed XHTML (GBS hOCR
    is), with a regex fallback for tag soup.
    """
    text = content.decode("utf-8", errors="replace")
    # strip doctype/entities that break ET
    # strip the full declaration including any internal subset — an
    # internal subset could otherwise declare expansion-bomb entities
    text = re.sub(r"<!DOCTYPE[^\[>]*(?:\[[^\]]*\])?[^>]*>", "", text)
    text = text.replace("&nbsp;", " ")
    size = None
    lines: list[TextCell] = []
    words: list[TextCell] = []
    try:
        root = ET.fromstring(re.sub(r'\sxmlns="[^"]+"', "", text, count=1))
    except ET.ParseError:
        root = None
    if root is not None:
        for div in root.iter("div"):
            if div.get("class") == "ocr_page" and size is None:
                rect = _extract_rect(div.get("title", ""))
                if rect:
                    size = (rect[2] - rect[0], rect[3] - rect[1])
        for span in root.iter("span"):
            cls = span.get("class")
            if cls not in ("ocrx_word", "ocr_line"):
                continue
            t = "".join(span.itertext()).strip()
            rect = _extract_rect(span.get("title", ""))
            if rect is None:
                continue
            cell = TextCell(t, float(rect[0]), float(rect[1]),
                            float(rect[2]), float(rect[3]),
                            font_size=0.75 * max(rect[3] - rect[1], 1))
            (words if cls == "ocrx_word" else lines).append(cell)
    if size is None:
        m = re.search(r"class=[\"']ocr_page[\"'][^>]*title=[\"']([^\"']*)",
                      text)
        rect = _extract_rect(m.group(1)) if m else None
        size = ((rect[2] - rect[0], rect[3] - rect[1]) if rect
                else (1000, 1500))
    return size, lines, words


class MetsGbsDocument:
    """Random-access page reader over one METS-GBS tarball."""

    def __init__(self, data: bytes):
        self._tar = tarfile.open(fileobj=io.BytesIO(data), mode="r:gz")
        self.root = None
        total = 0
        for i, member in enumerate(self._tar.getmembers()):
            if i >= MAX_MEMBER_COUNT:
                raise ValueError("archive exceeds member count limit")
            if not member.name.endswith(".xml"):
                continue
            f = self._tar.extractfile(member)
            if f is None:
                continue
            content = f.read(MAX_FILE_BYTES + 1)
            if len(content) > MAX_FILE_BYTES:
                raise ValueError("XML member exceeds size limit")
            total += len(content)
            if total > MAX_TOTAL_BYTES:
                raise ValueError("archive exceeds total extraction limit")
            try:
                root = xmlsafe.fromstring(content)
            except ET.ParseError:
                continue
            if root.tag == f"{{{METS}}}mets" and root.get("PROFILE") == "gbs":
                self.root = root
                break
        if self.root is None:
            raise ValueError("no METS manifest with PROFILE='gbs' found")
        self._total = total
        self.page_map: dict[int, dict] = {}
        files: dict[str, tuple] = {}
        for grp in self.root.iter(f"{{{METS}}}fileGrp"):
            use = grp.get("USE")
            if use not in ("image", "OCR", "coordOCR"):
                continue
            for fe in grp.findall(f"{{{METS}}}file"):
                fid = fe.get("ID")
                loc = fe.find(f"{{{METS}}}FLocat")
                href = (loc.get(f"{{{XLINK}}}href")
                        if loc is not None else None)
                if fid and href:
                    files[fid] = (use, href)
        for div in self.root.iter(f"{{{METS}}}div"):
            if div.get("TYPE") != "page":
                continue
            order = div.get("ORDER")
            if not order:
                continue
            try:
                page_no = int(order) - 1
            except ValueError:
                continue
            entry: dict = {}
            for fptr in div.findall(f"{{{METS}}}fptr"):
                info = files.get(fptr.get("FILEID", ""))
                if info:
                    entry[info[0]] = info[1]
            self.page_map[page_no] = entry

    def page_count(self) -> int:
        return len(self.page_map)

    def _read_member(self, path: str) -> bytes:
        f = self._tar.extractfile(path)
        if f is None:
            raise ValueError(f"member {path!r} missing from archive")
        data = f.read(MAX_FILE_BYTES + 1)
        if len(data) > MAX_FILE_BYTES:
            raise ValueError("member exceeds size limit")
        self._total += len(data)
        if self._total > MAX_TOTAL_BYTES:
            raise ValueError("archive exceeds total extraction limit")
        return data

    def page_cells(self, page_no: int):
        """-> (size (w, h), line_cells, word_cells) for a 0-based page."""
        entry = self.page_map[page_no]
        href = entry.get("coordOCR") or entry.get("OCR")
        if href is None:
            return (1000, 1500), [], []
        return _hocr_cells(self._read_member(href))

    def get_text_in_rect(self, page_no: int, l, t, r, b) -> str:
        """Reference semantics: line cells overlapping the rect by >50%
        of their own area, joined with spaces."""
        _, lines, _ = self.page_cells(page_no)
        out = []
        for c in lines:
            w = min(c.r, r) - max(c.l, l)
            h = min(c.b, b) - max(c.t, t)
            area = max(0.0, (c.r - c.l)) * max(0.0, (c.b - c.t))
            if area > 0 and max(0.0, w) * max(0.0, h) / area > 0.5:
                out.append(c.text)
        return " ".join(out)


def convert_metsgbs(raw: bytes, name: str = "file", filename: str = "",
                    binary_hash: int = 0, page_range=None) -> Doc:
    """METS-GBS tarball -> Doc via the shared deterministic block pipeline
    (hOCR line cells play the role of PDF text-line cells)."""
    from .pdfdoc import _body_font_size, _classify, _merge_into_blocks
    from .layout import sanitize_text

    mets = MetsGbsDocument(raw)
    doc = Doc(name, filename=filename or f"{name}.tar.gz",
              binary_hash=binary_hash, mimetype="application/tar+gzip")
    for page_no in sorted(mets.page_map):
        out_no = page_no + 1
        if page_range is not None:
            lo, hi = page_range
            if out_no < lo or out_no > hi:
                continue
        (w, h), lines, _words = mets.page_cells(page_no)
        doc.pages[out_no] = (float(w), float(h))
        if not lines:
            continue
        body_size = _body_font_size(lines)
        blocks = _merge_into_blocks(lines, body_size)
        _classify(blocks, body_size, out_no, float(h), float(w),
                  is_first_page=(out_no == 1))
        for blk in blocks:
            text = sanitize_text([c.text for c in blk.cells])
            if not text:
                continue
            l, t, r, b = blk.bbox()
            prov = [{
                "page_no": out_no,
                "bbox": {"l": round(l, 3), "t": round(float(h) - t, 3),
                         "r": round(r, 3), "b": round(float(h) - b, 3),
                         "coord_origin": "BOTTOMLEFT"},
                "charspan": [0, len(text)],
            }]
            if blk.label == "section_header":
                doc.add_heading(text, level=1, prov=prov)
            elif blk.label in ("page_header", "page_footer"):
                doc.add_text(label=blk.label, text=text,
                             content_layer="furniture", prov=prov)
            else:
                doc.add_text(label="text", text=text, prov=prov)
    return doc
