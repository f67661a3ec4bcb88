"""BoxNote + EBCDIC backend tests: golden byte-identity + units."""

import hashlib
import json
import pathlib

import pytest

from docling_spark.boxnote import convert_boxnote
from docling_spark.ebcdic import (
    FieldDecoder, Field, Layout, convert_ebcdic)
from docling_spark.serialize import to_indented_text, to_json, to_markdown

BN_SRC = pathlib.Path("/root/reference/tests/data/boxnote/sources")
BN_GT = pathlib.Path("/root/reference/tests/data/boxnote/groundtruth")
EB_SRC = pathlib.Path("/root/reference/tests/data/ebcdic/sources")
EB_GT = pathlib.Path("/root/reference/tests/data/ebcdic/groundtruth")


def test_boxnote_goldens_byte_identical():
    path = BN_SRC / "sample.boxnote"
    raw = path.read_bytes()
    bh = int.from_bytes(hashlib.sha256(raw).digest()[-8:], "big")
    doc = convert_boxnote(raw, name=path.stem, filename=path.name,
                          binary_hash=bh)
    assert to_markdown(doc) == (BN_GT / "sample.boxnote.md").read_text()
    assert to_indented_text(doc) == \
        (BN_GT / "sample.boxnote.itxt").read_text()
    assert json.loads(to_json(doc)) == \
        json.load(open(BN_GT / "sample.boxnote.json"))


def test_boxnote_rejects_legacy_format():
    with pytest.raises(Exception):
        convert_boxnote(b'{"atext": {}}', name="legacy")


@pytest.mark.parametrize("stem", ["311_calls_for_service",
                                  "gas_disposition", "ola013k"])
def test_ebcdic_md_goldens_byte_identical(stem):
    raw = (EB_SRC / f"{stem}.ebc").read_bytes()
    layout = (EB_SRC / f"{stem}.layout.json").read_bytes()
    doc = convert_ebcdic(raw, layout, name=stem, filename=f"{stem}.ebc")
    assert to_markdown(doc) == (EB_GT / f"{stem}.ebc.md").read_text()


def test_packed_and_zoned_decimals():
    dec = FieldDecoder()
    # COMP-3: 0x12345D = -12345
    assert dec.decode(b"\x12\x34\x5d",
                      Field("v", 3, "packed_decimal")) == -12345
    assert dec.decode(b"\x12\x34\x5c",
                      Field("v", 3, "packed_decimal")) == 12345
    # zoned: F1 F2 D3 = -123; scale shifts the decimal point
    assert dec.decode(b"\xf1\xf2\xd3",
                      Field("v", 3, "zoned_decimal")) == -123
    assert str(dec.decode(b"\xf1\xf2\xf3",
                          Field("v", 3, "zoned_decimal", scale=2))) \
        == "1.23"


def test_ebcdic_string_strips_controls():
    dec = FieldDecoder()
    # cp037: 0xC1 = 'A', 0x40 = space, 0x00 = NUL (stripped)
    assert dec.decode(b"\xc1\x40\x00", Field("s", 3)) == "A"


def test_ebcdic_max_records():
    raw = (EB_SRC / "311_calls_for_service.ebc").read_bytes()
    layout = Layout.from_json(
        (EB_SRC / "311_calls_for_service.layout.json").read_bytes())
    doc = convert_ebcdic(raw, layout, name="x", max_records=2)
    # header + 2 rows
    assert doc.tables[0].data.num_rows == 3


def test_engine_ebc_without_layout_fails():
    """An .ebc url always routes to EBCDIC: with no layout registered for
    it the row fails with an envelope instead of being HTML-parsed into
    mojibake with status 'success'."""
    import pandas as pd

    from docling_spark.engine import _extract_batches
    raw = "HELLO WORLD 12345".encode("cp037")
    df = pd.DataFrame({"url": ["https://x.test/rec.ebc"], "html": [raw]})
    for layouts in (None, {}, {"other": '{"records": []}'}):
        out = next(_extract_batches([df], sidecars={"ebcdic": layouts}))
        assert out["status"][0] == "failure"
        assert out["error"][0] == \
            "ValueError: no EBCDIC layout registered for 'rec.ebc'"
        assert out["md"][0] is None and out["doc_json"][0] is None
