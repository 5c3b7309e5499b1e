"""PDF report sink: structural validation of the MiniPdf writer and
content checks for generate_assessment_pdf (reference app.py:49-260).

The structural test re-parses the emitted bytes: every xref offset must
land exactly on its `N 0 obj` header, the trailer must point at the xref
table, and each page's Flate stream must inflate. That is the PDF-spec
contract a real viewer relies on — no PDF library exists in this
container to check it for us.
"""

import hashlib
import json
import os
import re
import zlib

import pytest

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.assess import Assessor
from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.report_pdf import (
    MiniPdf,
    generate_assessment_pdf,
)

DDL = """
CREATE TABLE SALES.CUSTOMER (
  CUST_ID INTEGER NOT NULL,
  NAME VARCHAR(100),
  DOC XML,
  AUDIO BLOB(1M),
  PRIMARY KEY (CUST_ID)
);
CREATE TABLE SALES.ORDERS (
  ORDER_ID BIGINT NOT NULL,
  CUST_ID INTEGER REFERENCES SALES.CUSTOMER (CUST_ID),
  TOTAL DECIMAL(12,2)
) DISTRIBUTE BY HASH (ORDER_ID);
"""


@pytest.fixture(scope="module")
def report():
    return Assessor().assess(DDL)


@pytest.fixture(scope="module")
def pdf_bytes(report):
    return generate_assessment_pdf(report, generated_at="2026-01-01 00:00:00")


def _xref_offsets(data: bytes) -> list[int]:
    startxref = int(data[data.rindex(b"startxref"):].split()[1])
    assert data[startxref:startxref + 4] == b"xref"
    body = data[startxref:].split(b"trailer")[0]
    entries = re.findall(rb"(\d{10}) (\d{5}) ([nf])", body)
    return [int(off) for off, _gen, kind in entries if kind == b"n"]


def _streams(data: bytes) -> list[bytes]:
    out = []
    for m in re.finditer(rb"stream\n(.*?)\nendstream", data, re.DOTALL):
        out.append(zlib.decompress(m.group(1)))
    return out


def test_pdf_shell(pdf_bytes):
    assert pdf_bytes.startswith(b"%PDF-1.4")
    assert pdf_bytes.rstrip().endswith(b"%%EOF")


def test_xref_offsets_point_at_objects(pdf_bytes):
    offsets = _xref_offsets(pdf_bytes)
    assert offsets, "xref table empty"
    for i, off in enumerate(offsets, start=1):
        head = pdf_bytes[off:off + 20]
        assert head.startswith(f"{i} 0 obj".encode()), (i, head)


def test_trailer_root_is_catalog(pdf_bytes):
    root = re.search(rb"/Root (\d+) 0 R", pdf_bytes).group(1)
    cat = re.search(rb"(\d+) 0 obj\n<< /Type /Catalog",
                    pdf_bytes).group(1)
    assert root == cat


def test_streams_inflate_and_carry_report_text(pdf_bytes, report):
    text = b"".join(_streams(pdf_bytes))
    for expected in (b"DB2ICE Assessment Report",
                     b"Migration Readiness Score",
                     b"Score Breakdown:",
                     b"Summary Statistics",
                     b"Table-by-Table Analysis",
                     b"SALES.CUSTOMER",
                     b"SALES.ORDERS",
                     b"Generated: 2026-01-01 00:00:00"):
        assert expected in text, expected
    # the XML column must surface as an issue code line somewhere
    assert b"[" in text and b"]" in text
    # page-count placeholder resolved
    assert b"{nb}" not in text
    assert re.search(rb"Page 1/\d", text)


def test_page_count_matches_kids(pdf_bytes):
    count = int(re.search(rb"/Count (\d+)", pdf_bytes).group(1))
    kids = re.search(rb"/Kids \[([^\]]*)\]", pdf_bytes).group(1)
    assert count == len(re.findall(rb"\d+ 0 R", kids))
    # report has tables → per-table page exists
    assert count >= 2


def test_auto_page_break():
    pdf = MiniPdf()
    pdf.add_page()
    for i in range(400):
        pdf.cell(0, 6, f"line {i}", ln=True)
    data = pdf.output()
    count = int(re.search(rb"/Count (\d+)", data).group(1))
    assert count > 1
    # no content may be placed below the break margin: y resets per page
    assert pdf.get_y() <= 297 - pdf.b_margin


def test_text_escaping_roundtrip():
    pdf = MiniPdf()
    pdf.add_page()
    pdf.cell(0, 6, r"paren ( ) and backslash \ ok", ln=True)
    text = b"".join(_streams(pdf.output()))
    assert rb"paren \( \) and backslash \\ ok" in text


def test_cli_writes_pdf(tmp_path, capsys):
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.__main__ import (
        main,
    )

    src = tmp_path / "schema.sql"
    src.write_text(DDL)
    out = tmp_path / "report.pdf"
    assert main(["assess", str(src), "--pdf", str(out)]) == 0
    data = out.read_bytes()
    assert data.startswith(b"%PDF-1.4")
    capsys.readouterr()


# tests/golden/report_pdf.json pins the exact bytes (sha256 and length) of
# the DB2 fixture corpus report and of a MiniPdf sampler document.

GOLDEN_PDF = os.path.join(os.path.dirname(__file__), "golden",
                          "report_pdf.json")


class _Sampler(MiniPdf):
    """Header and footer that change font and colour, so every page break
    must restore the body's state."""

    def header(self) -> None:
        self.set_font("B", 14)
        self.set_text_color(99, 102, 241)
        self.cell(0, 8, "Sampler (head) \\ {nb}", ln=True, align="C")

    def footer(self) -> None:
        self.set_y(-15)
        self.set_font("I", 8)
        self.set_text_color(148, 163, 184)
        self.cell(0, 10, f"Page {self.page_no()}/{{nb}}", align="R")


def _sampler_pdf() -> bytes:
    pdf = _Sampler()
    pdf.add_page()
    styles = ("", "B", "I", "BI", "ib")
    colours = ((15, 23, 42), (239, 68, 68), (22, 101, 52), (128,))
    fills = ((16, 185, 129), (245, 158, 11), (240,))
    texts = ("plain text", "paren ( ) and backslash \\", "café crème",
             "arrow → and 中", "", "{nb} pages", "Résumé (v2)")
    for i in range(260):
        pdf.set_font(styles[i % len(styles)],
                     None if i % 7 == 3 else 6 + i % 9)
        pdf.set_text_color(*colours[i % len(colours)])
        pdf.set_fill_color(*fills[i % len(fills)])
        align = "LCR"[i % 3]
        fill = i % 4 == 1
        if i % 5 == 4:
            pdf.cell(40, 5, texts[i % len(texts)], align=align, fill=fill)
            pdf.cell(0, 5, texts[(i + 1) % len(texts)], ln=1, align=align,
                     fill=not fill)
        else:
            pdf.cell(0, 4.5 + i % 3, texts[i % len(texts)], ln=True,
                     align=align, fill=fill)
        if i % 50 == 49:
            pdf.ln(3)
    return pdf.output()


def _pdf_pins() -> dict:
    from fixtures import DB2_CORPUS

    docs = {
        "db2_corpus": generate_assessment_pdf(
            Assessor().assess(DB2_CORPUS), generated_at="2026-01-01 00:00:00"),
        "minipdf_sampler": _sampler_pdf(),
    }
    return {name: {"sha256": hashlib.sha256(data).hexdigest(),
                   "bytes": len(data)}
            for name, data in docs.items()}


def test_golden_pdf_bytes():
    with open(GOLDEN_PDF, encoding="utf-8") as f:
        want = json.load(f)
    assert _pdf_pins() == want


def test_sampler_covers_the_writer():
    data = _sampler_pdf()
    assert int(re.search(rb"/Count (\d+)", data).group(1)) >= 3
    text = b"".join(_streams(data))
    for needle in (rb"\( \) and backslash \\", b"caf\xe9", b"arrow ? and ?",
                   b"/F1 ", b"/F2 ", b"/F3 ", b"/F4 ", b"re f"):
        assert needle in text, needle
    assert b"{nb}" not in text
