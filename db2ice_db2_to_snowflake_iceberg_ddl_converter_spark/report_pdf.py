"""PDF report sink — functional twin of the reference's fpdf2 export
(`app.py:18-46` AssessmentPDF header/footer, `app.py:49-260`
``generate_assessment_pdf``), written against NO external PDF library.

The reference's only dependency beyond streamlit is ``fpdf2``
(environment.yml:1-6), used solely to render the assessment report as a
PDF download. This container has neither, so the sink embeds a minimal
PDF 1.4 writer (``MiniPdf``) that supports exactly what the report needs:
A4 pages, the four Helvetica base-14 fonts (no font embedding required by
the spec for the standard 14), RGB text/fill color, filled cells, auto
page breaks, and a page-x-of-y footer. Output is a self-contained,
spec-valid PDF byte string (xref offsets are generated, not guessed — the
test suite re-parses them).

Layout, section order, colors, truncation widths, and wording follow the
reference byte-for-byte where text is concerned (same section titles,
same ``[CODE]`` issue lines, same 100/80-char truncation) so a user of
the reference gets the same report from this engine.

This is driver-side presentation code like JSON/markdown in ``model.py``
— the data plane never touches it.
"""

from __future__ import annotations

import zlib
from functools import lru_cache
from itertools import repeat

from .model import AssessmentReport, ReadinessLevel

# mm → pt (PDF user space); A4 page
_K = 72.0 / 25.4
_PAGE_W_MM = 210.0
_PAGE_H_MM = 297.0

# Helvetica / Helvetica-Bold glyph widths in 1/1000 em (Adobe base-14 AFM
# metrics, ASCII 32-126) — needed only to center/right-align text.
_W_REG = {
    " ": 278, "!": 278, '"': 355, "#": 556, "$": 556, "%": 889, "&": 667,
    "'": 191, "(": 333, ")": 333, "*": 389, "+": 584, ",": 278, "-": 333,
    ".": 278, "/": 278, ":": 278, ";": 278, "<": 584, "=": 584, ">": 584,
    "?": 556, "@": 1015, "[": 278, "\\": 278, "]": 278, "^": 469, "_": 556,
    "`": 333, "{": 334, "|": 260, "}": 334, "~": 584,
    "A": 667, "B": 667, "C": 722, "D": 722, "E": 667, "F": 611, "G": 778,
    "H": 722, "I": 278, "J": 500, "K": 667, "L": 556, "M": 833, "N": 722,
    "O": 778, "P": 667, "Q": 778, "R": 722, "S": 667, "T": 611, "U": 722,
    "V": 667, "W": 944, "X": 667, "Y": 667, "Z": 611,
    "a": 556, "b": 556, "c": 500, "d": 556, "e": 556, "f": 278, "g": 556,
    "h": 556, "i": 222, "j": 222, "k": 500, "l": 222, "m": 833, "n": 556,
    "o": 556, "p": 556, "q": 556, "r": 333, "s": 500, "t": 278, "u": 556,
    "v": 500, "w": 722, "x": 500, "y": 500, "z": 500,
}
_W_BOLD = dict(_W_REG, **{
    "'": 238, "`": 333, "a": 556, "b": 611, "c": 556, "d": 611, "e": 556,
    "f": 333, "g": 611, "h": 611, "i": 278, "j": 278, "k": 556, "l": 278,
    "m": 889, "n": 611, "o": 611, "p": 611, "q": 611, "r": 389, "s": 556,
    "t": 333, "u": 611, "v": 556, "w": 778, "x": 556, "y": 556, "z": 500,
    "A": 722, "B": 722, "J": 556, "K": 722, "L": 611, "@": 975, "?": 611,
})

_FONTS = {  # style → (resource name, base font, width table)
    "": ("F1", "Helvetica", _W_REG),
    "B": ("F2", "Helvetica-Bold", _W_BOLD),
    "I": ("F3", "Helvetica-Oblique", _W_REG),
    "BI": ("F4", "Helvetica-BoldOblique", _W_BOLD),
}


def _esc(text: str) -> str:
    """Escape a PDF literal string; non-Latin-1 chars degrade to '?'."""
    if (text.isascii() and "(" not in text and ")" not in text
            and "\\" not in text):
        return text
    out = text.encode("latin-1", "replace").decode("latin-1")
    return (out.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)"))


# The report draws in a handful of colours and fonts, so the operator for
# each state is formatted once and then looked up.

@lru_cache(maxsize=64)
def _rg(r: int, g: int, b: int) -> str:
    """The ``rg`` (fill colour) operator for 0-255 RGB."""
    return f"{r / 255.0:.3f} {g / 255.0:.3f} {b / 255.0:.3f} rg"


@lru_cache(maxsize=64)
def _font_state(style: str, size: float) -> tuple[str, str]:
    """fpdf style string and size → (normalised style, ``Tf`` operator)."""
    style = "".join(sorted(style.upper())).replace("IB", "BI")
    return style, f"/{_FONTS[style][0]} {size:.2f} Tf"


class MiniPdf:
    """Tiny fpdf-shaped PDF 1.4 writer (mm units, top-left origin).

    Supports the subset ``generate_assessment_pdf`` uses: ``add_page``,
    ``set_font(style, size)``, ``set_text_color``/``set_fill_color``,
    ``cell(w, h, txt, ln, align, fill)``, ``ln``, ``get_y`` and automatic
    page breaks. Streams are Flate-compressed. Subclass and override
    ``header``/``footer`` exactly like fpdf; ``{nb}`` in footer text is
    replaced with the total page count at output time.

    The setters look up the colour (``rg``) and font (``Tf``) operators of
    the new state, formatted once per distinct state. A text cell writes one
    template: a head holding ``BT``, the colour and font operators and the
    start of the text matrix, built once after each state change, then its
    positions and text. Every cell still writes its own colour and font
    operators: the output is unchanged.
    """

    def __init__(self) -> None:
        self.l_margin = 10.0
        self.t_margin = 10.0
        self.r_margin = 10.0
        self.b_margin = 15.0
        self._pages: list[list[str]] = []   # content stream ops per page
        self._buf: list[str] = []
        self.x = self.l_margin
        self.y = self.t_margin
        self._style = ""
        self._size = 10.0
        self._font_op = "/F1 10.00 Tf"
        self._text_op = self._fill_op = _rg(0, 0, 0)
        self._text_head = ""   # BT + colour + font + matrix start; "" = stale
        self._in_footer = False

    # -- state ------------------------------------------------------------

    @property
    def epw(self) -> float:
        return _PAGE_W_MM - self.l_margin - self.r_margin

    def page_no(self) -> int:
        return len(self._pages)

    def set_font(self, style: str = "", size: float | None = None) -> None:
        if size is not None:
            self._size = float(size)
        self._style, self._font_op = _font_state(style, self._size)
        self._text_head = ""

    def set_text_color(self, r: int, g: int = None, b: int = None) -> None:  # type: ignore[assignment]
        if g is None:
            g = b = r
        self._text_op = _rg(r, g, b)
        self._text_head = ""

    def set_fill_color(self, r: int, g: int = None, b: int = None) -> None:  # type: ignore[assignment]
        if g is None:
            g = b = r
        self._fill_op = _rg(r, g, b)

    def get_y(self) -> float:
        return self.y

    # -- layout -----------------------------------------------------------

    def header(self) -> None:  # override like fpdf
        pass

    def footer(self) -> None:  # override like fpdf
        pass

    def set_y(self, y: float) -> None:
        # fpdf semantics: negative y measures up from the bottom edge
        self.y = _PAGE_H_MM + y if y < 0 else y
        self.x = self.l_margin

    def add_page(self) -> None:
        if self._pages:
            self._close_page()
        self._buf = []
        self._pages.append(self._buf)
        self.x, self.y = self.l_margin, self.t_margin
        self.header()

    def _close_page(self) -> None:
        saved = (self.x, self.y, self._style, self._size, self._font_op,
                 self._text_op)
        self._in_footer = True
        self.footer()
        self._in_footer = False
        (self.x, self.y, self._style, self._size, self._font_op,
         self._text_op) = saved
        self._text_head = ""

    def ln(self, h: float | None = None) -> None:
        self.y += h if h is not None else self._size / _K
        self.x = self.l_margin

    def _text_width(self, txt: str) -> float:
        units = sum(map(_FONTS[self._style][2].get, txt, repeat(556)))
        return units * self._size / 1000.0 / _K  # mm

    def cell(self, w: float, h: float, txt: str = "", ln: int = 0,
             align: str = "L", fill: bool = False, border: int = 0) -> None:
        if (not self._in_footer
                and self.y + h > _PAGE_H_MM - self.b_margin):
            self.add_page()
        if w == 0:
            w = self.epw - (self.x - self.l_margin)
        # one buffer entry may hold several lines: pages join on "\n"
        if fill:
            self._buf.append(f"{self._fill_op}\n{self.x * _K:.2f} "
                             f"{(_PAGE_H_MM - self.y - h) * _K:.2f} "
                             f"{w * _K:.2f} {h * _K:.2f} re f")
        if txt:
            if align == "C":
                tx = self.x + (w - self._text_width(txt)) / 2.0
            elif align == "R":
                tx = self.x + w - self._text_width(txt) - 1.0
            else:
                tx = self.x + 1.0
            # baseline: vertical center plus the usual 0.3em descender shim
            ty = self.y + 0.5 * h + 0.3 * self._size / _K
            head = self._text_head
            if not head:  # colour and font as set now
                head = self._text_head = (
                    f"BT\n{self._text_op}\n{self._font_op}\n1 0 0 1 ")
            self._buf.append(f"{head}{tx * _K:.2f} "
                             f"{(_PAGE_H_MM - ty) * _K:.2f} Tm\n"
                             f"({_esc(txt)}) Tj\nET")
        if ln:
            self.y += h
            self.x = self.l_margin
        else:
            self.x += w

    # -- assembly ---------------------------------------------------------

    def output(self) -> bytes:
        if not self._pages:
            self.add_page()
        self._close_page()
        nb = str(len(self._pages))

        objs: list[bytes] = []  # 1-indexed object bodies

        def add(body: bytes) -> int:
            objs.append(body)
            return len(objs)

        font_ids = {}
        for style, (res, base, _w) in _FONTS.items():
            font_ids[res] = add(
                f"<< /Type /Font /Subtype /Type1 /BaseFont /{base} "
                f"/Encoding /WinAnsiEncoding >>".encode())
        res_dict = ("<< /Font << "
                    + " ".join(f"/{res} {oid} 0 R"
                               for res, oid in font_ids.items())
                    + " >> >>")

        page_ids = []
        pages_id = len(objs) + 2 * len(self._pages) + 1  # after streams+pages
        for ops in self._pages:
            raw = "\n".join(ops).replace("{nb}", nb).encode("latin-1")
            comp = zlib.compress(raw)
            sid = add(b"<< /Length " + str(len(comp)).encode()
                      + b" /Filter /FlateDecode >>\nstream\n" + comp
                      + b"\nendstream")
            page_ids.append(add(
                f"<< /Type /Page /Parent {pages_id} 0 R "
                f"/MediaBox [0 0 {_PAGE_W_MM * _K:.2f} {_PAGE_H_MM * _K:.2f}] "
                f"/Resources {res_dict} /Contents {sid} 0 R >>".encode()))
        kids = " ".join(f"{pid} 0 R" for pid in page_ids)
        real_pages_id = add(f"<< /Type /Pages /Kids [{kids}] "
                            f"/Count {len(page_ids)} >>".encode())
        assert real_pages_id == pages_id
        cat_id = add(f"<< /Type /Catalog /Pages {pages_id} 0 R >>".encode())

        out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets = [0]
        for i, body in enumerate(objs, start=1):
            offsets.append(len(out))
            out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_at = len(out)
        out += f"xref\n0 {len(objs) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += f"{off:010d} 00000 n \n".encode()
        out += (f"trailer\n<< /Size {len(objs) + 1} /Root {cat_id} 0 R >>\n"
                f"startxref\n{xref_at}\n%%EOF\n").encode()
        return bytes(out)


class AssessmentPdf(MiniPdf):
    """Report chrome — header/footer per reference `app.py:28-46`."""

    def __init__(self, generated_at: str = "") -> None:
        super().__init__()
        self.generated_at = generated_at

    def header(self) -> None:
        self.set_font("B", 20)
        self.set_text_color(99, 102, 241)           # indigo
        self.cell(0, 10, "DB2ICE Assessment Report", ln=True, align="C")
        self.set_font("", 10)
        self.set_text_color(100, 116, 139)          # slate
        self.cell(0, 6, f"Generated: {self.generated_at}", ln=True,
                  align="C")
        self.ln(10)

    def footer(self) -> None:
        self.set_y(-15)
        self.set_font("I", 8)
        self.set_text_color(148, 163, 184)
        self.cell(0, 10, f"Page {self.page_no()}/{{nb}} - DB2ICE",
                  align="C")


_LEVEL_STYLE = {
    ReadinessLevel.GREEN: ((16, 185, 129), "Ready to Convert",
                           "Auto-convertible"),
    ReadinessLevel.YELLOW: ((245, 158, 11), "Review Recommended",
                            "Needs Review"),
    ReadinessLevel.RED: ((239, 68, 68), "Action Required", "Blocked"),
}


def _trunc(text: str, n: int) -> str:
    return text if len(text) <= n else text[:n - 3] + "..."


def _issue_block(pdf: MiniPdf, issue) -> None:
    """One issue: [CODE] / message / location / suggestion
    (reference `app.py:130-160`)."""
    pdf.set_font("B", 9)
    pdf.cell(0, 5, f"[{issue.code}]", ln=True)
    pdf.set_font("", 9)
    pdf.cell(0, 4, f"  {_trunc(issue.message, 100)}", ln=True)
    if issue.table_name:
        location = f"  Location: {issue.table_name}"
        if issue.column_name:
            location += f" -> {issue.column_name}"
        pdf.set_text_color(100, 116, 139)
        pdf.cell(0, 4, location, ln=True)
        pdf.set_text_color(15, 23, 42)
    if issue.suggestion:
        pdf.set_text_color(22, 101, 52)
        pdf.cell(0, 4, f"  Suggestion: {_trunc(issue.suggestion, 80)}",
                 ln=True)
        pdf.set_text_color(15, 23, 42)
    pdf.ln(2)


def generate_assessment_pdf(report: AssessmentReport,
                            generated_at: str = "") -> bytes:
    """Render an :class:`AssessmentReport` as PDF bytes.

    Section-for-section port of the reference's ``generate_assessment_pdf``
    (`app.py:49-260`): score box, score breakdown, summary statistics,
    critical/warning/info issue lists, and the per-table analysis page.
    ``generated_at`` is a caller-supplied timestamp string (the engine
    never reads the wall clock — determinism protocol).
    """
    pdf = AssessmentPdf(generated_at)
    pdf.add_page()

    pdf.set_font("B", 16)
    pdf.set_text_color(15, 23, 42)
    pdf.cell(0, 10, "Migration Readiness Score", ln=True)

    color, status, _ = _LEVEL_STYLE[report.overall_level]
    pdf.set_fill_color(*color)
    pdf.set_text_color(255, 255, 255)
    pdf.set_font("B", 24)
    pdf.cell(50, 20, f"{report.overall_score:.0f}%", align="C", fill=True)
    pdf.set_font("B", 12)
    pdf.set_text_color(15, 23, 42)
    pdf.cell(0, 20, f"  {status}", ln=True)
    pdf.ln(5)

    pdf.set_font("B", 12)
    pdf.cell(0, 8, "Score Breakdown:", ln=True)
    pdf.set_font("", 10)
    for name, score in (("Data Types", report.datatype_score),
                        ("Constraints", report.constraint_score),
                        ("Partitions", report.partition_score),
                        ("Special Features", report.special_features_score)):
        pdf.cell(60, 6, f"  {name}:")
        pdf.cell(0, 6, f"{score:.0f}%", ln=True)
    pdf.ln(5)

    pdf.set_font("B", 14)
    pdf.cell(0, 10, "Summary Statistics", ln=True)
    pdf.set_font("", 10)
    for name, value in (("Total Tables", report.tables_total),
                        ("Auto-convertible (Green)", report.tables_auto),
                        ("Need Review (Yellow)", report.tables_manual),
                        ("Blocked (Red)", report.tables_blocked),
                        ("Total Columns", report.total_columns),
                        ("Total Constraints", report.total_constraints)):
        pdf.cell(70, 6, f"  {name}:")
        pdf.cell(0, 6, str(value), ln=True)
    pdf.ln(5)

    if report.critical_issues:
        pdf.set_font("B", 14)
        pdf.set_text_color(239, 68, 68)
        pdf.cell(0, 10, f"Critical Issues ({len(report.critical_issues)})",
                 ln=True)
        pdf.set_font("I", 9)
        pdf.set_text_color(100, 116, 139)
        pdf.cell(0, 5, "These must be resolved before migration", ln=True)
        pdf.ln(2)
        pdf.set_text_color(15, 23, 42)
        for issue in report.critical_issues:
            _issue_block(pdf, issue)
        pdf.ln(3)

    if report.warnings:
        pdf.set_font("B", 14)
        pdf.set_text_color(245, 158, 11)
        pdf.cell(0, 10, f"Warnings ({len(report.warnings)})", ln=True)
        pdf.set_text_color(15, 23, 42)
        for issue in report.warnings:
            _issue_block(pdf, issue)
        pdf.ln(3)

    if report.info_items:
        pdf.set_font("B", 14)
        pdf.set_text_color(99, 102, 241)
        pdf.cell(0, 10, f"Information ({len(report.info_items)})", ln=True)
        pdf.set_font("", 9)
        pdf.set_text_color(15, 23, 42)
        for issue in report.info_items:
            pdf.cell(0, 4, _trunc(f"[{issue.code}] {issue.message}", 110),
                     ln=True)
        pdf.ln(3)

    if report.table_assessments:
        pdf.add_page()
        pdf.set_font("B", 16)
        pdf.set_text_color(15, 23, 42)
        pdf.cell(0, 10, "Table-by-Table Analysis", ln=True)
        pdf.ln(3)
        for ta in report.table_assessments:
            if pdf.get_y() > 250:
                pdf.add_page()
            color, _, status_text = _LEVEL_STYLE[ta.readiness_level]
            pdf.set_fill_color(*color)
            pdf.set_text_color(255, 255, 255)
            pdf.set_font("B", 11)
            pdf.cell(0, 8, f"  {ta.full_name}", ln=True, fill=True)
            pdf.set_text_color(15, 23, 42)
            pdf.set_font("", 9)
            pdf.cell(0, 5,
                     f"    Score: {ta.readiness_score:.0f}% | "
                     f"Status: {status_text} | Columns: {ta.column_count} | "
                     f"Constraints: {ta.constraint_count}", ln=True)
            if ta.issues:
                pdf.set_font("", 8)
                pdf.cell(0, 4, f"    Issues ({len(ta.issues)}):", ln=True)
                for issue in ta.issues:
                    pdf.cell(0, 3.5,
                             _trunc(f"      - [{issue.code}] "
                                    f"{issue.message}", 90), ln=True)
                    if issue.suggestion:
                        pdf.set_text_color(22, 101, 52)
                        pdf.cell(0, 3.5,
                                 _trunc(f"        Suggestion: "
                                        f"{issue.suggestion}", 80), ln=True)
                        pdf.set_text_color(15, 23, 42)
            pdf.ln(2)

    return pdf.output()
