"""S7 — document-to-text ingest stage (SURVEY §2.1).

The reference vendors a ~1,650-LoC markdown-conversion library covering
pdf/docx/pptx/xlsx/html/ipynb/rss/wav/mp3/zip (analisis-informe.ipynb:2806
c82). This module implements txt/md/html/csv/json extraction, the OOXML
family (docx/pptx/xlsx — zip+XML, so stdlib-only like sources.xlsx), and
Flate/raw pdf text extraction (zlib is stdlib) over an Arrow-batched
stage on Spark's binaryFile source — the out-of-core ingest shape (bytes
in executors, text out, no driver round-trip). Formats that genuinely
need codec libraries absent from this container (images, audio, scanned
pdfs) route to operators.multimodal's stubbed decode path with
converted=false.
"""

from __future__ import annotations

import csv
import html as html_mod
import io
import json
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TEXT_FORMATS = (
    "txt", "md", "html", "htm", "csv", "json", "ipynb", "rss", "atom", "xml",
)

_SCRIPT_RE = re.compile(r"(?is)<(script|style)[^>]*>.*?</\1>")
_TAG_RE = re.compile(r"(?s)<[^>]+>")
_WS_RE = re.compile(r"[ \t\f\v]+")
_NL_RE = re.compile(r"\n{3,}")


def html_to_text(raw: str) -> str:
    """Strip script/style blocks, tags, entities; collapse whitespace."""
    s = _SCRIPT_RE.sub(" ", raw)
    s = _TAG_RE.sub(" ", s)
    s = html_mod.unescape(s)
    s = _WS_RE.sub(" ", s)
    return _NL_RE.sub("\n\n", s).strip()


def csv_to_text(raw: str) -> str:
    """Rows → 'col: val' lines, the flat-text form the reference's Excel/CSV
    converters emit for indexing."""
    rows = list(csv.reader(io.StringIO(raw)))
    if not rows:
        return ""
    header, *data = rows
    if not data:
        return ", ".join(header)
    out = []
    for row in data:
        out.append(", ".join(f"{h}: {v}" for h, v in zip(header, row)))
    return "\n".join(out)


def json_to_text(raw: str) -> str:
    """Flatten scalar leaves to 'path: value' lines."""
    try:
        obj = json.loads(raw)
    except json.JSONDecodeError:
        return raw.strip()
    lines: list[str] = []

    def walk(node, path):
        if isinstance(node, dict):
            for k, v in node.items():
                walk(v, f"{path}.{k}" if path else str(k))
        elif isinstance(node, list):
            for i, v in enumerate(node):
                walk(v, f"{path}[{i}]")
        elif node is not None:
            lines.append(f"{path}: {node}")

    walk(obj, "")
    return "\n".join(lines)


def _ooxml_runs(root, local_tag: str) -> list[str]:
    """Text runs of one OOXML part, namespace-agnostic."""
    return [
        t.text or ""
        for t in root.iter()
        if t.tag.endswith("}" + local_tag) or t.tag == local_tag
    ]


def docx_to_text(payload: bytes) -> str:
    """Word document → paragraphs (word/document.xml <w:p>/<w:t> runs).

    OOXML is zip+XML, so like the xlsx codec this is stdlib-only — the
    reference's vendored converter reaches the same text through
    python-docx (analisis-informe.ipynb:2806 c82)."""
    import zipfile
    from xml.etree import ElementTree as ET

    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        root = ET.fromstring(z.read("word/document.xml"))
    paras = []
    for p in root.iter():
        if p.tag.endswith("}p"):
            runs = _ooxml_runs(p, "t")
            if any(runs):
                paras.append("".join(runs))
    return "\n".join(paras).strip()


def pptx_to_text(payload: bytes) -> str:
    """PowerPoint deck → slide texts (ppt/slides/slideN.xml <a:t> runs),
    slides in numeric order, one blank line between slides."""
    import re as _re
    import zipfile
    from xml.etree import ElementTree as ET

    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        slide_names = sorted(
            (n for n in z.namelist()
             if _re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            key=lambda n: int(_re.search(r"(\d+)\.xml$", n).group(1)),
        )
        slides = []
        for name in slide_names:
            runs = _ooxml_runs(ET.fromstring(z.read(name)), "t")
            if any(runs):
                slides.append("\n".join(r for r in runs if r))
    return "\n\n".join(slides).strip()


def xlsx_to_text(payload: bytes) -> str:
    """Workbook → the same 'col: val' flat-text lines as csv_to_text,
    through the stdlib xlsx codec (sources.xlsx handles inline + shared
    strings, so real-Excel files parse too)."""
    from . import xlsx as xlsx_mod

    header, rows = xlsx_mod.read_xlsx(io.BytesIO(payload))  # type: ignore[arg-type]
    if not rows:
        return ", ".join(str(h) for h in header)
    return "\n".join(
        ", ".join(f"{h}: {'' if v is None else v}" for h, v in zip(header, row))
        for row in rows
    )


def ipynb_to_text(raw: str) -> str:
    """Notebook JSON → markdown cells verbatim + code cells fenced, in
    order (the reference's converter emits the same md-ish stream)."""
    try:
        nb = json.loads(raw)
    except json.JSONDecodeError:
        return raw.strip()
    parts = []
    for cell in nb.get("cells", []):
        src = "".join(cell.get("source", []))
        if not src.strip():
            continue
        if cell.get("cell_type") == "markdown":
            parts.append(src.strip())
        elif cell.get("cell_type") == "code":
            parts.append(f"```\n{src.strip()}\n```")
    return "\n\n".join(parts)


def rss_to_text(raw: str) -> str:
    """RSS/Atom feed → 'title: description' lines per item, tags
    namespace-agnostic, entity-unescaped, any HTML stripped."""
    from xml.etree import ElementTree as ET

    try:
        root = ET.fromstring(raw)
    except ET.ParseError:
        return ""
    lines = []
    for item in root.iter():
        if not (item.tag.endswith("item") or item.tag.endswith("entry")):
            continue
        title = desc = ""
        for child in item:
            tag = child.tag.rsplit("}", 1)[-1]
            if tag == "title":
                title = (child.text or "").strip()
            elif tag in ("description", "summary", "content"):
                desc = html_to_text(child.text or "")
        if title or desc:
            lines.append(f"{title}: {desc}" if desc else title)
    # generic (non-feed) XML: fall back to tag-stripped text
    return "\n".join(lines) if lines else html_to_text(raw)


def zip_to_text(payload: bytes) -> str | None:
    """Zip container → converted members concatenated with
    '=== <name> ===' separators. Strictly ONE nesting level (zip members
    inside a zip are skipped — no recursion, no zip-bomb surface),
    mirroring the reference's archive walk. Members whose format needs
    an absent codec are skipped; an archive with NO convertible member
    is unconverted."""
    import zipfile

    try:
        z = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile:
        return None
    parts = []
    with z:
        for name in z.namelist():
            if name.endswith("/"):
                continue
            fmt = name.rsplit(".", 1)[-1].lower() if "." in name else ""
            if fmt == "zip":
                continue
            text = convert_payload(fmt, z.read(name))
            if text:
                parts.append(f"=== {name} ===\n{text}")
    return "\n\n".join(parts) if parts else None


def _pdf_literal_string(s: str, i: int) -> tuple[str, int]:
    """Decode one PDF literal string starting at s[i] == '('.

    Handles the standard escapes (\\n \\r \\t \\b \\f \\( \\) \\\\,
    octal \\ddd, backslash-newline continuation) and balanced nested
    parens. Returns (decoded, index past the closing paren)."""
    assert s[i] == "("
    out: list[str] = []
    depth = 1
    i += 1
    n = len(s)
    esc = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
           "(": "(", ")": ")", "\\": "\\"}
    while i < n:
        c = s[i]
        if c == "\\":
            i += 1
            if i >= n:
                break
            e = s[i]
            if e in esc:
                out.append(esc[e])
                i += 1
            elif e in "01234567":  # octal, up to 3 OCTAL digits only —
                # \8, \9 (and unicode digits) are unknown escapes per the
                # spec, and \08 is octal \0 followed by a literal '8'
                j = i
                while j < n and j < i + 3 and s[j] in "01234567":
                    j += 1
                out.append(chr(int(s[i:j], 8) & 0xFF))
                i = j
            elif e == "\n":  # line continuation
                i += 1
            elif e == "\r":
                i += 2 if i + 1 < n and s[i + 1] == "\n" else 1
            else:  # unknown escape: backslash dropped per spec
                out.append(e)
                i += 1
        elif c == "(":
            depth += 1
            out.append(c)
            i += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out), i


def _pdf_content_text(data: bytes) -> str:
    """Text shown by one PDF content stream: literal/hex strings drawn by
    Tj / ' / \" / TJ, with line breaks at the text-positioning operators
    (Td, TD, T*, and the quote ops) and at ET. Kern-based spacing inside
    TJ arrays is ignored — adjacent array strings concatenate."""
    s = data.decode("latin-1", errors="replace")
    lines: list[str] = []
    cur: list[str] = []
    pending: list[str] = []
    i, n = 0, len(s)

    def flush_line():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    while i < n:
        c = s[i]
        if c == "(":
            text, i = _pdf_literal_string(s, i)
            pending.append(text)
        elif c == "<" and i + 1 < n and s[i + 1] != "<":
            j = s.find(">", i + 1)
            if j == -1:
                # unterminated hex string (truncated/malformed stream):
                # skip this token only — breaking would discard all text
                # after it
                i += 1
                continue
            hx = re.sub(r"\s", "", s[i + 1 : j])
            if len(hx) % 2:
                hx += "0"
            try:
                pending.append(bytes.fromhex(hx).decode("latin-1"))
            except ValueError:
                pass
            i = j + 1
        elif c.isalpha() or c in "'\"*":
            j = i
            while j < n and (s[j].isalpha() or s[j] in "'\"*"):
                j += 1
            op = s[i:j]
            if op in ("Tj", "TJ"):
                cur.extend(pending)
                pending.clear()
            elif op in ("'", '"'):  # move to next line, then show
                flush_line()
                cur.extend(pending)
                pending.clear()
            elif op in ("Td", "TD", "T*", "ET"):
                pending.clear()
                flush_line()
            elif op == "BT":
                pending.clear()
            i = j if j > i else i + 1
        else:
            i += 1
    flush_line()
    return "\n".join(lines)


_PDF_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)
_PDF_SKIP_FILTERS = (
    b"/DCTDecode", b"/CCITTFaxDecode", b"/JPXDecode", b"/JBIG2Decode",
    b"/LZWDecode", b"/ASCII85Decode", b"/ASCIIHexDecode", b"/RunLengthDecode",
)


def pdf_to_text(payload: bytes) -> str | None:
    """PDF → text, pure python (SURVEY §2.1 S7; the reference converts pdf
    through its vendored markdown library, analisis-informe.ipynb:2806 c82).

    Covers the machine-generated-pdf case: content streams stored raw or
    FlateDecode-compressed (zlib is stdlib). Each stream is inflated with
    a decompressobj anchored at the stream keyword — robust to binary
    data that happens to contain 'endstream' — and mined for BT/ET text
    operators. Streams using image/legacy filters are skipped; a PDF
    whose streams yield no text returns None (→ converted=false, the
    scanned-image route, where the reference hands off to its OCR
    pipeline — see operators.multimodal)."""
    import zlib

    if not payload.lstrip()[:5].startswith(b"%PDF"):
        return None
    texts: list[str] = []
    for m in _PDF_STREAM_RE.finditer(payload):
        head, start = m.group(1), m.end()
        if b"/FlateDecode" in head:
            d = zlib.decompressobj()
            try:
                data = d.decompress(payload[start:])
            except zlib.error:
                continue
        elif any(f in head for f in _PDF_SKIP_FILTERS):
            continue
        else:  # unfiltered: trust the non-greedy endstream boundary
            end = payload.find(b"endstream", start)
            if end == -1:
                continue
            data = payload[start:end]
        if b"BT" not in data:
            continue
        text = _pdf_content_text(data)
        if text:
            texts.append(text)
    # ASCII-whitespace strip only (not str.strip()'s unicode set) so the
    # DuckDB oracle can mirror it with a chr()-list trim
    out = "\n".join(texts).strip(" \t\n\r\f\v")
    return out or None


def text_to_pdf(text: str) -> bytes:
    """Minimal valid single-page PDF with a FlateDecode content stream —
    the sink side of the pdf roundtrip (S7 value check). One Tj per input
    line with T* line advances; characters outside latin-1 are written as
    '?' (PDF literal strings are byte strings), so extracted length always
    equals input length."""
    import zlib

    def esc(line: str) -> str:
        b = line.encode("latin-1", errors="replace").decode("latin-1")
        return (
            b.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        )

    body = "".join(f"({esc(l)}) Tj T*\n" for l in text.split("\n"))
    content = f"BT /F1 10 Tf 36 756 Td 12 TL\n{body}ET".encode("latin-1")
    stream = zlib.compress(content)

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (len(stream), stream),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = io.BytesIO()
    out.write(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(out.tell())
        out.write(b"%d 0 obj\n" % i)
        out.write(obj)
        out.write(b"\nendobj\n")
    xref_at = out.tell()
    out.write(b"xref\n0 %d\n" % (len(objs) + 1))
    out.write(b"0000000000 65535 f \n")
    for off in offsets:
        out.write(b"%010d 00000 n \n" % off)
    out.write(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return out.getvalue()


OOXML_FORMATS = ("docx", "pptx", "xlsx")


def convert_payload(fmt: str, payload: bytes) -> str | None:
    """Dispatch one document; None for formats needing absent codecs
    (media formats, and pdfs whose text needs image decoding — those
    route to operators.multimodal)."""
    fmt = (fmt or "").lower().lstrip(".")
    if fmt == "pdf":
        try:
            return pdf_to_text(payload)
        except Exception:  # malformed container → unconverted route
            return None
    if fmt in OOXML_FORMATS:
        try:
            if fmt == "docx":
                return docx_to_text(payload)
            if fmt == "pptx":
                return pptx_to_text(payload)
            return xlsx_to_text(payload)
        except Exception:  # corrupt/encrypted container → unconverted route
            return None
    if fmt == "zip":
        return zip_to_text(payload)
    if fmt not in TEXT_FORMATS:
        return None
    raw = payload.decode("utf-8", errors="replace")
    if fmt in ("html", "htm"):
        return html_to_text(raw)
    if fmt == "csv":
        return csv_to_text(raw)
    if fmt == "json":
        return json_to_text(raw)
    if fmt == "ipynb":
        return ipynb_to_text(raw)
    if fmt in ("rss", "atom", "xml"):
        return rss_to_text(raw)
    return raw.strip()  # txt / md


CONVERTED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_chars", T.IntegerType()),
        T.StructField("converted", T.BooleanType()),
    ]
)


def read_binary_docs(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """binaryFile scan: (path, modificationTime, length, content)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def convert_documents(binary_df: DataFrame) -> DataFrame:
    """The ingest stage: binaryFile rows → (path, fmt, text, n_chars,
    converted). Non-text formats pass through with converted=false so the
    pipeline can route them to the multimodal path instead of dropping them
    silently."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fmts, texts, ns, oks = [], [], [], []
            for p, content in zip(pdf["path"], pdf["content"]):
                fmt = p.rsplit(".", 1)[-1].lower() if "." in p else ""
                text = convert_payload(fmt, bytes(content) if content is not None else b"")
                fmts.append(fmt)
                texts.append(text)
                ns.append(len(text) if text is not None else 0)
                oks.append(text is not None)
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "fmt": fmts,
                    "text": texts,
                    "n_chars": ns,
                    "converted": oks,
                }
            )

    return binary_df.select("path", "content").mapInPandas(
        batches, schema=CONVERTED_SCHEMA
    )
