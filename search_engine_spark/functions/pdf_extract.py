"""PDF -> text extraction (F2, reference service/build_text_index.py:130-141).

The reference concatenates PyPDF2 per-page text with spaces, then
whitespace-collapses (clean_text). When pypdf/PyPDF2 is importable it is
used unchanged (the reference's dependency); otherwise a STDLIB kernel
parses the PDF directly — no third-party library:

- objects located by ``N G obj`` headers (no xref needed; works on
  linearized and hand-written files alike),
- page order from the document catalog's page tree (``/Catalog`` ->
  ``/Pages`` -> ``/Kids``, recursively), falling back to ``/Type /Page``
  appearance order when the catalog is absent/damaged,
- content streams decompressed with ``zlib`` for ``/FlateDecode``
  (uncompressed streams pass through; other filters are skipped),
- text pulled from the content stream's show operators — ``Tj``, ``TJ``,
  ``'``, ``"`` with ``T*`` line breaks — mirroring PyPDF2 1.x's
  ``extractText`` operator handling. Literal strings handle the full
  escape set (octal, line continuations, nested parens) and UTF-16BE
  BOMs; hex strings assume byte-per-char encodings.

This approximates extract_text for the simple text-first PDFs the
reference ingests; CID-keyed composite fonts and exotic filters are out
of scope (such strings decode to their raw bytes or are skipped). The
final whitespace collapse makes newline-placement differences between
PyPDF2 versions immaterial.
"""

from __future__ import annotations

import io
import re
import zlib

_WS_RE = re.compile(r"\s+")


def _pdf_reader():
    try:
        from pypdf import PdfReader  # modern name

        return PdfReader
    except ImportError:
        try:
            from PyPDF2 import PdfReader  # reference's dependency

            return PdfReader
        except ImportError:
            return None


# --------------------------------------------------------------- stdlib kernel

_OBJ_HEADER_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R\b")
_STREAM_RE = re.compile(rb"stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)")


def _parse_objects(payload: bytes) -> dict[int, bytes]:
    """obj number -> raw body bytes (header..next header/trailer).

    Slicing to the NEXT object header (not the first ``endobj``) keeps
    binary stream data containing the bytes ``endobj`` intact.
    """
    headers = list(_OBJ_HEADER_RE.finditer(payload))
    objs: dict[int, bytes] = {}
    for idx, m in enumerate(headers):
        end = headers[idx + 1].start() if idx + 1 < len(headers) else len(payload)
        objs.setdefault(int(m.group(1)), payload[m.end() : end])
    return objs


def _object_stream(body: bytes) -> bytes | None:
    """Decoded stream content of an object body, or None if streamless."""
    sm = _STREAM_RE.search(body)
    if sm is None:
        return None
    head = body[: sm.start()]
    data = body[sm.end() :]
    lm = _LENGTH_RE.search(head)
    if lm is not None and int(lm.group(1)) <= len(data):
        data = data[: int(lm.group(1))]
    else:
        e = data.rfind(b"endstream")
        if e >= 0:
            data = data[:e]
        data = data.rstrip(b"\r\n")
    if b"/FlateDecode" in head:
        try:
            return zlib.decompress(data)
        except zlib.error:
            return None
    if b"/Filter" in head:  # unsupported filter (DCT, LZW, ...)
        return None
    return data


def _page_order(objs: dict[int, bytes]) -> list[int]:
    """Page object numbers in reading order via the catalog's page tree."""
    catalog = next(
        (b for b in objs.values() if re.search(rb"/Type\s*/Catalog\b", b)), None
    )
    order: list[int] = []
    if catalog is not None:
        pm = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", catalog)
        if pm is not None:
            seen: set[int] = set()

            def walk(num: int) -> None:
                if num in seen or num not in objs:
                    return
                seen.add(num)
                body = objs[num]
                if re.search(rb"/Type\s*/Pages\b", body):
                    km = re.search(rb"/Kids\s*\[(.*?)\]", body, re.S)
                    if km is not None:
                        for r in _REF_RE.finditer(km.group(1)):
                            walk(int(r.group(1)))
                elif re.search(rb"/Type\s*/Page\b", body):
                    order.append(num)

            walk(int(pm.group(1)))
    if not order:  # damaged/absent catalog: appearance order
        order = [n for n, b in objs.items() if re.search(rb"/Type\s*/Page\b", b)]
    return order


def _page_content(objs: dict[int, bytes], page_num: int) -> bytes:
    body = objs.get(page_num, b"")
    cm = re.search(rb"/Contents\s*(\[(?:[^\]]*)\]|\d+\s+\d+\s+R)", body)
    if cm is None:
        return b""
    parts: list[bytes] = []
    for r in _REF_RE.finditer(cm.group(1)):
        s = _object_stream(objs.get(int(r.group(1)), b""))
        if s:
            parts.append(s)
    return b"\n".join(parts)


def _decode_pdf_string(buf: bytes) -> str:
    if buf[:2] == b"\xfe\xff":
        try:
            return buf[2:].decode("utf-16-be", errors="ignore")
        except UnicodeDecodeError:  # pragma: no cover - ignore never raises
            return ""
    return buf.decode("latin-1")


_OCTAL = b"01234567"
_ESCAPES = {
    ord("n"): b"\n",
    ord("r"): b"\r",
    ord("t"): b"\t",
    ord("b"): b"\b",
    ord("f"): b"\f",
    ord("("): b"(",
    ord(")"): b")",
    ord("\\"): b"\\",
}


def _parse_literal_string(data: bytes, i: int) -> tuple[str, int]:
    """Parse ``(...)`` starting at data[i] == '('; returns (text, next_i)."""
    n = len(data)
    i += 1
    depth = 1
    buf = bytearray()
    while i < n and depth > 0:
        c = data[i]
        if c == 0x5C:  # backslash
            if i + 1 >= n:
                break
            nxt = data[i + 1]
            if nxt in _ESCAPES:
                buf += _ESCAPES[nxt]
                i += 2
            elif nxt in _OCTAL:
                j = i + 1
                oct_digits = bytearray()
                while j < n and len(oct_digits) < 3 and data[j] in _OCTAL:
                    oct_digits.append(data[j])
                    j += 1
                buf.append(int(oct_digits.decode(), 8) & 0xFF)
                i = j
            elif nxt in (0x0A, 0x0D):  # line continuation
                i += 2
                if nxt == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: backslash dropped
                buf.append(nxt)
                i += 2
        elif c == 0x28:  # (
            depth += 1
            buf.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth > 0:
                buf.append(c)
            i += 1
        else:
            buf.append(c)
            i += 1
    return _decode_pdf_string(bytes(buf)), i


def _parse_hex_string(data: bytes, i: int) -> tuple[str, int]:
    """Parse ``<...>`` starting at data[i] == '<'."""
    e = data.find(b">", i + 1)
    if e < 0:
        return "", len(data)
    hx = re.sub(rb"\s+", b"", data[i + 1 : e])
    if len(hx) % 2:
        hx += b"0"
    try:
        return _decode_pdf_string(bytes.fromhex(hx.decode("ascii"))), e + 1
    except ValueError:
        return "", e + 1


_OP_CHARS = frozenset(b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ'\"*")


def _content_text(data: bytes) -> str:
    """Text shown by a content stream's Tj/TJ/'/\"/T* operators."""
    out: list[str] = []
    strings: list[str] = []  # string operands since the last operator
    array: list[str] | None = None
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        if c == 0x25:  # % comment to EOL
            e = data.find(b"\n", i)
            i = n if e < 0 else e + 1
        elif c == 0x28:  # (
            s, i = _parse_literal_string(data, i)
            (array if array is not None else strings).append(s)
        elif c == 0x3C:  # <
            if i + 1 < n and data[i + 1] == 0x3C:  # << dict
                i += 2
            else:
                s, i = _parse_hex_string(data, i)
                (array if array is not None else strings).append(s)
        elif c == 0x5B:  # [
            array = []
            i += 1
        elif c == 0x5D:  # ]
            if array is not None:
                strings.append("".join(array))
                array = None
            i += 1
        elif c in _OP_CHARS:
            j = i
            while j < n and data[j] in _OP_CHARS:
                j += 1
            op = data[i:j]
            if op == b"Tj":
                out.extend(strings[-1:])
            elif op == b"TJ":
                out.extend(strings[-1:])
                out.append("\n")
            elif op == b"'":
                out.append("\n")
                out.extend(strings[-1:])
            elif op == b'"':
                out.append("\n")
                out.extend(strings[-1:])
            elif op == b"T*":
                out.append("\n")
            elif op == b"BI":  # inline image: skip to EI to protect scanner
                e = data.find(b"EI", j)
                j = n if e < 0 else e + 2
            strings = []
            i = j
        else:
            i += 1
    return "".join(out)


def _pdf_pages_text_stdlib(payload: bytes) -> list[str]:
    """Per-page text from raw PDF bytes using only the stdlib."""
    objs = _parse_objects(payload)
    return [_content_text(_page_content(objs, p)) for p in _page_order(objs)]


# --------------------------------------------------------------------- public


def extract_pdf_text_py(payload: bytes | None) -> str:
    """PDF -> text. Prefers pypdf/PyPDF2 (the reference's dependency);
    falls back to the stdlib kernel. Either way: per-page texts joined
    with a single space, then whitespace-collapsed (reference
    build_text_index.py:130-141 + clean_text)."""
    if not payload:
        return ""
    reader_cls = _pdf_reader()
    try:
        if reader_cls is not None:
            reader = reader_cls(io.BytesIO(bytes(payload)))
            text = " ".join(page.extract_text() or "" for page in reader.pages)
        else:
            text = " ".join(_pdf_pages_text_stdlib(bytes(payload)))
    except Exception:
        return ""
    return _WS_RE.sub(" ", text).strip()
