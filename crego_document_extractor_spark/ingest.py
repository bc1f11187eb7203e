"""Raw byte-stream ingestion → span model (north_star S2).

Two from-scratch ingestion fronts produce the engine's canonical
``documents(doc_id, spans)`` form:

* ``tokenize_html`` — a lightweight HTML tokenizer + block builder:
  tag-class stoplists map <nav>/<footer>/<aside>/ad-classed blocks to
  boilerplate kinds, <h1>-<h6> to heading spans, <img> to media spans,
  and anchors render as markdown links so the downstream link-density
  rule (semantics.is_boilerplate) sees them.  No external parser.
* ``ingest_pdf`` — a from-scratch PDF byte extractor
  (``pdf_text_runs``) yields text runs carrying (page, x, y, width,
  font size); ``pdf_runs_to_spans`` gap-clusters them into lines in
  reading order (page, line, x) and reconstructs heading, table and
  media spans.

Each front is one Arrow-batched ``mapInPandas`` that maps every input
row's payload to its spans: one Python stage, no exchange (beyond the
round-robin spread of a narrow input, ``pipeline.ensure_parallelism``).
"""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Context, Decimal
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .parse import DOCUMENTS_SCHEMA
from .pipeline import ensure_parallelism

# ---------------------------------------------------------------------------
# HTML tokenizer (pure function, shared with tests/oracle use)
# ---------------------------------------------------------------------------

_TOKEN = re.compile(r"<[^>]+>|[^<]+", re.S)
_TAG = re.compile(r"<\s*(/?)\s*([a-zA-Z0-9]+)([^>]*)>", re.S)
_ATTR = re.compile(r"""([a-zA-Z-]+)\s*=\s*("[^"]*"|'[^']*'|[^\s>]+)""")
_WS_RUN = re.compile(r"\s+")

#: container tags whose subtree is boilerplate (tag stoplist)
_BOILER_TAGS = {"nav": "nav", "footer": "footer", "aside": "ad"}
#: class/id substrings marking ad/boilerplate containers
_AD_MARKERS = ("ad", "ads", "advert", "banner", "sponsor", "promo")
_HEADINGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_SKIP_CONTENT = {"script", "style", "noscript", "template", "title"}
_BLOCK_BREAK = {"p", "div", "li", "section", "article", "table", "tr",
                "br", "ul", "ol", "main", "body", "header"} | _HEADINGS


def _attrs(raw: str) -> dict:
    return {k.lower(): v.strip("\"'") for k, v in _ATTR.findall(raw)}


def _is_ad_class(attrs: dict) -> bool:
    blob = (attrs.get("class", "") + " " + attrs.get("id", "")).lower()
    toks = re.split(r"[\s_-]+", blob)
    return any(t in _AD_MARKERS for t in toks)


def tokenize_html(html: str) -> list[dict]:
    """HTML → ordered spans (kind, text, media_ref, offset)."""
    spans: list[dict] = []
    boiler_stack: list[tuple[str, str]] = []  # (opening tag, kind)
    anchor_stack: list[tuple[str, int]] = []  # (href, buf pos at <a>)
    skip_depth = 0                 # inside script/style/title
    buf: list[str] = []

    def cur_kind(default: str) -> str:
        return boiler_stack[-1][1] if boiler_stack else default

    def wrap_anchor(href: str, pos: int) -> None:
        # wrap buf[pos:] as a markdown link; empty inner text → no link
        if any(t.strip() for t in buf[pos:]):
            buf.insert(pos, "[")
            buf.append(f"]({href})")

    def flush() -> None:
        # anchors still open at a block boundary close here (their
        # remaining inner text re-links after the flush) — no sentinel
        # strings ever enter the emitted text
        for j in range(len(anchor_stack) - 1, -1, -1):
            href, pos = anchor_stack[j]
            wrap_anchor(href, pos)
            anchor_stack[j] = (href, 0)
        text = _WS_RUN.sub(" ", " ".join(buf)).strip()
        buf.clear()
        if not text:
            return
        spans.append({"kind": cur_kind("text"), "text": text,
                      "media_ref": "", "offset": len(spans)})

    def add(kind: str, text: str, media_ref: str = "") -> None:
        flush()
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": len(spans)})

    i = 0
    tokens = _TOKEN.findall(html)
    while i < len(tokens):
        tok = tokens[i]
        i += 1
        if not tok.startswith("<"):
            if skip_depth == 0:
                buf.append(tok)
            continue
        m = _TAG.match(tok)
        if not m:
            continue
        closing, tag, rawattrs = m.group(1) == "/", m.group(2).lower(), m.group(3)
        if tag in _SKIP_CONTENT:
            skip_depth = max(0, skip_depth - 1) if closing else skip_depth + 1
            continue
        if skip_depth:
            continue
        attrs = {} if closing else _attrs(rawattrs)
        if closing and boiler_stack and boiler_stack[-1][0] == tag:
            flush()
            boiler_stack.pop()
            continue
        if tag in _HEADINGS and not closing:
            # collect heading inner text up to the closing tag
            inner: list[str] = []
            while i < len(tokens):
                t2 = tokens[i]
                i += 1
                if t2.startswith("<"):
                    m2 = _TAG.match(t2)
                    if m2 and m2.group(1) == "/" and m2.group(2).lower() == tag:
                        break
                    continue
                inner.append(t2)
            add(cur_kind("heading"), _WS_RUN.sub(" ", " ".join(inner)).strip())
        elif tag == "img":
            add(cur_kind("media"), "", attrs.get("src", ""))
        elif tag == "a" and not closing:
            # record the href + current buffer position; the link is
            # rendered as markdown when the anchor closes (or at the
            # next block flush)
            anchor_stack.append((attrs.get("href", ""), len(buf)))
        elif tag == "a" and closing:
            if anchor_stack:
                href, pos = anchor_stack.pop()
                wrap_anchor(href, pos)
        elif not closing and (tag in _BOILER_TAGS or _is_ad_class(attrs)):
            flush()
            boiler_stack.append((tag, _BOILER_TAGS.get(tag, "ad")))
        elif tag in _BLOCK_BREAK:
            flush()
        # inline tags (span, b, i, ...) accumulate into the buffer
    flush()
    # markdown-link cleanup inside span text: "[ text ](url)" → "[text](url)"
    for s in spans:
        s["text"] = re.sub(r"\[\s+", "[", re.sub(r"\s+\]", "]", s["text"]))
    return spans


def _ingest(raw: DataFrame, to_spans: Callable[[bytes], list]) -> DataFrame:
    """raw(doc_id, payload) → documents(doc_id, spans): one row per
    input row.  A NULL payload is an empty one: its document ingests
    with no spans, never a failed job."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "spans": [
                to_spans(b"" if p is None else bytes(p))
                for p in pdf["payload"]]})
    return ensure_parallelism(raw.select("doc_id", "payload")).mapInPandas(
        batches, schema=DOCUMENTS_SCHEMA)


def ingest_html(raw: DataFrame) -> DataFrame:
    """raw(doc_id string, payload binary) → documents(doc_id, spans)."""
    return _ingest(raw, lambda b: tokenize_html(
        b.decode("utf-8", errors="replace")))


# ---------------------------------------------------------------------------
# PDF bytes → text runs (from-scratch minimal extractor)
# ---------------------------------------------------------------------------
#
# The reference ingests real PDF bytes through a full parsing library
# (parser.py:60-138).  This is a from-scratch minimal extractor for the
# text-run subset the span model needs: uncompressed or FlateDecode
# content streams, BT/ET text objects, Td/TD/Tm/T*/TL positioning and
# Tj/TJ/'/" show operators.  Glyph bytes decode as latin-1 (simple
# fonts); CID/composite fonts are out of scope.

_PDF_OBJ = re.compile(rb"(\d+)\s+\d+\s+obj(.*?)endobj", re.S)
_PDF_STREAM = re.compile(rb"stream\r?\n(.*?)\s*endstream", re.S)
_PDF_REF = re.compile(rb"(\d+)\s+0\s+R")
_STR_ESC = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\"}


def _pdf_objects(data: bytes) -> dict[int, bytes]:
    """All indirect objects by number, scanned lexically (works with
    classic AND xref-stream files — the xref table is never needed for
    discovery because every object body is physically present).  PDF
    1.5+ object streams (/Type/ObjStm) are expanded: their payload is
    `/N` packed objects (dictionaries only — the spec forbids streams
    inside an ObjStm) preceded by `/First` bytes of "objnum offset"
    pairs."""
    objs = {int(m.group(1)): m.group(2) for m in _PDF_OBJ.finditer(data)}
    for body in [b for b in objs.values()
                 if re.search(rb"/Type\s*/ObjStm\b", b)]:
        payload = _obj_stream(body, objs)
        if payload is None:
            continue
        nm = re.search(rb"/N\s+(\d+)", body)
        fm = re.search(rb"/First\s+(\d+)", body)
        if not (nm and fm):
            continue
        first = int(fm.group(1))
        head = payload[:first].split()
        pairs = [(int(head[i]), int(head[i + 1]))
                 for i in range(0, 2 * int(nm.group(1)), 2)
                 if i + 1 < len(head)]
        for k, (num, off) in enumerate(pairs):
            end = (first + pairs[k + 1][1]) if k + 1 < len(pairs) else len(payload)
            objs.setdefault(num, payload[first + off:end])
    return objs


def _obj_stream(body: bytes, objs: dict[int, bytes] | None = None) -> bytes | None:
    """Stream payload of an object body.  The exact extent comes from
    /Length when present (the `(.*?)\\s*endstream` fallback strips
    trailing whitespace-class BYTES that are real deflate data — one
    reference CRIF page ends its stream on 0x0D and decompression
    fails one byte short); /Length may be an indirect reference."""
    ms = re.search(rb"stream\r?\n", body)
    if not ms:
        return None
    candidates: list[bytes] = []
    # Indirect /Length refs may carry ANY generation number ("5 1 R"),
    # not just 0 — matching only " 0 R" misreads the object number as
    # a direct length and slices garbage.
    lm = re.search(rb"/Length\s+(\d+)(\s+\d+\s+R)?", body[:ms.start()])
    if lm:
        if lm.group(2):
            ref = objs.get(int(lm.group(1))) if objs else None
            iv = re.search(rb"\d+", ref) if ref else None
            length = int(iv.group()) if iv else None
        else:
            length = int(lm.group(1))
        if length is not None and ms.end() + length <= len(body):
            candidates.append(body[ms.end():ms.end() + length])
    m = _PDF_STREAM.search(body)
    if m and m.group(1) not in candidates:
        candidates.append(m.group(1))
    if not candidates:
        return None
    if re.search(rb"/Filter\s*(?:\[\s*)?/FlateDecode", body):
        import zlib
        # A wrong /Length (bad ref resolution, corrupt header) fails
        # inflate; fall back to the regex extent before giving up.
        # Strict pass first: the lenient decompressobj path returns
        # truncated output (no error) on a short garbage slice, which
        # would mask a later candidate that inflates cleanly.
        for raw in candidates:
            try:
                return zlib.decompress(raw)
            except zlib.error:
                pass
        for raw in candidates:
            try:  # tolerate over-slice (trailing garbage after deflate)
                return zlib.decompressobj().decompress(raw)
            except zlib.error:
                continue
        return None
    return candidates[0]


def _parse_cmap(text: bytes) -> tuple[int, dict[int, str]]:
    """Minimal /ToUnicode CMap: codespace length + bfchar/bfrange
    mappings (glyph code → unicode)."""
    mapping: dict[int, str] = {}
    codelen = 2
    m = re.search(rb"begincodespacerange(.*?)endcodespacerange", text, re.S)
    if m:
        lo = re.search(rb"<([0-9A-Fa-f]+)>", m.group(1))
        if lo:
            codelen = max(1, len(lo.group(1)) // 2)
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", text, re.S):
        for src, dst in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
            mapping[int(src, 16)] = bytes.fromhex(dst.decode()).decode(
                "utf-16-be", "ignore")
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", text, re.S):
        body = m.group(1)
        for lo, hi, arr in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[(.*?)\]",
                body, re.S):
            for k, d in enumerate(re.findall(rb"<([0-9A-Fa-f]+)>", arr)):
                mapping[int(lo, 16) + k] = bytes.fromhex(d.decode()).decode(
                    "utf-16-be", "ignore")
        for lo, hi, dst in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                body):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if len(dst) <= 4:
                base = int(dst, 16)
                for c in range(lo_i, hi_i + 1):
                    mapping.setdefault(c, chr(base + (c - lo_i)))
            else:
                mapping.setdefault(lo_i, bytes.fromhex(dst.decode()).decode(
                    "utf-16-be", "ignore"))
    return codelen, mapping


def _page_resources(objs: dict[int, bytes], page_body: bytes,
                    key: bytes) -> list[tuple[bytes, int]]:
    """(name, object number) of each entry in the `key` dictionary
    (``Font`` or ``XObject``) of a page's /Resources, inline or by
    reference."""
    res = page_body
    m = re.search(rb"/Resources\s+(\d+)\s+0\s+R", page_body)
    if m and int(m.group(1)) in objs:
        res = objs[int(m.group(1))]
    dm = re.search(rb"/" + key + rb"\s*(?:<<(.*?)>>|(\d+)\s+0\s+R)", res,
                   re.S)
    if not dm:
        return []
    d = dm.group(1)
    if d is None:
        d = objs.get(int(dm.group(2)), b"")
    return [(name, int(ref)) for name, ref in
            re.findall(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+0\s+R", d)]


def _page_fonts(objs: dict[int, bytes],
                page_body: bytes) -> dict[bytes, tuple[int, dict]]:
    """Font-name → parsed ToUnicode CMap for a page's /Resources (CID
    fonts show glyph IDs in the content stream; the CMap recovers
    text).  Fonts without a ToUnicode stream fall back to latin-1."""
    fonts: dict[bytes, tuple[int, dict]] = {}
    for name, ref in _page_resources(objs, page_body, b"Font"):
        tm = re.search(rb"/ToUnicode\s+(\d+)\s+0\s+R",
                       objs.get(ref, b""))
        if tm:
            stream = _obj_stream(objs.get(int(tm.group(1)), b""), objs)
            if stream:
                fonts[b"/" + name] = _parse_cmap(stream)
    return fonts


def _page_contents(data: bytes) -> list[tuple[bytes, dict]]:
    """Ordered per-page (concatenated content stream, font CMaps)."""
    objs = _pdf_objects(data)
    page_ids = [n for n, b in objs.items()
                if re.search(rb"/Type\s*/Page\b", b)]
    # reading order: walk the /Pages tree /Kids arrays when present
    ordered: list[int] = []
    for n, b in sorted(objs.items()):
        if re.search(rb"/Type\s*/Pages\b", b):
            m = re.search(rb"/Kids\s*\[(.*?)\]", b, re.S)
            if m:
                ordered += [int(r) for r in _PDF_REF.findall(m.group(1))
                            if int(r) in page_ids]
    for n in sorted(page_ids):
        if n not in ordered:
            ordered.append(n)
    pages = []
    for pid in ordered:
        m = re.search(rb"/Contents\s*(\[[^\]]*\]|\d+\s+0\s+R)", objs[pid])
        if not m:
            continue
        refs = [int(r) for r in _PDF_REF.findall(m.group(1))]
        parts = [s for r in refs if r in objs
                 and (s := _obj_stream(objs[r], objs)) is not None]
        pages.append((b"\n".join(parts), _page_fonts(objs, objs[pid]),
                      _page_images(objs, objs[pid])))
    return pages


def _page_images(objs: dict[int, bytes],
                 page_body: bytes) -> dict[bytes, int]:
    """XObject name → object number for the page's IMAGE XObjects —
    a `Do` on one of these emits a media span (north_star: interleaved
    text + media documents)."""
    return {b"/" + name: ref
            for name, ref in _page_resources(objs, page_body, b"XObject")
            if re.search(rb"/Subtype\s*/Image\b", objs.get(ref, b""))}


#: content-stream name, number and operator tokens, matched in place at
#: the cursor (``pattern.match(content, i)``; none is anchored, so this
#: is ``re.match`` on the rest of the stream without copying it)
_PDF_NAME = re.compile(rb"/[^\s\[\]()<>/%]*")
_PDF_NUM = re.compile(rb"[-+]?(?:\d+\.?\d*|\.\d+)")
_PDF_OP = re.compile(rb"[A-Za-z'\"*]+[0-9*]*")


def _pdf_tokens(content: bytes):
    """(kind, value) token stream over a content stream: kind in
    str/num/name/lbrack/rbrack/op."""
    i, n = 0, len(content)
    while i < n:
        ch = content[i:i + 1]
        if ch in b" \t\r\n\x00":
            i += 1
        elif ch == b"(":
            j, depth, out = i + 1, 1, []
            while j < n and depth:
                c = content[j:j + 1]
                if c == b"\\":
                    nxt = content[j + 1:j + 2]
                    if nxt in _STR_ESC:
                        out.append(_STR_ESC[nxt])
                        j += 2
                    elif nxt.isdigit():
                        k = j + 1
                        while k < min(j + 4, n) and content[k:k + 1].isdigit():
                            k += 1
                        out.append(bytes([int(content[j + 1:k], 8) & 0xFF]))
                        j = k
                    else:
                        j += 2
                    continue
                if c == b"(":
                    depth += 1
                elif c == b")":
                    depth -= 1
                    if depth == 0:
                        j += 1
                        break
                out.append(c)
                j += 1
            yield "str", b"".join(out)
            i = j
        elif ch == b"<" and content[i + 1:i + 2] == b"<":
            i += 2
        elif ch == b"<":
            j = content.find(b">", i)
            j = n if j < 0 else j
            hexs = re.sub(rb"[^0-9A-Fa-f]", b"", content[i + 1:j])
            if len(hexs) % 2:
                hexs += b"0"
            yield "str", bytes.fromhex(hexs.decode())
            i = j + 1
        elif ch == b">":
            i += 2 if content[i:i + 2] == b">>" else 1
        elif ch == b"[":
            yield "lbrack", None
            i += 1
        elif ch == b"]":
            yield "rbrack", None
            i += 1
        elif ch == b"/":
            m = _PDF_NAME.match(content, i)
            yield "name", m.group()
            i += len(m.group())
        elif ch == b"%":
            j = content.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            m = _PDF_NUM.match(content, i)
            if m:
                yield "num", float(m.group())
                i += len(m.group())
                continue
            m = _PDF_OP.match(content, i)
            if m:
                yield "op", m.group().decode("latin-1")
                i += len(m.group())
            else:
                i += 1


#: per-character advance-width classes in em units — public
#: typographic averages for proportional UI faces; the PDF runs carry
#: no glyph widths, so cell splitting estimates a run's extent as
#: x + Σ em(char) · font_size
_EM_NARROW = set(" .,:;|'`!()[]{}/\\-ilIjtf1")
_EM_WIDE = set("MWmw@%")


def _est_width(text: str, size: float) -> float:
    em = 0.0
    for ch in text:
        if ch in _EM_NARROW:
            em += 0.30
        elif ch in _EM_WIDE:
            em += 0.78
        elif ch.isupper() or ch.isdigit():
            em += 0.56
        else:
            em += 0.48
    return em * size


def pdf_text_runs(data: bytes) -> list[dict]:
    """PDF bytes → [{page, x, y, w, size, text, media}] runs.  y is
    emitted FLIPPED (PDF user space grows upward; the line clustering in
    pdf_runs_to_spans reads top-down), so ascending y is reading
    order.  w is the estimated advance width and size the device-space
    font size (Tf size × text/graphics matrix vertical scale) — the
    table reconstruction uses both for adaptive cell splitting and
    font-size heading detection.  An image placement is a run with
    ``media = 'img:N'``, empty text and zero width and size.

    Tracks the graphics transformation matrix (q/Q/cm) and maps text
    positions through it — generators that place each block with a
    ``cm`` translate (e.g. HTML-to-PDF tools) otherwise collapse every
    run to y≈0 (observed on the reference's CRIF fixtures)."""
    runs: list[dict] = []
    for page_no, (content, fonts, images) in enumerate(_page_contents(data),
                                                       start=1):
        runs += _content_runs(page_no, content, fonts, images)
    return runs


def _content_runs(page_no: int, content: bytes, fonts: dict,
                  images: dict) -> list[dict]:
    """Token-loop interpretation of ONE page's content stream."""
    runs: list[dict] = []
    stack: list = []
    x = y = 0.0
    leading = 12.0
    ctm = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]  # a b c d e f
    gstack: list[list[float]] = []
    font: tuple[int, dict] | None = None
    fsize = 12.0
    tmscale = 1.0

    def decode(parts: list[bytes]) -> str:
        if font is None:
            return "".join(p.decode("latin-1") for p in parts)
        codelen, cmap = font
        out = []
        for p in parts:
            for i in range(0, len(p) - codelen + 1, codelen):
                out.append(cmap.get(
                    int.from_bytes(p[i:i + codelen], "big"), ""))
        return "".join(out)

    def emit(parts: list[bytes]) -> None:
        text = decode(parts)
        if text.strip():
            a, b, c, d, e, f = ctm
            xd = a * x + c * y + e
            yd = b * x + d * y + f
            size = fsize * tmscale * abs(d)
            runs.append({"page": page_no, "x": float(xd),
                         "y": float(-yd), "text": text,
                         "w": float(_est_width(text, size)),
                         "size": float(size), "media": None})

    for kind, val in _pdf_tokens(content):
        if kind != "op":
            stack.append((kind, val))
            continue
        op = val
        nums = [v for k, v in stack if k == "num"]
        strs = [v for k, v in stack if k == "str"]
        names = [v for k, v in stack if k == "name"]
        if op == "BT":
            # BT resets the text matrix to identity (PDF 32000-1
            # §9.4.1) — position AND scale; a Tm vertical scale
            # must not leak into later Td-only-positioned blocks.
            x = y = 0.0
            tmscale = 1.0
        elif op == "q":
            gstack.append(list(ctm))
        elif op == "Q":
            if gstack:
                ctm = gstack.pop()
        elif op == "cm" and len(nums) >= 6:
            a1, b1, c1, d1, e1, f1 = nums[-6:]
            a2, b2, c2, d2, e2, f2 = ctm
            ctm = [a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
                   c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
                   e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2]
        elif op == "Tf" and names:
            font = fonts.get(names[-1])
            if nums:
                fsize = nums[-1] or fsize
        elif op in ("Td", "TD") and len(nums) >= 2:
            x += nums[-2]
            y += nums[-1]
            if op == "TD":
                leading = -nums[-1] or leading
        elif op == "Tm" and len(nums) >= 6:
            x, y = nums[-2], nums[-1]
            tmscale = abs(nums[-3]) or 1.0
        elif op == "TL" and nums:
            leading = nums[-1]
        elif op == "T*":
            y -= leading
        elif op in ("Tj", "TJ") and strs:
            emit(strs)
        elif op in ("'", '"'):
            y -= leading
            if strs:
                emit(strs)
        elif op == "Do" and names and names[-1] in images:
            # image placement: the current transform's translation
            # is the image anchor (unit square scaled by cm)
            runs.append({"page": page_no, "x": float(ctm[4]),
                         "y": float(-ctm[5]), "text": "",
                         "w": 0.0, "size": 0.0,
                         "media": f"img:{images[names[-1]]}"})
        stack.clear()
    return runs


# ---------------------------------------------------------------------------
# PDF text runs → spans WITH table reconstruction (pure Python, per document)
# ---------------------------------------------------------------------------
#
# The reference obtains table structure from Docling (parser.py:90-106);
# this is the from-scratch equivalent over raw (x, y) runs:
#
#   y-band lines → per-line CELLS (x-gap split; a run's end is
#   estimated as x + w, w from the per-character width model) → ≥3-cell
#   lines, 1-line gap closing (wrapped row labels) → ≥_MIN_TABLE_LINES
#   consecutive = a table block → block line 0 is the column header;
#   later lines map cells into column slots by x → one 'table' span per
#   block carrying the serialized grid (FIXTURES.md §1) that
#   semantics.parse_table / the SQL signature extractors consume.
#   Everything else stays a 'text' line span.
#
# Validated against the reference's own GSTR-3B fixtures: all six
# reconstruct the Table-3.1 strong signature (integrated & central &
# taxable columns) and yield the golden month + taxable value
# (tests/test_reference_parity.py).  No document's layout reads
# another's, so the whole reconstruction runs inside the byte
# extraction's Arrow stage.  Its text rules are Spark SQL's (the form
# it was first written in), kept so spans stay stable: see ``_norm``
# and ``_round1``.

#: a new line starts where the y-gap to the previous distinct y exceeds
#: this (points); fixed-height banding merges the ~3pt line spacing of
#: dense reports (the reference's CRIF fixtures) into mangled rows
_BAND_GAP = 4.0
#: a new cell starts where the x-gap exceeds this many font sizes
_GAP_EM = 1.2
#: gap-cluster rows a table block needs without stronger evidence
_MIN_TABLE_LINES = 3
#: a heading's runs are all at least this many modal font sizes
_HEADING_EM = 1.25

#: Java's \s: Python's \s (and str.strip) also match NBSP and U+2003
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_TENTH = Decimal("0.1")
_WIDE = Context(prec=400)  # any finite double, quantized to 0.1


def _norm(s: str) -> str:
    """Trim ASCII spaces only, then collapse Java-\\s runs to one space."""
    return _JAVA_WS.sub(" ", s.strip(" "))


def _round1(x: float) -> float:
    """round(x, 1) HALF_UP on the decimal repr (2.25 → 2.3, where
    Python's round gives 2.2)."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_TENTH, ROUND_HALF_UP, _WIDE))


def _cells(rs: list[tuple], anchors: set | None = None) -> list[list]:
    """Fold x-sorted (x, y, w, sz, t) runs into cells [x, end, members]:
    split when the gap from the previous cell's end exceeds
    ``_GAP_EM × font_size`` — the inter-column whitespace of a table
    scales with its face — or, with ``anchors``, when the run starts at
    a block column anchor.  Members are (y, x, t), so a wrapped cell
    reads top-down, then left-right."""
    cells: list[list] = []
    for x, y, w, sz, t in rs:
        if (cells and (anchors is None or _round1(x) not in anchors)
                and x - cells[-1][1] <= _GAP_EM * sz):
            cells[-1][1] = max(cells[-1][1], x + w)
            cells[-1][2].append((y, x, t))
        else:
            cells.append([x, x + w, [(y, x, t)]])
    return cells


def _cell_str(cell: list) -> str:
    return " ".join(t for _, _, t in sorted(cell[2]))


def _table_rows(tab: list[dict]) -> list[str]:
    """A table block's tabish lines → [header text, row texts...].
    Column anchors are x-starts (rounded to 0.1) shared by >= 3 lines
    of the block — left-aligned columns, scoped per block so repeated
    section headers never shred each other.  A WRAPPED header (>= 2
    distinct member y) takes its column slots from the second line's
    cells and pools its words per slot by nearest centre — validated
    on the reference CRIF fixture's Account Summary table ('Number of
    Accounts' = 54)."""
    xs = [{_round1(r[0]) for r in ln["rs"]} for ln in tab]
    anchors = {v for v in set().union(*xs) if sum(v in s for s in xs) >= 3}
    hdr = tab[0]["rs"]
    if len(tab) > 1 and len({r[1] for r in hdr}) >= 2:
        cols = [[s[0], s[1], []] for s in _cells(tab[1]["rs"], anchors)]
        for x, y, w, _, t in hdr:
            d = [abs((c[0] + c[1]) / 2.0 - (x + w / 2.0)) for c in cols]
            cols[d.index(min(d))][2].append((y, x, t))
    else:
        cols = _cells(hdr, anchors)
    cx = [c[0] for c in cols]
    out = [" | ".join(_norm(_cell_str(c)) for c in cols)]
    for ln in tab[1:]:
        slots: list[list[str]] = [[] for _ in cx]
        for c in _cells(ln["rs"], anchors):
            slots[max(sum(v <= c[0] + 2.0 for v in cx) - 1, 0)].append(
                _cell_str(c))
        out.append(" | ".join(_norm(" ".join(s)) for s in slots))
    return out


def _page_spans(page: int, runs: list[dict], msize: float) -> list[list]:
    """One page's runs → [kind, text, media_ref] in reading order: a
    text line, a heading, a media line, or one 'table' per table block
    (header and rows stitched with newlines) at its header line."""
    ys = sorted({r["y"] for r in runs})
    band = {ys[0]: 0}
    for a, b in zip(ys, ys[1:]):
        band[b] = band[a] + (b - a > _BAND_GAP)
    groups: dict[tuple, list] = {}
    for r in runs:
        groups.setdefault((band[r["y"]], r["media"]), []).append(
            (r["x"], r["y"], r["w"], r["size"], r["text"]))
    # media lines can share a band with a text line: text first
    lines = [{"media": m, "rs": sorted(groups[b, m])}
             for b, m in sorted(groups, key=lambda k: (k[0], k[1] is not None,
                                                       k[1] or ""))]
    for ln in lines:
        ln["cells"] = _cells(ln["rs"])
        # >= 3 cells: a 2-cell line is a key-value pair ("Name:  JEET"),
        # body text; 2-cell rows INSIDE a block join it via the closure
        ln["is_tab"] = len(ln["cells"]) >= 3
        # heading-sized lines break the closure, so table blocks split
        # by a section header alone stay distinct
        ln["is_head"] = (len({r[1] for r in ln["rs"]}) == 1
                         and all(r[3] >= msize * _HEADING_EM for r in ln["rs"])
                         and sum(len(r[4]) for r in ln["rs"]) <= 80)
    # a block opens at each line that is not tabish (a media line too)
    blocks: list[list[dict]] = [[]]
    for i, ln in enumerate(lines):
        near = (0 < i < len(lines) - 1 and lines[i - 1]["is_tab"]
                and lines[i + 1]["is_tab"])
        ln["tabish"] = ((ln["is_tab"] or near) and not ln["is_head"]
                        and ln["media"] is None)
        if not ln["tabish"]:
            blocks.append([])
        blocks[-1].append(ln)
    spans = []
    for blk in blocks:
        tab = [ln for ln in blk if ln["tabish"]]
        # >= _MIN_TABLE_LINES rows, or 2 with strong visual evidence: a
        # wrapped multi-sub-line header or a wide grid
        n_tab = sum(ln["is_tab"] for ln in tab)
        qual = n_tab >= _MIN_TABLE_LINES or n_tab >= 2 and (
            sum(len({r[1] for r in ln["rs"]}) for ln in tab)
            >= _MIN_TABLE_LINES + 1
            or sum(len(ln["cells"]) for ln in tab) >= 8)
        for ln in blk:
            if qual and ln["tabish"]:
                if ln is tab[0]:
                    spans.append(["table", "\n".join(_table_rows(tab)),
                                  f"page:{page}"])
            elif ln["media"] is not None:
                spans.append(["media", "", ln["media"]])
            elif text := _norm(" ".join(map(_cell_str, ln["cells"]))):
                spans.append(["heading" if ln["is_head"] else "text", text,
                              f"page:{page}"])
    # a page with media but no text is image-only (scanned): the
    # reference OCRs it (Docling, parser.py:31-58); with no OCR here
    # its media refs are marked so downstream curation can route
    if all(s[0] == "media" for s in spans):
        for s in spans:
            s[2] = "needs_ocr:" + s[2]
    return spans


def pdf_runs_to_spans(runs: list[dict]) -> list[dict]:
    """One document's runs [{page, x, y, w, size, text, media}] →
    spans: reading-order 'text' lines, font-size-detected 'heading's,
    reconstructed 'table's and 'media' (see the comment above).

    Lines are gap-clustered on y per page.  Cells are computed twice:
    a width-model pass detects table blocks, then in-block column
    anchors re-split each block line.  Headings are lines of one y
    whose every run is >= ``_HEADING_EM`` × the document's modal font
    size (weighted by text length; Docling-style section detection,
    e.g. the 7pt-vs-5pt 'Account Information' headers of the CRIF
    fixtures)."""
    weights: dict[float, int] = {}
    for r in runs:
        k = round(r["size"], 1)
        weights[k] = weights.get(k, 0) + len(r["text"])
    msize = max(weights, key=lambda k: (weights[k], k)) if weights else 12.0
    pages: dict[int, list[dict]] = {}
    for r in runs:
        pages.setdefault(r["page"], []).append(r)
    spans = [s for p in sorted(pages) for s in _page_spans(p, pages[p], msize)
             if s[0] == "media" or s[1]]
    return [{"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(spans)]


def ingest_pdf(raw: DataFrame) -> DataFrame:
    """raw(doc_id string, payload binary) → documents(doc_id, spans):
    per document, byte-level text extraction (``pdf_text_runs``) and
    the layout reconstruction (``pdf_runs_to_spans``) in one
    Arrow-batched stage — the S1→S2 loop on real PDF bytes.  Its table
    spans are what let the GSTR/CRIF signature extractors run on real
    fixture PDFs.  Every input row gets one row; a document whose bytes
    yield no text runs (junk, empty or NULL payload) has ``spans = []``."""
    return _ingest(raw, lambda b: pdf_runs_to_spans(pdf_text_runs(b)))
