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
  font size); ``pdf_runs_to_documents`` gap-clusters them into lines in
  reading order (page, line, x) and reconstructs heading, table and
  media spans — pure relational Spark (windows + one groupBy), no UDF.

Both run Arrow-batched / JVM-side; nothing is per-row Python.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .parse import DOCUMENTS_SCHEMA

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


def _payloads(pdf: pd.DataFrame) -> Iterator[tuple[str, bytes]]:
    """(doc_id, payload bytes) of one raw batch.  A NULL payload is an
    empty one: its document ingests with no spans, never a failed job."""
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        yield doc_id, b"" if payload is None else bytes(payload)


def _html_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {"doc_id": [], "spans": []}
        for doc_id, payload in _payloads(pdf):
            html = payload.decode("utf-8", errors="replace")
            out["doc_id"].append(doc_id)
            out["spans"].append(tokenize_html(html))
        yield pd.DataFrame(out)


def ingest_html(raw: DataFrame) -> DataFrame:
    """raw(doc_id string, payload binary) → documents(doc_id, spans)."""
    return raw.select("doc_id", "payload").mapInPandas(
        _html_batches, schema=DOCUMENTS_SCHEMA)


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


def _page_fonts(objs: dict[int, bytes],
                page_body: bytes) -> dict[bytes, tuple[int, dict]]:
    """Font-name → parsed ToUnicode CMap for a page's /Resources (CID
    fonts show glyph IDs in the content stream; the CMap recovers
    text).  Fonts without a ToUnicode stream fall back to latin-1."""
    res = page_body
    m = re.search(rb"/Resources\s+(\d+)\s+0\s+R", page_body)
    if m and int(m.group(1)) in objs:
        res = objs[int(m.group(1))]
    fonts: dict[bytes, tuple[int, dict]] = {}
    fm = re.search(rb"/Font\s*(?:<<(.*?)>>|(\d+)\s+0\s+R)", res, re.S)
    if not fm:
        return fonts
    fdict = fm.group(1)
    if fdict is None:
        fdict = objs.get(int(fm.group(2)), b"")
    for name, ref in re.findall(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+0\s+R", fdict):
        tm = re.search(rb"/ToUnicode\s+(\d+)\s+0\s+R",
                       objs.get(int(ref), b""))
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
    res = page_body
    m = re.search(rb"/Resources\s+(\d+)\s+0\s+R", page_body)
    if m and int(m.group(1)) in objs:
        res = objs[int(m.group(1))]
    out: dict[bytes, int] = {}
    xm = re.search(rb"/XObject\s*(?:<<(.*?)>>|(\d+)\s+0\s+R)", res, re.S)
    if not xm:
        return out
    xdict = xm.group(1)
    if xdict is None:
        xdict = objs.get(int(xm.group(2)), b"")
    for name, ref in re.findall(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+0\s+R", xdict):
        if re.search(rb"/Subtype\s*/Image\b", objs.get(int(ref), b"")):
            out[b"/" + name] = int(ref)
    return out


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
            m = re.match(rb"/[^\s\[\]()<>/%]*", content[i:])
            yield "name", m.group()
            i += len(m.group())
        elif ch == b"%":
            j = content.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            m = re.match(rb"[-+]?(?:\d+\.?\d*|\.\d+)", content[i:])
            if m:
                yield "num", float(m.group())
                i += len(m.group())
                continue
            m = re.match(rb"[A-Za-z'\"*]+[0-9*]*", content[i:])
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
    """PDF bytes → [{page, x, y, w, size, text}] runs.  y is emitted
    FLIPPED (PDF user space grows upward; the line clustering in
    pdf_runs_to_documents reads top-down), so ascending y is reading
    order.  w is the estimated advance width and size the device-space
    font size (Tf size × text/graphics matrix vertical scale) — the
    relational table reconstruction uses both for adaptive cell
    splitting and font-size heading detection.

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


_RUNS_SCHEMA = ("doc_id string, page int, x double, y double, "
                "w double, sz double, msize double, text string, "
                "media string")

#: the one run of a document whose bytes yield none (junk, empty or
#: NULL payload): no page and no text, so pdf_runs_to_documents gives
#: the document a row with no spans instead of dropping it
_NO_RUNS = [{"page": None, "x": None, "y": None, "w": None, "size": None,
             "text": "", "media": None}]


def _pdf_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # msize = the document's modal (body) font size, weighted by text
    # length — the heading rule compares each line against it
    for pdf in batches:
        out = {k: [] for k in
               ("doc_id", "page", "x", "y", "w", "sz", "msize", "text",
                "media")}
        for doc_id, payload in _payloads(pdf):
            rs = pdf_text_runs(payload)
            weights: dict[float, int] = {}
            for r in rs:
                k = round(r["size"], 1)
                weights[k] = weights.get(k, 0) + len(r["text"])
            msize = max(weights, key=lambda k: (weights[k], k)) if weights else 12.0
            for r in rs or _NO_RUNS:
                out["doc_id"].append(doc_id)
                out["page"].append(r["page"])
                out["x"].append(r["x"])
                out["y"].append(r["y"])
                out["w"].append(r["w"])
                out["sz"].append(r["size"])
                out["msize"].append(msize)
                out["text"].append(r["text"])
                out["media"].append(r["media"])
        yield pd.DataFrame(out)


def ingest_pdf(raw: DataFrame) -> DataFrame:
    """raw(doc_id string, payload binary) → documents(doc_id, spans):
    byte-level text extraction (one Arrow-batched MapInPandas) + the
    relational reconstruction of ``pdf_runs_to_documents`` — the S1→S2
    loop on real PDF bytes.  Its table spans are what let the GSTR/CRIF
    signature extractors run on real fixture PDFs.  Every distinct
    input doc_id gets one row; a document whose bytes yield no text
    runs (junk, empty or NULL payload) has ``spans = []``."""
    return pdf_runs_to_documents(raw.select("doc_id", "payload").mapInPandas(
        _pdf_batches, schema=_RUNS_SCHEMA))


# ---------------------------------------------------------------------------
# PDF text runs → spans WITH table reconstruction (pure relational)
# ---------------------------------------------------------------------------
#
# The reference obtains table structure from Docling (parser.py:90-106);
# this is the from-scratch equivalent over raw (x, y) runs:
#
#   y-band lines → per-line CELLS (x-gap split; a run's end is
#   estimated as x + len(text)·char_width since PDF run widths are not
#   carried) → ≥2-cell lines, 1-line gap closing (wrapped row labels)
#   → ≥_MIN_TABLE_LINES consecutive = a table block → block line 0 is
#   the column header; later lines map cells into column slots by x →
#   one 'table' span per block carrying the serialized grid
#   (FIXTURES.md §1) that semantics.parse_table / the SQL signature
#   extractors consume.  Everything else stays a 'text' line span.
#
# Validated against the reference's own GSTR-3B fixtures: all six
# reconstruct the Table-3.1 strong signature (integrated & central &
# taxable columns) and yield the golden month + taxable value
# (tests/test_reference_parity.py).

#: a new line starts where the y-gap to the previous run exceeds this
#: (points); fixed-height banding merges the ~3pt line spacing of dense
#: reports (the reference's CRIF fixtures) into mangled rows
_BAND_GAP = 4.0
#: a new cell starts where the x-gap exceeds this many font sizes
_GAP_EM = 1.2
#: gap-cluster rows a table block needs without stronger evidence
_MIN_TABLE_LINES = 3
#: a heading's runs are all at least this many modal font sizes
_HEADING_EM = 1.25

_CELL_TYPE = ("array<struct<x:double,e:double,"
              "ms:array<struct<y:double,x:double,t:string>>>>")
_NORM = "regexp_replace(trim({0}), '\\\\s+', ' ')"


def _cell_text(cell_expr: str) -> str:
    """Cell text: members sorted (y, x) — a wrapped cell (words
    stacked over several sub-lines, e.g. the column header 'Number' /
    'of Accounts') reads top-down, then left-right."""
    return f"array_join(transform(array_sort({cell_expr}.ms), m -> m.t), ' ')"


def _cells_fold(runs_expr: str, anchors: str | None = None) -> str:
    """Fold x-sorted (x, y, w, sz, t) runs into cells: split when the
    gap from the previous cell's estimated end (x + w, w from the
    per-character width model in ``_est_width``) exceeds
    ``_GAP_EM × font_size`` — the inter-column whitespace of a table
    scales with its face — or (phase 2) when the run starts at a block
    column anchor.  Each cell carries its member runs so text can be
    re-ordered (y, x) after the x-major fold."""
    brk = (f"array_contains({anchors}, round(r.x, 1)) OR " if anchors else "")
    member = "named_struct('y', r.y, 'x', r.x, 't', r.t)"
    new_cell = (f"named_struct('x', r.x, 'e', r.x + r.w, "
                f"'ms', array({member}))")
    merged = ("named_struct('x', element_at(acc, -1).x, "
              "'e', greatest(element_at(acc, -1).e, r.x + r.w), "
              f"'ms', concat(element_at(acc, -1).ms, array({member})))")
    return (f"aggregate({runs_expr}, cast(array() AS {_CELL_TYPE}), (acc, r) -> "
            f"CASE WHEN size(acc) > 0 AND NOT ({brk}false) "
            f"AND r.x - element_at(acc, -1).e <= {_GAP_EM}d * r.sz "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array({merged})) "
            f"ELSE concat(acc, array({new_cell})) END)")


def pdf_runs_to_documents(runs: DataFrame) -> DataFrame:
    """runs(doc_id, page, x, y, w, sz, msize, text) →
    documents(doc_id, spans) with 'text' line spans, font-size-detected
    'heading' spans AND reconstructed 'table' spans (see module comment
    above).  Two exchanges: hash(doc_id, page) for the line windows and
    hash(doc_id) for the per-document assembly groupBy.

    Lines are GAP-CLUSTERED on y (a new line starts where the y-gap
    exceeds ``_BAND_GAP``).
    Cells are computed twice: a width-model phase detects table
    blocks, then in-block column anchors re-split each block line.

    A gap-cluster can hold several exact-y sub-lines (a wrapped table
    header stacks each column's words); cell text reads its members in
    (y, x) order, and when the block's FIRST line wraps, its column
    slots come from the second line's cells with header words assigned
    to the nearest slot center — validated on the reference CRIF
    fixture's Account Summary table ('Number of Accounts' = 54).
    Headings are lines whose every run is ≥ ``_HEADING_EM`` × the
    document's modal font size (Docling-style section detection, e.g.
    the 7pt-vs-5pt 'Account Information' headers of the CRIF
    fixtures)."""
    w0 = Window.partitionBy("doc_id", "page").orderBy("y")
    banded = (runs.withColumn("_gap", F.col("y") - F.lag("y").over(w0))
              .withColumn("band", F.sum(
                  F.when(F.col("_gap") > _BAND_GAP, 1).otherwise(0))
                  .over(w0))
              .drop("_gap"))
    lines = (banded.groupBy("doc_id", "page", "band", "media")
             .agg(F.expr("array_sort(collect_list(named_struct("
                         "'x', x, 'y', y, 'w', w, 'sz', sz, 't', text)))")
                  .alias("rs"),
                  F.first("msize").alias("msize")))
    # >= 3 cells: a 2-cell line is a key-value pair ("Period  January",
    # "Name:  JEET"), which document-layout models render as body text
    # — real tables in these reports all carry >= 3 columns.  2-cell
    # rows INSIDE a table block still join it via the tabish closure.
    lines = (lines.withColumn(
                 "cells", F.expr(_cells_fold("rs")))
             .withColumn("is_tab", F.expr("size(cells) >= 3"))
             .withColumn("n_sub", F.expr(
                 "size(array_distinct(transform(rs, r -> r.y)))")))
    # heading-sized lines (section labels) are never table filler: they
    # break the tabish closure so consecutive table blocks separated
    # only by a section header (one 'Account Information' per account
    # grid in the CRIF fixtures) stay distinct blocks
    lines = lines.withColumn("is_head", F.expr(
        f"n_sub = 1 AND forall(rs, r -> r.sz >= msize * {_HEADING_EM}d) "
        "AND aggregate(rs, 0, (a, r) -> a + length(r.t)) <= 80"))
    # media rows can share a band with a text line (their own group
    # rows): order ties deterministically, media-last
    w = Window.partitionBy("doc_id", "page").orderBy(
        "band", F.col("media").asc_nulls_first())
    lines = lines.withColumn(
        "tabish",
        (F.col("is_tab") |
         (F.coalesce(F.lag("is_tab").over(w), F.lit(False)) &
          F.coalesce(F.lead("is_tab").over(w), F.lit(False)))) &
        ~F.col("is_head") & F.col("media").isNull())
    lines = lines.withColumn(
        "block", F.sum(F.when(~F.col("tabish"), 1).otherwise(0)).over(w))

    # ---- SINGLE-LINEAGE block analysis.  Everything below runs over
    # window partitions (doc_id, page, block) — the same hash(doc_id,
    # page) clustering the banding shuffle already established — so the
    # whole reconstruction is ONE pass over ONE execution of the Python
    # byte-extraction stage.  (The previous formulation unioned a
    # table-span branch with a text-span branch and anti-joined a
    # swallowed-block set: three independent subtrees, and because
    # column pruning makes them non-identical, no exchange reuse — the
    # PDF parse executed three times per ingest.)  Per-row window state
    # stays SMALL (scalars, one line's runs, per-line x-start sets):
    # collecting each block's full run array per row was measured 2x
    # slower than even the triple-execution plan.
    wb = (Window.partitionBy("doc_id", "page", "block")
          .orderBy("band", F.col("media").asc_nulls_first())
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    wbo = (Window.partitionBy("doc_id", "page", "block")
           .orderBy("band", F.col("media").asc_nulls_first())
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lines = (lines
             # block partitions include the leading NON-tabish line
             # that opened the block id, so every block statistic and
             # the rank must restrict to tabish rows explicitly
             .withColumn("n_tab", F.sum(F.when(
                 F.col("is_tab") & F.col("tabish"), 1)
                 .otherwise(0)).over(wb))
             .withColumn("blk_sub", F.sum(F.when(F.col("tabish"),
                                                 F.col("n_sub"))).over(wb))
             .withColumn("blk_cells", F.sum(F.when(
                 F.col("tabish"), F.expr("size(cells)"))).over(wb))
             .withColumn("rn", F.when(F.col("tabish"), F.sum(
                 F.when(F.col("tabish"), 1).otherwise(0)).over(wbo))))
    # a block qualifies as a table with >= _MIN_TABLE_LINES gap-cluster
    # rows, OR with 2 rows when the visual evidence is strong: a
    # wrapped multi-sub-line header (the Account Summary shape) or a
    # wide grid (months × statuses payment strips)
    lines = lines.withColumn(
        "qual",
        (F.col("n_tab") >= _MIN_TABLE_LINES) |
        ((F.col("n_tab") >= 2) &
         ((F.col("blk_sub") >= _MIN_TABLE_LINES + 1) |
          (F.col("blk_cells") >= 8))))

    # phase-2 cells with in-block anchors; header = first tabish line.
    # A WRAPPED header (>= 2 distinct member y) takes its column slots
    # from the second line's cells and pools its words per slot by
    # nearest center.  hdr/cx/hdr_txt EVALUATE only on the rn=1 row
    # (CASE guard) and PROPAGATE to the block's other rows through
    # first_value windows — window output is materialized, so the per-
    # line cell lambdas below reference plain attributes instead of
    # re-evaluating the header fold per cell (interpreted higher-order
    # functions have no common-subexpression elimination; measured:
    # minutes for one dense report without this).
    lines = (lines
             .withColumn("hdr_rs", F.first(
                 F.expr("CASE WHEN tabish THEN rs END"),
                 ignorenulls=True).over(wb))
             .withColumn("slots_rs", F.first(
                 F.expr("CASE WHEN rn = 2 THEN rs END"),
                 ignorenulls=True).over(wb))
             # per-line distinct rounded x-starts; the block anchor
             # rule (x shared by >= 3 lines) folds over these small
             # sets instead of the full per-block run arrays
             .withColumn("tlx", F.expr(
                 "collect_list(CASE WHEN tabish THEN array_distinct("
                 "transform(rs, r -> round(r.x, 1))) END) OVER "
                 "(PARTITION BY doc_id, page, block)")))
    # phase-2 per-block column anchors: x-starts (rounded to 0.1) shared
    # by >= 3 distinct lines WITHIN the table block — left-aligned table
    # columns.  Scoped per block, not per page: repeated section headers
    # ("Nature of Supplies" across GSTR tables) would otherwise turn
    # mid-phrase word positions into page-wide anchors and shred headers.
    anchors = ("filter(array_distinct(flatten(tlx)), v -> "
               "size(filter(tlx, l -> array_contains(l, v))) >= 3)")
    hdr1 = _cells_fold("hdr_rs", "ax")
    slots = _cells_fold("slots_rs", "ax")
    dists = ("transform(slots, s -> abs((s.x + s.e) / 2d "
             "- (r.x + r.w / 2d)))")
    hdr_multi = (
        "transform(sequence(1, size(slots)), j -> named_struct("
        "'x', element_at(slots, j).x, 'e', element_at(slots, j).e, "
        "'ms', transform(filter(hdr_rs, "
        f"r -> array_position({dists}, array_min({dists})) = j), "
        "r -> named_struct('y', r.y, 'x', r.x, 't', r.t))))")
    lines = (lines
             .withColumn("ax", F.expr(
                 f"CASE WHEN qual AND rn = 1 THEN {anchors} END"))
             .withColumn("multi", F.expr(
                 "qual AND rn = 1 AND slots_rs IS NOT NULL AND "
                 "size(array_distinct(transform(hdr_rs, r -> r.y))) >= 2"))
             .withColumn("slots", F.expr(
                 f"CASE WHEN multi THEN {slots} END")))
    cols_e = ("transform(CASE WHEN multi THEN " + hdr_multi +
              f" ELSE {hdr1} END, c -> " + _NORM.format(_cell_text("c")) + ")")
    lines = (lines
             .withColumn("cx1", F.expr(
                 "CASE WHEN qual AND rn = 1 THEN CASE WHEN multi "
                 f"THEN transform(slots, s -> s.x) "
                 f"ELSE transform({hdr1}, c -> c.x) END END"))
             .withColumn("hdr_txt", F.expr(
                 "CASE WHEN qual AND rn = 1 THEN "
                 f"array_join({cols_e}, ' | ') END")))
    lines = (lines
             .withColumn("cx", F.first("cx1", ignorenulls=True).over(wb))
             .withColumn("axp", F.first("ax", ignorenulls=True).over(wb)))
    ln_cells = _cells_fold("rs", "axp")
    slot = "greatest(size(filter(cx, v -> v <= c.x + 2.0d)) - 1, 0)"
    row_e = ("transform(sequence(0, size(cx) - 1), j -> "
             + _NORM.format("array_join(transform(filter(" + ln_cells
             + ", c -> " + slot + " = j), c -> " + _cell_text("c")
             + "), ' ')") + ")")
    line_text = _NORM.format(
        "array_join(transform(cells, c -> " + _cell_text("c") + "), ' ')")
    # each line becomes ONE output row: a table header row ('thdr',
    # the joined column names), a table data row ('trow'), a heading,
    # or a text line; the per-document fold below stitches thdr+trow
    # runs into single 'table' spans — no per-block collect window and
    # no second subtree over the parse
    allspans = (lines
                .withColumn("kind", F.expr(
                    "CASE WHEN media IS NOT NULL THEN 'media' "
                    "WHEN qual AND tabish THEN "
                    "  CASE WHEN rn = 1 THEN 'thdr' ELSE 'trow' END "
                    "WHEN is_head THEN 'heading' ELSE 'text' END"))
                .select("doc_id", "page", "band",
                        F.col("block").alias("blk"), "kind", "media",
                        F.expr("CASE WHEN kind = 'media' THEN '' "
                               "WHEN kind = 'thdr' "
                               "THEN coalesce(hdr_txt, '') "
                               f"WHEN kind = 'trow' "
                               f"THEN array_join({row_e}, ' | ') "
                               f"ELSE {line_text} END").alias("text"))
                # page IS NULL: the run of a document without runs
                # (_NO_RUNS) — the fold drops its empty span and keeps
                # the document's row
                .where("kind IN ('thdr', 'trow', 'media') OR text != '' "
                       "OR page IS NULL"))
    # scanned-page detection (r4 VERDICT #4): a page with media but NO
    # text runs is image-only — the reference OCRs these (Docling,
    # parser.py:31-58); with no OCR in the sandbox the media span is
    # MARKED (media_ref 'needs_ocr:img:N') instead of silently
    # yielding an empty page, so downstream curation can route.  The
    # (doc_id, page) window reuses the banding shuffle's partitioning
    # — no extra exchange.
    wpage = Window.partitionBy("doc_id", "page")
    allspans = (allspans
                .withColumn("_pg_text", F.max(
                    F.when(F.col("kind") != "media", 1).otherwise(0))
                    .over(wpage))
                .withColumn("media", F.when(
                    (F.col("kind") == "media") & (F.col("_pg_text") == 0),
                    F.concat(F.lit("needs_ocr:"), F.col("media")))
                    .otherwise(F.col("media")))
                .drop("_pg_text"))
    span_t = "struct<kind:string,text:string,media_ref:string,offset:int>"
    state_t = f"struct<acc:array<{span_t}>,tpage:int,ttext:string>"
    tspan = ("named_struct('kind', 'table', 'text', s.ttext, "
             "'media_ref', concat('page:', cast(s.tpage AS string)), "
             "'offset', 0)")
    flushed = (f"CASE WHEN s.ttext IS NOT NULL "
               f"THEN concat(s.acc, array({tspan})) ELSE s.acc END")
    fold = f"""
        aggregate(
          array_sort(collect_list(named_struct(
            'page', page, 'band', band, 'blk', blk,
            'kind', kind, 'text', text,
            'mref', coalesce(media, concat('page:', cast(page AS string)))))),
          cast(named_struct('acc', array(), 'tpage', NULL, 'ttext', NULL)
               AS {state_t}),
          (s, r) -> CASE
            WHEN r.kind = 'thdr' THEN named_struct(
              'acc', {flushed}, 'tpage', r.page, 'ttext', r.text)
            WHEN r.kind = 'trow' THEN named_struct(
              'acc', s.acc, 'tpage', s.tpage,
              'ttext', concat_ws('\\n', s.ttext, r.text))
            ELSE named_struct(
              'acc', concat({flushed}, array(named_struct(
                'kind', r.kind, 'text', r.text,
                'media_ref', r.mref,
                'offset', 0))),
              'tpage', CAST(NULL AS int), 'ttext', CAST(NULL AS string))
          END,
          s -> transform(
            filter({flushed}, r -> r.kind = 'media' OR r.text != ''),
            (r, i) -> named_struct('kind', r.kind, 'text', r.text,
                                   'media_ref', r.media_ref,
                                   'offset', i)))
    """
    return (allspans.groupBy("doc_id")
            .agg(F.expr(fold).alias("spans")))
