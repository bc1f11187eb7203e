"""Shared pure-Python semantic core.

The one Python definition of every piece of reference behavior that
runs Python-side: the document kind a doc_id routes to; span
cleaning, rendering, tables and chunks; the
account and table-signature parsers; the CRIF derivations (the query
embeddings ``QUERY_MAT``, the retrieval ``candidate_pool`` and
``retrieve_best``, the report's ``report_accounts``, a chunk's
``chunk_accounts``, the chunk-aware ``direct_table_value`` and the
remark flags ``FLAG_PREDICATES``/``count_flagged``); and the GSTR
values.  Its callers are the fused extraction stage
(``parse._fused_row``), the full parse's build UDF (``parse._build``),
the retrieval rows (``extract/retrieval.py``), the RAG fallback's
answer stage (``ops/answer.py``) and the test oracle (``oracle.py``),
which adds only the reference's control flow, labels and confidence
on top.  The JVM-side Spark SQL re-implementations in ``extract/``
are written *independently* and tested against these functions, so
span/parameter equality between Spark and the oracle is a meaningful
check, not a tautology.

Every function cites the reference lines (file:line under
/root/reference) whose semantics it mirrors.  No code is copied from
the reference — the reference is a row-at-a-time pandas/dict pipeline;
this module is the minimal pure-function spec of its observable
behavior.
"""

from __future__ import annotations

import re
import zlib
from collections import Counter
from typing import Any, Optional

import numpy as np

from .specs import PARAMETER_SPECS, query_text

# ---------------------------------------------------------------------------
# Routing: a document's kind comes from its doc_id
# ---------------------------------------------------------------------------

#: the kinds a doc_id routes to; any other doc_id is kind 'other'
DOC_KINDS = ("crif", "gstr", "html")


def doc_kind(doc_id: str | None) -> str:
    """The part of `doc_id` before its first '-' when that is one of
    `DOC_KINDS`, else 'other' (also for a NULL doc_id).  Its SQL twin
    is ``parse.DOC_KIND_SQL``."""
    head = (doc_id or "").split("-", 1)[0]
    return head if head in DOC_KINDS else "other"

# ---------------------------------------------------------------------------
# Boilerplate stripping (north_star: tag-class stoplist + link-density)
# ---------------------------------------------------------------------------

#: kinds dropped outright (tag-class stoplist).
BOILERPLATE_KINDS = frozenset({"nav", "footer", "ad"})

#: a text span is boilerplate when it is link-dominated: >=2 markdown
#: links and fewer than 6 words per link (link-density heuristic).
LINK_DENSITY_MIN_LINKS = 2
LINK_DENSITY_WORDS_PER_LINK = 6


def is_boilerplate(kind: str, text: str) -> bool:
    """Tag-class stoplist + link-density heuristic (north_star)."""
    if kind in BOILERPLATE_KINDS:
        return True
    if kind == "text":
        links = text.count("](")
        if links >= LINK_DENSITY_MIN_LINKS:
            words = len(text.split())
            if words < links * LINK_DENSITY_WORDS_PER_LINK:
                return True
    return False


def clean_spans(spans: list[dict]) -> list[dict]:
    """Strip boilerplate, keep document order, re-densify offsets 0..n-1.

    Input/output element shape: {kind, text, media_ref, offset}.
    """
    out = []
    for s in sorted(spans, key=lambda s: s["offset"]):
        if is_boilerplate(s["kind"], s["text"]):
            continue
        out.append(
            {
                "kind": s["kind"],
                "text": s["text"],
                "media_ref": s["media_ref"],
                "offset": len(out),
            }
        )
    return out


# ---------------------------------------------------------------------------
# Document rendering + chunking (reference parser.py:87-124)
# ---------------------------------------------------------------------------


def render_line(span: dict) -> Optional[str]:
    """Markdown-ish rendering of one clean span (parser.py:87 analogue).

    heading -> '# <text>'; text -> raw text; table -> markdown pipe
    rows ('| a | b |' per grid line — the reference's full_markdown
    renders tables the same way, so chunk text INCLUDES table content;
    the trailing pipe also matters behaviorally: it stops the
    payment-history month regex of crif_parser.py:193-204 from
    swallowing the next row's year cell); media -> skipped.
    """
    kind = span["kind"]
    if kind == "heading":
        return "# " + span["text"]
    if kind == "text":
        return span["text"]
    if kind == "table":
        return "\n".join("| " + ln + " |" for ln in span["text"].split("\n"))
    return None


def render_text(spans: list[dict]) -> str:
    """Full-document markdown-ish text (reference full_markdown)."""
    lines = []
    for s in spans:
        r = render_line(s)
        if r is not None:
            lines.append(r)
    return "\n".join(lines)


def build_chunks(spans: list[dict]) -> list[dict]:
    """Header-segmentation chunker mirroring parser.py:107-124.

    The reference streams markdown lines: a '#' line closes the current
    chunk (kept only if its text is non-blank) and opens a new one with
    header=line.strip('# ') and text=line+'\n'; other lines append
    line+'\n'.  Table spans contribute their markdown pipe rows —
    the reference's full_markdown includes tables, which is what lets
    parse_accounts_from_chunks (crif_parser.py:130-174) read account
    fields laid out as label:value grids.
    """
    chunks: list[dict] = []
    header = "Start"
    text = ""
    for s in spans:
        if s["kind"] == "heading":
            if text.strip():
                chunks.append({"header": header, "text": text})
            line = "# " + s["text"]
            header = line.strip("# ")
            text = line + "\n"
        elif s["kind"] == "text":
            text += s["text"] + "\n"
        elif s["kind"] == "table":
            text += render_line(s) + "\n"
    if text.strip():
        chunks.append({"header": header, "text": text})
    for i, c in enumerate(chunks):
        c["chunk_idx"] = i
    return chunks


def parse_table(raw: str) -> tuple[list[str], list[list[str]]]:
    """Parse the serialized grid (FIXTURES.md §1): line 0 = columns
    joined by ' | ', following lines = rows.  Mirrors the stringified
    table of parser.py:90-106 (fillna("") + astype(str))."""
    lines = raw.split("\n")
    if not lines or not lines[0].strip():
        return [], []
    columns = [c.strip() for c in lines[0].split("|")]
    rows = []
    for line in lines[1:]:
        if not line.strip():
            continue
        cells = [c.strip() for c in line.split("|")]
        # ragged rows: pad/truncate to the column count, like a pandas
        # frame with fill_value="" (parser.py:158-162)
        if len(cells) < len(columns):
            cells = cells + [""] * (len(columns) - len(cells))
        rows.append(cells[: len(columns)])
    return columns, rows


def build_tables(spans: list[dict]) -> list[dict]:
    """Table list in document order, id=enumerate (parser.py:91,101)."""
    tables = []
    for s in spans:
        if s["kind"] != "table":
            continue
        columns, rows = parse_table(s["text"])
        page = -1
        m = re.match(r"page:(\d+)$", s.get("media_ref") or "")
        if m:
            page = int(m.group(1))
        tables.append(
            {
                "id": len(tables),
                "page": page,
                "columns": columns,
                "rows": rows,
                "raw": s["text"],
            }
        )
    return tables


# ---------------------------------------------------------------------------
# Scalar cleaning / field extraction (crif_parser.py:177-216)
# ---------------------------------------------------------------------------


def clean_number(value: Any) -> float:
    """crif_parser.py:207-216 — strip ','/'₹'/'Rs', float() else 0.0."""
    if isinstance(value, (int, float)):
        return float(value)
    s = str(value).replace(",", "").replace("₹", "").replace("Rs", "").strip()
    try:
        return float(s)
    except (ValueError, TypeError):
        return 0.0


def extract_field(text: str, field_name: str) -> str:
    """crif_parser.py:177-183 — first line containing field_name; value
    is everything after the line's FIRST ':' (stripped); '' if none."""
    for line in text.split("\n"):
        if field_name in line:
            parts = line.split(":", 1)
            if len(parts) > 1:
                return parts[1].strip()
    return ""


MONTHS_ABBR = [
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
]


#: precompiled per-month status patterns (r6: building the pattern
#: f-string per call made every search pay the re-module cache lookup —
#: ~0.3 s of 1.23 s per 2000 docs in the fused parse stage)
_STATUS_RES = {
    month: re.compile(rf"{month}\s*[:\-]?\s*([A-Z0-9\-/]+)", re.IGNORECASE)
    for month in MONTHS_ABBR
}


def payment_status(text: str, month: str) -> str:
    """crif_parser.py:193-204 — first case-insensitive match of
    '<month>\\s*[:\\-]?\\s*([A-Z0-9\\-/]+)' anywhere in text; '' if none."""
    pat = _STATUS_RES.get(month)
    if pat is None:  # non-standard month name: fall back to on-the-fly
        pat = re.compile(rf"{month}\s*[:\-]?\s*([A-Z0-9\-/]+)", re.IGNORECASE)
    m = pat.search(text)
    return m.group(1).strip() if m else ""


#: exact decode table for the fixed grade vocabulary — one dict lookup
#: instead of the 7-way if-chain (values mirror crif_models.py:11-32
#: line for line; the regex fallback below handles everything else)
_DPD_TABLE = {
    "000": 0, "std": 0, "000/std": 0,
    "030": 30,
    "060": 60,
    "090": 90, "sub": 90, "090/sub": 90,
    "120": 120, "dbt": 120, "120/dbt": 120,
    "150": 180, "lss": 180, "150/lss": 180, "180": 180,
    "-": 0,
}
_DPD_NUM_RE = re.compile(r"(\d+)")


def dpd_for_status(status: str) -> int:
    """crif_models.py:11-32 DPD grade decode."""
    s = status.lower().strip()
    v = _DPD_TABLE.get(s)
    if v is not None:
        return v
    m = _DPD_NUM_RE.match(s)
    return int(m.group(1)) if m else 0


def _field_from_lines(lines: list[str], field_name: str) -> str:
    """`extract_field` over a pre-split line list, so an account
    block is split into lines once for all its field lookups
    (identical first-match / after-first-':' semantics)."""
    for line in lines:
        if field_name in line:
            parts = line.split(":", 1)
            if len(parts) > 1:
                return parts[1].strip()
    return ""


def parse_account(text: str) -> Optional[dict]:
    """crif_parser.py:146-174 — parse one account block; None when
    Account Type is empty.  Only the fields a parameter reads: the
    reference's secured flag and balance/overdue/sanctioned amounts
    feed no parameter."""
    lines = text.split("\n")
    account_type = _field_from_lines(lines, "Account Type")
    if not account_type:
        return None
    remarks = _field_from_lines(lines, "Account Remarks")
    worst = 0
    for month in MONTHS_ABBR:
        st = payment_status(text, month)
        if st:
            d = dpd_for_status(st)
            if d > worst:
                worst = d
    return {
        "account_type": account_type,
        "is_active": "active" in text.lower(),  # crif_parser.py:156
        "remarks": remarks or "",
        "worst_dpd": worst,  # crif_models.py:47-50 (0 when no history)
    }


# account flag predicates (crif_models.py:52-60)
def has_suit_filed(remarks: str) -> bool:
    return "suit filed" in remarks.lower()


def has_wilful_default(remarks: str) -> bool:
    return "wilful default" in remarks.lower()


def has_settlement_writeoff(remarks: str) -> bool:
    rl = remarks.lower()
    return "settlement" in rl or "write" in rl


def is_live_pl_bl(account: dict) -> bool:
    """crif_models.py:81-88 per-account predicate."""
    if not account["is_active"]:
        return False
    t = account["account_type"].lower()
    return "personal loan" in t or "business loan" in t


#: the flag parameters read from account remarks, with their predicate
#: (crif_models.py:52-60; bureau_ntc_accepted has none) — the same three
#: the SQL engine's sqlexpr.FLAG_PREDS encodes
FLAG_PREDICATES = {
    "bureau_suit_filed": has_suit_filed,
    "bureau_wilful_default": has_wilful_default,
    "bureau_settlement_writeoff": has_settlement_writeoff,
}


def count_flagged(param_id: str, accounts: list[dict]) -> int:
    """crif.py:252-277 and 388-422 — the accounts whose remarks carry
    the parameter's flag; 0 for a flag without a remark predicate."""
    pred = FLAG_PREDICATES.get(param_id)
    return sum(1 for a in accounts if pred(a["remarks"])) if pred else 0


def report_accounts(chunks: list[dict]) -> list[dict]:
    """parse_crif_report (crif_parser.py:7-25): one account per
    'Account Information' chunk; a block whose Account Type is empty is
    no account (parse_account returns None)."""
    return [a for c in chunks
            if c["header"].startswith("Account Information")
            for a in (parse_account(c["text"]),) if a]


def chunk_accounts(text: str) -> list[dict]:
    """crif.py:395-401 — the accounts inside one text chunk: every
    'Account Number:' opens a sub-block, parsed with its label."""
    return [a for b in text.split("Account Number:")[1:]
            for a in (parse_account("Account Number:" + b),) if a]


# ---------------------------------------------------------------------------
# Table-signature extractors (crif_parser.py:28-127)
# ---------------------------------------------------------------------------


def _cell(columns: list[str], row: list[str], name: str, default: Any = "") -> Any:
    """row.get(name, default) with the reference's exact-case column
    lookup (pandas Series label access, crif_parser.py:39-44,77)."""
    try:
        return row[columns.index(name)]
    except ValueError:
        return default


def account_summary_from_table(table: dict) -> Optional[dict]:
    """crif_parser.py:28-46.  None unless the signature matches and the
    table is non-empty (df.empty pre-check at :30)."""
    if not table["rows"]:
        return None
    cl = [c.lower() for c in table["columns"]]
    if "number of accounts" not in cl and "active accounts" not in cl:
        return None
    row = table["rows"][0]
    cols = table["columns"]
    return {
        "total_accounts": int(clean_number(_cell(cols, row, "Number of Accounts", 0))),
        "active_accounts": int(clean_number(_cell(cols, row, "Active Accounts", 0))),
        "total_current_balance": clean_number(_cell(cols, row, "Total Current Balance", 0)),
        "total_overdue_amount": clean_number(_cell(cols, row, "Total Amount Overdue", 0)),
        "total_writeoff_amount": clean_number(_cell(cols, row, "Total Writeoff Amt", 0)),
    }


def bureau_score_from_table(table: dict) -> Optional[int]:
    """crif_parser.py:66-87 — first row with 'SCORE' in the Requested
    Service cell whose cleaned Score parses to int in [300, 900]."""
    if not table["rows"]:
        return None
    cl = [c.lower() for c in table["columns"]]
    if "requested service" not in cl or "score" not in cl:
        return None
    cols = table["columns"]
    for row in table["rows"]:
        service = str(_cell(cols, row, "Requested Service", "")).upper()
        if "CB SCORE" in service or "SCORE" in service:
            score_val = _cell(cols, row, "Score", None)
            if score_val:
                try:
                    score = int(clean_number(score_val))
                except (ValueError, TypeError):
                    # crif_parser.py:79-85 — a 'nan'/unparseable Score
                    # cell skips the row and keeps scanning
                    continue
                if 300 <= score <= 900:
                    return score
    return None


def credit_inquiries_from_table(table: dict) -> Optional[int]:
    """crif_parser.py:100-116."""
    if not table["rows"]:
        return None
    cl = [c.lower() for c in table["columns"]]
    if "enquiry purpose" in cl or "inquiry" in " ".join(cl):
        return len(table["rows"])
    if "number of enquiries" in cl:
        cols = table["columns"]
        for row in table["rows"]:
            val = _cell(cols, row, "Number of Enquiries",
                        _cell(cols, row, "Number of enquiries", 0))
            if val:
                return int(clean_number(val))
    return None


#: the account-summary field of each direct parameter read from an
#: account-summary table (crif.py:311-359)
_SUMMARY_PARAMS = {
    "bureau_written_off_debt_amount": "total_writeoff_amount",
    "bureau_max_loans": "total_accounts",
    "bureau_max_active_loans": "active_accounts",
}


def direct_table_value(param_id: str, table: dict) -> Any:
    """crif.py:311-359 — a direct parameter's chunk-aware value from the
    winning table candidate, or None when the table lacks its
    signature."""
    if param_id == "bureau_credit_score":
        return bureau_score_from_table(table)
    if param_id == "bureau_credit_inquiries":
        return credit_inquiries_from_table(table)
    summary = account_summary_from_table(table)
    return summary[_SUMMARY_PARAMS[param_id]] if summary else None


# first-match-over-tables fallbacks (crif_parser.py:49-63, 89-97, 119-127)
def account_summary(tables: list[dict]) -> dict:
    for t in tables:
        r = account_summary_from_table(t)
        if r:
            return r
    return {
        "total_accounts": 0,
        "active_accounts": 0,
        "total_current_balance": 0.0,
        "total_overdue_amount": 0.0,
        "total_writeoff_amount": 0.0,
    }


def bureau_score(tables: list[dict]) -> Optional[int]:
    for t in tables:
        r = bureau_score_from_table(t)
        if r is not None:
            return r
    return None


def credit_inquiries(tables: list[dict]) -> int:
    for t in tables:
        r = credit_inquiries_from_table(t)
        if r is not None:
            return r
    return 0


# ---------------------------------------------------------------------------
# GSTR-3B (gstr.py)
# ---------------------------------------------------------------------------

FULL_MONTHS = (
    "January|February|March|April|May|June|July|August|September|"
    "October|November|December"
)


def gstr_month(text: str) -> str:
    """gstr.py:39-65 — month/year regexes over the first 20 lines."""
    header_text = "\n".join(text.split("\n")[:20])
    mm = re.search(r"(?:Month|Period)\s*[:\-]?\s*([A-Za-z]+)", header_text, re.IGNORECASE)
    ym = re.search(
        r"(?:Year|Financial Year)\s*[:\-]?\s*(\d{4}(?:-\d{2,4})?)",
        header_text,
        re.IGNORECASE,
    )
    if mm and ym:
        year = ym.group(1)
        if "-" in year:
            year = year.split("-")[0]
        return f"{mm.group(1)} {year}"
    dm = re.search(rf"\b({FULL_MONTHS})\s*20\d{{2}}\b", header_text)
    if dm:
        return dm.group(0)
    return "Unknown Month"


def clean_currency(val: str) -> float:
    """gstr.py:144-155 — keep [0-9.] only; float() else 0.0."""
    if not val:
        return 0.0
    clean = re.sub(r"[^\d\.]", "", val)
    try:
        return float(clean)
    except Exception:
        return 0.0


def gstr_table_matches(table: dict) -> bool:
    """gstr.py:74-90 signature: strong (integrated & central & taxable
    cols) or weak ('3.1' + outward/supplies in normalized table text)."""
    cols = [c.lower() for c in table["columns"]]
    has_tax_cols = any("integrated" in c for c in cols) and any("central" in c for c in cols)
    has_taxable = any("taxable" in c for c in cols)
    if has_tax_cols and has_taxable:
        return True
    table_str = re.sub(r"\s+", " ", table["raw"].lower())
    return "3.1" in table_str and ("outward" in table_str or "supplies" in table_str)


def gstr_sales(tables: list[dict]) -> Optional[dict]:
    """gstr.py:67-142 — first matching table; taxable-value column (or
    index 1 / last); first '(a)'/'outward taxable supplies' row.  The
    matched table's ``page`` rides along for the fused stage's g_page."""
    matches = [t for t in tables if gstr_table_matches(t)]
    if not matches:
        return None
    best = matches[0]
    cols = best["columns"]
    idx = -1
    for i, c in enumerate(cols):
        lc = str(c).lower()
        if "taxable" in lc and "value" in lc:
            idx = i
            break
    if idx == -1 and len(cols) > 1:
        idx = 1
    for row in best["rows"]:
        row_str = " ".join(str(x) for x in row).lower()
        if "(a)" in row_str or "outward taxable supplies" in row_str:
            return {
                "value": clean_currency(str(row[idx])),  # idx=-1 → last col
                "source": f"GSTR-3B Table 3.1 (Page {best['page']})",
                "confidence": 1.0,
                "page": best["page"],
            }
    return None


# ---------------------------------------------------------------------------
# Deterministic embedding (replaces Ollama, embeddings.py:25-71)
# ---------------------------------------------------------------------------

EMBED_DIM = 64
EMBED_MAX_CHARS = 1600  # embeddings.py:39
_TOKEN_RE = re.compile(r"[a-z0-9]+")

# token → (dim, sign) memo; bounded so long-lived executors can't grow
# it without limit on high-cardinality numeric tokens
_TOKEN_MEMO: dict[str, tuple[int, float]] = {}
_TOKEN_MEMO_MAX = 1 << 20


def _token_feature(tok: str) -> tuple[int, float]:
    """Deterministic CRC-32 hash → (dimension, sign).  Stable across
    processes (unlike Python's salted hash()) and C-speed: the former
    pure-Python per-byte FNV loop made cold (memo-miss) workers ~10x
    slower than warm ones, which showed up as a multi-run warm-up
    cliff at high worker counts (each of 32 workers must see the
    vocabulary before its memo saturates)."""
    f = _TOKEN_MEMO.get(tok)
    if f is not None:
        return f
    h = zlib.crc32(tok.encode("utf-8"))
    f = (h % EMBED_DIM, 1.0 if (h >> 8) & 1 else -1.0)
    if len(_TOKEN_MEMO) < _TOKEN_MEMO_MAX:
        _TOKEN_MEMO[tok] = f
    return f


def embed(text: str) -> np.ndarray:
    """Hashed bag-of-words feature vector (float64, EMBED_DIM).

    Deterministic stand-in for the reference's embedding model —
    consistency across runs is what the reference's own test relies on
    (test_accuracy.py:79-115).  Truncates to 1600 chars like
    embeddings.py:38-45.
    """
    vec = np.zeros(EMBED_DIM, dtype=np.float64)
    # aggregate repeated tokens first (C-speed Counter): adding sign*n
    # is bit-identical to n additions of ±1.0 (small-integer floats are
    # exact), so the oracle/UDF parity is preserved
    counts = Counter(_TOKEN_RE.findall(text[:EMBED_MAX_CHARS].lower()))
    for tok, n in counts.items():
        dim, sign = _token_feature(tok)
        vec[dim] += sign * n
    return vec


#: one query embedding per parameter, in spec order (crif.py:136), and
#: their norms: every retrieval form's queries (retrieve_best, the
#: relational engine's score literals, the RAG answerer)
QUERY_MAT = np.stack([embed(query_text(spec)) for spec in PARAMETER_SPECS])
QUERY_NORMS = np.linalg.norm(QUERY_MAT, axis=1)


def cosine(v1: np.ndarray, v2: np.ndarray) -> float:
    """embeddings.py:57-71 — 0.0 when either norm is zero."""
    n1 = float(np.linalg.norm(v1))
    n2 = float(np.linalg.norm(v2))
    if n1 == 0 or n2 == 0:
        return 0.0
    return float(np.dot(v1, v2) / (n1 * n2))


# config.py:22 sets 0.5 for the reference's sentence-embedding model,
# whose query↔chunk scores on its own CRIF fixture span 0.56-0.73
# (extraction_output.json similarity_score values) — i.e. the cutoff
# sits just under the model's typical-hit band.  This engine's
# deterministic hashed-BoW stand-in model produces a different scale
# (0.16-0.49 best-hit band on the same fixture), so the SAME selection
# behavior requires a model-calibrated cutoff, not the literal 0.5.
SIMILARITY_THRESHOLD = 0.15


MAX_CHUNK_CHARS = 1500  # crif.py:86


def candidate_pool(tables: list[dict], chunks: list[dict]) -> list[dict]:
    """_prepare_document_chunks (crif.py:80-121): a CRIF document's
    retrieval candidates, tables then text chunks, contents truncated
    to MAX_CHUNK_CHARS; each ``{ctype, ref_idx, content}``, the shape of
    retrieval.CANDIDATES_EXPR."""
    pool = [{"ctype": "table", "ref_idx": t["id"],
             "content": (t["raw"] or "")[:MAX_CHUNK_CHARS]}
            for t in tables]
    pool += [{"ctype": "text", "ref_idx": c["chunk_idx"],
              "content": (c["text"] or "")[:MAX_CHUNK_CHARS]}
             for c in chunks]
    return pool


def retrieve_best(cand_vecs: list[np.ndarray]
                  ) -> list[tuple[Optional[int], float]]:
    """Stable-argmax + threshold of every query in QUERY_MAT over the
    candidate vectors: the observable effect of embeddings.py:73-136
    (score all, stable sort desc, top-3, filter >= SIMILARITY_THRESHOLD,
    take [0]); returns one (candidate_index | None, best_score) per
    parameter.  The oracle and extract.retrieval.retrieve_rows (the
    fused stage's and the RAG fallback's retrieval) both call it, so
    all compute bit-identical scores.  np.argmax keeps the FIRST
    maximum, matching the reference's stable sort (embeddings.py:85)."""
    p = QUERY_MAT.shape[0]
    if not cand_vecs:
        return [(None, 0.0)] * p
    m = np.stack(cand_vecs)  # n×d
    cn = np.linalg.norm(m, axis=1)
    denom = QUERY_NORMS[:, None] * cn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.where(denom == 0.0, 0.0, (QUERY_MAT @ m.T) / denom)
    # row-wise first-maximum + threshold, fully vectorized (the former
    # per-parameter Python loop with one np.argmax call per row was
    # ~0.2 s per 2000 docs); np.argmax(axis=1) keeps the FIRST max per
    # row exactly like the per-row calls
    idx = np.argmax(sims, axis=1)
    vals = sims[np.arange(p), idx]
    ok = vals >= SIMILARITY_THRESHOLD
    return [((int(i), float(v)) if o else (None, float(v)))
            for i, v, o in zip(idx, vals, ok)]


# ---------------------------------------------------------------------------
# Confidence (config.py:29-47, crif.py:540-561)
# ---------------------------------------------------------------------------

CONFIDENCE_METHOD_WEIGHTS = {
    "direct_table": 0.95,
    "computed": 1.0,
    "flag_detection": 0.85,
    "embedding_guided": 0.90,
    "rag_assisted": 0.70,
}


def method_weight(method: str) -> float:
    """crif.py:542 — dict .get with 0.5 default; note 'chunk_aware' is
    NOT in the table, so chunk-aware extractions weigh 0.5."""
    return CONFIDENCE_METHOD_WEIGHTS.get(method, 0.5)


def similarity_boost(score: float) -> float:
    """crif.py:556-561 iterating config.py:29-34 in insertion order
    (descending ladder)."""
    if score >= 0.85:
        return 1.0
    if score >= 0.70:
        return 0.9
    if score >= 0.50:
        return 0.7
    return 0.5
