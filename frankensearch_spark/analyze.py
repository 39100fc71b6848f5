"""Tokenizers / analyzers.

``analyze_default`` re-expresses the reference's default analyzer — a fusion
of Tantivy 0.26.1 ``SimpleTokenizer`` + ``LowerCaser`` — from its public
semantics: split on non-alphanumeric Unicode scalar values, ASCII-lowercase
when the token is all-ASCII, full Unicode lowercase expansion otherwise.
Parity target: ``crates/frankensearch-quill/src/scribe.rs:279-296`` (doc) and
the scalar oracle at ``scribe.rs:742-790``; verified against the 14
``analyzer_cases`` of ``tests/fixtures/quill_language_contract.json``.

Offsets are UTF-8 **byte** offsets (the reference indexes ``&str`` slices).

Position-gap admission rule (scribe.rs:214-243): tokens longer than
``MAX_TERM_BYTES`` (65,530 UTF-8 bytes) are dropped *after* analysis, so
surviving tokens keep their original positions.  Fieldnorms / statistics
count **admitted** tokens (scribe.rs:186).

``tokenize_fast`` is the vectorizable hot path used inside pandas UDFs: it
emits the same (term, position) stream (no offsets) and is regex-driven —
``[^\\W_]+`` with Python's Unicode ``\\w`` equals runs of ``str.isalnum()``
characters, matching the reference's boundary rule for every fixture case.
(Known daylight vs Rust ``char::is_alphanumeric`` exists only for
Other_Alphabetic marks/symbols such as U+24B6; none appear in the contract
corpus.)
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from frankensearch_spark.contract import MAX_TERM_BYTES

_WORD_RE = re.compile(r"[^\W_]+", re.UNICODE)

# conservative char-count threshold above which a token *might* exceed
# MAX_TERM_BYTES (a UTF-8 char is at most 4 bytes)
_MAYBE_OVERSIZED_CHARS = MAX_TERM_BYTES // 4


@dataclass(frozen=True)
class Token:
    text: str
    position: int
    offset_from: int  # UTF-8 byte offset
    offset_to: int
    position_length: int = 1


def _is_alnum(ch: str) -> bool:
    # scribe.rs tokenizer_is_alphanumeric: ASCII fast path uses
    # is_ascii_alphanumeric; otherwise Unicode is_alphanumeric.
    if ch.isascii():
        return "0" <= ch <= "9" or "a" <= ch <= "z" or "A" <= ch <= "Z"
    return ch.isalnum()


def analyze_default(text: str) -> list[Token]:
    """Exact reference analyzer with byte offsets (test/oracle path)."""
    out: list[Token] = []
    position = 0
    byte_off = 0
    tok_chars: list[str] = []
    tok_start = 0
    all_ascii = True

    def flush(end_byte: int) -> None:
        nonlocal position, tok_chars, all_ascii
        if not tok_chars:
            return
        if all_ascii:
            text_out = "".join(tok_chars).lower()
        else:
            text_out = "".join(c.lower() for c in tok_chars)
        out.append(Token(text_out, position, tok_start, end_byte))
        position += 1
        tok_chars = []
        all_ascii = True

    for ch in text:
        ch_bytes = len(ch.encode("utf-8"))
        if _is_alnum(ch):
            if not tok_chars:
                tok_start = byte_off
            tok_chars.append(ch)
            all_ascii = all_ascii and ch.isascii()
        else:
            flush(byte_off)
        byte_off += ch_bytes
    flush(byte_off)
    return out


def admit(tokens: list[Token]) -> list[Token]:
    """Drop oversized tokens, preserving position gaps (scribe.rs:214-243)."""
    kept = []
    for t in tokens:
        if len(t.text) > _MAYBE_OVERSIZED_CHARS and len(t.text.encode("utf-8")) > MAX_TERM_BYTES:
            continue
        kept.append(t)
    return kept


def tokenize_fast(text: str) -> list[tuple[str, int]]:
    """Hot-path tokenizer: (term, position) stream identical to
    ``admit(analyze_default(text))`` on term text and positions."""
    if not text:
        return []
    if text.isascii():
        # lowering first is safe for ASCII (no boundary changes)
        terms = _WORD_RE.findall(text.lower())
    else:
        # str.lower applies Unicode's context-sensitive final-sigma rule
        # (trailing Σ -> ς); the reference lowers PER CHARACTER (Σ -> σ
        # always).  Tokens surfacing a 'ς' after the fast lower re-lower
        # char-wise so index terms match analyze_default/query terms.
        terms = [
            "".join(c.lower() for c in t) if "ς" in lt else lt
            for t in _WORD_RE.findall(text)
            for lt in (t.lower(),)
        ]
    out = []
    for pos, t in enumerate(terms):
        if len(t) > _MAYBE_OVERSIZED_CHARS and len(t.encode("utf-8")) > MAX_TERM_BYTES:
            continue
        out.append((t, pos))
    return out


# --- code-aware extension (north-star addition; NOT in the Tantivy parity
# path — gate with code_aware=True).  snake_case already splits in the
# default analyzer ('_' is non-alphanumeric); this stage adds camelCase /
# digit-boundary sub-token emission at the whole token's position, following
# the reference CASS analyzer's compound-plus-parts pattern
# (scribe.rs:794-1010: hyphen compound emits whole + parts at one position).

_CAMEL_RE = re.compile(
    r"[A-Z]+(?=[A-Z][a-z])|[A-Z]?[a-z]+|[A-Z]+|[0-9]+"
)


def split_code_token(term: str) -> list[str]:
    """camelCase/PascalCase/digit-boundary parts of a single term."""
    parts = _CAMEL_RE.findall(term)
    if len(parts) <= 1:
        return []
    return [p.lower() for p in parts]


CASS_EDGE_NGRAM_MIN = 2
CASS_EDGE_NGRAM_MAX = 20
CASS_MAX_TOKEN_BYTES = 256  # scribe.rs:794


def is_cass_cjk(ch: str) -> bool:
    """Exact CJK ranges of the incumbent CASS tokenizer (scribe.rs:814-833);
    pinned — broadening would change durable term bytes."""
    o = ord(ch)
    return (
        0x4E00 <= o <= 0x9FFF
        or 0x3400 <= o <= 0x4DBF
        or 0x3040 <= o <= 0x309F
        or 0x30A0 <= o <= 0x30FF
        or 0xAC00 <= o <= 0xD7AF
        or 0x3100 <= o <= 0x312F
        or 0x3300 <= o <= 0x33FF
        or 0xF900 <= o <= 0xFAFF
        or 0x20000 <= o <= 0x2A6DF
    )


def _is_ascii_alnum(ch: str) -> bool:
    return ("0" <= ch <= "9") or ("a" <= ch <= "z") or ("A" <= ch <= "Z")


def analyze_cass(text: str, hyphen_decompose: bool = True) -> list[Token]:
    """CASS analyzer family (T4, scribe.rs:794-1010).

    ``hyphen_decompose=True`` is CassHyphenNormalize (compound emitted
    whole + '-'-split parts at the same position); ``False`` is
    CassPrefixNormalize.  ASCII tokens are alnum runs with interior
    single hyphens; CJK runs emit character bigrams sharing one position;
    all other characters (including accented Latin) are separators.
    Tokens over 256 bytes are dropped (cap applies per emission)."""
    out: list[Token] = []
    chars = list(text)
    # byte offset of each char + sentinel end
    offs = [0] * (len(chars) + 1)
    for i, ch in enumerate(chars):
        offs[i + 1] = offs[i] + len(ch.encode("utf-8"))

    def emit(source: str, position: int, a: int, b: int) -> None:
        if len(source.encode("utf-8")) > CASS_MAX_TOKEN_BYTES:
            return
        out.append(Token(source.lower(), position, offs[a], offs[b]))

    i = 0
    position = 0
    n = len(chars)
    while i < n:
        ch = chars[i]
        if _is_ascii_alnum(ch):
            # ascii token end: alnum runs, single interior hyphens
            # (scribe.rs cass_ascii_token_end)
            end = i
            j = i
            last_alnum = False
            while j < n:
                cj = chars[j]
                if _is_ascii_alnum(cj):
                    j += 1
                    end = j
                    last_alnum = True
                    continue
                if (
                    cj == "-"
                    and last_alnum
                    and j + 1 < n
                    and _is_ascii_alnum(chars[j + 1])
                ):
                    j += 1
                    end = j
                    last_alnum = False
                    continue
                break
            source = "".join(chars[i:end])
            emit(source, position, i, end)
            if hyphen_decompose and "-" in source:
                for part in source.split("-"):
                    if part:
                        emit(part, position, i, end)
            position += 1
            i = end
            continue
        if is_cass_cjk(ch):
            end = i + 1
            while end < n and is_cass_cjk(chars[end]):
                end += 1
            run = chars[i:end]
            if len(run) == 1:
                emit(run[0], position, i, end)
            else:
                for k in range(len(run) - 1):
                    emit(run[k] + run[k + 1], position, i, end)
            position += 1
            i = end
            continue
        i += 1
    return out


def cass_generate_edge_ngrams(text: str) -> list[str]:
    """Per word: character prefixes of length 2..=20 (scribe.rs:1013-1052;
    helper cases ``helper-edge-prefix-*``).

    DELIBERATE divergence on non-ASCII uppercase: the reference emits
    raw-cased prefixes and normalizes with ASCII-only lowercase
    (cass_compat.rs:1873) while lowercasing the QUERY prefix fully
    (cass_compat.rs:2325) — so 'ÉCLAIR' indexes 'É…' terms a query
    'écl' can never match.  This port lowercases at ngram time (and
    the downstream analyzer lowers again), so the same query DOES
    match.  We keep the matching behavior rather than replicate a
    reference quirk that silently drops non-ASCII-uppercase prefix
    hits; the contract fixtures pin lowercase inputs only, where both
    behaviors are byte-identical."""
    out: list[str] = []
    for word in _WORD_RE.findall(text):
        w = word.lower()
        for n in range(CASS_EDGE_NGRAM_MIN, min(len(w), CASS_EDGE_NGRAM_MAX) + 1):
            out.append(w[:n])
    return out


def cass_build_preview(text: str, max_chars: int) -> str:
    """Character-truncating preview with ellipsis (helper-preview cases)."""
    if len(text) <= max_chars:
        return text
    return text[:max_chars] + "…"


def tokenize_code_aware(text: str) -> list[tuple[str, int]]:
    """Default stream plus lowered camelCase parts at the same positions."""
    if not text:
        return []
    out: list[tuple[str, int]] = []
    for pos, raw_term in enumerate(_WORD_RE.findall(text)):
        term = raw_term.lower()
        if "ς" in term:  # per-char lowering rule — see tokenize_fast
            term = "".join(c.lower() for c in raw_term)
        if (
            len(term) > _MAYBE_OVERSIZED_CHARS
            and len(term.encode("utf-8")) > MAX_TERM_BYTES
        ):
            continue  # position gap preserved
        out.append((term, pos))
        for part in split_code_token(raw_term):
            if part != term:
                out.append((part, pos))
    return out
