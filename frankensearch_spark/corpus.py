"""Deterministic synthetic source-code corpus + frozen query set.

Shape fixed by ``BASELINE.json.input_hint``:
``(repo, path, commit, lang, content)``.  Synthesis follows FIXTURES.md §1
(mirroring the reference gauntlet's content-addressed generator discipline,
``crates/frankensearch-quill-gauntlet/src/generator.rs:34-140``): seeded
Zipf token ids ``term00000..term08191``, code-shaped identifiers, skew
tokens ``fn`` / ``import`` in ~60% of rows, log-normal doc lengths.

No wall-clock, no external data — byte-stable across runs and machines.
"""

from __future__ import annotations

import hashlib

import numpy as np

VOCAB_SIZE = 8192
ZIPF_EXPONENT = 1.1
EXTS = {"rust": "rs", "python": "py", "go": "go", "java": "java", "ts": "ts"}
LANGS = list(EXTS)

CODE_TOKENS = [
    "snake_case_identifier",
    "camelCaseIdentifier",
    "HTTPServer2",
    "user_id",
    "src/main.rs",
    "config.toml",
    "generated",
    "record",
]


def _zipf_probs(n: int, s: float) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    w = ranks**-s
    return w / w.sum()


def make_corpus(n_docs: int, seed: int = 42, zipf_s: float = ZIPF_EXPONENT,
                clustered: bool = False):
    """Rows of (repo, path, commit, lang, content), deterministic.

    Fully vectorized (one Zipf draw for the whole corpus) so scaling-bench
    corpora of 10^5..10^6 docs generate in seconds on the driver.

    ``clustered=True`` rotates each doc's Zipf token ids by a per-repo
    vocabulary offset (crc32 of the repo name) — the realistic code-corpus
    shape where a repo's identifiers are repo-local.  Docids follow the
    ``(repo, path, commit)`` natural key, so each repo's ~n/161 docs are a
    contiguous docid range and every rotated term concentrates in the few
    repos where it lands a low Zipf rank: posting lists cluster into docid
    intervals, which is what block-max θ-pruning and term-level MaxScore
    elimination exploit (the reference gauntlet's repo-local generator
    shape, generator.rs:34-140).  The default i.i.d. draw (clustered=False)
    is the ADVERSARIAL control: every term in every bucket with flat
    statistics.  Skew tokens fn/import and the code-shaped sprinkle stay
    global in both modes."""
    import zlib

    rng = np.random.default_rng(seed)
    probs = _zipf_probs(VOCAB_SIZE, zipf_s)
    vocab = np.array([f"term{i:05d}" for i in range(VOCAB_SIZE)], dtype=object)

    # log-normal lengths, clipped 10..2000 (FIXTURES.md §1)
    lengths = np.clip(
        rng.lognormal(mean=4.0, sigma=0.9, size=n_docs), 10, 2000
    ).astype(np.int64)
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    all_ids = rng.choice(VOCAB_SIZE, size=int(bounds[-1]), p=probs)
    if clustered:
        # per-repo rotation: repo identity is i -> (i%7, i%23), 161 repos
        doc_idx = np.arange(n_docs, dtype=np.int64)
        repo_key = (doc_idx % 7) * 23 + (doc_idx % 23)
        offs_lut = np.array(
            [
                zlib.crc32(f"org{a}/repo{b}".encode()) % VOCAB_SIZE
                for a in range(7)
                for b in range(23)
            ],
            dtype=np.int64,
        )
        per_doc_off = offs_lut[repo_key]
        all_ids = (all_ids + np.repeat(per_doc_off, lengths)) % VOCAB_SIZE
    all_toks = vocab[all_ids]
    skew = rng.random(n_docs) < 0.6  # skew terms in ~60% of rows

    commits = [
        hashlib.sha256(f"c{g}".encode()).hexdigest()[:40]
        for g in range(n_docs // 100 + 1)
    ]
    rows = []
    for i in range(n_docs):
        lang = LANGS[i % len(LANGS)]
        repo = f"org{i % 7}/repo{i % 23}"
        path = f"src/m{i % 97}/file{i}.{EXTS[lang]}"
        parts = []
        # code-shaped tokens sprinkled deterministically
        if i % 3 == 0:
            parts.append(CODE_TOKENS[i % len(CODE_TOKENS)])
        parts.append(" ".join(all_toks[bounds[i] : bounds[i + 1]]))
        # skew tokens (north-rule's named skew terms 'fn'/'import')
        if skew[i]:
            parts.append("fn" if i % 2 == 0 else "import")
        rows.append((repo, path, commits[i // 100], lang, " ".join(parts)))
    return rows


def corpus_docs(n_docs: int, seed: int = 42, zipf_s: float = ZIPF_EXPONENT):
    """(docid, content) pairs; docid = global row_number over the natural key
    ``(repo, path, commit)`` — parallelism-invariant (SURVEY.md B3)."""
    rows = make_corpus(n_docs, seed, zipf_s)
    ordered = sorted(range(len(rows)), key=lambda i: rows[i][:3])
    return [(docid, rows[i][4]) for docid, i in enumerate(ordered)]


def multifield_docs(n_docs: int, seed: int = 42):
    """(docid, {"content": ..., "title": ...}) pairs: the same corpus as a
    two-field one whose ``title`` is the document's path; docids as in
    :func:`corpus_docs`."""
    rows = make_corpus(n_docs, seed)
    ordered = sorted(range(len(rows)), key=lambda i: rows[i][:3])
    return [
        (docid, {"content": rows[i][4], "title": rows[i][1]})
        for docid, i in enumerate(ordered)
    ]


# Frozen query set — 16 per class shape of QG-6 (FIXTURES.md §2), adapted to
# the corpus vocabulary; includes guaranteed-miss controls.
FROZEN_QUERIES = {
    "identifier/00": "snake_case_identifier",
    "identifier/01": "camelCaseIdentifier",
    "identifier/02": "HTTPServer2",
    "identifier/03": "user_id",
    "identifier/04": "src/main.rs",
    "identifier/05": "config.toml",
    "identifier/15": "qg6_nohit_identifier_15",
    "short_keyword/00": "fn",
    "short_keyword/01": "import",
    "short_keyword/02": "term00000",
    "short_keyword/03": "term00042",
    "short_keyword/04": "term01000",
    "short_keyword/15": "missingkeywordalpha",
    "natural_language/00": "term00001 term00007 generated record",
    "natural_language/01": "term00002 term00003 term00010",
    "natural_language/02": "generated record fn import",
    "natural_language/03": "term00042 term00100 term00500 term01000 term02000",
    "boolean/00": "term00001 AND term00002",
    "boolean/01": "term00001 OR term09999x",
    "boolean/02": "term00001 NOT term00002",
    "boolean/03": "+term00001 -term00002 term00003",
    "phrase/00": '"term00001 term00002"',
}
