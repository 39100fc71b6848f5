"""Seeded inputs for the benchmark: corpora, query streams, upsert batches.

The benchmark owns this generator so that no change to the program can
change the workload.  It follows the shape of the repository's synthetic
code corpus (Zipf-1.1 over 8,192 ``termNNNNN`` tokens, code-shaped
identifiers, ``fn``/``import`` skew tokens in ~60% of rows, log-normal
lengths, ``(repo, path, commit, lang, content)`` rows) without importing
it.  Everything is a pure function of the seed: the same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import zlib

import numpy as np

VOCAB_SIZE = 8192
ZIPF_S = 1.1
N_ORGS, N_REPOS = 7, 23  # 161 repos; repo of row i is (i % 7, i % 23)
LANGS = (("rust", "rs"), ("python", "py"), ("go", "go"), ("java", "java"),
         ("ts", "ts"))
KEY_COLS = ["repo", "path", "commit"]
CORPUS_SCHEMA = ("repo string, path string, commit string, lang string, "
                 "content string")

# identifier parts: disjoint from the term vocabulary, the skew tokens,
# the upsert markers and the miss tokens
_PARTS = ("alloc", "parse", "config", "buffer", "token", "index", "query",
          "shard", "block", "cache", "merge", "score", "reader", "writer",
          "handle", "event", "batch", "stream", "frame", "codec", "posting",
          "lexer", "planner", "socket")
N_IDENTIFIERS = 1024

# one query class per slot; every run cycles through the same schedule, so
# the class mix of a run does not depend on its seed or length.  Six of ten
# slots are classes that take two Spark jobs per search() at the parent
# commit, so the median falls inside that mode rather than in the gap below
# it, where run-to-run noise would flip it between modes.
CLASS_SCHEDULE = (
    "identifier", "short_keyword", "natural_language", "boolean", "phrase",
    "identifier", "short_keyword", "natural_language", "phrase", "miss",
)
QUERY_CLASSES = tuple(dict.fromkeys(CLASS_SCHEDULE))


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    return w / w.sum()


def identifiers(seed: int) -> list[str]:
    """The corpus's pool of code-shaped identifiers (snake, camel, path,
    dotted and acronym forms), in Zipf rank order."""
    rng = np.random.default_rng([seed, 1])
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < N_IDENTIFIERS:
        a, b = (_PARTS[i] for i in rng.choice(len(_PARTS), 2, replace=False))
        n = int(rng.integers(0, 100))
        form = len(out) % 5
        if form == 0:
            s = f"{a}_{b}_{n}"
        elif form == 1:
            s = f"{a}{b.capitalize()}{n}"
        elif form == 2:
            s = f"src/{a}/{b}{n}.rs"
        elif form == 3:
            s = f"{a}{n}.{b}"
        else:
            s = f"HTTP{a.capitalize()}{n}"
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def _doc_texts(rng, n: int, clustered: bool, repo_of: np.ndarray,
               idents: list[str]) -> list[str]:
    lengths = np.clip(rng.lognormal(4.0, 0.9, size=n), 10, 2000).astype(np.int64)
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    ids = rng.choice(VOCAB_SIZE, size=int(bounds[-1]), p=_zipf_probs(VOCAB_SIZE, ZIPF_S))
    if clustered:
        # each repo rotates the Zipf ranks by its own offset, so a repo's
        # frequent terms are repo-local and postings cluster by repo
        offs = np.array([
            zlib.crc32(f"org{a}/repo{b}".encode()) % VOCAB_SIZE
            for a in range(N_ORGS) for b in range(N_REPOS)
        ], dtype=np.int64)
        ids = (ids + np.repeat(offs[repo_of], lengths)) % VOCAB_SIZE
    vocab = np.array([f"term{i:05d}" for i in range(VOCAB_SIZE)], dtype=object)
    toks = vocab[ids]
    skew = rng.random(n) < 0.6
    has_ident = rng.random(n) < 1 / 3
    ident_ix = rng.choice(len(idents), size=n, p=_zipf_probs(len(idents), ZIPF_S))
    texts = []
    for i in range(n):
        parts = [idents[ident_ix[i]]] if has_ident[i] else []
        parts.append(" ".join(toks[bounds[i]:bounds[i + 1]]))
        if skew[i]:
            parts.append("fn" if i % 2 == 0 else "import")
        texts.append(" ".join(parts))
    return texts


def corpus(n_docs: int, seed: int, clustered: bool) -> list[tuple]:
    """``n_docs`` rows of (repo, path, commit, lang, content)."""
    rng = np.random.default_rng([seed, 2, int(clustered)])
    i = np.arange(n_docs, dtype=np.int64)
    repo_of = (i % N_ORGS) * N_REPOS + (i % N_REPOS)
    texts = _doc_texts(rng, n_docs, clustered, repo_of, identifiers(seed))
    commits = [hashlib.sha256(f"{seed}/c{g}".encode()).hexdigest()[:40]
               for g in range(n_docs // 100 + 1)]
    rows = []
    for k in range(n_docs):
        lang, ext = LANGS[k % len(LANGS)]
        rows.append((f"org{k % N_ORGS}/repo{k % N_REPOS}",
                     f"src/m{k % 97}/file{k}.{ext}", commits[k // 100], lang,
                     texts[k]))
    return rows


def external_id(row) -> str:
    """The engine's external id of a corpus row: key columns joined by '/'."""
    return "/".join(row[:3])


class QueryStream:
    """Distinct query strings over one corpus, following CLASS_SCHEDULE.

    Every string the stream hands out is new, so the warm-up queries (the
    first ones drawn) and the timed queries are pairwise distinct and
    disjoint, and the engine's per-snapshot result cache never answers a
    timed query."""

    def __init__(self, rows: list[tuple], seed: int):
        self._rng = np.random.default_rng([seed, 3])
        self._rows = rows
        self._idents = set(identifiers(seed))
        self._seen: set[str] = set()
        self._slot = 0

    def _doc_terms(self) -> list[str]:
        """The ``termNNNNN`` tokens of a random document, in order."""
        text = self._rows[int(self._rng.integers(0, len(self._rows)))][4]
        return [t for t in text.split(" ") if t.startswith("term")]

    def _pick(self, terms: list[str], n: int) -> list[str]:
        return [terms[i] for i in self._rng.choice(len(terms), n, replace=False)]

    def draw(self, cls: str, variant: int = 0) -> str:
        """One query of class ``cls``.  Every class but ``miss`` is drawn
        from the text of a random document, so it always has hits and the
        work per class does not depend on the seed's luck.  Identifiers
        alternate by ``variant`` between ones the analyzer splits into
        several tokens (snake, path, dotted) and single-token ones (camel,
        acronym), which take different numbers of Spark jobs."""
        rng = self._rng
        if cls == "identifier":
            split = variant % 2 == 0
            while True:
                first = self._rows[int(rng.integers(0, len(self._rows)))][4].split(" ")[0]
                if first in self._idents and any(c in first for c in "_/.") == split:
                    return first
        if cls == "short_keyword":
            return self._pick(self._doc_terms(), 1)[0]
        if cls == "natural_language":
            terms = self._pick(self._doc_terms(), int(rng.integers(2, 5)))
            terms.insert(int(rng.integers(0, len(terms) + 1)),
                         ("fn", "import")[len(terms) % 2])
            return " ".join(terms)
        if cls == "boolean":
            a, c = self._pick(self._doc_terms(), 2)
            b = self._pick(self._doc_terms(), 1)[0]
            form = int(rng.integers(0, 4))
            return (f"{a} AND {c}", f"{a} OR {b}", f"{a} NOT {b}",
                    f"+{a} -{b} {c}")[form]
        if cls == "phrase":
            toks = self._doc_terms()
            j = int(rng.integers(0, len(toks) - 1))
            return f'"{toks[j]} {toks[j + 1]}"'
        if cls == "miss":
            return f"zq{int(rng.integers(0, 16 ** 8)):08x}miss"
        raise ValueError(cls)

    def _distinct(self, cls: str, variant: int) -> str:
        for _ in range(10_000):
            q = self.draw(cls, variant)
            if q not in self._seen:
                self._seen.add(q)
                return q
        raise RuntimeError(f"corpus too small for another distinct {cls} query")

    def warmup(self) -> list[tuple[str, str]]:
        """One query of each class, drawn before any timed one."""
        return [(c, self._distinct(c, 0)) for c in QUERY_CLASSES]

    def next(self) -> tuple[str, str]:
        """(query class, query string)."""
        slot = self._slot % len(CLASS_SCHEDULE)
        self._slot += 1
        cls = CLASS_SCHEDULE[slot]
        return cls, self._distinct(cls, CLASS_SCHEDULE[:slot].count(cls))

    def take(self, n: int) -> list[tuple[str, str]]:
        return [self.next() for _ in range(n)]


def marker(cycle: int, rnd: int) -> str:
    """A token that occurs only in the docs of one upsert batch."""
    return f"mark{cycle:03d}{rnd:02d}"


def upsert_batch(seed: int, cycle: int, rnd: int, replace_keys: list[tuple],
                 n_new: int, clustered: bool) -> list[tuple]:
    """Rows that replace ``replace_keys`` and insert ``n_new`` new keys.

    Every row carries ``marker(cycle, rnd)``; the content otherwise has the
    corpus's shape."""
    rng = np.random.default_rng([seed, 4, cycle, rnd])
    n = len(replace_keys) + n_new
    keys = list(replace_keys) + [
        (f"org{k % N_ORGS}/repo{k % N_REPOS}", f"src/new/c{cycle}r{rnd}/f{k}.rs",
         "upsert")
        for k in range(n_new)
    ]
    repo_of = np.array([
        int(r.split("/")[0][3:]) * N_REPOS + int(r.split("/")[1][4:])
        for r, _, _ in keys
    ], dtype=np.int64)
    texts = _doc_texts(rng, n, clustered, repo_of, identifiers(seed))
    mk = marker(cycle, rnd)
    return [(k[0], k[1], k[2], "rust", f"{t} {mk}") for k, t in zip(keys, texts)]
