"""Seeded corpus and query-pool generator for the benchmark.

The documents follow the distribution of the engine's own synthetic
corpus: a ``(repo, path, commit, lang, content)`` table over 7 languages,
30..3000 tokens per document (short-skewed), identifiers drawn zipf(1.2)
from a 50k-word vocabulary, and a language keyword every 6th token.  The
seed picks every per-document draw, which documents carry the planted
needle tokens, and the needle tokens themselves.  The engine only ever
sees the parquet this module writes.

The query pool is drawn from the generated documents, so every shape has
matches: AND pairs, keyword + rare identifier, OR groups, ``-neg``
exclusions, quoted phrases, heavy keyword pairs and planted needles.

Standalone use writes query-serve's base corpus and the query pool of a
seed for inspection::

    python3 perfbench/corpus.py --seed 7 --out /path/to/dir
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

VOCAB_SIZE = 50_000
ZIPF_S = 1.2
LANGS = ["python", "javascript", "java", "cpp", "go", "rust", "ruby"]
LANG_WEIGHTS = np.array([0.30, 0.20, 0.15, 0.12, 0.10, 0.08, 0.05])
LANG_EXT = {
    "python": "py", "javascript": "js", "java": "java", "cpp": "cpp",
    "go": "go", "rust": "rs", "ruby": "rb",
}
LANG_KEYWORDS = {
    "python": ["def", "return", "import", "class", "self", "for", "if", "none"],
    "javascript": ["function", "const", "let", "return", "var", "async", "await"],
    "java": ["public", "static", "void", "class", "return", "new", "final"],
    "cpp": ["include", "int", "return", "const", "void", "template", "namespace"],
    "go": ["func", "return", "package", "import", "defer", "chan", "struct"],
    "rust": ["fn", "let", "mut", "impl", "pub", "match", "struct"],
    "ruby": ["def", "end", "class", "module", "require", "attr", "nil"],
}
KEYWORDS = sorted({k for ks in LANG_KEYWORDS.values() for k in ks})

# identifiers are lowercase alphanumerics: the code-aware tokenizer keeps
# each one as a single term, so a query word maps to exactly one termlist
VOCAB = np.array(
    [f"id{i}x{hashlib.sha1(f'vocab:{i}'.encode()).hexdigest()[:4]}" for i in range(VOCAB_SIZE)],
    dtype=object,
)
_P = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** -ZIPF_S
ZIPF_CDF = np.cumsum(_P / _P.sum())
ZIPF_CDF[-1] = 1.0
LANG_CDF = np.cumsum(LANG_WEIGHTS / LANG_WEIGHTS.sum())
LANG_CDF[-1] = 1.0

# the base corpora are fixed; the seed draws queries, deltas and deletes
BASE_SEED = 0
QS_DOCS, QS_NEEDLES = 1000, 24  # query-serve's base corpus
IM_BASE_DOCS = 300              # ingest-mixed's base corpus

# vocabulary ranks that bound the pool's term classes
MID_RANKS = (20, 2_000)
RARE_RANK = 2_000

SHAPE_COUNTS = {  # 32 distinct queries: one search_wand_batch call
    "and": 6, "kwrare": 6, "or": 5, "neg": 5, "phrase": 5, "heavy": 2, "needle": 3,
}


@dataclass
class Corpus:
    docs: pd.DataFrame
    ranks: list[np.ndarray]  # per doc: vocab rank per token, -1 for keywords
    needles: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    start: int = 0

    @property
    def content_bytes(self) -> int:
        return int(self.docs["content"].str.len().sum())


def needle_token(seed: int, tag: str) -> str:
    return "nd" + hashlib.sha1(f"needle:{seed}:{tag}".encode()).hexdigest()[:10]


def make_corpus(
    seed: int, n_docs: int, start: int = 0, n_needles: int = 3, tag: str = "base"
) -> Corpus:
    """``n_docs`` documents numbered from ``start``; ``n_needles`` needle
    tokens are each planted in 1..3 seeded documents."""
    rng = np.random.default_rng([seed, start, n_docs])
    planted: dict[int, list[str]] = {}
    needles: dict[str, list[int]] = {}
    for j in range(n_needles):
        tok = needle_token(seed, f"{tag}:{j}")
        rows = rng.choice(n_docs, size=int(rng.integers(1, 4)), replace=False)
        needles[tok] = sorted(int(r) for r in rows)
        for r in rows:
            planted.setdefault(int(r), []).append(tok)
    out = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    ranks = []
    for r in range(n_docs):
        i = start + r
        d = np.random.default_rng([seed, i])
        repo = f"org{i % 7}/proj{i % 97}"
        lang = LANGS[int(np.searchsorted(LANG_CDF, d.random()))]
        n_tok = int(30 + d.random() ** 2 * 2970)
        draws = np.searchsorted(ZIPF_CDF, d.random(n_tok))
        words = VOCAB[draws].tolist()
        kws = LANG_KEYWORDS[lang]
        kw_at = np.arange(0, n_tok, 6)
        for j in kw_at.tolist():
            words[j] = kws[(i + j // 6) % len(kws)]
        rk = draws.copy()
        rk[kw_at] = -1
        for tok in planted.get(r, []):
            at = int(d.integers(0, len(words)))
            words.insert(at, tok)
            rk = np.insert(rk, at, -1)
        path = f"src/{VOCAB[draws[-1]][:8]}/{VOCAB[draws[0]][:12]}_{i}.{LANG_EXT[lang]}"
        out["repo"].append(repo)
        out["path"].append(path)
        out["commit"].append(hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest())
        out["lang"].append(lang)
        out["content"].append(" ".join(words))
        ranks.append(rk)
    docs = pd.DataFrame(out)
    keyed = {
        tok: [(docs.at[r, "repo"], docs.at[r, "path"]) for r in rows]
        for tok, rows in needles.items()
    }
    return Corpus(docs, ranks, keyed, start)


def _word(rank: int) -> str:
    return str(VOCAB[rank])


def make_query_pool(seed: int, corpus: Corpus) -> list[dict]:
    """32 distinct queries, ``SHAPE_COUNTS`` of each shape, drawn from the
    corpus so every non-negated term occurs in it.  Needle entries carry
    the exact ``(repo, path)`` set a search must return."""
    rng = np.random.default_rng([seed, 0x9E77])
    docs = corpus.docs
    n = len(docs)
    pool: list[dict] = []
    seen: set[str] = set()

    def doc_terms(lo: int, hi: int) -> tuple[int, np.ndarray]:
        while True:
            r = int(rng.integers(0, n))
            rk = corpus.ranks[r]
            sel = np.unique(rk[(rk >= lo) & (rk < hi)])
            if len(sel) >= 2:
                return r, sel

    def add(shape: str, q: str, **extra) -> bool:
        if q in seen:
            return False
        seen.add(q)
        pool.append({"shape": shape, "q": q, **extra})
        return True

    def fill(shape: str, make) -> None:
        made = 0
        while made < SHAPE_COUNTS[shape]:
            made += add(shape, make())

    def q_and() -> str:
        _r, sel = doc_terms(*MID_RANKS)
        a, b = rng.choice(sel, 2, replace=False)
        return f"{_word(a)} {_word(b)}"

    def q_kwrare() -> str:
        r, sel = doc_terms(RARE_RANK, VOCAB_SIZE)
        # keyword slot m of doc i holds kws[(i + m) % len(kws)]; the first
        # three slots exist in every document (>= 30 tokens)
        kws = LANG_KEYWORDS[docs.at[r, "lang"]]
        kw = kws[(corpus.start + r + int(rng.integers(0, 3))) % len(kws)]
        return f"{kw} {_word(rng.choice(sel))}"

    def q_or() -> str:
        _r, a = doc_terms(*MID_RANKS)
        _r, b = doc_terms(*MID_RANKS)
        return f"{_word(rng.choice(a))} OR {_word(rng.choice(b))}"

    def q_neg() -> str:
        r, sel = doc_terms(MID_RANKS[0], RARE_RANK)
        other = [k for k in KEYWORDS if k not in LANG_KEYWORDS[docs.at[r, "lang"]]]
        return f"{_word(rng.choice(sel))} -{other[int(rng.integers(0, len(other)))]}"

    def q_phrase() -> str:
        while True:
            rk = corpus.ranks[int(rng.integers(0, n))]
            ok = np.flatnonzero((rk[:-1] >= MID_RANKS[0]) & (rk[1:] >= MID_RANKS[0]))
            if len(ok):
                j = int(rng.choice(ok))
                return f'"{_word(rk[j])} {_word(rk[j + 1])}"'

    def q_heavy() -> str:
        kws = LANG_KEYWORDS[LANGS[int(rng.integers(0, len(LANGS)))]]
        a, b = rng.choice(len(kws), 2, replace=False)
        return f"{kws[a]} {kws[b]}"

    for shape, make in (
        ("and", q_and), ("kwrare", q_kwrare), ("or", q_or), ("neg", q_neg),
        ("phrase", q_phrase), ("heavy", q_heavy),
    ):
        fill(shape, make)
    toks = sorted(corpus.needles)
    for i in rng.choice(len(toks), min(SHAPE_COUNTS["needle"], len(toks)), replace=False):
        add("needle", toks[i], expect=[list(e) for e in corpus.needles[toks[i]]])
    order = rng.permutation(len(pool))
    return [pool[i] for i in order]


def write_corpus(corpus: Corpus, path: str) -> str:
    corpus.docs.to_parquet(path, index=False)
    return path


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    corpus = make_corpus(BASE_SEED, QS_DOCS, n_needles=QS_NEEDLES)
    write_corpus(corpus, os.path.join(a.out, "docs.parquet"))
    with open(os.path.join(a.out, "queries.json"), "w") as f:
        json.dump(make_query_pool(a.seed, corpus), f, indent=1)


if __name__ == "__main__":
    main()
