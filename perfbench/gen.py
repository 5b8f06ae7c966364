"""Seeded input generator for the benchmark workloads.

Everything is derived from one integer seed through NumPy's PCG64, so the
same seed writes byte-identical files. The program under test only ever
sees the files this module writes into ``<out>/``:

- ``text/pg-<i>.txt``       Zipf-distributed words with punctuation and
                            mixed case (the paper's WordCount input);
- ``sf/documents.parquet``  the registry's ``documents`` table, with a
                            planted share of exact and near-duplicate copies.

The benchmark's own ground truth (planted pairs, the grep pattern) goes to
``truth.json`` beside them; nothing the program reads refers to it.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes. "full" is what the benchmark measures; "tiny" keeps the
# smoke tests fast while still exercising every code path.
SIZES = {
    "full": dict(
        text_files=8, text_lines=1000, words_per_line=10, text_vocab=1000,
        docs=300, exact_share=0.06, near_share=0.14,
    ),
    "tiny": dict(
        text_files=2, text_lines=60, words_per_line=10, text_vocab=300,
        docs=200, exact_share=0.05, near_share=0.10,
    ),
}

# per-language stopwords (operators/text_analysis.py STOPWORDS) mixed into
# documents so the stopword langid labels them as their language
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "den"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "por", "como", "pero"],
    "fr": ["le", "les", "des", "et", "est", "dans", "que", "pour", "sur", "avec"],
}
LANGS = ["en", "en", "en", "de", "es", "fr"]
_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "w", "br", "ch", "st", "tr", "pl", "gr", "sh", "th"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
_CODAS = ["", "", "n", "r", "s", "t", "l", "m", "nd", "st"]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 1–4 syllables."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = 2 * (n - len(words))
        syl = rng.integers(1, 5, m)
        ons = rng.integers(len(_ONSETS), size=(m, 4))
        vow = rng.integers(len(_VOWELS), size=(m, 4))
        cod = rng.integers(len(_CODAS), size=m)
        for i in range(m):
            w = "".join(_ONSETS[o] + _VOWELS[v] for o, v in zip(ons[i, : syl[i]], vow[i, : syl[i]]))
            w += _CODAS[cod[i]]
            if w not in seen and len(words) < n:
                seen.add(w)
                words.append(w)
    return words


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _decorate(rng: np.random.Generator, words: list[str]) -> list[str]:
    """Mixed case plus leading/trailing punctuation the tokenizer must trim."""
    r = rng.random((len(words), 3))
    out = []
    for w, (rc, rp, rq) in zip(words, r):
        if rc < 0.10:
            w = w.capitalize()
        elif rc < 0.12:
            w = w.upper()
        if rp < 0.06:
            w += ","
        elif rp < 0.10:
            w += "."
        elif rp < 0.11:
            w += "!?"
        elif rp < 0.12:
            w += ";"
        if rq < 0.01:
            w = f'"{w}"'
        elif rq < 0.02:
            w = f"({w})"
        elif rq < 0.025:
            w = f"'{w}':"
        out.append(w)
    return out


def _text_files(rng, cfg, out_dir: str) -> dict:
    vocab = _vocab(rng, cfg["text_vocab"])
    p = _zipf_probs(len(vocab), 1.1)
    os.makedirs(out_dir, exist_ok=True)
    for i in range(cfg["text_files"]):
        n = cfg["text_lines"] * cfg["words_per_line"]
        words = _decorate(rng, [vocab[j] for j in rng.choice(len(vocab), n, p=p)])
        wpl = cfg["words_per_line"]
        lines = [" ".join(words[k : k + wpl]) for k in range(0, n, wpl)]
        # a few lines of pure punctuation: tokens that trim to nothing
        for k in rng.choice(len(lines), max(1, len(lines) // 200), replace=False):
            lines[k] = "... -- !! ..."
        with open(os.path.join(out_dir, f"pg-{i}.txt"), "w", encoding="ascii") as fh:
            fh.write("\n".join(lines) + "\n")
    # the 4th most frequent word: frequent enough that most lines are
    # decided by the regex, rare enough that many lines do not match
    return {"grep_pattern": vocab[3]}


def _doc_tokens(rng, vocab, p, lang: str, n: int) -> list[str]:
    words = [vocab[j] for j in rng.choice(len(vocab), n, p=p)]
    stop = STOPWORDS[lang]
    picks = rng.integers(len(stop), size=n)
    for k in np.nonzero(rng.random(n) < 0.25)[0]:
        words[k] = stop[picks[k]]
    return _decorate(rng, words)


def _near_copy(rng, toks: list[str], vocab) -> list[str]:
    """Substitute ~4% of the tokens: 3-shingle Jaccard ≈ 0.75–0.85."""
    out = list(toks)
    n_edit = max(1, int(round(len(out) * 0.04)))
    for k in rng.choice(len(out), n_edit, replace=False):
        out[k] = vocab[rng.integers(len(vocab))]
    return out


def _documents(rng, n_docs: int, vocab, p):
    """``n_docs`` fresh documents as [doc_id, tokens, lang, source] rows."""
    rows = []
    for i in range(n_docs):
        lang = LANGS[rng.integers(len(LANGS))]
        n = int(rng.integers(30, 140))
        rows.append([i, _doc_tokens(rng, vocab, p, lang, n), lang, f"src{rng.integers(8)}"])
    return rows


def _doc_table(rows) -> pa.Table:
    texts = [" ".join(r[1]) for r in rows]
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _corpus(rng, cfg, sf_dir: str, vocab, p) -> dict:
    """documents.parquet with planted exact and near-duplicate copies."""
    n = cfg["docs"]
    n_exact = int(n * cfg["exact_share"])
    n_near = int(n * cfg["near_share"])
    base = _documents(rng, n - n_exact - n_near, vocab, p)
    # copies take the ids after the originals, then all ids are shuffled
    # so copies are not clustered at the end of the id space
    originals = rng.choice(len(base), n_exact + n_near, replace=False)
    copies = []
    for k, src in enumerate(originals):
        toks = base[src][1]
        if k >= n_exact:
            toks = _near_copy(rng, toks, vocab)
        copies.append([None, toks, base[src][2], base[src][3]])
    rows = base + copies
    perm = rng.permutation(len(rows))
    new_id = {old: int(new) for old, new in enumerate(perm)}
    for old, row in enumerate(rows):
        row[0] = new_id[old]
    rows.sort(key=lambda r: r[0])
    pairs = []
    for k, src in enumerate(originals):
        a, b = new_id[int(src)], new_id[len(base) + k]
        pairs.append([min(a, b), max(a, b), "exact" if k < n_exact else "near"])
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(_doc_table(rows), os.path.join(sf_dir, "documents.parquet"))
    return {"doc_pairs": pairs}


def generate(seed: int, out: str, size: str = "full") -> dict:
    """Write every workload's inputs for ``seed`` under ``out``; return truth.

    Idempotent: a directory already holding this seed's ``truth.json`` is
    reused as is (the files are a pure function of seed and size).
    """
    truth_path = os.path.join(out, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as fh:
            return json.load(fh)
    cfg = SIZES[size]
    rng = np.random.default_rng(seed)
    truth: dict = {"seed": seed, "size": size}
    truth.update(_text_files(rng, cfg, os.path.join(out, "text")))
    doc_vocab = _vocab(rng, 20000)
    doc_p = _zipf_probs(len(doc_vocab), 0.9)
    sf_dir = os.path.join(out, "sf")
    truth.update(_corpus(rng, cfg, sf_dir, doc_vocab, doc_p))
    tmp = truth_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(truth, fh)
    os.replace(tmp, truth_path)  # truth last: its presence marks a complete set
    return truth
