"""Seeded generator of code-shaped files for the benchmark.

Every file is a dict ``(repo, path, commit, lang, content)``. The
content is lines of snake_case / camelCase / PascalCase identifiers over
a Zipf vocabulary, language keywords, numbers and punctuation, so the
tokenizer's identifier splitting (parts plus the whole form) does real
work. File length in bytes is lognormal with a heavy tail; the corpus
total is the same for every seed.

Planted terms (all start with ``zq``; the vocabulary alphabet has no
``q`` or ``z``, so no generated word, part or whole form can equal one):

- ``zqm<i>``: plain markers with a document frequency the generator
  knows exactly (``Corpus.marker_df``);
- ``zqf<j>``: focus terms repeated many times in the files of a few
  topical repos and seen once in a few other files: the shape in which
  the top-k score threshold rises fast and WAND's descending-upper-bound
  cut can fire (at 1,000 files it does not yet: ``wand.cut_ratio`` 1);
- ``zqr<k>``: one rare marker per repo, planted in a few of that repo's
  files. Ordinals are ranks in (repo, path) order inside a shard, so
  the marker's postings sit in one ordinal range of each shard and a
  rare-and-common query prunes the common term's other blocks.

The module imports nothing from the engine, so an edit to the engine's
own corpus helpers cannot change the workload.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

_CONSONANTS = list("bcdfghjklmnprstvw")
_VOWELS = list("aeiou")
_KEYWORDS = {
    "python": ["def", "return", "import", "class", "self", "if", "else",
               "for", "while", "yield", "lambda", "none", "true", "false"],
    "java": ["public", "private", "static", "void", "return", "new", "class",
             "final", "int", "long", "string", "if", "else", "throw"],
    "go": ["func", "return", "package", "import", "var", "type", "struct",
           "if", "else", "range", "defer", "nil", "err", "chan"],
    "rust": ["fn", "let", "mut", "impl", "pub", "struct", "enum", "match",
             "return", "self", "use", "mod", "some", "ok"],
    "typescript": ["function", "const", "let", "return", "export", "import",
                   "interface", "type", "if", "else", "async", "await",
                   "null", "this"],
}
_EXT = {"python": "py", "java": "java", "go": "go", "rust": "rs",
        "typescript": "ts"}
_LANGS = list(_KEYWORDS)
# stop tokens and keywords a CV-syllable word could spell; kept out of
# the vocabulary so every vocabulary word is an index term of its own
_STOPLIKE = {"were", "been", "are", "was", "not", "nor", "but", "the",
             "none", "some"}


@dataclass(frozen=True)
class CorpusSpec:
    n_files: int = 1000
    n_repos: int = 24
    vocab: int = 1500
    n_idents: int = 3000
    zipf_s: float = 1.0
    median_bytes: int = 2000
    sigma: float = 0.8
    max_bytes: int = 60000
    n_markers: int = 12
    n_topical: int = 3
    # rare repo marker: this share of a repo's files carries it
    rare_share: float = 0.04


@dataclass
class Corpus:
    seed: int
    spec: CorpusSpec
    files: list[dict]
    vocabulary: list[str]
    marker_df: dict[str, int]
    focus_terms: list[str]
    rare_terms: dict[str, str]  # repo -> its rare marker

    def source_bytes(self) -> int:
        return sum(len(f["content"].encode("utf-8")) for f in self.files)


def sha256_text(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        k = 2 + len(words) % 3  # 2-4 syllables, by rank: seed-free lengths
        cs = rng.integers(0, len(_CONSONANTS), k)
        vs = rng.integers(0, len(_VOWELS), k)
        w = "".join(_CONSONANTS[c] + _VOWELS[v] for c, v in zip(cs, vs))
        if w not in seen and w not in _STOPLIKE:
            seen.add(w)
            words.append(w)
    return words


class _Writer:
    """Draws the identifier stream of one file from the shared rng.

    Identifiers are a fixed list per corpus (code reuses its names), so
    the index vocabulary stays near the identifier count instead of
    growing with every random word pair."""

    def __init__(self, rng: np.random.Generator, vocab: list[str],
                 n_idents: int, s: float):
        self.rng = rng
        arity = rng.choice([1, 2, 3], size=n_idents, p=[0.4, 0.45, 0.15])
        forms = rng.integers(0, 4, n_idents)
        # word draws for identifiers follow a Zipf law over the words
        p = 1.0 / np.arange(1, len(vocab) + 1, dtype=np.float64) ** s
        wcdf = np.cumsum(p / p.sum())
        self.idents: list[str] = []
        for a, f in zip(arity, forms):
            wi = np.minimum(np.searchsorted(wcdf, rng.random(int(a))),
                            len(vocab) - 1)
            self.idents.append(_ident([vocab[int(i)] for i in wi], int(f)))
        p = 1.0 / np.arange(1, n_idents + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, self.rng.random(n)),
                          len(self.idents) - 1)

    def content(self, lang: str, n_bytes: int, planted: list[str]) -> str:
        """About ``n_bytes`` of statement lines over three identifiers
        each, with ``planted`` terms placed one per comment line."""
        lines: list[str] = []
        size = 0
        while size < n_bytes:
            for line in self._lines(lang, max(2, (n_bytes - size) // 40)):
                lines.append(line)
                size += len(line) + 1
                if size >= n_bytes:
                    break
        for t in planted:
            lines.insert(int(self.rng.integers(0, len(lines) + 1)), f"// {t}")
        return "\n".join(lines) + "\n"

    def _lines(self, lang: str, n_lines: int) -> list[str]:
        rng = self.rng
        kws = _KEYWORDS[lang]
        ids = [self.idents[i] for i in self.draw(3 * n_lines)]
        kinds = rng.integers(0, 5, n_lines)
        kwi = rng.integers(0, len(kws), n_lines)
        nums = rng.integers(0, 512, n_lines)
        lines: list[str] = []
        for j in range(n_lines):
            a, b, c = ids[3 * j:3 * j + 3]
            kw, num, kind = kws[kwi[j]], nums[j], kinds[j]
            if kind == 0:
                line = f"{a} = {b}({c}, {num})"
            elif kind == 1:
                line = f"    {kw} {a}.{b}[{num}] + {c}"
            elif kind == 2:
                line = f"    if ({a} > {num}) {{ {b}({c}); }}"
            elif kind == 3:
                line = f"# {a} {b} {c}"
            else:
                line = f"{kw} {a}({b}: {c}) -> {num}"
            lines.append(line)
        return lines


def _ident(ws: list[str], form: int) -> str:
    if form == 0 or len(ws) == 1:
        return ws[0]
    if form == 1:
        return "_".join(ws)
    if form == 2:
        return ws[0] + "".join(w.capitalize() for w in ws[1:])
    return "".join(w.capitalize() for w in ws)


def _lengths(rng: np.random.Generator, spec: CorpusSpec) -> np.ndarray:
    """Per-file content bytes: lognormal (heavy tail), rescaled so that
    every seed's corpus has the same total, the lognormal's mean times
    the file count. Seeds then differ in which files are long, not in
    how much text there is."""
    n = rng.lognormal(np.log(spec.median_bytes), spec.sigma, spec.n_files)
    n *= spec.n_files * spec.median_bytes * np.exp(spec.sigma ** 2 / 2) / n.sum()
    return np.clip(n, 64, spec.max_bytes).astype(int)


def _commit(rng: np.random.Generator) -> str:
    return "".join(f"{int(x):08x}" for x in rng.integers(0, 2**32, 5))


def make_corpus(seed: int, spec: CorpusSpec) -> Corpus:
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, spec.vocab)
    w = _Writer(rng, vocab, spec.n_idents, spec.zipf_s)
    repos = [f"repo{k:03d}" for k in range(spec.n_repos)]
    topical = [repos[int(i)] for i in
               rng.choice(spec.n_repos, spec.n_topical, replace=False)]
    focus = [f"zqf{j}" for j in range(spec.n_topical)]
    rare = {r: f"zqr{k}" for k, r in enumerate(repos)}

    # repo sizes: skewed (a few big repos, a long tail of small ones)
    weights = 1.0 / np.arange(1, spec.n_repos + 1) ** 0.8
    repo_of = rng.choice(spec.n_repos, spec.n_files, p=weights / weights.sum())
    planted: list[list[str]] = [[] for _ in range(spec.n_files)]

    # plain markers: exact document frequencies from 1 to ~n/4
    marker_df: dict[str, int] = {}
    dfs = np.unique(np.geomspace(1, max(2, spec.n_files // 4),
                                 spec.n_markers).astype(int))
    for i, df in enumerate(dfs):
        term = f"zqm{i}"
        marker_df[term] = int(df)
        for d in rng.choice(spec.n_files, int(df), replace=False):
            planted[int(d)].append(term)

    for i in range(spec.n_files):
        repo = repos[int(repo_of[i])]
        if repo in topical:
            j = topical.index(repo)
            planted[i] += [focus[j]] * int(rng.integers(3, 13))
        elif rng.random() < 0.02:
            planted[i].append(focus[int(rng.integers(0, spec.n_topical))])
        if rng.random() < spec.rare_share:
            planted[i].append(rare[repo])

    lengths = _lengths(rng, spec)
    files = []
    for i in range(spec.n_files):
        repo = repos[int(repo_of[i])]
        lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
        d1, d2, stem = (w.idents[int(j)] for j in w.draw(3))
        path = f"src/{d1}/{d2}/{stem}_{i}.{_EXT[lang]}"
        files.append({
            "repo": repo, "path": path, "commit": _commit(rng), "lang": lang,
            "content": w.content(lang, int(lengths[i]), planted[i]),
        })

    return Corpus(seed, spec, files, vocab, marker_df, focus, rare)
