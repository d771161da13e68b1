"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical corpora and query lists, another seed gives other inputs
(`self_test` checks both). The engine only ever sees what these return,
written as parquet files in the documents shape
(repo, path, commit, lang, content).

- `sf01_corpus`: the shape of the sf0.1 `documents` table -- 5,000 short
  docs of 10-100 words drawn uniformly from a 30-word vocabulary, with a
  `dup` marker in ~5% of them. Every term sits in most docs, so this is
  the tiny, fixed-cost-dominated index.
- `zipf_corpus`: source-code-like files whose identifiers follow a
  bounded Zipf law, plus a few dozen language keywords that are hot in
  every file -- head terms, a long tail, and a handful of salted terms.
- `*_queries`: any-mode, phrase, AND and single-query lists, each query
  the mirror of one query of the repo's reference set
  (`quickb_spark.corpus.fixture_queries`, see `fixture_shapes`). Phrase
  and AND queries are cut from real token runs, so they match.

Both corpus generators draw files in order from one random stream, so the
first n files do not depend on how many are asked for: a workload's delta
for the incremental ingest is simply the generator's next files.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

SF01_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_SF01_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14

# Two-letter syllables: any sequence of them decodes uniquely, so the
# base-40 spelling of an identifier rank is a unique name.
_SYL = [c + v for c in "bdgklmnprst"[:8] for v in "aeiou"]
_PREFIX = ["", "get_", "set_", "is_", "", "to_", "", "on_"]
_KEYWORDS = {
    "python": ["def", "return", "import", "self", "if", "for", "in", "none"],
    "java": ["public", "static", "void", "return", "new", "int", "class", "this"],
    "go": ["func", "return", "var", "err", "nil", "if", "range", "package"],
    "js": ["function", "const", "let", "return", "this", "await", "async", "if"],
}
_ZIPF_LANGS = ["python", "python", "java", "go", "js"]
_EXT = {"python": "py", "java": "java", "go": "go", "js": "js"}
# Line templates: {} slots take identifiers, {n} a small integer. The
# keywords make per-language hot terms; identifiers make the long tail.
_TEMPLATES = {
    "python": [
        "def {}({}, {}):", "    {} = {}.{}({}, {n})", "    return {}({})",
        "import {}", "    for {} in {}:", "        {}.{}({})", "    if {}:",
    ],
    "java": [
        "public static void {}(int {}) {{", "    {} {} = new {}({n});",
        "    return this.{}({});", "}}", "    {}.{}({}, {});",
    ],
    "go": [
        "func {}({} int) error {{", "    {}, err := {}.{}({n})",
        "    if err != nil {{ return {} }}", "}}", "    var {} = {}({})",
    ],
    "js": [
        "async function {}({}) {{", "    const {} = await {}.{}({n});",
        "    let {} = this.{}({});", "    return {};", "}}",
    ],
}


def _commit(repo: str, path: str) -> str:
    return hashlib.sha256(f"{repo}/{path}".encode()).hexdigest()[:40]


def _words_doc(rng: np.random.Generator) -> str:
    words = [SF01_WORDS[j] for j in rng.integers(0, len(SF01_WORDS), rng.integers(10, 101))]
    if rng.random() < 0.05:
        words.insert(int(rng.integers(0, len(words) + 1)), "dup")
    return " ".join(words)


def sf01_corpus(seed: int, n_docs: int = 5000) -> list[tuple]:
    """sf0.1-shaped documents, already in the (repo, path, commit, lang,
    content) shape the engine reads."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(n_docs):
        repo, path = f"src{i % 20}", f"doc/{i}.txt"
        out.append((repo, path, _commit(repo, path), _SF01_LANGS[i % 100], _words_doc(rng)))
    return out


def ident(rank: int) -> str:
    """Identifier of Zipf rank `rank` (0 = most frequent); unique per rank."""
    digits = []
    r = rank
    while True:
        digits.append(_SYL[r % len(_SYL)])
        r //= len(_SYL)
        if not r:
            break
    return _PREFIX[rank % len(_PREFIX)] + "".join(reversed(digits))


def absent_term(i: int) -> str:
    """A token no generated corpus contains ('x' is in no syllable)."""
    return f"qx{ident(i)}"


def zipf_corpus(seed: int, n_files: int, vocab: int, s: float) -> list[tuple]:
    """Code-like files; identifiers ~ bounded Zipf(s) over `vocab` ranks."""
    rng = np.random.default_rng([seed, 3])
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w / w.sum())
    names: dict[int, str] = {}
    out = []
    for i in range(n_files):
        lang = _ZIPF_LANGS[i % len(_ZIPF_LANGS)]
        tmpl = _TEMPLATES[lang]
        kw = _KEYWORDS[lang]
        n_lines = int(rng.integers(6, 60))
        picks = rng.integers(0, len(tmpl), n_lines)
        slots = sum(tmpl[j].count("{}") for j in picks)
        ranks = np.searchsorted(cdf, rng.random(slots), side="right")
        nums = rng.integers(0, 1000, n_lines)
        lines, at = [f"// {kw[i % len(kw)]} {ident(i % vocab)}"], 0
        for j, n in zip(picks, nums):
            t = tmpl[j]
            k = t.count("{}")
            ids = []
            for r in ranks[at : at + k]:
                r = int(min(r, vocab - 1))
                nm = names.get(r)
                if nm is None:
                    nm = names[r] = ident(r)
                ids.append(nm)
            at += k
            lines.append(t.format(*ids, n=int(n)))
            if rng.random() < 0.08:
                lines.append("")
        repo = f"org{i % 11}/proj{i % 97}"
        path = f"src/{ident(i % 53)}/{ident(vocab + i)}.{_EXT[lang]}"
        out.append((repo, path, _commit(repo, path), lang, "\n".join(lines) + "\n"))
    return out


def _tokens(text: str) -> list[str]:
    import re

    from quickb_spark.config import TOKEN_PATTERN

    return re.findall(TOKEN_PATTERN, text.lower())


def _runs(rng, docs: list[tuple], n: int, length: tuple[int, int]) -> list[list[str]]:
    """n token runs cut from random lines of random docs."""
    out = []
    while len(out) < n:
        content = docs[int(rng.integers(0, len(docs)))][4]
        lines = [ln for ln in content.split("\n") if len(_tokens(ln)) >= length[1]]
        if not lines:
            continue
        toks = _tokens(lines[int(rng.integers(0, len(lines)))])
        ln = int(rng.integers(length[0], length[1] + 1))
        at = int(rng.integers(0, len(toks) - ln + 1))
        out.append(toks[at : at + ln])
    return out


#: fixture corpus rows scanned for its vocabulary: ten blocks of the
#: generator's 101-row cycle of edge cases
_FIXTURE_DOCS = 1010


def fixture_shapes() -> list[tuple[str, list[tuple[str, str]]]]:
    """The reference query set, token by token: (text, [(class, token)]).
    A token is "absent" when no document of the fixture corpus holds it,
    "keyword" when it is a language keyword of both corpora (def, import,
    return, class: the hand-written hot-term queries), else "word" -- the
    fixture generator draws those uniformly from its distinct vocabulary.
    A query with no token (non-ASCII text) has an empty list."""
    from quickb_spark.corpus import fixture_queries, gen_document

    vocab = {t for i in range(_FIXTURE_DOCS) for t in _tokens(gen_document(i)[4])}
    keywords = {w for kws in _KEYWORDS.values() for w in kws}
    return [
        (text, [("absent" if t not in vocab else "keyword" if t in keywords else "word", t)
                for t in _tokens(text)])
        for _qid, text in fixture_queries()
    ]


def _mirror_terms(rng, shape, words: list[str], keep: set[str], absent) -> str:
    """Same token count and classes as the fixture query: keywords in
    `keep` stay, absent tokens become absent terms, the rest are drawn
    uniformly from the corpus's distinct terms `words`."""
    text, toks = shape
    if not toks:
        return text
    return " ".join(
        t if cls == "keyword" and t in keep else absent() if cls == "absent"
        else words[int(rng.integers(0, len(words)))]
        for cls, t in toks
    )


def _mirror_run(rng, shape, docs: list[tuple], absent, shuffle: bool) -> str:
    """A real token run as long as the fixture query (at least 2 tokens,
    so that it is a phrase), with its absent positions made absent."""
    text, toks = shape
    if not toks:
        return text
    run = _runs(rng, docs, 1, (max(2, len(toks)),) * 2)[0]
    if shuffle:
        rng.shuffle(run)
    cls = [c for c, _t in toks] + ["word"] * (len(run) - len(toks))
    return " ".join(absent() if c == "absent" else w for c, w in zip(cls, run))


def _mirror_queries(rng, docs, words, keep, absent, sizes) -> dict[str, list[tuple[str, str]]]:
    """any and single queries mirror fixture query i % 50; phrase and AND
    queries mirror the first 25, as bench.py runs them."""
    shapes = fixture_shapes()

    def terms(prefix, n):
        return [(f"{prefix}{i}", _mirror_terms(rng, shapes[i % len(shapes)], words, keep, absent))
                for i in range(n)]

    def runs(prefix, n, shuffle):
        return [(f"{prefix}{i}", _mirror_run(rng, shapes[i % 25], docs, absent, shuffle))
                for i in range(n)]

    return {
        "any": terms("a", sizes["any"]),
        "phrase": runs("p", sizes["phrase"], False),
        "and": runs("c", sizes["and"], True),
        "single": terms("s", sizes["single"]),
    }


def sf01_queries(seed: int, docs: list[tuple], sizes: dict) -> dict[str, list[tuple[str, str]]]:
    """Fixture-mirrored queries over the 31-word vocabulary (every term is
    in most docs; no keyword is kept)."""
    rng = np.random.default_rng([seed, 4])
    return _mirror_queries(rng, docs, SF01_WORDS + ["dup"], set(),
                           lambda: absent_term(int(rng.integers(0, 1 << 20))), sizes)


def zipf_queries(seed: int, docs: list[tuple], vocab: int, sizes: dict) -> dict[str, list[tuple[str, str]]]:
    """Fixture-mirrored queries: keywords stay (head terms here too), the
    other terms are uniform over the corpus's distinct terms, so mostly
    tail terms of the Zipf law."""
    rng = np.random.default_rng([seed, 5])
    seen = sorted({t for d in docs for t in _tokens(d[4])})
    keep = {w for kws in _KEYWORDS.values() for w in kws}
    return _mirror_queries(rng, docs, seen, keep,
                           lambda: absent_term(int(rng.integers(0, vocab))), sizes)


def digest(*objs) -> str:
    """sha256 over the JSON form of generated inputs (rows, query lists)."""
    h = hashlib.sha256()
    for o in objs:
        h.update(json.dumps(o, sort_keys=True, ensure_ascii=False).encode())
    return h.hexdigest()


def self_test(seed: int) -> None:
    """Same seed -> identical bytes; another seed -> different inputs.
    Runs on small sizes of every generator; raises on a violation."""
    qs = {"any": 12, "phrase": 8, "and": 8, "single": 4}

    def make(sd):
        base = sf01_corpus(sd, 60)
        z = zipf_corpus(sd, 40, 500, 1.1)
        return digest(
            base, sf01_queries(sd, base, qs),
            z, zipf_queries(sd, z, 500, qs),
        )

    a, b, c = make(seed), make(seed), make(seed + 1)
    if a != b:
        raise RuntimeError(f"generators are not deterministic for seed {seed}")
    if a == c:
        raise RuntimeError(f"seeds {seed} and {seed + 1} gave identical inputs")
