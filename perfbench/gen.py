"""Seeded input generator: corpus, refresh batches and the request mix.

Everything a run feeds the engine comes from here and depends only on the
seed (and the sizes passed in), so the same seed gives the same inputs.
The generator is self-contained on purpose: it does not use the engine's
own test corpus, so a later change to the engine cannot silently change
the benchmark's inputs.

Corpus shape (source files, one row per file):

- per-language keywords in nearly every file (the *hot* df class);
- identifiers built from a Zipf-ranked vocabulary of pseudo-word roots,
  rendered camelCase or snake_case, so root dfs spread from "most files"
  down to "a handful" (the *mid* class is the 2-20% band);
- one ``uniq_<i>`` marker per file; its digits token occurs in exactly
  that file (the *rare* class);
- *out-of-vocabulary* words use the letter ``q`` twice in a row, which no
  root contains.

The generator records each file's token sequence while it renders the
text, so phrase and NEAR requests are cut from real token runs without
calling the engine's tokenizer.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass

LANGS = {
    "python": ("def", "return", "import", "class", "self"),
    "java": ("public", "return", "import", "class", "void"),
    "js": ("function", "return", "import", "const", "let"),
    "go": ("func", "return", "import", "package", "struct"),
}
_ONSETS = "bcdfghjklmnprstvw"
_VOWELS = "aeiou"
N_ROOTS = 1500
ZIPF_S = 1.05

# request kinds and the latency class each one reports under
KIND_CLASS = {
    "ranked_layout": "ranked", "ranked_wand": "ranked",
    "boolean": "boolean", "phrase": "phrase", "near": "phrase",
}
# The request mix is a fixed rotation of shapes — kind × term count ×
# df class — and the seed only picks the terms, so every run sends the
# same mix and the per-class medians compare across seeds. Ranked shapes
# list one df class per term; boolean shapes name a tree form and the
# classes of its leaves a, b, c; phrase/NEAR shapes give the term count.
ROTATION = (
    ("ranked_layout", ("hot",)),
    ("boolean", ("and_or", ("mid", "hot", "mid"))),
    ("phrase", 2),
    ("ranked_wand", ("mid", "mid")),
    ("boolean", ("and_not", ("hot", "mid", "mid"))),
    ("near", 3),
    ("ranked_layout", ("hot", "mid", "rare")),
    ("boolean", ("or", ("mid", "mid", "mid"))),
    ("ranked_wand", ("mid", "oov")),
    ("ranked_layout", ("hot", "mid", "mid", "rare")),
)


@dataclass(frozen=True)
class Request:
    kind: str
    text: str = ""                       # ranked / boolean / phrase
    terms: tuple[str, ...] = ()          # near: the distinct terms
    k: int = 0                           # near: max token distance
    score_terms: tuple[str, ...] = ()    # boolean: positive (scored) tokens

    @property
    def cls(self) -> str:
        return KIND_CLASS[self.kind]

    def scan_query(self) -> str:
        """The same request as a front-door query string, for the scan
        check (``query.match_scan``)."""
        if self.kind == "phrase":
            return f'"{self.text}"'
        if self.kind == "near":
            return '"' + " ".join(self.terms) + f'"~{self.k}'
        return self.text


@dataclass(frozen=True)
class Batch:
    """One refresh cycle's writes."""
    adds: tuple[tuple[int, str], ...]
    deletes: tuple[int, ...]
    probe_hit: int      # an added docid whose uniq marker must hit
    probe_miss: int     # a deleted docid whose uniq marker must miss


@dataclass
class Inputs:
    seed: int
    base: list[tuple[int, str]]
    requests: list[Request]
    batches: list[Batch]
    setup_probe: int    # a base docid whose marker must hit after set-up


def _roots(rng: random.Random, n: int) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                    for _ in range(rng.randrange(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _ident(parts: list[str], snake: bool) -> str:
    if snake:
        return "_".join(parts)
    return parts[0] + "".join(p.capitalize() for p in parts[1:])


def make_file(i: int, roots: list[str], cum_weights: list[float],
              rng: random.Random) -> tuple[str, list[list[str]]]:
    """(content, token lines) of file ``i``; tokens as the frozen
    tokenizer produces them (lowercase, split at case changes and
    non-alphanumerics)."""
    kws = LANGS[rng.choice(sorted(LANGS))]
    lines: list[str] = []
    toks: list[list[str]] = []
    for _ in range(3 + rng.randrange(5)):
        name = rng.choices(roots, cum_weights=cum_weights, k=2)
        arg = rng.choices(roots, cum_weights=cum_weights, k=rng.randrange(1, 3))
        lines.append(f"{kws[0]} {_ident(name, False)}({_ident(arg, True)}):")
        toks.append([kws[0], *name, *arg])
        for _ in range(4 + rng.randrange(10)):
            lhs = rng.choices(roots, cum_weights=cum_weights, k=rng.randrange(1, 3))
            rhs = rng.choices(roots, cum_weights=cum_weights, k=rng.randrange(1, 4))
            lines.append(f"    {_ident(lhs, True)} = {kws[1]} "
                         f"{_ident(rhs, rng.random() < 0.5)}")
            toks.append([*lhs, kws[1], *rhs])
        lines.append(f"    {kws[1]} {_ident(name, True)}")
        toks.append([kws[1], *name])
    lines.append(f"# {kws[2]} uniq_{i}")
    toks.append([kws[2], "uniq", str(i)])
    return "\n".join(lines), toks


def _df_classes(docs_toks: list[list[list[str]]], n_docs: int,
                roots: list[str]) -> dict[str, list[str]]:
    df: dict[str, int] = {}
    for lines in docs_toks:
        for t in {t for line in lines for t in line}:
            df[t] = df.get(t, 0) + 1
    kws = sorted({k for ks in LANGS.values() for k in ks})
    hot = sorted(t for t in set(roots) | set(kws) if df.get(t, 0) >= n_docs // 2)
    mid = sorted(t for t in roots if 0.02 * n_docs <= df.get(t, 0) <= 0.2 * n_docs)
    return {"hot": hot, "mid": mid}


def _oov(rng: random.Random) -> str:
    return "qq" + "".join(rng.choice(_VOWELS + _ONSETS) for _ in range(4))


def _ranked(rng: random.Random, kind: str, shape, classes: dict,
            n_docs: int) -> Request:
    words = []
    for c in shape:
        if c == "rare":
            words.append(f"uniq_{rng.randrange(n_docs)}")
        elif c == "oov":
            words.append(_oov(rng))
        else:
            words.append(rng.choice(classes[c]))
    return Request(kind, text=" ".join(words))


def _boolean(rng: random.Random, shape, classes: dict) -> Request:
    form, leaf_classes = shape
    a, b, c = (rng.choice(classes[cls]) for cls in leaf_classes)
    while len({a, b, c}) < 3:
        c = rng.choice(classes[leaf_classes[2]])
        b = rng.choice(classes[leaf_classes[1]])
    if form == "and_or":
        return Request("boolean", f"{a} AND ({b} OR {c})", score_terms=(a, b, c))
    if form == "and_not":
        return Request("boolean", f"{a} AND NOT {b}", score_terms=(a,))
    return Request("boolean", f"{a} OR {b}", score_terms=(a, b))


def _anchor(rng: random.Random, docs_toks, mid: set[str]):
    """(line, position) of a mid-class token in a random file: phrase and
    NEAR requests start at one, as a user looking for an identifier would."""
    while True:
        lines = docs_toks[rng.randrange(len(docs_toks))]
        spots = [(ln, i) for ln in lines for i, t in enumerate(ln) if t in mid]
        if spots:
            return rng.choice(spots)


def _phrase(rng: random.Random, n: int, docs_toks, mid: set[str]) -> Request:
    while True:
        line, i = _anchor(rng, docs_toks, mid)
        if len(line) >= n:
            start = min(i, len(line) - n)
            return Request("phrase", text=" ".join(line[start:start + n]))


def _near(rng: random.Random, n: int, docs_toks, mid: set[str]) -> Request:
    while True:
        line, i = _anchor(rng, docs_toks, mid)
        k = rng.randrange(2, 5)
        window = line[max(0, i - k):i + k + 1]
        others = sorted(set(window) - {line[i]})
        if len(others) >= n - 1:
            return Request("near", terms=(line[i], *rng.sample(others, n - 1)),
                           k=k)


def generate(seed: int, n_base: int, n_requests: int, n_batches: int,
             batch_adds: int, batch_deletes: int) -> Inputs:
    """All inputs of one run, as a pure function of the arguments."""
    rng = random.Random(seed)
    roots = _roots(rng, N_ROOTS)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S
                                    for r in range(N_ROOTS)))
    base: list[tuple[int, str]] = []
    toks: list[list[list[str]]] = []
    for i in range(n_base):
        content, lines = make_file(i, roots, cum, random.Random(f"{seed}:{i}"))
        base.append((i, content))
        toks.append(lines)
    classes = _df_classes(toks, n_base, roots)

    qrng = random.Random(f"{seed}:requests")
    mid = set(classes["mid"])
    requests = []
    for j in range(n_requests):
        kind, shape = ROTATION[j % len(ROTATION)]
        if kind.startswith("ranked"):
            requests.append(_ranked(qrng, kind, shape, classes, n_base))
        elif kind == "boolean":
            requests.append(_boolean(qrng, shape, classes))
        elif kind == "phrase":
            requests.append(_phrase(qrng, shape, toks, mid))
        else:
            requests.append(_near(qrng, shape, toks, mid))

    brng = random.Random(f"{seed}:batches")
    victims = brng.sample(range(n_base), n_batches * batch_deletes)
    batches = []
    next_id = n_base
    for b in range(n_batches):
        adds = []
        for _ in range(batch_adds):
            content, _ = make_file(next_id, roots, cum,
                                   random.Random(f"{seed}:{next_id}"))
            adds.append((next_id, content))
            next_id += 1
        dels = tuple(victims[b * batch_deletes:(b + 1) * batch_deletes])
        batches.append(Batch(tuple(adds), dels,
                             probe_hit=brng.choice(adds)[0],
                             probe_miss=brng.choice(dels)))
    setup_probe = random.Random(f"{seed}:probe").randrange(n_base)
    return Inputs(seed, base, requests, batches, setup_probe)
