"""Seeded inputs of the benchmark: a code corpus, the query stream and the
upsert/delete stream.

The corpus has the shape of a source-code table (repo, path, lang,
content) like the engine's own synthetic corpus, but it is generated
here, so a change to the engine cannot shift the benchmark's inputs.
Every value is a function of the seed only.

Content tokens come from three pools, which gives every query class the
posting-list shape it needs:

- hot terms: code keywords drawn with a Zipf skew (long posting lists);
- mid terms: ``<stem><n>`` identifiers drawn with a Zipf skew (short
  lists; the stems make prefix queries expand to a handful of terms);
- rare terms: ``sym<doc>x<k>`` symbols that occur in one document (df 1).

Tokens are lowercase ``[a-z0-9]+`` words separated by single spaces, so
the engine's analyzer returns exactly the generated token list; the
answer oracle works on these lists and never calls the engine.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

HOT_TERMS = (
    "import return def class public static void self function const let var "
    "func struct impl fn include int for while if else true false none null "
    "new this print len range str list dict map err error nil type interface "
    "package module export async await try except catch finally raise"
).split()
MID_STEMS = "get set load read parse make init emit send find".split()
MID_PER_STEM = 150
LANGS = ("py", "java", "js", "go", "rs", "c")
LICENSES = ("mit", "apache", "gpl", "bsd")

HOT_SHARE = 0.65
MID_SHARE = 0.25  # the rest are unique symbols
DOC_TOKENS = (30, 90)

FACET_DIMS = ("lang", "repo")
# hot-term queries draw from the most frequent keywords only, so every
# hot query matches most of the corpus whatever the seed
HOT_PICKS = 6
# Phrase terms come from this band of the hot terms, uniformly: the most
# frequent keywords occur several times in every document, so one phrase
# over them would read more positions than the rest of a deck and make a
# run's work depend on the seed.
PHRASE_BAND = (8, 16)

# search_mix query classes and how many of each one deck of the stream
# holds: term 40%, boolean 20%, phrase 10%, sort/paginate plus dedup
# 10%, and 5% each for prefix, facet, WAND top-k and the composed join
QUERY_DECK = (
    ("term_hot", 3),
    ("term_mid", 3),
    ("term_rare", 2),
    ("and", 2),
    ("or", 2),
    ("phrase", 2),
    ("prefix", 1),
    ("facet", 1),
    ("sort_page", 1),
    ("dedup", 1),
    ("wand", 1),
    ("composed", 1),
)
DECK_SIZE = sum(k for _, k in QUERY_DECK)
# classes that run the same engine code path, for the warm-up pass
WARM_GROUP = {"term_mid": "term_hot", "term_rare": "term_hot", "or": "and"}


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


MID_TERMS = [f"{stem}{j}" for stem in MID_STEMS for j in range(MID_PER_STEM)]


@dataclass(frozen=True)
class Doc:
    doc_id: int
    repo: str
    lang: str
    stars: int
    tokens: tuple[str, ...]

    @property
    def identifier(self) -> str:
        return f"doc{self.doc_id}"

    @property
    def content(self) -> str:
        return " ".join(self.tokens)


class CorpusGen:
    """Document factory for one seed. ``doc(i, version)`` is a pure
    function of (seed, i, version): version 0 is the original document,
    higher versions are upserted rewrites with fresh symbols."""

    def __init__(self, seed: int, n_repos: int = 40):
        self.seed = seed
        self.repos = [f"org{r % 5}/repo{r}" for r in range(n_repos)]
        self._repo_p = _zipf_weights(n_repos, 0.8)
        self._hot_p = _zipf_weights(len(HOT_TERMS), 1.0)
        self._mid_p = _zipf_weights(len(MID_TERMS), 1.05)
        # a per-seed permutation, so which mid term is frequent depends
        # on the seed
        perm = np.random.default_rng([seed, 7]).permutation(len(MID_TERMS))
        self.mid_terms = [MID_TERMS[k] for k in perm]

    def doc(self, i: int, version: int = 0) -> Doc:
        rng = np.random.default_rng([self.seed, i, version])
        n = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        pool = rng.random(n)
        hot = rng.choice(len(HOT_TERMS), size=n, p=self._hot_p)
        mid = rng.choice(len(MID_TERMS), size=n, p=self._mid_p)
        toks = []
        for k in range(n):
            if pool[k] < HOT_SHARE:
                toks.append(HOT_TERMS[hot[k]])
            elif pool[k] < HOT_SHARE + MID_SHARE:
                toks.append(self.mid_terms[mid[k]])
            else:
                toks.append(f"sym{i}x{version}x{k}")
        return Doc(
            doc_id=i,
            repo=self.repos[int(rng.choice(len(self.repos), p=self._repo_p))],
            lang=LANGS[int(rng.integers(len(LANGS)))],
            stars=int(rng.integers(0, 1_000_000)),
            tokens=tuple(toks),
        )

    def corpus(self, n_docs: int) -> list[Doc]:
        return [self.doc(i) for i in range(n_docs)]

    def repo_rows(self) -> list[dict]:
        """The second store of the composed join: one row per repo."""
        rng = np.random.default_rng([self.seed, 11])
        return [
            {
                "doc_id": r,
                "repo": name,
                "license": LICENSES[int(rng.integers(len(LICENSES)))],
            }
            for r, name in enumerate(self.repos)
        ]


def doc_row(d: Doc) -> dict:
    return {
        "doc_id": d.doc_id,
        "repo": d.repo,
        "lang": d.lang,
        "stars": d.stars,
        "content": d.content,
    }


def term_dfs(docs: list[Doc]) -> dict[str, int]:
    dfs: dict[str, int] = {}
    for d in docs:
        for t in set(d.tokens):
            dfs[t] = dfs.get(t, 0) + 1
    return dfs


def term_bands(dfs: dict[str, int]) -> dict[str, list[str]]:
    """Terms sorted into the hot / mid / rare bands the query stream
    draws from, each band ordered by df descending (ties by term)."""
    hot = set(HOT_TERMS)
    ordered = sorted(dfs, key=lambda t: (-dfs[t], t))
    return {
        "hot": [t for t in ordered if t in hot],
        "mid": [t for t in ordered if t not in hot and dfs[t] >= 3],
        "rare": [t for t in ordered if dfs[t] == 1],
    }


def input_stats(docs: list[Doc], dfs: dict[str, int], bands: dict) -> dict:
    mid = bands["mid"]
    return {
        "docs": len(docs),
        "tokens": sum(len(d.tokens) for d in docs),
        "vocabulary": len(dfs),
        "text_bytes": sum(len(d.content) for d in docs),
        "df_hot": dfs[bands["hot"][0]],
        "df_mid": dfs[mid[len(mid) // 2]] if mid else 0,
        "df_rare": 1,
    }


def _zipf_pick(rng: np.random.Generator, seq: list[str], s: float = 1.0) -> str:
    """A Zipf-skewed pick from ``seq`` (ordered most to least frequent),
    so hot terms repeat across the stream and rare ones do not."""
    k = min(int(rng.zipf(1.0 + s)) - 1, len(seq) - 1)
    return seq[k]



def query_stream(seed: int, bands: dict, n: int) -> list[dict]:
    """``n`` query specs for search_mix. Classes are dealt from shuffled
    decks of QUERY_DECK, so every DECK_SIZE queries carry the same class
    mix and a run's class mix does not depend on the seed."""
    rng = np.random.default_rng([seed, 3])
    deck = [c for c, k in QUERY_DECK for _ in range(k)]
    out: list[dict] = []
    while len(out) < n:
        out += [_query_spec(rng, str(cls), bands) for cls in rng.permutation(deck)]
    return out[:n]


def _query_spec(rng: np.random.Generator, cls: str, bands: dict) -> dict:
    hot, mid, rare = bands["hot"][:HOT_PICKS], bands["mid"], bands["rare"]
    if cls in ("term_hot", "facet", "sort_page", "dedup"):
        return {"cls": cls, "terms": [_zipf_pick(rng, hot, 0.6)]}
    if cls == "term_mid":
        return {"cls": cls, "terms": [_zipf_pick(rng, mid, 0.3)]}
    if cls == "term_rare":
        return {"cls": cls, "terms": [rare[int(rng.integers(len(rare)))]]}
    if cls in ("and", "or"):
        a = _zipf_pick(rng, hot, 0.6)
        b = _zipf_pick(rng, mid, 0.3)
        return {"cls": cls, "terms": [a, b], "cql": bool(rng.random() < 0.5)}
    if cls == "phrase":
        band = bands["hot"][PHRASE_BAND[0] : PHRASE_BAND[1]]
        return {"cls": cls, "terms": [band[int(k)] for k in rng.integers(len(band), size=2)]}
    if cls == "prefix":
        # <stem><d> with d >= 2 expands to 11 terms (<stem>d, <stem>d0-d9);
        # d = 1 would also take <stem>100-149
        stem = MID_STEMS[int(rng.integers(len(MID_STEMS)))]
        return {"cls": cls, "prefix": f"{stem}{int(rng.integers(2, 10))}"}
    if cls == "wand":
        kind = ("term", "or", "and")[int(rng.integers(3))]
        terms = [_zipf_pick(rng, mid, 0.3)]
        if kind != "term":
            terms.append(_zipf_pick(rng, hot, 0.6))
        return {"cls": cls, "kind": kind, "terms": terms}
    if cls == "composed":
        return {"cls": cls, "terms": [_zipf_pick(rng, hot, 0.6)], "license": LICENSES[int(rng.integers(len(LICENSES)))]}
    raise ValueError(cls)


def ingest_cycles(seed: int, first_new_id: int, n_cycles: int, batch: int,
                  n_deletes: int = 3, upsert_share: float = 0.2) -> list[dict]:
    """The writer's op stream: per cycle, ``batch`` adds (new ids and
    upserts of live ids) and ``n_deletes`` deletes of live ids. Returns
    per cycle {"adds": [(doc_id, version)], "deletes": [doc_id]}. The
    stream tracks which ids are live, so every upsert and delete hits a
    live document."""
    rng = np.random.default_rng([seed, 5])
    live = list(range(first_new_id))
    version: dict[int, int] = {}
    next_id = first_new_id
    cycles = []
    for _ in range(n_cycles):
        n_up = int(round(batch * upsert_share))
        picked = rng.choice(len(live), size=n_up + n_deletes, replace=False)
        ups = [live[k] for k in picked[:n_up]]
        dels = [live[k] for k in picked[n_up:]]
        adds = []
        for i in ups:
            version[i] = version.get(i, 0) + 1
            adds.append((i, version[i]))
        for _ in range(batch - n_up):
            adds.append((next_id, 0))
            live.append(next_id)
            next_id += 1
        dead = set(dels)
        live = [i for i in live if i not in dead]
        cycles.append({"adds": adds, "deletes": dels})
    return cycles
