"""Expected answers, computed from the generated token lists alone.

Pure Python, independent of the engine: Lucene-8 BM25 over exact
document lengths (the engine's default, non-quantized store), boolean
sums, positional phrase frequency, constant-score prefix, facet counts,
sort/paginate, dedup, and the composed key join. Rankings order by
score descending, then doc id ascending, as the engine does.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from perfbench.inputs import FACET_DIMS

K1 = 1.2
B = 0.75
TOP = 10


class Oracle:
    def __init__(self, docs: dict[int, "object"]):
        """``docs``: doc_id -> inputs.Doc of every live document."""
        self.docs = docs
        self.n = len(docs)
        self.avgdl = sum(len(d.tokens) for d in docs.values()) / max(self.n, 1)
        self.postings: dict[str, dict[int, list[int]]] = defaultdict(dict)
        for i, d in docs.items():
            for pos, t in enumerate(d.tokens):
                self.postings[t].setdefault(i, []).append(pos)

    # ------------------------------------------------------------ scoring
    def idf(self, term: str) -> float:
        df = len(self.postings.get(term, ()))
        return math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))

    def _tfnorm(self, tf: int, doc: int) -> float:
        dl = len(self.docs[doc].tokens)
        return tf / (tf + K1 * (1.0 - B + B * dl / self.avgdl))

    def term_scores(self, term: str) -> dict[int, float]:
        idf = self.idf(term)
        return {
            doc: idf * self._tfnorm(len(pos), doc)
            for doc, pos in self.postings.get(term, {}).items()
        }

    def bool_scores(self, terms: list[str], must: bool) -> dict[int, float]:
        per = [self.term_scores(t) for t in terms]
        docs = set(per[0])
        for p in per[1:]:
            docs = docs & set(p) if must else docs | set(p)
        return {doc: sum(p.get(doc, 0.0) for p in per) for doc in docs}

    def phrase_scores(self, terms: list[str]) -> dict[int, float]:
        idf_sum = sum(self.idf(t) for t in terms)
        lists = [self.postings.get(t, {}) for t in terms]
        out = {}
        for doc, first in lists[0].items():
            if not all(doc in p for p in lists[1:]):
                continue
            later = [set(p[doc]) for p in lists[1:]]
            pf = sum(
                1 for x in first if all(x + i + 1 in s for i, s in enumerate(later))
            )
            if pf:
                out[doc] = idf_sum * self._tfnorm(pf, doc)
        return out

    def prefix_scores(self, prefix: str) -> dict[int, float]:
        docs = set()
        for t, p in self.postings.items():
            if t.startswith(prefix):
                docs.update(p)
        return {doc: 1.0 for doc in docs}

    # ------------------------------------------------------------ answers
    @staticmethod
    def ranked(scores: dict[int, float]) -> list:
        """The top TOP (doc, score) pairs."""
        order = sorted(scores, key=lambda d: (-scores[d], d))
        return [(d, scores[d]) for d in order[:TOP]]

    def sorted_page(self, docs, start: int, stop: int) -> list[int]:
        order = sorted(docs, key=lambda d: (-self.docs[d].stars, d))
        return order[start:stop]

    def dedup(self, scores: dict[int, float], field: str) -> tuple[int, list]:
        """Best doc per key (score desc, doc id asc) with its group size;
        returns (group count, top page of (doc, score, group size))."""
        groups: dict[str, list[int]] = defaultdict(list)
        for d in scores:
            groups[getattr(self.docs[d], field)].append(d)
        best = {}
        for members in groups.values():
            top = min(members, key=lambda d: (-scores[d], d))
            best[top] = len(members)
        page = self.ranked({d: scores[d] for d in best})
        return len(groups), [(d, s, best[d]) for d, s in page]

    def answer(self, spec: dict, repo_license: dict[str, str] | None = None) -> dict:
        """The expected answer of one search_mix query spec: the full
        score map plus the fields the engine's response is checked on."""
        cls = spec["cls"]
        terms = spec.get("terms", [])
        if cls == "prefix":
            s = self.prefix_scores(spec["prefix"])
        elif cls == "phrase":
            s = self.phrase_scores(terms)
        elif cls in ("and", "or"):
            s = self.bool_scores(terms, must=cls == "and")
        elif cls == "wand" and spec["kind"] != "term":
            s = self.bool_scores(terms, must=spec["kind"] == "and")
        else:
            s = self.term_scores(terms[0])
        if cls == "composed":
            s = {
                d: v
                for d, v in s.items()
                if repo_license[self.docs[d].repo] == spec["license"]
            }
        out = {"scores": s, "total": len(s), "top": self.ranked(s)}
        if cls == "wand":
            del out["total"]
        elif cls == "facet":
            out["facet"] = [
                facet_counts([getattr(self.docs[d], dim) for d in s]) for dim in FACET_DIMS
            ]
        elif cls == "sort_page":
            del out["top"]
            out["page"] = self.sorted_page(s, 10, 20)
        elif cls == "dedup":
            out["total"], page = self.dedup(s, "repo")
            out["top"] = [(d, v) for d, v, _ in page]
            out["groups"] = {d: n for d, _, n in page}
            out["total_with_dupes"] = len(s)
        return out


def facet_counts(values, max_terms: int = TOP) -> list[tuple[str, int]]:
    """(value, count) by count descending, then value ascending."""
    c = Counter(values)
    return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:max_terms]


def check(got: dict, want: dict, tol: float = 1e-6) -> list[str]:
    """Names of the fields on which the engine's answer ``got`` differs
    from the oracle's ``want`` (empty when it agrees). Top-k lists may
    reorder docs inside a score tie: the score sequences must agree to
    ``tol``, and every returned doc must carry its expected score."""
    bad = []
    for key in ("total", "total_with_dupes", "facet", "page", "groups"):
        if key in want and got.get(key) != want[key]:
            bad.append(key)
    if "top" in want:
        top, exp, scores = got.get("top", []), want["top"], want["scores"]
        ok = len(top) == len(exp) and all(
            abs(g[1] - w[1]) <= tol for g, w in zip(top, exp)
        )
        ok = ok and all(d in scores and abs(scores[d] - v) <= tol for d, v in top)
        if not ok:
            bad.append("top")
    return bad
