"""Relational key-set algebra (reference search/join/relational/*).

The reference composes per-core key bitsets with AND/OR/NOT where NOT is
a *lazily inverted* bitset (KeyBits.java:33-93: intersect/union honor an
``inverted`` flag so the complement is never materialized until applied
to a concrete core). The Spark restatement keeps the same laziness: a
node evaluates to (keys DataFrame, inverted flag); the complement stays
symbolic until :meth:`KeySet.apply_to` anti-joins it against real rows.

Set identities used (K = positive key frames):
  AND:  K1 ∩ K2            | K1 \\ K2 (one inverted) | ¬(K1 ∪ K2) (both)
  OR:   K1 ∪ K2            | ¬(K2 \\ K1) (one inverted) | ¬(K1 ∩ K2) (both)
  NOT:  flip the flag

Reference: JoinAndQuery.java:83-138, JoinOrQuery.java:83-148,
RelationalNotQuery.java:77-123, RelationalLuceneQuery.java:114-163.
Golden behavior locked by tests recast from RelationalQueryTest.java.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from meresco_lucene_spark.index.store import PersistentIndex
    from meresco_lucene_spark.query.ir import Q


@dataclass
class KeySet:
    """Evaluated relational query: a key frame + lazy inversion flag."""

    keys: DataFrame  # single column "key"
    inverted: bool = False

    def apply_to(self, df: DataFrame, key_col: str) -> DataFrame:
        """Filter rows of df by this key set (KeyFilter semantics,
        queries/KeyFilter.java:46-124): semi-join, anti-join if inverted.
        Rows with NULL key never match a positive set and always survive
        an inverted one only if their key is absent — Lucene key
        doc-values default to 0 (absent); we treat NULL as non-member."""
        k = self.keys.withColumnRenamed(self.keys.columns[0], key_col).distinct()
        if self.inverted:
            return df.join(F.broadcast(k), key_col, "left_anti")
        return df.join(F.broadcast(k), key_col, "left_semi")


class RQ:
    """Relational query tree: RQ.lucene / RQ.and_ / RQ.or_ / RQ.not_."""

    def __init__(self, kind: str, **kw):
        self.kind = kind
        self.kw = kw

    @staticmethod
    def lucene(core: str, key_field: str, query: "Q") -> "RQ":
        """Leaf: keys of docs matching `query` in `core` via `key_field`
        (RelationalLuceneQuery.java:114-163)."""
        return RQ("lucene", core=core, key_field=key_field, query=query)

    @staticmethod
    def and_(first: "RQ", second: "RQ") -> "RQ":
        return RQ("and", first=first, second=second)

    @staticmethod
    def or_(first: "RQ", second: "RQ") -> "RQ":
        return RQ("or", first=first, second=second)

    @staticmethod
    def not_(q: "RQ") -> "RQ":
        return RQ("not", q=q)

    # -------------------------------------------------------------- eval
    def collect_keys(self, cores: dict[str, "PersistentIndex"]) -> KeySet:
        from meresco_lucene_spark.query.executor import hits

        if self.kind == "lucene":
            idx = cores[self.kw["core"]]
            h = hits(idx, self.kw["query"]).select("doc_id")
            keys = (
                idx.forward.join(h, "doc_id", "left_semi")
                .filter(F.col(self.kw["key_field"]).isNotNull())
                .select(F.col(self.kw["key_field"]).alias("key"))
                .distinct()
            )
            return KeySet(keys, False)
        if self.kind == "not":
            inner = self.kw["q"].collect_keys(cores)
            return KeySet(inner.keys, not inner.inverted)
        a = self.kw["first"].collect_keys(cores)
        b = self.kw["second"].collect_keys(cores)
        if self.kind == "and":
            if not a.inverted and not b.inverted:
                return KeySet(a.keys.join(b.keys, "key", "left_semi"), False)
            if not a.inverted and b.inverted:
                return KeySet(a.keys.join(b.keys, "key", "left_anti"), False)
            if a.inverted and not b.inverted:
                return KeySet(b.keys.join(a.keys, "key", "left_anti"), False)
            return KeySet(a.keys.unionByName(b.keys).distinct(), True)
        if self.kind == "or":
            if not a.inverted and not b.inverted:
                return KeySet(a.keys.unionByName(b.keys).distinct(), False)
            if not a.inverted and b.inverted:
                # A ∪ ¬B = ¬(B \ A)
                return KeySet(b.keys.join(a.keys, "key", "left_anti"), True)
            if a.inverted and not b.inverted:
                return KeySet(a.keys.join(b.keys, "key", "left_anti"), True)
            return KeySet(a.keys.join(b.keys, "key", "left_semi"), True)
        raise ValueError(f"unknown RQ kind {self.kind}")

    # -------------------------------------------------- wire round-trip
    @staticmethod
    def from_dict(d: dict) -> "RQ":
        """Parse the reference's relational wire dicts
        (JsonQueryConverter.java:238-275; the Python client emits them in
        queryexpressiontolucenequerydict.py:148 with collectKeyName ==
        filterKeyName always). Differing collect/filter key names change
        the reference's keyset PUSH-DOWN target mid-chain
        (RelationalLuceneQuery.java:143-149) — a shape the pure set
        algebra here does not model, so it is rejected loudly rather
        than answered wrong."""
        from meresco_lucene_spark.query.ir import Q

        t = d["type"]
        if t == "RelationalLuceneQuery":
            collect = d["collectKeyName"]
            if d.get("filterKeyName", collect) != collect:
                raise NotImplementedError(
                    "RelationalLuceneQuery with filterKeyName != "
                    "collectKeyName is not supported"
                )
            return RQ.lucene(d["core"], collect, Q.from_dict(d["query"]))
        if t == "JoinAndQuery":
            return RQ.and_(RQ.from_dict(d["first"]), RQ.from_dict(d["second"]))
        if t == "JoinOrQuery":
            return RQ.or_(RQ.from_dict(d["first"]), RQ.from_dict(d["second"]))
        if t == "RelationalNotQuery":
            return RQ.not_(RQ.from_dict(d["query"]))
        raise ValueError(f"unknown relational query type: {t}")

    def to_dict(self) -> dict:
        """Inverse of from_dict (the reference wire shape)."""
        if self.kind == "lucene":
            return {
                "type": "RelationalLuceneQuery",
                "core": self.kw["core"],
                "collectKeyName": self.kw["key_field"],
                "filterKeyName": self.kw["key_field"],
                "query": self.kw["query"].to_dict(),
            }
        if self.kind == "not":
            return {"type": "RelationalNotQuery", "query": self.kw["q"].to_dict()}
        wire = "JoinAndQuery" if self.kind == "and" else "JoinOrQuery"
        return {
            "type": wire,
            "first": self.kw["first"].to_dict(),
            "second": self.kw["second"].to_dict(),
        }
