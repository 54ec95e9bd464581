"""BM25 top-k over one field of a store, as a (doc_id, score) frame:
``PersistentIndex.term_topk``/``or_topk``/``and_topk`` (store.py).

Each is one ``search()`` (query/executor.py) over a TermQuery, or over a
SHOULD or MUST BooleanQuery of the distinct terms, with ``stop=k``: the
driver route answers it with no Spark job when the terms' postings fit
``DRIVER_QUERY_POSTINGS``, the Spark route's exhaustive scorer
otherwise. The hits come in (score desc, doc_id asc) order, as a local
relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from meresco_lucene_spark.query import executor
from meresco_lucene_spark.query.ir import Q
from meresco_lucene_spark.session import local_frame


def _topk(index, q: Q, k: int) -> DataFrame:
    hits = executor.search(index, q, stop=k).hits
    return local_frame(
        index.spark, [(h.id, h.score) for h in hits], "doc_id long, score double"
    )


def term_topk(index, fld: str, term: str, k: int = 10) -> DataFrame:
    return _topk(index, Q.term(fld, term), k)


def or_topk(index, fld: str, terms: list[str], k: int = 10) -> DataFrame:
    return _topk(index, Q.or_(*[Q.term(fld, t) for t in dict.fromkeys(terms)]), k)


def and_topk(index, fld: str, terms: list[str], k: int = 10) -> DataFrame:
    return _topk(index, Q.and_(*[Q.term(fld, t) for t in dict.fromkeys(terms)]), k)
