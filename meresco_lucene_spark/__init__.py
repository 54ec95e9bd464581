"""meresco_lucene_spark — a PySpark-native inverted-index + BM25 analytics engine.

A brand-new engine with the query and data-processing capabilities of
seecr/meresco-lucene (see SURVEY.md), designed Spark-first:

- index build = DataFrame pipeline (tokenize with vectorized Arrow UDFs,
  posting lists via posexplode + groupBy, delta+varint block compression
  for the on-disk segment format),
- queries = Catalyst plans (joins + window + aggregate) over the postings
  tables, with exact Lucene-8 BM25 semantics,
- multi-core composed queries = semi/anti/union key joins,
- facets/dedup/sort/pagination = groupBy/window/orderBy.

Nothing here is a port of the reference's Java/PyLucene architecture; the
reference (at /root/reference, read-only) defines WHAT is computed, the
HOW is idiomatic Spark.
"""

from meresco_lucene_spark.session import get_spark
from meresco_lucene_spark.core import LuceneCore, MultiLuceneSpark
from meresco_lucene_spark.query.ir import Q
from meresco_lucene_spark.query.executor import LuceneResponse, search
from meresco_lucene_spark.query.cql import cql_to_query
from meresco_lucene_spark.compose.composedquery import ComposedQuery, execute_composed
from meresco_lucene_spark.compose.relational import RQ

__all__ = [
    "get_spark",
    "LuceneCore",
    "MultiLuceneSpark",
    "Q",
    "LuceneResponse",
    "search",
    "cql_to_query",
    "ComposedQuery",
    "execute_composed",
    "RQ",
]
