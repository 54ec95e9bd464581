from meresco_lucene_spark.index.builder import InvertedIndex

__all__ = ["InvertedIndex"]
