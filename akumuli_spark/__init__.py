"""akumuli_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of Akumuli (github.com/akumuli/Akumuli).

This is NOT a port of the C++ storage engine: queries are declared with the
Spark DataFrame API and optimized by Catalyst.  The reference's query
semantics (six query kinds, tag predicates, value filters, the ``apply``
post-processing pipeline — see /root/reference/libakumuli/query_processing/)
are re-expressed as DataFrame plans over a long ``metrics`` table.

Public entry points:
    >>> from akumuli_spark import get_spark, execute_query
    >>> spark = get_spark()
    >>> df = execute_query(spark, {"select": "cpu", "range": {...}}, metrics_df)
"""

from akumuli_spark.session import get_spark
from akumuli_spark.query.engine import execute_query
from akumuli_spark.api import Database, open_database

__all__ = [
    "get_spark",
    "execute_query",
    "Database",
    "open_database",
]
