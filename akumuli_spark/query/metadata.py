"""Metadata/discovery queries: ``search`` and ``suggest``
(/root/reference/libakumuli/query_processing/queryparser.cpp:1026-1273,
executed over the inverted series index, storage2.cpp:1468-1530).

Spark-side the series universe is a dimension frame
``series_dim(series, metric, tags)`` (derived once from the data or
maintained by the ingest stream); these queries are filters over it.  At
scale the dim table is tiny relative to the data (cardinality of distinct
series), so these run as broadcast-size scans, and the final name sort
follows the engine's size rule (:func:`~akumuli_spark.query.engine.sort_by_size`):
a dimension that fits one task is sorted in it, with no range shuffle.

Outputs are single-column ``name`` frames, matching the reference's
MetadataQueryProcessor which emits one sample per matching *name*
(queryprocessor.cpp:80-117).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from akumuli_spark.query.engine import sort_by_size, where_predicate
from akumuli_spark.query.errors import QueryParseError
from akumuli_spark.query.parser import _parse_where


def search(series_dim: DataFrame, query: dict) -> DataFrame:
    """``{"select": metric, "where": {...}}`` → matching series names,
    sorted (queryparser.cpp:1026-1076).  Also accepts the deprecated
    ``{"select": "meta:names:metric"}`` form (queryparser.cpp:987-1022)
    and bare ``meta:names`` (all series)."""
    if "select" not in query:
        raise QueryParseError("search requires 'select'")
    metric = query["select"]
    if metric == "meta:names":
        out = series_dim
        where = _parse_where(query)
        if where is not None:
            out = out.filter(where_predicate(where, F.col("tags")))
        return sort_by_size(out.select(F.col("series").alias("name")), "name")
    if metric.startswith("meta:names:"):
        metric = metric[len("meta:names:"):]
    out = series_dim.filter(F.col("metric") == metric)
    where = _parse_where(query)
    if where is not None:
        out = out.filter(where_predicate(where, F.col("tags")))
    return sort_by_size(out.select(F.col("series").alias("name")), "name")


def suggest(series_dim: DataFrame, query: dict) -> DataFrame:
    """Autocomplete (queryparser.cpp:1078-1273): ``select`` is one of
    ``metric-names`` / ``tag-names`` / ``tag-values``, with optional
    ``starts-with`` prefix; tag-names needs ``metric``; tag-values needs
    ``metric`` + ``tag``."""
    what = query.get("select")
    prefix = query.get("starts-with", "")
    if what == "metric-names":
        out = series_dim.select(F.col("metric").alias("name")).distinct()
    elif what == "tag-names":
        metric = query.get("metric")
        if metric is None:
            raise QueryParseError("suggest tag-names requires 'metric'")
        out = (
            series_dim.filter(F.col("metric") == metric)
            .select(F.explode(F.map_keys(F.col("tags"))).alias("name"))
            .distinct()
        )
    elif what == "tag-values":
        metric, tag = query.get("metric"), query.get("tag")
        if metric is None or tag is None:
            raise QueryParseError("suggest tag-values requires 'metric' and 'tag'")
        out = (
            series_dim.filter(F.col("metric") == metric)
            .select(F.col("tags").getItem(tag).alias("name"))
            .filter(F.col("name").isNotNull())
            .distinct()
        )
    else:
        raise QueryParseError(
            "suggest 'select' must be metric-names | tag-names | tag-values"
        )
    if prefix:
        out = out.filter(F.col("name").startswith(prefix))
    return sort_by_size(out, "name")
