"""Data model: the long ``metrics`` table, ``events`` table and ``series``
dimension, mirroring the reference's sample model.

Reference model (/root/reference/include/akumuli_def.h:89-93): a sample is
``(paramid, timestamp, payload)`` where the series id is interned from a
canonical series name ``metric tag1=v1 tag2=v2 ...`` with tag keys sorted
alphabetically (/root/reference/libakumuli/index/seriesparser.h:205-220,
``SeriesParser::to_canonical_form``).  Events are string-payload series whose
metric starts with ``!`` (/root/reference/libakumuli/query_processing/
queryparser.cpp:323-336).

Spark mapping (SURVEY.md §1.4): one long DataFrame instead of one NB+tree
per series; the canonical *name* (a string column) is the series key so
results hash-compare across engines without relying on interned ids.

    metrics(series string, metric string, tags map<string,string>,
            ts_ns long, value double)                   -- ENGINE_SCHEMA
    events (series string, metric string, tags map<string,string>,
            ts_ns long, body string)                    -- EVENTS_SCHEMA

``ts_ns`` is int64 nanoseconds since epoch — the reference's native
resolution.  A ``TimestampType`` (µs) view can be derived where needed.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: the engine's metrics frame: what every reader serves and every
#: query runs on (``tags`` is derived from ``series`` on read)
ENGINE_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("metric", T.StringType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    T.StructField("ts_ns", T.LongType()),
    T.StructField("value", T.DoubleType()),
])

#: the events frame shape (string body payload, metric starts with '!')
EVENTS_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("metric", T.StringType()),
    T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
    T.StructField("ts_ns", T.LongType()),
    T.StructField("body", T.StringType()),
])

# Reference limits (include/akumuli_def.h:116-125); enforced at parse time.
MAX_TAGS = 32
MAX_SERIES_NAME_LEN = 4096
MAX_EVENT_LEN = 4096


def canonical_series_name(metric: str, tags: dict[str, str]) -> str:
    """Canonical form: metric, then tag pairs sorted by key, single-space
    separated — mirrors SeriesParser::to_canonical_form
    (/root/reference/libakumuli/index/seriesparser.h:205-220)."""
    parts = [metric] + [f"{k}={tags[k]}" for k in sorted(tags)]
    return " ".join(parts)


def parse_series_name(name: str) -> tuple[str, dict[str, str]]:
    """Parse ``metric tag1=v1 tag2=v2`` into (metric, tags).

    Accepts arbitrary whitespace between components like the reference's
    ingestion parser; raises ValueError on malformed tag pairs.
    """
    if len(name) > MAX_SERIES_NAME_LEN:
        # the reference parses names into a fixed AKU_LIMITS_MAX_SNAME
        # buffer and fails longer input (storage2.cpp:211-213)
        raise ValueError(
            f"series name too long ({len(name)} > {MAX_SERIES_NAME_LEN})"
        )
    parts = name.split()
    if not parts:
        raise ValueError("empty series name")
    metric = parts[0]
    tags: dict[str, str] = {}
    for p in parts[1:]:
        if "=" not in p:
            raise ValueError(f"malformed tag pair {p!r} in series {name!r}")
        k, _, v = p.partition("=")
        if not k or not v:
            raise ValueError(f"malformed tag pair {p!r} in series {name!r}")
        tags[k] = v
    if len(tags) > MAX_TAGS:
        raise ValueError(f"too many tags ({len(tags)} > {MAX_TAGS})")
    return metric, tags


def is_event_metric(metric: str) -> bool:
    """Event series start with '!' (queryparser.cpp:323-336)."""
    return metric.startswith("!")
