"""Structured Streaming layer: the stateful quartet (multiline join,
throttle, cardinality, antispam) that the ``join``/``join_template``,
``throttle``, ``cardinality`` and ``antispam`` actions run on a
streaming frame."""

from file_d_spark.streaming.stateful import (
    antispam_stream,
    cardinality_stream,
    multiline_join_stream,
    throttle_stream,
)

__all__ = [
    "antispam_stream",
    "cardinality_stream",
    "multiline_join_stream",
    "throttle_stream",
]
