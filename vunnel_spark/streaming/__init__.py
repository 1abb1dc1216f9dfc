"""Structured Streaming surface: the stream-stream interval join.

``interval_join`` is one definition with two run modes: on streaming
frames it adds the watermarks that bound the join state, and on batch
frames the same expression runs stateless.  The registered
``v4_stream_stream_interval_join`` runs the batch mode against the
oracle, and tests/test_streaming.py checks the streaming mode against it
over a real file-source stream.
"""

from vunnel_spark.streaming.joins import interval_join  # noqa: F401
