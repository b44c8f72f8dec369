"""Streaming surface.

The reference is fully batch — it has NO streaming operators (SURVEY.md
§2.7: "on the fly" means lazy drill-down, not streams). This package adds
the Structured Streaming stages a large-scale pipeline needs anyway, each
checkpointed via the standard streaming checkpoint mechanism:

- ``ingest.stream_extract_features``: stateless extract/convert over the
  same Arrow kernels as the batch path;
- ``aggregate.stream_events_hourly``: watermarked tumbling-window
  aggregate (the ``stream_events_hourly`` driver query);
- ``spatial.stream_point_in_polygon``: per-microbatch exact stream-static
  point-in-polygon join (the ``stream_pip_triangles`` driver query).
"""

from geojson_vt_cpp_spark.streaming.ingest import stream_extract_features

__all__ = ["stream_extract_features"]
