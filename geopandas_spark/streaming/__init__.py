"""Structured Streaming surface.

The reference (GeoPandas) is batch-only, so nothing here mirrors a
reference API. These are the graft-native stream jobs a continuous
ingest pipeline needs, built so batch and stream share semantics:

* ``sjoin_stream``      — stream-static spatial join (the batch sjoin
                          broadcast probe against a plan-time index).
* ``sjoin_nearest_stream`` — stream-static nearest join (the batch
                          sjoin_nearest broadcast kNN kernel).
* ``tile_counts_stream``— watermarked event-time windowed counts per
                          quadtree tile.
* ``dedup_stream``      — exact dedup within a watermark, same
                          normalize->xxhash64 key as the batch operator.

Every ``st_*`` function is a stateless projection and is usable on a
streaming DataFrame as-is.
"""

from .agg import dedup_stream, tile_counts_stream
from .join import sjoin_stream
from .nearest import sjoin_nearest_stream

__all__ = ["sjoin_stream", "sjoin_nearest_stream", "tile_counts_stream",
           "dedup_stream"]
