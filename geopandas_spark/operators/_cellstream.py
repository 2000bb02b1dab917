"""Shared streaming buffer for cell-cogrouped ``mapInPandas`` passes.

A cogroup pass partitions a union-tagged frame by cell key and sorts
within the partition, so each (key) group is contiguous.  The pass
must not materialize whole partitions in pandas (a partition can be
arbitrarily large); instead Arrow chunks are buffered only up to
``BUFFER_ROWS`` and flushed at group boundaries — the trailing
(possibly chunk-spanning) group is carried into the next flush.

The buffer size doubles as the *vectorization unit*: large enough to
amortize numpy per-call overhead, small enough that the per-worker
working set stays cache-resident (see the COMBO_CAP rationale in
operators/nearest.py — on hosts whose memory bandwidth is shared
across many workers, multi-MB temporaries stop scaling with cores).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BUFFER_ROWS = 262144


def stream_groups(it, key_cols: list[str], process):
    """Yield ``process(pdf)`` results over group-complete row blocks.

    ``it`` yields pandas chunks sorted by ``key_cols`` within the
    partition. ``process`` receives blocks that never split a key group;
    it may return None for empty output.
    """
    buf: list = []
    buffered = 0
    for chunk in it:
        if len(chunk) == 0:
            continue
        buf.append(chunk)
        buffered += len(chunk)
        if buffered < BUFFER_ROWS:
            continue
        pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
        n = len(pdf)
        # rows equal to the LAST row's key form a suffix (input sorted):
        # everything before that suffix is group-complete
        tail = np.ones(n, dtype=bool)
        for c in key_cols:
            k = pdf[c].to_numpy()
            tail &= k == k[n - 1]
        cut = n - int(tail.sum())
        if cut == 0:
            buf = [pdf]
            buffered = n
            continue
        buf = [pdf.iloc[cut:]]
        buffered = n - cut
        out = process(pdf.iloc[:cut])
        if out is not None:
            yield out
    if buf:
        pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
        if len(pdf):
            out = process(pdf)
            if out is not None:
                yield out
