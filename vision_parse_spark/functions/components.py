"""Connected components of an edge list, numpy only.

One labelling kernel shared by the image-region detector (components
of vertically overlapping pixel runs) and ``dup_clusters``'
partition-local contraction (components of the near-dup pair graph).
"""

from __future__ import annotations

import numpy as np


def min_labels(a: np.ndarray, c: np.ndarray, n: int) -> np.ndarray:
    """Label each node ``0..n-1`` with the smallest node index in its
    connected component over the edges ``(a[i], c[i])``.

    Each round hooks the larger of every edge's two roots onto the
    smaller (``np.minimum.at``), then pointer-jumps every label to its
    root.  Labels only ever fall to a smaller node of the same
    component, so roots are component minima, and the loop ends when
    each edge's ends share a root.  Self-loops, duplicate edges and
    isolated nodes need no special case."""
    label = np.arange(n)
    a = np.asarray(a, dtype=np.int64)
    c = np.asarray(c, dtype=np.int64)
    while True:
        la, lc = label[a], label[c]
        # an edge whose ends share a root keeps sharing it: drop it
        split = la != lc
        if not split.any():
            return label
        a, c, la, lc = a[split], c[split], la[split], lc[split]
        np.minimum.at(label, np.maximum(la, lc), np.minimum(la, lc))
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
