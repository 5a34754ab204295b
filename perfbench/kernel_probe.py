"""Time the scoring kernel's layers on a sample of candidate windows.

Usage: ``python3 perfbench/kernel_probe.py <windows.parquet>``

Runs in a fresh process pinned to one core, so the kernel's
executor-local memos start empty and BLAS uses one thread. The sample
is split into Arrow-sized batches (``maxRecordsPerBatch`` rows) as the
fused ``mapInPandas`` kernel sees them, and each layer is timed on every
batch:

- featurize: ``kernels.featurize_window`` per row (parse, SDP, arrays);
- birnn: ``kernels.feature_batch(..., use_adp=False)`` (bi-RNN only);
- treernn: ``kernels.tree_mean_states`` (TreeRNN over the window);
- head: ``kernels.softmax_head`` over the concatenated features.

Prints one JSON object: seconds per 10k windows for each layer, and the
number of windows timed.
"""

from __future__ import annotations

import json
import os
import sys
import time

BATCH = 2048


def main(path: str) -> dict:
    os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
    import numpy as np
    import pyarrow.parquet as pq

    from cross_sentence_relation_extraction_idepnn_spark import kernels
    from cross_sentence_relation_extraction_idepnn_spark.training import load_weights

    rows = pq.read_table(path).to_pylist()
    W = load_weights()
    spent = {"featurize": 0.0, "birnn": 0.0, "treernn": 0.0, "head": 0.0}
    for lo in range(0, len(rows), BATCH):
        batch = rows[lo : lo + BATCH]
        t0 = time.perf_counter()
        feats = [
            kernels.featurize_window(
                list(r["wtexts"]), r["sent1"], r["tok1"], r["sent2"], r["tok2"], r["smin"]
            )
            for r in batch
        ]
        ok = [f for f in feats if f is not None]
        t1 = time.perf_counter()
        h_bi = kernels.feature_batch(ok, W, use_adp=False)
        t2 = time.perf_counter()
        tree = kernels.tree_mean_states(ok, W)
        t3 = time.perf_counter()
        both = np.concatenate([h_bi, tree @ W["W_tree_proj"]], axis=1)
        t4 = time.perf_counter()
        kernels.softmax_head(both, W)
        t5 = time.perf_counter()
        for k, dt in zip(spent, (t1 - t0, t2 - t1, t3 - t2, t5 - t4)):
            spent[k] += dt
    scale = 10_000 / max(len(rows), 1)
    return {"windows": len(rows), **{k: v * scale for k, v in spent.items()}}


if __name__ == "__main__":
    sys.stdout.write(json.dumps(main(sys.argv[1])) + "\n")
