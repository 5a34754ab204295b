#!/usr/bin/env python
"""Standing resumability artifact (VERDICT r5 next-#7): RESUME_SELF.json.

The kill-and-resume invariant already lives in
``tests/test_checkpoint.py``; the north rule lists resumability as a
first-class criterion, so — like PARITY_SELF for oracle parity — this
job records a per-session JSON attestation:

1. run the checkpointed pipeline to completion (warehouse A),
2. simulate a mid-job kill (delete every stage after ``candidates``),
3. re-run with ``resume=True``,
4. assert the resumed triple set is value-identical (sorted md5 over
   all columns) AND that completed upstream stages were REUSED
   (``_SUCCESS`` mtimes unchanged), with lineage counters present for
   every stage.

Usage: ``python jobs/resume_self.py`` (sf0.01 default; env
``RESUME_SELF_SF`` overrides). Writes RESUME_SELF.json at repo root.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

SF_DIR = os.environ.get("RESUME_SELF_SF", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "RESUME_SELF.json")

KILLED_STAGES = ("quarantine", "scored", "triples")


def triple_hash(df) -> tuple[int, str]:
    rows = sorted(
        tuple(str(v) for v in r) for r in df.collect()
    )
    h = hashlib.md5("\n".join("|".join(r) for r in rows).encode()).hexdigest()
    return len(rows), h


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cross_sentence_relation_extraction_idepnn_spark.plans.checkpoint import (
        Checkpointer,
    )
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        extract_triples,
    )
    from cross_sentence_relation_extraction_idepnn_spark.session import get_spark

    spark = get_spark("resume_self", cores=8)
    wh = tempfile.mkdtemp(prefix="resume_self_wh_")
    t0 = time.time()
    try:
        n1, h1 = triple_hash(extract_triples(spark, SF_DIR, warehouse=wh))
        cp = Checkpointer(spark, wh)
        pre_mtimes = {
            s: os.path.getmtime(os.path.join(wh, s, "_SUCCESS"))
            for s in ("sentences", "mentions", "candidates")
        }
        for stage in KILLED_STAGES:
            shutil.rmtree(os.path.join(wh, stage))
        n2, h2 = triple_hash(extract_triples(spark, SF_DIR, warehouse=wh))
        post_mtimes = {
            s: os.path.getmtime(os.path.join(wh, s, "_SUCCESS"))
            for s in ("sentences", "mentions", "candidates")
        }
        meta = cp.meta()
        stages = sorted({m["stage"] for m in meta})
        counters_ok = all(
            m["rows"] >= 0 and m["wall_sec"] >= 0 and m["n_files"] >= 1
            for m in meta
        )
        result = {
            "sf_dir": SF_DIR,
            "killed_after": "candidates",
            "killed_stages": list(KILLED_STAGES),
            "n_triples_first": n1,
            "n_triples_resumed": n2,
            "triple_hash_first": h1,
            "triple_hash_resumed": h2,
            "hash_equal": h1 == h2,
            "upstream_reused": pre_mtimes == post_mtimes,
            "lineage_stages": stages,
            "lineage_counters_ok": counters_ok,
            "wall_sec": round(time.time() - t0, 1),
            "generated_unix": int(time.time()),
        }
        ok = result["hash_equal"] and result["upstream_reused"] and counters_ok
        result["ok"] = ok
        with open(OUT, "w") as f:
            json.dump(result, f, indent=2)
            f.write("\n")
        print(json.dumps({k: result[k] for k in ("ok", "hash_equal", "upstream_reused", "n_triples_first", "wall_sec")}))
        sys.exit(0 if ok else 1)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
