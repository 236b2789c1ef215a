"""Diagnostic spark-submit job: per-branch timing of the edges stage.

The scaling bench showed the post-candidate portion of the edges stage
(and cc precount/collect) scaling NEGATIVELY from 1x2 to 4x2 executors.
This job isolates each branch with eager materialization so the per-branch
walls are attributable:

    spark-submit --master local-cluster[4,2,8192] --py-files <zip> \
        tools/diag_edges.py <corpus> <out_json>
"""

from __future__ import annotations

import json
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def main() -> None:
    corpus_path, out_json = sys.argv[1], sys.argv[2]

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("odd_diag_edges").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from ordinarydumpdeduplicator_spark.operators.connected_components import (
        connected_components,
    )
    from ordinarydumpdeduplicator_spark.operators.exact_dedup import key_groups
    from ordinarydumpdeduplicator_spark.operators.features import extract_features
    from ordinarydumpdeduplicator_spark.operators.lsh import (
        caption_candidates,
        phash_candidates,
    )
    from ordinarydumpdeduplicator_spark.operators.verify import (
        verify_caption_pairs,
        verify_phash_pairs,
    )

    images = spark.read.parquet(corpus_path)
    images.count()

    t: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 3)
        print(f"[diag] {name}: {t[name]}s", flush=True)
        return out

    from ordinarydumpdeduplicator_spark.operators.lsh import (
        combined_candidates,
    )

    feats = timed(
        "features", lambda: extract_features(images).localCheckpoint()
    )
    # the pipeline's one key-group aggregate: star edges of all four
    # exact-key families plus the caption/phash representatives
    ex, _, _ = timed(
        "key_groups",
        lambda: [df.localCheckpoint() for df in key_groups(feats)],
    )
    cap = timed(
        "caption_candidates",
        lambda: caption_candidates(feats)[0].localCheckpoint(),
    )
    ph = timed(
        "phash_candidates",
        lambda: phash_candidates(feats)[0].localCheckpoint(),
    )
    comb = timed(
        "combined_candidates",
        lambda: combined_candidates(feats)[0].localCheckpoint(),
    )
    t["n_comb_pairs"] = comb.count()
    comb2 = timed(
        "combined_candidates_warm",
        lambda: combined_candidates(feats)[0].localCheckpoint(),
    )
    cap2 = timed(
        "caption_candidates_warm",
        lambda: caption_candidates(feats)[0].localCheckpoint(),
    )
    ph2 = timed(
        "phash_candidates_warm",
        lambda: phash_candidates(feats)[0].localCheckpoint(),
    )
    t["n_cap_pairs"] = cap.count()
    t["n_ph_pairs"] = ph.count()
    capv = timed(
        "verify_caption",
        lambda: verify_caption_pairs(cap, images).localCheckpoint(),
    )
    phv = timed(
        "verify_phash",
        lambda: verify_phash_pairs(ph, feats).localCheckpoint(),
    )
    t["n_cap_near"] = capv.count()
    t["n_ph_near"] = phv.count()
    union = timed(
        "union_cache_count",
        lambda: capv.unionByName(phv)
        .unionByName(ex)
        .cache(),
    )
    t["n_edges"] = timed("union_count_action", lambda: union.count())
    raw = union.select("src", "dst")
    t["cc_precount"] = None
    t0 = time.time()
    n_raw = raw.count()
    t["cc_precount"] = round(time.time() - t0, 3)
    stats: dict = {}
    assign = timed(
        "cc", lambda: connected_components(raw, stats=stats)
    )
    t["cc_stats"] = stats
    t["n_assign"] = timed("cc_count", lambda: assign.count())
    t["master"] = spark.sparkContext.master

    with open(out_json, "w") as f:
        json.dump(t, f, indent=2)
    print(json.dumps(t), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
