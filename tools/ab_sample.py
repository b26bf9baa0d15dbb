"""Fixed-sample A/B runner for session-wide config defaults (r15
verdict lead #2): run a FIXED 20-query sample (winners, regressed
middle, GEMM/IVF family, checkpoint sites, heavy heads) in ONE fresh
process and print per-query steady seconds (min of the non-cold reps)
plus the sample total, as one JSON line.

Environment decides the arm (set by the caller):
  NSJS_AQE_MIN_PARTITION_SIZE  (default 64k — the r15 session floor)

Usage:  python tools/ab_sample.py [--reps N] [--tag LABEL] [names...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SAMPLE = [
    # r15 per-row kernel / floor winners
    "retrieval_eval_metrics", "text_repetition_filter",
    "multimodal_decode_mixed", "embedding_quantize",
    "sketch_price_quantiles",
    # untouched documents/embeddings consumers (the regressed middle)
    "text_tfidf_topk", "doc_pack_sequences", "cluster_assign_kmeans",
    "embedding_jl_project", "multimodal_features", "text_novelty_ratio",
    # GEMM / IVF family (the 32-core regression suspects)
    "mine_bitext_margin_ivf", "mine_bitext_planted_ivf",
    "ann_ivfpq_topk", "ann_ivf_partitioned",
    "dedup_embedding_cosine_celled",
    # r15 lazy-checkpoint sites with conflicting evidence
    "web_pagerank_planted", "pipeline_crawl_redirects",
    # heavy heads
    "pipeline_clean_corpus", "dedup_resolve_incremental",
]


def main() -> None:
    reps, tag, names = 3, "", []
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--reps":
            reps = int(next(it))
        elif a == "--tag":
            tag = next(it)
        else:
            names.append(a)
    names = names or SAMPLE

    from nosql_join_stream_spark.queries import REGISTRY
    from nosql_join_stream_spark.session import get_session

    spark = get_session("ab_sample")
    # same warm-up as bench.py
    REGISTRY["join_fk_inner"].fn(spark, SF_DIR).write.format("noop") \
        .mode("overwrite").save()

    out: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        qd = REGISTRY[name]
        times = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"ab:{name}#{i}")
            t0 = time.perf_counter()
            qd.fn(spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        cold[name] = round(times[0], 3)
        out[name] = round(min(times[1:]) if len(times) > 1 else times[0], 3)

    print(json.dumps({
        "tag": tag,
        "aqe_floor": os.environ.get("NSJS_AQE_MIN_PARTITION_SIZE", "64k"),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "total_steady": round(sum(out.values()), 3),
        "steady": out,
        "cold": cold,
    }))


if __name__ == "__main__":
    main()
