"""Scaling probe — empirical "would this hold at N×?" evidence.

Synthesizes corpora at 1x/4x/16x of sf0.1 (copies get a per-copy token
appended so cross-copy texts are distinct and near-dup structure scales
linearly instead of quadratically), then times the shuffle-heavy
operators.  Linear-ish wall-clock growth = the plan scales; superlinear
growth = a hidden n² or a single-task bottleneck.

Results recorded in SCALING.md.  Writes only under /tmp.

Usage: python tools/scale_probe.py [max_factor] [op ...]
       ops default to: ngram minhash ann
       also available: incr incrb cluster decon novelty tfidf neardup
                       rrf textq pack mm coverage cap phrase dimstats
                       shuffle paradedup budget semdedup keepbest
                       keepbestmh ivfappend cleanmh streamij editdist
                       incrmh mmr ivfcompact substr upsert bigram nbllr sketch substrinc chunkjac resolveinc snapupsert bpe retract asof mediainc aqeskew pyds keyed saltauto saltaqe shards scd2inc emblinalg jlann sketchq psib
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MAX_FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 16
OPS = set(sys.argv[2:]) or {"ngram", "minhash", "ann"}


def main() -> None:
    from pyspark.sql import functions as F
    from nosql_join_stream_spark.session import get_session
    from nosql_join_stream_spark.operators import dedup, similarity

    spark = get_session("scale-probe")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_docs = docs.count()

    def grow(df, ident, factor):
        # every copy interleaves a copy-specific token between all words:
        # cross-copy Jaccard drops to 0 (every 3-gram carries the copy
        # token) while within-copy planted near-dups are preserved, so
        # the TRUE pair count — and the work — scales linearly with
        # factor instead of quadratically (applied at factor=1 too, for
        # comparability)
        copies = spark.range(factor).select(F.col("id").alias("__copy"))
        out = df.crossJoin(copies)
        out = out.withColumn(ident, F.col(ident) + F.col("__copy") * 10_000_000)
        if "text" in df.columns:
            tok = F.concat(F.lit(" c"), F.col("__copy").cast("string"), F.lit(" "))
            out = out.withColumn(
                "text", F.regexp_replace("text", r"\s+", tok))
        return out.drop("__copy")

    factor = 1
    while factor <= MAX_FACTOR:
        d = grow(docs, "doc_id", factor)
        e = grow(emb, "vec_id", factor)
        path_d = f"/tmp/scale_docs_{factor}x.parquet"
        path_e = f"/tmp/scale_emb_{factor}x.parquet"
        d.write.mode("overwrite").parquet(path_d)
        e.write.mode("overwrite").parquet(path_e)
        dd = spark.read.parquet(path_d)
        ee = spark.read.parquet(path_e)

        results = {}
        if "ngram" in OPS:
            t0 = time.perf_counter()
            results["ngram_pairs"] = dedup.ngram_jaccard_pairs(
                dd, "text", "doc_id").count()
            results["ngram_s"] = round(time.perf_counter() - t0, 2)

        if "minhash" in OPS:
            t0 = time.perf_counter()
            results["minhash_pairs"] = dedup.minhash_lsh_pairs(
                dd, "text", "doc_id").count()
            results["minhash_s"] = round(time.perf_counter() - t0, 2)

        # simhash is excluded: the injected copy token dominates its
        # token-histogram signature, collapsing all docs within hamming
        # radius — the probe's perturbation defeats that measure by
        # construction, so its timing would reflect a quadratic OUTPUT,
        # not the operator

        if "incr" in OPS:
            # batch fixed (copy-0 slice), corpus grows with factor —
            # the daily-ingest shape; wall should stay near-flat
            batch = dd.filter((F.col("doc_id") % 10 == 9)
                              & (F.col("doc_id") < 10_000_000))
            corpus = dd.join(batch.select("doc_id"), "doc_id", "left_anti")
            t0 = time.perf_counter()
            results["incr_pairs"] = dedup.ngram_jaccard_pairs_between(
                corpus, batch, "text", "doc_id").count()
            results["incr_s"] = round(time.perf_counter() - t0, 2)

        if "incrb" in OPS:
            # standing bucketed index: first timing includes the one-
            # time index BUILD; second timing is the per-batch JOIN
            # cost alone (rebuild=False) — the steady-state number
            batch = dd.filter((F.col("doc_id") % 10 == 9)
                              & (F.col("doc_id") < 10_000_000))
            corpus = dd.join(batch.select("doc_id"), "doc_id", "left_anti")
            t0 = time.perf_counter()
            results["incrb_pairs"] = dedup.ngram_jaccard_pairs_between_bucketed(
                corpus, batch, "text", "doc_id").count()
            results["incrb_build_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            dedup.ngram_jaccard_pairs_between_bucketed(
                corpus, batch, "text", "doc_id", rebuild=False).count()
            results["incrb_join_s"] = round(time.perf_counter() - t0, 2)

        if "cluster" in OPS:
            t0 = time.perf_counter()
            results["cluster_rows"] = similarity.cluster_assign(
                ee, k=8).count()
            results["cluster_s"] = round(time.perf_counter() - t0, 2)

        if "decon" in OPS:
            # benchmark side stays FIXED (benchmarks don't grow with the
            # corpus); only the train side scales
            # copy-0 slice: same tokenization as the grown corpus, so
            # real overlaps exist, but its size doesn't grow with factor
            bench = dd.filter((F.col("doc_id") % 25 == 0)
                              & (F.col("doc_id") < 10_000_000))
            t0 = time.perf_counter()
            results["decon_rows"] = dedup.decontaminate(
                dd, bench, "text", "doc_id").count()
            results["decon_s"] = round(time.perf_counter() - t0, 2)

        if "novelty" in OPS:
            from nosql_join_stream_spark.operators import text as text_ops
            t0 = time.perf_counter()
            results["novelty_rows"] = text_ops.novelty_ratio(
                dd, "text", "doc_id").count()
            results["novelty_s"] = round(time.perf_counter() - t0, 2)

        if "tfidf" in OPS:
            from nosql_join_stream_spark.operators import retrieval
            t0 = time.perf_counter()
            results["tfidf_rows"] = retrieval.tfidf_topk(
                dd, "text", "doc_id").count()
            results["tfidf_s"] = round(time.perf_counter() - t0, 2)

        if "ann" in OPS:
            q = ee.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").alias("q_id"), "embedding")
            c = ee.select(F.col("vec_id").alias("c_id"), "embedding")
            t0 = time.perf_counter()
            results["ann_lsh_rows"] = similarity.ann_lsh_topk(
                q, c, k=5, n_planes=4, dim=64).count()
            results["ann_lsh_s"] = round(time.perf_counter() - t0, 2)

        if "neardup" in OPS:
            # exact GEMM near-dup, CELLED single-plan pair space (r9):
            # a small max_block_rows forces multiple hash cells even at
            # 1x (2000 rows / 1024 = 2 cells; 32 cells at 16x), so the
            # curve measures the cell-pair applyInPandas shape — one
            # shuffle of n x n_cells replicas, parallel GEMM groups,
            # nothing through the driver.  Expected ~quadratic WORK in
            # factor (it's the exact path; LSH/minhash is the
            # sub-quadratic handoff) spread over factor^2 parallel
            # cell-pair tasks, with per-task memory constant
            t0 = time.perf_counter()
            results["neardup_pairs"] = similarity.embedding_near_dup_pairs(
                ee, "vec_id", "embedding", threshold=0.45,
                max_block_rows=1024).count()
            results["neardup_s"] = round(time.perf_counter() - t0, 2)

        if "rrf" in OPS:
            from nosql_join_stream_spark.operators import retrieval
            qvec = [float(x) for x in
                    ee.filter(F.col("vec_id") == 0)
                      .select("embedding").head()[0]]
            t0 = time.perf_counter()
            results["rrf_rows"] = retrieval.hybrid_rrf_topk(
                dd, ee, "text", "doc_id",
                ["hash", "spark", "window"], qvec, k=10).count()
            results["rrf_s"] = round(time.perf_counter() - t0, 2)

        if "textq" in OPS:
            from nosql_join_stream_spark.operators import text as text_ops
            feats = text_ops.quality_features(F.col("text"))
            t0 = time.perf_counter()
            results["textq_rows"] = (dd.select(
                "doc_id", *[c.alias(k) for k, c in feats.items()],
                text_ops.lang_id(F.col("text")).alias("lang_guess"),
                text_ops.fingerprint(F.col("text")).alias("fp"))
                .count())
            results["textq_s"] = round(time.perf_counter() - t0, 2)

        if "pack" in OPS:
            from nosql_join_stream_spark.operators import text as text_ops
            sharded = dd.withColumn("shard", F.col("doc_id") % 64)
            t0 = time.perf_counter()
            results["pack_rows"] = text_ops.pack_sequences(
                sharded, "doc_id", "shard", budget=2048).count()
            results["pack_s"] = round(time.perf_counter() - t0, 2)

        if "mm" in OPS:
            from nosql_join_stream_spark.operators import multimodal
            media = multimodal.synthesize_media(dd, "text", "doc_id")
            t0 = time.perf_counter()
            results["mm_feat_rows"] = multimodal.extract_features(
                media).count()
            results["mm_patch_rows"] = multimodal.patch_grid(
                media, patch=32).count()
            results["mm_s"] = round(time.perf_counter() - t0, 2)

        if "coverage" in OPS:
            t0 = time.perf_counter()
            results["coverage_rows"] = dedup.ngram_dup_coverage(
                dd, "text", "doc_id").count()
            results["coverage_s"] = round(time.perf_counter() - t0, 2)

        if "cap" in OPS:
            from nosql_join_stream_spark.operators import sampling
            t0 = time.perf_counter()
            results["cap_rows"] = sampling.cap_per_group(
                dd, "lang", "doc_id", cap=50).count()
            results["cap_s"] = round(time.perf_counter() - t0, 2)

        if "phrase" in OPS:
            # the injected copy token sits between every pair of words,
            # so multi-word adjacency never matches (rows=0 by
            # construction) — the probe measures the posting-list
            # pipeline cost (scan filter, per-doc grouping, map fold),
            # which is the part that scales with the corpus
            from nosql_join_stream_spark.operators import retrieval
            t0 = time.perf_counter()
            results["phrase_rows"] = retrieval.phrase_search(
                dd, "text", "doc_id", "slow hash batch").count()
            results["phrase_s"] = round(time.perf_counter() - t0, 2)

        if "shuffle" in OPS:
            from nosql_join_stream_spark.operators import sampling
            t0 = time.perf_counter()
            results["shuffle_rows"] = sampling.global_shuffle(
                dd, "doc_id").count()
            results["shuffle_s"] = round(time.perf_counter() - t0, 2)

        if "dimstats" in OPS:
            t0 = time.perf_counter()
            results["dimstats_rows"] = similarity.embedding_dim_stats(
                ee, "embedding").count()
            results["dimstats_s"] = round(time.perf_counter() - t0, 2)

        if "paradedup" in OPS:
            from nosql_join_stream_spark.operators import text as textops
            t0 = time.perf_counter()
            results["paradedup_rows"] = textops.drop_common_paragraphs(
                dd, "text", "doc_id").count()
            results["paradedup_s"] = round(time.perf_counter() - t0, 2)

        if "budget" in OPS:
            from nosql_join_stream_spark.operators import sampling
            t0 = time.perf_counter()
            toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
            results["budget_rows"] = sampling.budget_per_group(
                dd.withColumn("n_tokens", toks.cast("long")),
                "source", "doc_id", "n_tokens", budget=600).count()
            results["budget_s"] = round(time.perf_counter() - t0, 2)

        if "keepbest" in OPS:
            from nosql_join_stream_spark.operators import text as textops
            t0 = time.perf_counter()
            scored = dd.withColumn("q", textops.quality_score(F.col("text")))
            kb_pairs = dedup.ngram_jaccard_pairs(dd, "text", "doc_id")
            results["keepbest_rows"] = dedup.resolve_keep_best(
                scored, kb_pairs, "doc_id", "q").count()
            results["keepbest_s"] = round(time.perf_counter() - t0, 2)

        if "keepbestmh" in OPS:
            # same resolution as keepbest, pairs from banded MinHash —
            # the registered scale flagship; wall should track the
            # minhash curve + a near-constant resolution term, not the
            # exact-PPJoin curve
            from nosql_join_stream_spark.operators import text as textops
            t0 = time.perf_counter()
            scored = dd.withColumn("q", textops.quality_score(F.col("text")))
            mh_pairs = dedup.minhash_lsh_pairs(dd, "text", "doc_id")
            results["keepbestmh_rows"] = dedup.resolve_keep_best(
                scored, mh_pairs, "doc_id", "q").count()
            results["keepbestmh_s"] = round(time.perf_counter() - t0, 2)

        if "ivfappend" in OPS:
            # standing-index maintenance: corpus (and index) grow with
            # factor, the appended BATCH stays fixed (copy-0 slice) —
            # append wall must track batch size, i.e. stay flat
            import shutil
            q = ee.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").alias("q_id"), "embedding")
            c = ee.select(F.col("vec_id").alias("c_id"), "embedding")
            batch = (c.filter((F.col("c_id") % 10 == 9)
                              & (F.col("c_id") < 10_000_000))
                     .withColumn("c_id", F.col("c_id") + 100_000_000))
            loc = f"/tmp/scale_ivf_idx_{factor}x"
            shutil.rmtree(loc, ignore_errors=True)
            similarity.ann_ivf_partitioned(
                q, c, k=5, n_cells=16, nprobe=4, location=loc,
                rebuild=True).count()
            t0 = time.perf_counter()
            results["ivfappend_rows"] = similarity.ann_ivf_append(
                batch, loc)
            results["ivfappend_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            results["ivfprobe_rows"] = similarity.ann_ivf_partitioned(
                q, c, k=5, n_cells=16, nprobe=4, location=loc,
                rebuild=False).count()
            results["ivfprobe_s"] = round(time.perf_counter() - t0, 2)

        if "mmr" in OPS:
            # MMR over a growing corpus: wall should track the linear
            # brute candidate fetch; the greedy stage is pool^2 per
            # query — constant — and swaps to the IVF probe at scale
            q = ee.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").alias("q_id"), "embedding")
            c = ee.select(F.col("vec_id").alias("c_id"), "embedding")
            t0 = time.perf_counter()
            results["mmr_rows"] = similarity.mmr_topk(
                q, c, k=5, pool=20).count()
            results["mmr_s"] = round(time.perf_counter() - t0, 2)

        if "ivfcompact" in OPS:
            # compaction cost should track the AFFECTED cells, not the
            # corpus: delete a fixed 50 ids, compact, probe
            import shutil
            q = ee.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").alias("q_id"), "embedding")
            c = ee.select(F.col("vec_id").alias("c_id"), "embedding")
            loc = f"/tmp/scale_ivfc_{factor}x"
            shutil.rmtree(loc, ignore_errors=True)
            similarity.ann_ivf_partitioned(
                q, c, k=5, n_cells=16, nprobe=4, location=loc,
                rebuild=True).count()
            victims = spark.range(50).select(
                (F.col("id") * 7).alias("c_id"))
            similarity.ann_ivf_delete(victims, loc)
            t0 = time.perf_counter()
            results["ivfcompact_cells"] = similarity.ann_ivf_compact(loc)
            results["ivfcompact_s"] = round(time.perf_counter() - t0, 2)

        if "incrmh" in OPS:
            # standing MinHash band index: build per factor, then the
            # steady-state per-batch join (rebuild=False) — the banded
            # twin of incrb; per-batch wall should stay near-flat
            batch = dd.filter((F.col("doc_id") % 10 == 9)
                              & (F.col("doc_id") < 10_000_000))
            corpus = dd.join(batch.select("doc_id"), "doc_id", "left_anti")
            t0 = time.perf_counter()
            results["incrmh_pairs"] = dedup.minhash_pairs_between_bucketed(
                corpus, batch, "text", "doc_id").count()
            results["incrmh_build_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            dedup.minhash_pairs_between_bucketed(
                corpus, batch, "text", "doc_id", rebuild=False).count()
            results["incrmh_join_s"] = round(time.perf_counter() - t0, 2)

        if "editdist" in OPS:
            t0 = time.perf_counter()
            results["editdist_pairs"] = dedup.edit_distance_pairs(
                dd, "text", "doc_id", d=2).count()
            results["editdist_s"] = round(time.perf_counter() - t0, 2)

        if "snapupsert" in OPS:
            # versioned snapshot MERGE, same shape as the in-place
            # probe: fixed key-local batch, table grown with factor,
            # buckets ∝ table — per-merge cost must stay flat AND the
            # manifest/version machinery must not add a scale term
            from nosql_join_stream_spark.sinks import (
                latest_per_key, upsert_keyed_snapshot,
                write_keyed_snapshot)
            ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
            copies = spark.range(factor).select(F.col("id").alias("__c"))
            gev = (ev.crossJoin(copies)
                     .withColumn("user_id",
                                 F.col("user_id") + F.col("__c") * 10_000_000)
                     .withColumn("event_id",
                                 F.col("event_id") + F.col("__c") * 10_000_000)
                     .drop("__c"))
            spath = f"/tmp/scale_snap_{factor}x"
            import shutil
            shutil.rmtree(spath, ignore_errors=True)
            write_keyed_snapshot(
                latest_per_key(gev, "user_id", ["ts", "event_id"]),
                spath, "user_id", num_buckets=64 * factor)
            batch = ev.filter(F.col("user_id") % 31 == 0)
            t0 = time.perf_counter()
            stats = upsert_keyed_snapshot(spark, spath, batch, "user_id",
                                          ["ts", "event_id"])
            results["snapupsert_buckets"] = stats["buckets_touched"]
            results["snapupsert_s"] = round(time.perf_counter() - t0, 2)

        if "chunkjac" in OPS:
            from nosql_join_stream_spark.operators import multimodal
            media = multimodal.synthesize_media(dd)
            t0 = time.perf_counter()
            results["chunkjac_pairs"] = multimodal.payload_chunk_jaccard(
                media, threshold=0.5).count()
            results["chunkjac_s"] = round(time.perf_counter() - t0, 2)

        if "resolveinc" in OPS:
            # incremental resolution: labels from 2/3 of the pairs,
            # fold the remaining third in; the claim under test is
            # that the fold costs |labels| + |batch| edges, so its
            # wall should track the (linear) pair volume, never the
            # history-size-squared anything
            all_pairs = dedup.minhash_lsh_pairs(dd, "text", "doc_id")
            hist = all_pairs.filter((F.col("id1") + F.col("id2")) % 3 != 0)
            batch = all_pairs.filter((F.col("id1") + F.col("id2")) % 3 == 0)
            labels = dedup.connected_components(hist)
            labels.count()  # materialize history outside the timer
            t0 = time.perf_counter()
            results["resolveinc_rows"] = dedup.resolve_incremental(
                labels, batch).count()
            results["resolveinc_s"] = round(time.perf_counter() - t0, 2)

        if "substrinc" in OPS:
            # standing gram index: first timing includes the one-time
            # BUILD; second is the per-batch probe alone — the daily
            # cost, which must stay flat as the corpus grows
            batch = dd.filter((F.col("doc_id") % 10 == 9)
                              & (F.col("doc_id") < 10_000_000))
            corpus = dd.join(batch.select("doc_id"), "doc_id", "left_anti")
            t0 = time.perf_counter()
            results["substrinc_spans"] = dedup.repeated_substring_spans_between(
                corpus, batch, "text", "doc_id", w=15).count()
            results["substrinc_build_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            dedup.repeated_substring_spans_between(
                corpus, batch, "text", "doc_id", w=15,
                rebuild=False).count()
            results["substrinc_join_s"] = round(time.perf_counter() - t0, 2)

        if "bigram" in OPS:
            from nosql_join_stream_spark.operators import retrieval
            t0 = time.perf_counter()
            results["bigram_rows"] = retrieval.bigram_logprob(
                dd, "text", "doc_id").count()
            results["bigram_s"] = round(time.perf_counter() - t0, 2)

        if "nbllr" in OPS:
            from nosql_join_stream_spark.operators import text as textops
            labeled = dd.withColumn(
                "__y", textops.quality_score(F.col("text")) >= 0.7)
            t0 = time.perf_counter()
            results["nbllr_rows"] = textops.nb_llr_score(
                labeled, "text", "doc_id", "__y").count()
            results["nbllr_s"] = round(time.perf_counter() - t0, 2)

        if "sketch" in OPS:
            from nosql_join_stream_spark.operators.expectations import (
                sketch_cardinality_by_group)
            toks = (dd.select(
                        "source",
                        F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                          r"\s+")).alias("tok"))
                      .filter(F.col("tok") != ""))
            t0 = time.perf_counter()
            res = sketch_cardinality_by_group(toks, "source", "tok")
            results["sketch_all_ok"] = all(
                r.hll_ok for r in res.collect())
            results["sketch_s"] = round(time.perf_counter() - t0, 2)

        if "bpe" in OPS:
            # real-BPE token counting: the Python kernel is bounded by
            # |distinct words| (the copy tokens add only `factor` new
            # words, so vocab stays ~constant as the corpus grows),
            # while the JVM-side multiset/count/join tracks the token
            # stream — wall should grow well below linear
            from nosql_join_stream_spark.operators import text as textops
            t0 = time.perf_counter()
            results["bpe_rows"] = textops.bpe_token_count(
                dd, textops.BPE_MERGES_EN_DEMO, "text", "doc_id").count()
            results["bpe_s"] = round(time.perf_counter() - t0, 2)

        if "retract" in OPS:
            # standing-index retraction: a probe with outstanding
            # tombstones pays one broadcast anti-join over the corpus-
            # side index rows — compare the same probe with and
            # without tombstones as the corpus grows (here HALF the
            # corpus is tombstoned, a worst-case retraction volume)
            import shutil as _sh
            batch = dd.filter((F.col("doc_id") % 10 == 9)
                              & (F.col("doc_id") < 10_000_000))
            corpus = dd.join(batch.select("doc_id"), "doc_id", "left_anti")
            db = f"nsjs_probe_del_{factor}x"
            loc = f"/tmp/scale_delidx_{factor}x"
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            _sh.rmtree(loc, ignore_errors=True)
            dedup.minhash_pairs_between_bucketed(
                corpus, batch.limit(0), "text", "doc_id",
                db=db, location=loc, rebuild=True)
            t0 = time.perf_counter()
            results["retract_base_pairs"] = \
                dedup.minhash_pairs_between_bucketed(
                    corpus, batch, "text", "doc_id", db=db,
                    location=loc, rebuild=False).count()
            results["retract_probe_s"] = round(time.perf_counter() - t0, 2)
            dedup.dedup_index_delete(
                corpus.filter(F.col("doc_id") % 2 == 0).select("doc_id"),
                db, id_col="doc_id")
            t0 = time.perf_counter()
            results["retract_pairs"] = \
                dedup.minhash_pairs_between_bucketed(
                    corpus, batch, "text", "doc_id", db=db,
                    location=loc, rebuild=False).count()
            results["retract_tomb_s"] = round(time.perf_counter() - t0, 2)

        if "asof" in OPS:
            # as-of join: one tagged union + one key shuffle + one
            # ordered per-key window — wall should track the event
            # volume (the per-key sort), never a pair space; compare
            # with the binned range join (streamij probe) which pays
            # bin fan-out
            from nosql_join_stream_spark.operators.join import asof_join
            ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
            copies = spark.range(factor).select(F.col("id").alias("__c"))
            gev = (ev.crossJoin(copies)
                     .withColumn("user_id",
                                 F.col("user_id") + F.col("__c") * 10_000_000)
                     .withColumn("event_id",
                                 F.col("event_id") + F.col("__c") * 10_000_000)
                     .drop("__c"))
            purch = gev.filter("event_type = 'purchase'").select(
                "event_id", "user_id", "ts")
            clicks = gev.filter("event_type = 'click'").select(
                "user_id", "ts")
            t0 = time.perf_counter()
            results["asof_rows"] = asof_join(
                purch, clicks, "user_id", "ts", "ts",
                direction="nearest").count()
            results["asof_s"] = round(time.perf_counter() - t0, 2)

        if "mediainc" in OPS:
            # media standing chunk index: per-batch probe against a
            # grown corpus — the text standing tiers' flat curve,
            # expected on the media unit too
            from nosql_join_stream_spark.operators import multimodal
            media = multimodal.synthesize_media(dd)
            batch = media.filter((F.col("doc_id") % 10 == 9)
                                 & (F.col("doc_id") < 10_000_000))
            corpus = media.join(batch.select("doc_id"), "doc_id",
                                "left_anti")
            db = f"nsjs_probe_media_{factor}x"
            loc = f"/tmp/scale_mediaidx_{factor}x"
            import shutil as _sh2
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            _sh2.rmtree(loc, ignore_errors=True)
            t0 = time.perf_counter()
            results["mediainc_pairs"] = \
                multimodal.payload_chunks_between_bucketed(
                    corpus, batch, threshold=0.5, db=db,
                    location=loc, rebuild=True).count()
            results["mediainc_build_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            multimodal.payload_chunks_between_bucketed(
                corpus, batch, threshold=0.5, db=db, location=loc,
                rebuild=False).count()
            results["mediainc_join_s"] = round(time.perf_counter() - t0, 2)

        if "aqeskew" in OPS:
            # AQE skew-join mitigation, measured: a fact table whose
            # hot key holds HALF the rows sort-merge-joins a dim with
            # adaptive skew handling on — the runtime splits the hot
            # partition (skew=true in the final adaptive plan) and
            # wall stays flat-ish; this is the no-code-change
            # alternative the salted_join operator complements for
            # engines/joins AQE cannot rewrite (e.g. under windows)
            n = 500_000 * factor
            fact = spark.range(n).select(
                F.when(F.col("id") % 2 == 0, F.lit(0))
                 .otherwise(F.col("id")).alias("k"),
                F.col("id").alias("v"))
            dim = spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("d"))
            saved = {c: spark.conf.get(c) for c in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes")}
            try:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                               "-1")
                spark.conf.set(
                    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                    "2")
                spark.conf.set(
                    "spark.sql.adaptive.skewJoin."
                    "skewedPartitionThresholdInBytes", "256KB")
                spark.conf.set(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                    "256KB")
                # aggregate INSIDE the inspected frame: .count() would
                # execute a different QueryExecution and the inspected
                # plan would never finalize
                j = (fact.join(dim, "k")
                     .agg(F.count("*").alias("n"),
                          F.sum("v").alias("sv")))
                t0 = time.perf_counter()
                results["aqeskew_rows"] = int(j.collect()[0]["n"])
                results["aqeskew_s"] = round(time.perf_counter() - t0, 2)
                plan = j._jdf.queryExecution().executedPlan().toString()
                results["aqeskew_split"] = "skew=true" in plan
            finally:
                for c, v in saved.items():
                    spark.conf.set(c, v)

        if "emblinalg" in OPS:
            # embedding linear algebra (r10): covariance's exchange is
            # O(D^2 x partitions) regardless of rows (wall should grow
            # ~linearly with the scan), JL/PCA projection are
            # shuffle-free row-local folds (same), and PCA training
            # cost is one covariance pass + a driver eigh bounded by
            # DIMENSION
            from nosql_join_stream_spark.operators.similarity import (
                embedding_covariance, jl_project, pca_components,
                pca_project)
            t0 = time.perf_counter()
            results["cov_cells"] = embedding_covariance(ee).count()
            results["cov_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            results["jl_rows"] = jl_project(ee, out_dim=8).count()
            results["jl_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            comps, eig, mu = pca_components(ee, 4)
            results["pca_train_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            results["pca_rows"] = pca_project(
                ee, 4, components=comps, mean=mu).count()
            results["pca_proj_s"] = round(time.perf_counter() - t0, 2)

        if "jlann" in OPS:
            # JL-screened ANN (r10) vs exact brute cosine over the
            # SAME grown corpus: the screen's pair space is unchanged
            # (|q| x n), but each screening pair costs out_dim/D of
            # the flops+shuffle bytes (64->16 = 4x) and full-width
            # vectors are touched for only |q| x pool candidate rows.
            # 200 queries so pair work (200 x n), not fixed job
            # overhead, is what's being measured — at 10 queries the
            # screen's extra stages dominate and brute wins, which is
            # the documented regime boundary, not a probe target
            from nosql_join_stream_spark.operators.similarity import (
                ann_jl_topk, cosine_topk)
            qj = ee.filter(F.col("vec_id") < 200).select(
                F.col("vec_id").alias("q_id"), "embedding")
            cj = ee.select(F.col("vec_id").alias("c_id"), "embedding")
            t0 = time.perf_counter()
            results["jlann_rows"] = ann_jl_topk(
                qj, cj, k=5, out_dim=16, pool=50).count()
            results["jlann_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            results["brute_rows"] = cosine_topk(qj, cj, k=5).count()
            results["brute_s"] = round(time.perf_counter() - t0, 2)

        if "sketchq" in OPS:
            # the sketch family's 100 TB claim, measured: lifetime
            # quantiles answered from a STANDING sketch table (one
            # KB row per ingest slice, merged at read time) must stay
            # FLAT as the log grows, while exact percentile re-sorts
            # the full value stream every question (linear).  Build
            # cost (one scan -> per-slice sketches) is the linear
            # pass you pay ONCE at ingest, amortized across every
            # later question.
            import shutil
            import tempfile
            ev_ = spark.read.parquet(f"{SF_DIR}/events.parquet")
            copies_ = spark.range(factor).select(
                F.col("id").alias("__c"))
            gev_ = ev_.crossJoin(copies_)
            skdir = tempfile.mkdtemp(prefix="nsjs_sketchq_")
            try:
                t0 = time.perf_counter()
                (gev_.groupBy("__c")
                     .agg(F.expr("kll_sketch_agg_double(value)")
                          .alias("sk"))
                     .write.mode("overwrite").parquet(skdir))
                results["skq_build_s"] = round(
                    time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                est = (spark.read.parquet(skdir)
                       .agg(F.expr("kll_sketch_get_quantile_double("
                                   "kll_merge_agg_double(sk), 0.5)")
                            .alias("m")).collect()[0]["m"])
                results["skq_merge_s"] = round(
                    time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                exact = gev_.agg(
                    F.expr("percentile(value, 0.5)").alias("m")
                ).collect()[0]["m"]
                results["skq_exact_s"] = round(
                    time.perf_counter() - t0, 2)
                results["skq_est_vs_exact"] = round(
                    abs(est - exact), 4)
            finally:
                shutil.rmtree(skdir, ignore_errors=True)

        if "psib" in OPS:
            # standing PSI baseline (r10): the BASELINE side grows
            # with factor; the batch is fixed.  Scoring against the
            # standing KB artifact must stay FLAT (its input is the
            # artifact + the batch, never the baseline raw data),
            # while the direct two-frame form re-scans the grown
            # baseline every question (grows).  write cost is the
            # one-time linear pass.
            import shutil
            import tempfile
            from nosql_join_stream_spark.operators.expectations import (
                distribution_drift_psi_by_group, psi_against_baseline,
                write_psi_baseline)
            ev_ = spark.read.parquet(f"{SF_DIR}/events.parquet")
            copies_ = spark.range(factor).select(
                F.col("id").alias("__c"))
            base_df = ev_.crossJoin(copies_)
            batch = ev_.limit(5000)
            bdir = tempfile.mkdtemp(prefix="nsjs_psib_")
            try:
                t0 = time.perf_counter()
                write_psi_baseline(base_df, bdir, "value",
                                   group_col="event_type")
                results["psib_write_s"] = round(
                    time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                results["psib_rows"] = psi_against_baseline(
                    spark, bdir, batch, "value",
                    group_col="event_type").count()
                results["psib_score_s"] = round(
                    time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                distribution_drift_psi_by_group(
                    base_df, batch, "event_type", "value").count()
                results["psib_direct_s"] = round(
                    time.perf_counter() - t0, 2)
            finally:
                shutil.rmtree(bdir, ignore_errors=True)

        if "saltauto" in OPS:
            # salted_join num_salts="auto" vs the old blind 16: the
            # hot key's row share GROWS with factor (50% → 87.5% →
            # 96.9%), the thing a fixed salt count cannot track — at
            # high share, 16 salts leave the hot key's per-reducer
            # share ~2× everyone else's (a straggler), while auto
            # sizes salts to hot_share × parallelism and stays fair.
            # AQE's skew split + broadcast are disabled to isolate
            # the operator (the case it exists for: joins AQE cannot
            # rewrite).
            from nosql_join_stream_spark.operators.join import (
                _auto_num_salts, salted_join)
            n = 300_000 * factor
            hot_n = n - n // (2 * factor)   # share = 1 - 1/(2f)
            fact_df = spark.range(n).select(
                F.when(F.col("id") < hot_n, F.lit(0))
                 .otherwise(F.col("id") % 1000).alias("k"),
                F.col("id").alias("v"))
            dim = spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("d"))
            saved = {c: spark.conf.get(c) for c in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.enabled")}
            try:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                               "-1")
                spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                               "false")
                results["saltauto_n"] = _auto_num_salts(fact_df, ["k"])
                for label, ns in (("salt16", 16), ("saltauto", "auto")):
                    j = (salted_join(fact_df, dim, on="k", num_salts=ns)
                         .agg(F.count("*").alias("n"),
                              F.sum("v").alias("sv")))
                    t0 = time.perf_counter()
                    rows = int(j.collect()[0]["n"])
                    results[f"{label}_s"] = round(
                        time.perf_counter() - t0, 2)
                results["saltauto_rows"] = rows
            finally:
                for c, v in saved.items():
                    spark.conf.set(c, v)

        if "saltaqe" in OPS:
            # r38 — the A/B the salted-join story was missing: on the
            # SAME growing hot-key share (50% → 98.4% at 64×), is
            # AQE's skew-join split alone enough, does salting alone
            # match it, and do they compose?  AQE thresholds are set
            # aggressive (256KB) so splits trigger at local probe
            # sizes — the knob a real cluster has at its defaults.
            # Broadcast stays disabled: with a broadcastable dim there
            # is no skew problem to solve (that is the documented
            # first choice), and AQE skew-split only rewrites
            # SortMergeJoin.
            from nosql_join_stream_spark.operators.join import (
                salted_join)
            n = 300_000 * factor
            hot_n = n - n // (2 * factor)   # share = 1 - 1/(2f)
            fact_df = spark.range(n).select(
                F.when(F.col("id") < hot_n, F.lit(0))
                 .otherwise(F.col("id") % 1000).alias("k"),
                F.col("id").alias("v"))
            dim = spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("d"))
            saved = {c: spark.conf.get(c) for c in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.skewJoin.enabled",
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes")}
            try:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                               "-1")
                spark.conf.set(
                    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
                    "2")
                spark.conf.set(
                    "spark.sql.adaptive.skewJoin."
                    "skewedPartitionThresholdInBytes", "256KB")
                spark.conf.set(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                    "256KB")
                legs = (("aqe", True, False), ("salt", False, True),
                        ("both", True, True))
                for label, aqe_on, salt_on in legs:
                    spark.conf.set(
                        "spark.sql.adaptive.skewJoin.enabled",
                        str(aqe_on).lower())
                    joined = (salted_join(fact_df, dim, on="k",
                                          num_salts="auto")
                              if salt_on else fact_df.join(dim, "k"))
                    j = joined.agg(F.count("*").alias("n"),
                                   F.sum("v").alias("sv"))
                    t0 = time.perf_counter()
                    int(j.collect()[0]["n"])
                    results[f"saltaqe_{label}_s"] = round(
                        time.perf_counter() - t0, 2)
                    plan = (j._jdf.queryExecution().executedPlan()
                            .toString())
                    results[f"saltaqe_{label}_split"] = \
                        "skew=true" in plan
            finally:
                for c, v in saved.items():
                    spark.conf.set(c, v)

        if "shards" in OPS:
            # r39 — deterministic shard export: assignment wall must
            # grow ~linearly (one range-partition shuffle + per-
            # partition rank; the offset table is partitions-sized),
            # vs the single-window form whose rank funnels every row
            # through ONE task — the cliff the two-pass index exists
            # to avoid.
            from pyspark.sql import Window
            from nosql_join_stream_spark.operators.export_shards import (
                assign_shards, seeded_order_hash)
            ids = dd.select("doc_id")
            t0 = time.perf_counter()
            results["shards_rows"] = assign_shards(
                ids, "doc_id", 128, seed=7).count()
            results["shards_s"] = round(time.perf_counter() - t0, 2)
            key = seeded_order_hash(F.col("doc_id"), 7)
            w1 = Window.orderBy(key, "doc_id")
            t0 = time.perf_counter()
            ids.withColumn("__rn", F.row_number().over(w1)).count()
            results["shards_1task_s"] = round(
                time.perf_counter() - t0, 2)

        if "scd2inc" in OPS:
            # r40 — incremental SCD2 fold: history GROWS with factor,
            # the batch stays fixed; the fold reads only the batch +
            # touched keys' current rows, so its wall must stay
            # near-flat while the full-history recompute grows with
            # the log.  History is a standing parquet table (the
            # deployment shape), written once per factor.
            import shutil
            import tempfile
            from nosql_join_stream_spark.sinks import (
                scd2_apply_batch, scd2_history)
            ev_ = spark.read.parquet(f"{SF_DIR}/events.parquet") \
                .select("user_id", "ts", "event_id", "event_type")
            copies_ = spark.range(factor).select(F.col("id").alias("__c"))
            grown = (ev_.crossJoin(copies_)
                     .withColumn("user_id",
                                 F.col("user_id") + F.col("__c") * 10_000)
                     .withColumn("event_id",
                                 F.col("event_id")
                                 + F.col("__c") * 10_000_000)
                     .drop("__c"))
            split = F.lit("2024-01-28 00:00:00").cast("timestamp")
            hdir = tempfile.mkdtemp(prefix="nsjs_scd2_")
            try:
                t0 = time.perf_counter()
                scd2_history(grown.filter(F.col("ts") < split),
                             "user_id", ["ts", "event_id"],
                             "event_type") \
                    .write.mode("overwrite").parquet(hdir)
                results["scd2_hist_build_s"] = round(
                    time.perf_counter() - t0, 2)
                hist = spark.read.parquet(hdir)
                # fixed batch: copy-0 events after the split
                batch = grown.filter(
                    (F.col("ts") >= split)
                    & (F.col("user_id") < 10_000))
                t0 = time.perf_counter()
                results["scd2_fold_rows"] = scd2_apply_batch(
                    hist, batch, "user_id", ["ts", "event_id"],
                    "event_type").count()
                results["scd2_fold_s"] = round(
                    time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                scd2_history(
                    grown.filter((F.col("ts") < split)
                                 | (F.col("user_id") < 10_000)),
                    "user_id", ["ts", "event_id"], "event_type").count()
                results["scd2_full_s"] = round(
                    time.perf_counter() - t0, 2)
            finally:
                shutil.rmtree(hdir, ignore_errors=True)

        if "substr" in OPS:
            # linear token blowup + two hash-partitioned shuffles; the
            # copy token makes cross-copy windows distinct, so true
            # span count — and work — grows linearly with factor
            t0 = time.perf_counter()
            results["substr_spans"] = dedup.repeated_substring_spans(
                dd, "text", "doc_id", w=15).count()
            results["substr_s"] = round(time.perf_counter() - t0, 2)

        if "upsert" in OPS:
            # fixed batch (a bounded key set) vs a table GROWN with
            # factor, buckets scaled with table size so bucket size —
            # the rewrite quantum — stays constant (the deployment
            # contract): per-batch MERGE cost must stay flat because
            # it rewrites only the <= |batch keys| touched buckets,
            # each of constant size, never the table
            from nosql_join_stream_spark.sinks import (
                latest_per_key, upsert_keyed, write_keyed)
            ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
            copies = spark.range(factor).select(F.col("id").alias("__c"))
            gev = (ev.crossJoin(copies)
                     .withColumn("user_id",
                                 F.col("user_id") + F.col("__c") * 10_000_000)
                     .withColumn("event_id",
                                 F.col("event_id") + F.col("__c") * 10_000_000)
                     .drop("__c"))
            upath = f"/tmp/scale_keyed_{factor}x"
            nb = 64 * factor
            write_keyed(latest_per_key(gev, "user_id", ["ts", "event_id"]),
                        upath, "user_id", num_buckets=nb)
            # ~1/31 of the original users: same keys at every factor
            batch = ev.filter(F.col("user_id") % 31 == 0)
            t0 = time.perf_counter()
            stats = upsert_keyed(spark, upath, batch, "user_id",
                                 ["ts", "event_id"], num_buckets=nb)
            results["upsert_buckets"] = stats["buckets_touched"]
            results["upsert_s"] = round(time.perf_counter() - t0, 2)

        if "cleanmh" in OPS:
            # the composed pipeline_clean_corpus_minhash stages over
            # the grown corpus: quality gate → banded MinHash pairs →
            # CC resolution → split. Wall should track the minhash
            # curve (~linear) + a near-constant resolution term — NOT
            # the exact-PPJoin twin's super-linear curve (probe r8)
            from nosql_join_stream_spark.operators import text as textops
            t0 = time.perf_counter()
            base = (dd.withColumn("q", textops.quality_score(F.col("text")))
                      .filter(F.col("q") >= 0.7).select("doc_id", "text"))
            cm_pairs = dedup.minhash_lsh_pairs(base, "text", "doc_id",
                                               n=3, threshold=0.6)
            cm_res = dedup.dedup_resolve(base, cm_pairs, "doc_id")
            keep = cm_res.filter(~F.col("is_duplicate")).select(
                F.col("id").alias("doc_id"))
            results["cleanmh_rows"] = base.join(keep, "doc_id").count()
            results["cleanmh_s"] = round(time.perf_counter() - t0, 2)

        if "streamij" in OPS:
            # stream-stream interval join over a grown event log: the
            # sf0.01 wall is dominated by micro-batch machinery, so the
            # probe separates fixed overhead from data-volume cost
            from nosql_join_stream_spark.streaming.log_stream import (
                interval_join_streams, read_log_stream, run_available_now)
            ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
            copies = spark.range(factor).select(F.col("id").alias("__c"))
            gev = (ev.crossJoin(copies)
                     .withColumn("event_id",
                                 F.col("event_id") + F.col("__c") * 10_000_000)
                     .drop("__c"))
            pev = f"/tmp/scale_events_{factor}x.parquet"
            gev.write.mode("overwrite").parquet(pev)
            t0 = time.perf_counter()
            purchases = (read_log_stream(spark, pev)
                         .filter("event_type = 'purchase'"))
            clicks = (read_log_stream(spark, pev)
                      .filter("event_type = 'click'"))
            joined = interval_join_streams(purchases, clicks,
                                           key="user_id", within="1 hour")
            results["streamij_rows"] = run_available_now(
                joined.select("l.event_id"), f"probe_ij_{factor}",
                output_mode="append").count()
            results["streamij_s"] = round(time.perf_counter() - t0, 2)

        if "semdedup" in OPS:
            # k grows with the corpus (SemDeDup's own prescription) so
            # cell sizes — and the pair space — stay bounded
            t0 = time.perf_counter()
            results["semdedup_rows"] = similarity.semantic_dedup(
                ee, k=8 * factor, threshold=0.4).count()
            results["semdedup_s"] = round(time.perf_counter() - t0, 2)

        if "pyds" in OPS:
            # the pure-Python json_docs connector at scale: the file
            # count grows with the corpus (8 per factor-copy,
            # range-partitioned on doc_id so sidecar min/max are
            # disjoint), measuring (a) the full batch scan, (b) a
            # selective pushdown scan (row skip + sidecar file skip +
            # column pruning), (c) an unbounded drain of the whole
            # collection through the streaming twin
            import glob as _glob

            from nosql_join_stream_spark.pydocsource import (
                register_json_docs, write_docs_stats)
            register_json_docs(spark)
            pdir = f"/tmp/scale_pyds_{factor}x"
            if not _glob.glob(os.path.join(pdir, "*.jsonl")):
                (dd.repartitionByRange(8 * factor, "doc_id")
                 .select(F.to_json(F.struct("doc_id", "source", "lang",
                                            "text", "n_chars")).alias("j"))
                 .write.mode("overwrite").text(pdir))
                parts = sorted(_glob.glob(os.path.join(pdir, "part-*")))
                for i, f in enumerate(parts):
                    os.rename(f, os.path.join(pdir, f"{i:05d}.jsonl"))
                write_docs_stats(pdir)
            n_files = len(_glob.glob(os.path.join(pdir, "*.jsonl")))
            t0 = time.perf_counter()
            full = (spark.read.format("json_docs")
                    .option("path", pdir).load())
            results["pyds_scan_rows"] = full.count()
            results["pyds_scan_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            sel = (spark.read.format("json_docs").option("path", pdir)
                   .option("columns", "doc_id,lang").load()
                   .filter("doc_id >= 100 AND doc_id < 2000 "
                           "AND lang = 'en'"))
            results["pyds_sel_rows"] = sel.count()
            results["pyds_sel_files"] = (
                f"{sel.rdd.getNumPartitions()}/{n_files}")
            results["pyds_sel_s"] = round(time.perf_counter() - t0, 2)
            from nosql_join_stream_spark.streaming.log_stream import drain
            t0 = time.perf_counter()
            stream = (spark.readStream.format("json_docs")
                      .option("path", pdir).load())
            qn = f"probe_pyds_{factor}"
            drain(stream.groupBy("lang").count()
                  .writeStream.format("memory").queryName(qn)
                  .outputMode("complete"))
            results["pyds_stream_rows"] = int(
                spark.table(qn).agg(F.sum("count")).first()[0])
            results["pyds_stream_s"] = round(time.perf_counter() - t0, 2)

        if "keyed" in OPS:
            # point lookups on the keyed standing table (sinks.
            # keyed_lookup, the reference's per-key GET): bucket
            # COUNT scales with the corpus (8 per factor) so bucket
            # SIZE stays constant — the deployment contract.  A
            # fixed 8-key GET must then stay FLAT while the table
            # grows 16x (it reads only the touched ~8 bucket dirs,
            # pruned at planning time), while the naive full-scan
            # filter grows with the table
            import shutil as _shutil

            from nosql_join_stream_spark.sinks import (keyed_lookup,
                                                       read_keyed,
                                                       write_keyed)
            kpath = f"/tmp/scale_keyed_{factor}x"
            if not os.path.isdir(kpath):
                write_keyed(dd, kpath, "doc_id",
                            num_buckets=8 * factor)
            probe_keys = [11, 503, 1007, 2003, 10_000_011,
                          10_000_503, 20_000_007, 30_000_019]
            t0 = time.perf_counter()
            results["keyed_rows"] = keyed_lookup(
                spark, kpath, probe_keys).count()
            results["keyed_s"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            results["keyed_scan_rows"] = (
                read_keyed(spark, kpath)
                .filter(F.col("doc_id").isin(probe_keys)).count())
            results["keyed_scan_s"] = round(
                time.perf_counter() - t0, 2)
            _shutil.rmtree(kpath, ignore_errors=True)

        if "compact" in OPS:
            # small-file compaction of a json_docs collection: the
            # rolled-log shape (64 tiny files per factor-copy).  Wall
            # must track total BYTES (one sequential pass — it is a
            # maintenance op), and sized groups must keep the
            # post-compaction scan plural (partition-per-file read
            # parallelism) while collapsing the small-file tail ~8:1
            import glob as _glob
            import shutil as _shutil

            from nosql_join_stream_spark.pydocsource import (
                compact_json_docs, register_json_docs, write_docs_stats)
            register_json_docs(spark)
            cdir = f"/tmp/scale_compact_{factor}x"
            _shutil.rmtree(cdir, ignore_errors=True)
            (dd.repartitionByRange(64 * factor, "doc_id")
             .select(F.to_json(F.struct("doc_id", "source", "lang",
                                        "text", "n_chars")).alias("j"))
             .write.mode("overwrite").text(cdir))
            parts = sorted(_glob.glob(os.path.join(cdir, "part-*")))
            for i, f in enumerate(parts):
                os.rename(f, os.path.join(cdir, f"{i:05d}.jsonl"))
            write_docs_stats(cdir)
            total_b = sum(os.path.getsize(f) for f in
                          _glob.glob(os.path.join(cdir, "*.jsonl")))
            t0 = time.perf_counter()
            pre = (spark.read.format("json_docs")
                   .option("path", cdir).load())
            results["compact_prescan_rows"] = pre.count()
            results["compact_prescan_s"] = round(
                time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            st = compact_json_docs(cdir,
                                   group_bytes=total_b // (8 * factor))
            results["compact_s"] = round(time.perf_counter() - t0, 2)
            results["compact_files"] = (
                f"{st['files_before']}->{st['files_after']}")
            results["compact_mb"] = round(total_b / 1e6, 1)
            t0 = time.perf_counter()
            post = (spark.read.format("json_docs")
                    .option("path", cdir).load())
            results["compact_postscan_rows"] = post.count()
            results["compact_post_parts"] = post.rdd.getNumPartitions()
            results["compact_postscan_s"] = round(
                time.perf_counter() - t0, 2)
            _shutil.rmtree(cdir, ignore_errors=True)

        print(f"factor={factor:3d} docs={n_docs * factor:7d} {results}",
              flush=True)
        factor *= 4


if __name__ == "__main__":
    main()
