"""Deduplication for training-data pipelines — exact and near-dup.

Beyond-reference (SURVEY.md build plan M6; the reference has no
distinct/dedup at all, §2.6).  Five strategies, all shuffle-aware:

- exact: hash-groupBy on content (or fingerprint) — one shuffle.
- n-gram Jaccard (exact): inverted shingle index self-join — the
  textbook scalable form: |pairs sharing a shingle| not |n²|.
- MinHash + LSH: signature → bands → bucket join → verify; the 100 TB
  path where even the shingle join is too big.
- SimHash: 64-bit signature, banded hamming candidates → verify.
- embedding cosine: see operators/similarity.py (shares the kernel).

Determinism: all hash seeds fixed; every candidate pair is verified
with the EXACT measure before emission, so LSH parameters affect
recall only, never precision.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nosql_join_stream_spark.operators import spread
from nosql_join_stream_spark.sinks import (
    append_tombstones, artifact_dir, clear_tombstones, drop_tombstones,
    read_tombstones, write_bucketed)

# fixed MinHash permutation parameters: (a*x + b) mod PRIME, seeds fixed.
# 31-bit Mersenne prime: a,b,x < 2^31 keeps a*x+b < 2^62 — no long
# overflow under ANSI mode (2^31 hash space is ample for minhash).
_PRIME = (1 << 31) - 1
_N_HASHES = 64
_BANDS = 16  # 16 bands x 4 rows: P(candidate) ≈ 1-(1-j^4)^16 — j=0.6 → .93


def _perm_params(n: int = _N_HASHES) -> list[tuple[int, int]]:
    """Deterministic LCG-derived (a,b) pairs — no RNG dependency."""
    params, state = [], 0x9E3779B97F4A7C15
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state % (_PRIME - 1)) or 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % _PRIME
        params.append((a, b))
    return params


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup keeping the smallest id per distinct content.
    One hash-aggregate shuffle on the content hash; at 100 TB, group
    on a 128-bit content digest rather than the full text so shuffle
    rows stay small (collision odds ~0 at any corpus size)."""
    return (df.groupBy(F.xxhash64(F.col(content_col)).alias("__h"))
              .agg(F.min(id_col).alias(id_col),
                   F.count("*").alias("n_copies"))
              .drop("__h"))


def word_shingles(col, n: int = 3):
    """Distinct word n-gram set of a text column (JVM-side).

    Built from n length-aligned slices zipped with concat — O(n·|toks|)
    total, unlike the naive per-index ``slice(toks, i, n)`` transform
    which is O(n²) per doc (each slice walks the array)."""
    toks = F.split(F.trim(col), r"\s+")
    count = F.size(toks) - n + 1
    grams = F.slice(toks, 1, count)
    for i in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, i + 1, count),
                           lambda x, y: F.concat_ws(" ", x, y))
    return F.when(F.size(toks) >= n, F.array_distinct(grams)) \
            .otherwise(F.array(F.array_join(toks, " ")))


def ngram_dup_coverage(df: DataFrame, content_col: str, id_col: str,
                       n: int = 3) -> DataFrame:
    """Per-document duplication coverage: the fraction of a doc's
    distinct word n-grams that also appear in at least one OTHER doc
    (the corpus-overlap metric from "Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022 — flags partial/templated
    duplication that whole-doc dedup misses).

    Scale shape: grams hash to 8-byte longs before any shuffle; one
    hash-agg per gram (map-side combined) counts how many docs carry
    it, then a co-partitioned join back (both sides already hashed on
    the gram key — AQE keeps it local) and one final agg per doc.
    Never materializes a pair space.
    """
    sh = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(content_col), n)).alias("g"))
    sh = sh.select("id", F.xxhash64("g").alias("gh"))
    gram_docs = sh.groupBy("gh").agg(F.count("*").alias("ndocs"))
    return (sh.join(gram_docs, "gh")
              .groupBy("id")
              .agg(F.count("*").alias("n_grams"),
                   F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
                    .alias("n_dup_grams"))
              .withColumn("dup_frac",
                          F.round(F.col("n_dup_grams") / F.col("n_grams"), 4)))


def ngram_jaccard_pairs(df: DataFrame, content_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.6) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (id1 < id2, j >= threshold).

    AllPairs/PPJoin-style prefix filtering — lossless, so the output is
    identical to the naive inverted-index join but the candidate set
    shrinks by orders of magnitude:

    1. a fixed global total order over shingles — here xxhash64, which
       needs NO corpus statistics (canonical PPJoin orders by rare-
       first document frequency to minimize candidates, but that costs
       an extra count+join+regroup = 3 shuffles; any fixed order keeps
       the filter exact, and verification removes the extra candidates
       a random order lets through);
    2. each doc sorts its shingle hashes and indexes only the first
       ``|x| - ceil(τ|x|) + 1`` (the prefix) — two sets with J >= τ
       MUST share a prefix element under a common total order;
    3. prefix equi-join on the 8-byte hash with the length filter
       (τ|x| <= |y| <= |x|/τ) AND the positional filter: a match at
       0-based sorted positions (px, py) bounds the overlap by
       ``min(|x|-px, |y|-py)``, which must reach the J >= τ overlap
       requirement ``ceil(τ/(1+τ)·(|x|+|y|))`` — valid at each pair's
       first common element, so pruning per-occurrence is lossless;
    4. exact Jaccard over the sorted hash sets verifies.  Working on
       hashes end-to-end means shuffles carry longs, never shingle
       strings; a hash collision can only ADD a candidate (removed by
       verify) — altering a verified count needs two distinct shingles
       of ONE pair colliding at 64 bits (~1e-10 corpus-wide).

    Shuffles: one prefix self-join + one verify join, both linear in
    corpus size, never the n² pair space.  This exact form IS the
    oracle; at extreme scale minhash_lsh_pairs replaces the candidate
    generation.
    """
    tau = float(threshold)
    sh, ex_p = _shingle_prefix(df, content_col, id_col, n, tau)
    a, b = ex_p.alias("a"), ex_p.alias("b")
    n1, n2 = F.col("a.n_sh"), F.col("b.n_sh")
    min_overlap = F.ceil(F.lit(tau / (1.0 + tau)) * (n1 + n2))
    overlap_ub = F.least(n1 - F.col("a.p"), n2 - F.col("b.p"))
    cand = (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col("a.id") < F.col("b.id"))
                   & (n2 * F.lit(tau) <= n1) & (n1 * F.lit(tau) <= n2)
                   & (overlap_ub >= min_overlap))
             .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
             .distinct())
    sets = sh.select("id", "hv", "n_sh")
    verified = (cand
                .join(sets.select(F.col("id").alias("id1"), F.col("hv").alias("h1"),
                                  F.col("n_sh").alias("n1")), "id1")
                .join(sets.select(F.col("id").alias("id2"), F.col("hv").alias("h2"),
                                  F.col("n_sh").alias("n2")), "id2"))
    inter = F.size(F.array_intersect("h1", "h2"))
    j = inter / (F.col("n1") + F.col("n2") - inter)
    return (verified.withColumn("jaccard", F.round(j, 4))
                    .filter(F.col("jaccard") >= threshold)
                    .select("id1", "id2", "jaccard"))


def minhash_signatures(df: DataFrame, content_col: str, id_col: str,
                       n: int = 3) -> DataFrame:
    """64-hash MinHash signature per doc over word-shingle sets.

    Shingles are hashed JVM-side (xxhash64 → [0, P)); the 64
    permutations are then min-reduced in one Arrow-batched numpy
    kernel ((a*x+b) mod P broadcast over a |shingles|×64 grid).
    Higher-order Column expressions would be interpreted per element
    (~64×|shingles| lambda calls per doc); the numpy kernel does the
    same arithmetic vectorized, with identical outputs.  Partition-
    preserving: no shuffle until the band join.
    """
    params = _perm_params()
    hashed = spread(df).select(
        F.col(id_col).alias("id"),
        F.transform(word_shingles(F.col(content_col), n),
                    lambda g: F.pmod(F.xxhash64(g), F.lit(_PRIME))).alias("hv"))
    a_arr = [a for a, _ in params]
    b_arr = [b for _, b in params]
    prime = _PRIME

    # self-contained closure (see operators/multimodal.py note)
    def op(batches):
        import numpy as _np
        import pandas as _pd
        av = _np.array(a_arr, dtype="int64")
        bv = _np.array(b_arr, dtype="int64")
        for part in batches:
            sigs = []
            for hv in part["hv"]:
                x = _np.asarray(hv, dtype="int64")[:, None]  # |sh| x 1
                sigs.append(((x * av + bv) % prime).min(axis=0))
            yield _pd.DataFrame({"id": part["id"],
                                 "sig": [s.tolist() for s in sigs]})

    return hashed.mapInPandas(op, schema="id long, sig array<long>")


def minhash_lsh_pairs(df: DataFrame, content_col: str, id_col: str,
                      n: int = 3, threshold: float = 0.6,
                      bands: int = _BANDS,
                      min_band_matches: int = 2) -> DataFrame:
    """MinHash-LSH candidate generation + EXACT Jaccard verification.

    banding: signature split into ``bands`` bands of 64/bands rows;
    docs sharing any full band land in one bucket (hash-shuffle on
    the band key — linear, never n²).  Candidates are then verified
    with exact n-gram Jaccard, so output precision is exact and only
    recall depends on the banding.

    ``min_band_matches`` requires that many band collisions per pair
    (counted by the same aggregate that dedupes candidates, so it
    costs nothing extra).  The 16x4 single-band s-curve passes random
    background pairs (j≈0.1) at ~1.6e-3 — quadratic-corpus poison at
    scale; requiring 2 bands cuts that ~1000x while keeping the
    near-dup regime intact (recall at j=0.8 ≈ 0.998, at j≥0.9
    ≈ 1-1e-7; at exactly j=0.6 it is ~0.64 vs 0.89 — set
    ``min_band_matches=1`` when hunting marginal pairs).
    """
    rows_per_band = _N_HASHES // bands
    sigs = minhash_signatures(df, content_col, id_col, n)
    band_rows = sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"),
                     F.xxhash64(F.concat_ws(
                         ",", *[F.element_at("sig", bi * rows_per_band + r + 1)
                                for r in range(rows_per_band)])).alias("bh"))
            for bi in range(bands)])).alias("b"))
    # (the standing-index form folds the band id INTO the hash — see
    # _minhash_band_rows — so its bucket layout has one join column;
    # this inline form predates it and keeps (band, bh) separate)
    a, b = band_rows.alias("a"), band_rows.alias("b")
    cand = (a.join(b, (F.col("a.b.band") == F.col("b.b.band"))
                   & (F.col("a.b.bh") == F.col("b.b.bh"))
                   & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
             .agg(F.count("*").alias("__nb"))
             .filter(F.col("__nb") >= min_band_matches)
             .select("id1", "id2"))
    # exact verification — join the shingle sets back in, as sorted
    # 64-bit hash arrays (same trick as ngram_jaccard_pairs: 5-8x
    # smaller than the strings, so the join side broadcasts/shuffles
    # cheaply and array_intersect compares longs; a collision altering
    # a verified count needs two distinct shingles of ONE pair
    # colliding at 64 bits, ~1e-10 corpus-wide)
    sh = (spread(df)
          .select(F.col(id_col).alias("id"),
                  F.array_sort(F.transform(
                      word_shingles(F.col(content_col), n),
                      lambda g: F.xxhash64(g))).alias("hv")))
    verified = (cand
                .join(sh.select(F.col("id").alias("id1"), F.col("hv").alias("h1")), "id1")
                .join(sh.select(F.col("id").alias("id2"), F.col("hv").alias("h2")), "id2"))
    inter = F.size(F.array_intersect("h1", "h2"))
    union = F.size("h1") + F.size("h2") - inter
    return (verified.withColumn("jaccard", F.round(inter / union, 4))
                    .filter(F.col("jaccard") >= threshold)
                    .select("id1", "id2", "jaccard"))


def _minhash_band_rows(df: DataFrame, content_col: str, id_col: str,
                       n: int, bands: int) -> DataFrame:
    """(id, bh) band rows with the band id FOLDED INTO the hash
    (band i of doc A can only ever match band i of doc B), so the
    standing band index buckets and joins on ONE column."""
    rows_per_band = _N_HASHES // bands
    sigs = minhash_signatures(df, content_col, id_col, n)
    return sigs.select(
        "id",
        F.explode(F.array(*[
            F.xxhash64(F.concat_ws(
                ",", F.lit(bi),
                *[F.element_at("sig", bi * rows_per_band + r + 1)
                  for r in range(rows_per_band)]))
            for bi in range(bands)])).alias("bh"))


def _shingle_sets(df: DataFrame, content_col: str, id_col: str,
                  n: int) -> DataFrame:
    """(id, sorted shingle-hash array) — the exact-verify side shared
    by the inline and standing MinHash forms."""
    return (spread(df)
            .select(F.col(id_col).alias("id"),
                    F.array_sort(F.transform(
                        word_shingles(F.col(content_col), n),
                        lambda g: F.xxhash64(g))).alias("hv")))


def minhash_pairs_between_bucketed(
        corpus: DataFrame, batch: DataFrame, content_col: str, id_col: str,
        n: int = 3, threshold: float = 0.6, bands: int = _BANDS,
        min_band_matches: int = 2,
        db: str = "nsjs_mh_index", location: str | None = None,
        num_buckets: int = 16, rebuild: bool = True) -> DataFrame:
    """Incremental MinHash dedup against a STANDING bucketed band
    index — the composition of the repo's two scale stories: banding
    keeps pair generation linear (the 100 TB pair path), and the
    standing bucketed artifact keeps the per-batch join free of any
    corpus-side shuffle (the daily-ingest path).  At the tier where
    even the exact-PPJoin standing index is too big, this is the
    form that runs.

    One-time (``rebuild=True``): corpus band rows — band id folded
    into the hash, so ONE join column — written bucketed+sorted by
    ``bh``; corpus shingle-set table bucketed by ``id`` (both via
    sinks.write_bucketed, append-stable).  Per batch: the batch's band
    rows sort-merge-join the band table on ``bh`` (corpus buckets read
    IN PLACE, only the batch shuffles), pairs sharing >=
    ``min_band_matches`` bands become candidates, and the exact
    Jaccard verify joins the corpus set table bucketed-by-id the same
    way.  Precision is exact (every emitted pair is verified); recall
    is the banding s-curve of ``minhash_lsh_pairs``.

    Returns (left_id [corpus], right_id [batch], jaccard).  Caller
    guarantees disjoint id sets, as in the PPJoin form.
    """
    spark = corpus.sparkSession
    tau = float(threshold)
    if location is None:
        location = artifact_dir("nsjs_mh_index", "default")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{location}'")
    if rebuild:
        _reset_index(spark, db, ("corpus_bands", "corpus_sets"))
        write_bucketed(_minhash_band_rows(corpus, content_col, id_col,
                                          n, bands),
                       f"{db}.corpus_bands", ["bh"],
                       num_buckets=num_buckets, sort_by=["bh"])
        write_bucketed(_shingle_sets(corpus, content_col, id_col, n),
                       f"{db}.corpus_sets", ["id"],
                       num_buckets=num_buckets, sort_by=["id"])
    tombs = read_tombstones(spark, _index_dir(spark, db))
    bands_l = _retract(spark.table(f"{db}.corpus_bands"), tombs, db)
    sets_l = _retract(spark.table(f"{db}.corpus_sets"), tombs, db)
    bands_r = _minhash_band_rows(batch, content_col, id_col, n, bands)
    cand = (bands_l.join(bands_r.withColumnRenamed("id", "rid"), "bh")
            .groupBy(F.col("id").alias("left_id"),
                     F.col("rid").alias("right_id"))
            .agg(F.count("*").alias("__nb"))
            .filter(F.col("__nb") >= min_band_matches)
            .select("left_id", "right_id"))
    sets_r = _shingle_sets(batch, content_col, id_col, n)
    verified = (cand
                .join(sets_l.select(F.col("id").alias("left_id"),
                                    F.col("hv").alias("h1")), "left_id")
                .join(sets_r.select(F.col("id").alias("right_id"),
                                    F.col("hv").alias("h2")), "right_id"))
    inter = F.size(F.array_intersect("h1", "h2"))
    union = F.size("h1") + F.size("h2") - inter
    return (verified.withColumn("jaccard", F.round(inter / union, 4))
                    .filter(F.col("jaccard") >= tau)
                    .select("left_id", "right_id", "jaccard"))


def minhash_index_append(batch: DataFrame, content_col: str, id_col: str,
                         n: int = 3, bands: int = _BANDS,
                         db: str = "nsjs_mh_index") -> int:
    """Fold an ingested batch into the STANDING MinHash band index —
    the maintenance twin of ``dedup_index_append`` at the banded tier:
    after the batch dedups against the index
    (``minhash_pairs_between_bucketed``), its surviving docs append
    their band rows and shingle sets with the index's exact bucket
    spec (append-stable layout, corpus never read).  The batch is
    cached through both derivations, so its SOURCE is scanned once —
    safe for read-once ingest; count = docs written."""
    spark = batch.sparkSession
    for t in ("corpus_bands", "corpus_sets"):
        if not spark.catalog.tableExists(f"{db}.{t}"):
            raise ValueError(
                f"no standing MinHash index table {db}.{t}; build one "
                "first (minhash_pairs_between_bucketed rebuild=True)")
    batch = batch.select(F.col(id_col), F.col(content_col)).persist()
    try:
        sets_b = _shingle_sets(batch, content_col, id_col, n)
        _append_to_index(_minhash_band_rows(batch, content_col, id_col,
                                            n, bands), f"{db}.corpus_bands")
        _append_to_index(sets_b, f"{db}.corpus_sets")
        n_docs = sets_b.count()
        # a previously-deleted id re-ingested here is live again
        clear_tombstones(sets_b.select("id"), _index_dir(spark, db))
    finally:
        batch.unpersist()
    return n_docs


# ---------------------------------------------------------------------------
# Standing dedup-index lifecycle: retraction (tombstones), rebuild, append
# ---------------------------------------------------------------------------

def dedup_index_delete(ids: DataFrame, db: str, id_col: str = "id") -> int:
    """Delete documents from a STANDING dedup index (PPJoin prefix,
    MinHash band, substring-gram or media-chunk family) WITHOUT
    rewriting it — the takedown/license-revocation/PII-purge path a
    long-lived curation deployment hits monthly: the doc ids append to
    the index's tombstone set (``sinks.append_tombstones``, under the
    db's location), and every probe anti-joins the corpus-side index
    rows against it (broadcast — deletions are tiny relative to a
    100 TB index), so the deleted doc stops generating pairs/spans
    immediately.  ``dedup_index_compact`` folds outstanding tombstones
    into the physical tables and restores the no-tombstone fast path;
    a full rebuild folds them by construction.  ``similarity``'s IVF
    index keeps the same tombstone set.  Returns the number of ids
    appended."""
    spark = ids.sparkSession
    known = ("corpus_prefix", "corpus_bands", "corpus_grams",
             "corpus_chunks")  # PPJoin / MinHash / substring / media
    if not any(spark.catalog.tableExists(f"{db}.{t}") for t in known):
        raise ValueError(
            f"no standing dedup index tables in {db}; build one first "
            "(*_between_bucketed rebuild=True)")
    return append_tombstones(ids, id_col, _index_dir(spark, db))


def _index_dir(spark, db: str) -> str:
    """The local dir of a standing index db — its tables and its
    tombstone set live here."""
    return unquote(urlparse(spark.catalog.getDatabase(db).locationUri).path)


def _reset_index(spark, db: str, tables) -> None:
    """Start a rebuild from nothing: drop each index table and remove
    its dir (a fresh session's in-memory catalog does not know tables a
    previous session left at the db location, and saveAsTable fails
    with LOCATION_ALREADY_EXISTS on them), and drop the tombstone set —
    a rebuild folds retractions by construction."""
    loc = _index_dir(spark, db)
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        shutil.rmtree(os.path.join(loc, t), ignore_errors=True)
    drop_tombstones(loc)


def _append_to_index(df: DataFrame, table: str) -> None:
    """Append rows to a standing index table with the table's own bucket
    spec, read from the catalog (Spark rejects any other); every index
    table is sorted by its bucket columns."""
    spark = df.sparkSession
    cols = _bucket_cols(spark, table)
    write_bucketed(df, table, cols,
                   num_buckets=int(_table_detail(spark, table)["Num Buckets"]),
                   sort_by=cols, mode="append")


def _retract(index_df: DataFrame, tombs: DataFrame | None,
             db: str) -> DataFrame:
    """Anti-join an index-side table against the tombstones — one
    broadcast map-side filter added to the probe plan."""
    if tombs is None:
        return index_df
    if "id" not in index_df.columns:
        raise ValueError(
            f"standing index in {db} predates doc-id attribution and "
            "cannot serve deletes; rebuild it (rebuild=True)")
    return index_df.join(F.broadcast(tombs), "id", "left_anti")


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs (id1,id2) →
    (id, comp) where comp is the minimum id reachable from id.

    Hash-min label propagation: every node starts labeled with itself;
    each round pulls the min label over its neighbors; stops when no
    label changes.  Rounds needed = graph diameter — near-dup clusters
    are dense and tiny, so this converges in 2-3 rounds.  Each round
    is one equi-join + one min-aggregate (both shuffles on id, AQE
    coalesced); ``localCheckpoint`` truncates the growing lineage so
    round N doesn't replay rounds 1..N-1.  The driver-side loop holds
    only a changed-row SUM, never data.

    Job economy: every checkpoint is LAZY (eager=False), so each
    round's convergence-witness aggregate is the single Spark job that
    also materializes that round's labels (and, in round 1, the edge
    list).  The eager form costs 2 jobs per round plus 3 setup jobs —
    measured ~2x the wall time at sf0.1 for identical results.
    """
    # checkpoint the edge list once — every round joins against it, and
    # without this the (possibly expensive) pair-generation plan would
    # re-execute per round
    edges = (pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
                  .unionByName(pairs.select(F.col("id2").alias("src"),
                                            F.col("id1").alias("dst")))
                  .distinct()
                  .localCheckpoint(eager=False))
    labels = (edges.select(F.col("src").alias("id")).distinct()
                   .withColumn("comp", F.col("id"))
                   .localCheckpoint(eager=False))
    # labels only ever decrease, so sum(comp) is a monotone convergence
    # witness: unchanged sum ⟺ fixed point.  One tiny aggregate per
    # round instead of a join+count against the previous labels.
    prev_sum = None
    for _ in range(max_iter):
        pulled = (edges.join(labels, edges["dst"] == labels["id"])
                       .groupBy("src").agg(F.min("comp").alias("ncomp")))
        labels = (labels.join(pulled, labels["id"] == pulled["src"], "left")
                        .select(labels["id"],
                                F.least("comp", "ncomp").alias("comp"))
                        .localCheckpoint(eager=False))
        new_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_resolve(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Resolve near-dup PAIRS into per-document verdicts: every doc gets
    (id, canonical_id, is_duplicate) — singletons are their own
    canonical.  This is the step a training pipeline actually consumes
    (keep canonical, drop is_duplicate)."""
    comp = connected_components(pairs)
    ids = df.select(F.col(id_col).alias("id"))
    return (ids.join(comp, "id", "left")
               .select("id",
                       F.coalesce("comp", F.col("id")).alias("canonical_id"))
               .withColumn("is_duplicate",
                           F.col("id") != F.col("canonical_id")))


def simhash_signatures(df: DataFrame, content_col: str, id_col: str,
                       token_hash: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per doc: per-token hash (JVM-side), then one
    numpy kernel unpacks hash bits and sums ±1 per position (token
    frequency weighted); sign → bit.  Same output as a per-bit
    aggregate expression tree, ~20× faster (vectorized, one pass).

    token_hash picks the per-token hash function:
      - "xxhash64" (default): fastest JVM hash, 64 signature bits.
      - "sha2_60": first 15 hex chars of SHA-256 parsed as a 60-bit
        int.  Slower per token but byte-identical to DuckDB's
        ``cast('0x' || substr(sha256(t),1,15) as bigint)``, which
        turns the whole operator into a full cross-engine value
        oracle (bits 60–63 of the signature are then always 0;
        the 4×16-bit pigeonhole blocking below is unaffected).
    """
    from nosql_join_stream_spark.operators.sampling import order_hash
    toks = F.split(F.trim(F.lower(F.col(content_col))), r"\s+")
    if token_hash == "xxhash64":
        th = F.transform(toks, lambda t: F.xxhash64(t))
    elif token_hash == "sha2_60":
        th = F.transform(toks, order_hash)
    else:
        raise ValueError(f"unknown token_hash: {token_hash!r}")
    hashed = spread(df).select(F.col(id_col).alias("id"), th.alias("th"))

    def op(batches):
        import numpy as _np
        import pandas as _pd
        shifts = _np.arange(64, dtype="uint64")
        for part in batches:
            sigs = []
            for th in part["th"]:
                h = _np.asarray(th, dtype="int64").astype("uint64")[:, None]
                bits = ((h >> shifts) & _np.uint64(1)).astype("int64")  # |t|x64
                sums = (2 * bits - 1).sum(axis=0)
                sig = ((sums > 0).astype("uint64") << shifts).sum(dtype="uint64")
                sigs.append(_np.int64(sig.astype("int64")))
            yield _pd.DataFrame({"id": part["id"], "sig": sigs})

    return hashed.mapInPandas(op, schema="id long, sig long")


def simhash_pairs(df: DataFrame, content_col: str, id_col: str,
                  max_hamming: int = 3,
                  token_hash: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidate generation: split the 64-bit signature into 4 16-bit
    chunks — any pair within hamming ≤ 3 must agree on ≥1 chunk
    (pigeonhole), so an equi-join per chunk finds all candidates with
    a linear shuffle; then verify with bit_count(xor).
    """
    sigs = simhash_signatures(df, content_col, id_col, token_hash=token_hash)
    chunks = sigs.select(
        "id", "sig",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftrightunsigned("sig", c * 16)
                      .bitwiseAND(F.lit(0xFFFF)).alias("ck"))
            for c in range(4)])).alias("c"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (a.join(b, (F.col("a.c.chunk") == F.col("b.c.chunk"))
                   & (F.col("a.c.ck") == F.col("b.c.ck"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
                     F.col("a.sig").alias("s1"), F.col("b.sig").alias("s2"))
             .distinct())
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (cand.withColumn("hamming", ham)
                .filter(F.col("hamming") <= max_hamming)
                .select("id1", "id2", "hamming"))


def decontaminate(train: DataFrame, benchmark: DataFrame,
                  content_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Benchmark decontamination: train docs sharing ≥1 word n-gram
    with any benchmark doc, with the count of distinct shared grams.

    The standard eval-leakage sweep before LLM training.  Both sides
    shingle to distinct word n-grams (hashed to 8-byte longs so the
    shuffle never carries strings); the benchmark's gram set — small
    by construction (benchmarks are KBs, corpora are TBs) — deduped
    and BROADCAST, so the 100 TB train side joins map-side with no
    shuffle; one final shuffle on doc id counts distinct shared grams.
    A 64-bit collision can only add a gram hit (~1e-10 corpus-wide).

    Returns (id, n_shared), one row per contaminated train doc.
    """
    def grams(df):
        return (df.select(F.col(id_col).alias("id"),
                          F.explode(word_shingles(F.col(content_col), n))
                           .alias("g"))
                  .select("id", F.xxhash64("g").alias("gh")))

    bench_grams = grams(benchmark).select("gh").distinct()
    hits = grams(spread(train)).join(F.broadcast(bench_grams), "gh")
    return (hits.groupBy("id")
                .agg(F.count_distinct("gh").alias("n_shared")))


def _shingle_prefix(df: DataFrame, content_col: str, id_col: str,
                    n: int, tau: float):
    """(sorted-hash shingle sets, prefix-exploded index) for PPJoin —
    shared by the self-join and cross-set forms.

    Deliberately NOT cached/checkpointed: the shingle scan is consumed
    3-4 times per PPJoin (both sides of the prefix self-join + both
    verify lookups), but Spark reuses the shuffle exchange for the
    self-join sides, and an A/B at sf0.1 showed materializing the
    big hv arrays (localCheckpoint) costs more in memory/GC than the
    recompute saves — recompute is a streaming scan that never holds
    the arrays resident.
    """
    sh = (spread(df)
            .select(F.col(id_col).alias("id"),
                    F.array_sort(F.transform(
                        word_shingles(F.col(content_col), n),
                        lambda g: F.xxhash64(g))).alias("hv"))
            .withColumn("n_sh", F.size("hv")))
    prefix_len = (F.col("n_sh")
                  - F.ceil(F.lit(tau) * F.col("n_sh")).cast("int")
                  + F.lit(1))
    ex = (sh.select("id", "n_sh",
                    F.posexplode(F.slice("hv", 1, prefix_len))
                     .alias("p", "g")))
    return sh, ex


def ngram_jaccard_pairs_between(left: DataFrame, right: DataFrame,
                                content_col: str, id_col: str,
                                n: int = 3, threshold: float = 0.6,
                                broadcast_right: bool = True) -> DataFrame:
    """EXACT cross-set n-gram Jaccard pairs (left_id, right_id,
    jaccard ≥ threshold) — the INCREMENTAL dedup form: dedup a new
    ingest batch against the standing corpus without re-self-joining
    the corpus.

    Same lossless PPJoin prefix + length + positional filters as
    ``ngram_jaccard_pairs`` (see its docstring for the theory; the
    R×S form indexes both sides' prefixes under the same global hash
    order — any pair with J ≥ τ must collide on a prefix element).
    At 100 TB the corpus-side shingle index is a one-time artifact
    (write it bucketed by gram hash via sinks.write_bucketed) and each
    day's batch joins against it shuffle-free; here both sides build
    inline.  Caller guarantees the two id sets are disjoint.
    """
    tau = float(threshold)
    sh_l, ex_l = _shingle_prefix(left, content_col, id_col, n, tau)
    sh_r, ex_r = _shingle_prefix(right, content_col, id_col, n, tau)
    # the batch side is usually orders of magnitude smaller than the
    # corpus, but its size is hidden behind an explode, so the planner
    # won't auto-broadcast; the hint keeps the corpus-side prefix
    # index un-shuffled (measured 2x at 16x corpus in scale_probe).
    # Pass broadcast_right=False when the right side is NOT small.
    if broadcast_right:
        ex_r, sh_r = F.broadcast(ex_r), F.broadcast(sh_r)
    return _ppjoin_between(sh_l, ex_l, sh_r, ex_r, tau)


def _ppjoin_between(sh_l, ex_l, sh_r, ex_r, tau: float) -> DataFrame:
    """Cross-set PPJoin core on prebuilt (shingle-set, prefix-index)
    pairs — shared by the inline and bucketed-standing-index forms."""
    a, b = ex_l.alias("a"), ex_r.alias("b")
    n1, n2 = F.col("a.n_sh"), F.col("b.n_sh")
    min_overlap = F.ceil(F.lit(tau / (1.0 + tau)) * (n1 + n2))
    overlap_ub = F.least(n1 - F.col("a.p"), n2 - F.col("b.p"))
    cand = (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (n2 * F.lit(tau) <= n1) & (n1 * F.lit(tau) <= n2)
                   & (overlap_ub >= min_overlap))
             .select(F.col("a.id").alias("left_id"),
                     F.col("b.id").alias("right_id"))
             .distinct())
    verified = (cand
                .join(sh_l.select(F.col("id").alias("left_id"),
                                  F.col("hv").alias("h1"),
                                  F.col("n_sh").alias("n1")), "left_id")
                .join(sh_r.select(F.col("id").alias("right_id"),
                                  F.col("hv").alias("h2"),
                                  F.col("n_sh").alias("n2")), "right_id"))
    inter = F.size(F.array_intersect("h1", "h2"))
    j = inter / (F.col("n1") + F.col("n2") - inter)
    return (verified.withColumn("jaccard", F.round(j, 4))
                    .filter(F.col("jaccard") >= tau)
                    .select("left_id", "right_id", "jaccard"))


def ngram_jaccard_pairs_between_bucketed(
        corpus: DataFrame, batch: DataFrame, content_col: str, id_col: str,
        n: int = 3, threshold: float = 0.6,
        db: str = "nsjs_index", location: str | None = None,
        num_buckets: int = 16, rebuild: bool = True) -> DataFrame:
    """Incremental dedup against a STANDING bucketed corpus index —
    the 100 TB production form of ``ngram_jaccard_pairs_between``
    (and the bulk answer to the reference's per-key index lookups,
    storage.scala:390-391).

    One-time (``rebuild=True`` here for a self-contained demo): the
    corpus prefix index is written as a managed table bucketed+sorted
    by gram hash ``g``, and the corpus shingle-set table bucketed by
    ``id`` (sinks.write_bucketed).  Per batch: the batch builds its
    own prefix index inline and sort-merge-joins the bucketed corpus
    index on ``g`` — the corpus side reads its co-located buckets IN
    PLACE (zero Exchange; only the day's batch shuffles), regardless
    of batch size, which is exactly when the broadcast hint of the
    inline form stops being an option.  Candidate verification joins
    the set tables the same way.  Results are identical to the inline
    form (same lossless PPJoin filters).
    """
    spark = corpus.sparkSession
    tau = float(threshold)
    if location is None:
        # run-scoped tmp dir: works from any (even read-only) cwd,
        # isolates concurrent sessions and is removed at exit; reuse
        # within a process is what the standing-index story wants
        location = artifact_dir("nsjs_index", "default")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{location}'")
    if rebuild:
        _reset_index(spark, db, ("corpus_prefix", "corpus_sets"))
        sh_c, ex_c = _shingle_prefix(corpus, content_col, id_col, n, tau)
        write_bucketed(ex_c, f"{db}.corpus_prefix", ["g"],
                       num_buckets=num_buckets, sort_by=["g"])
        write_bucketed(sh_c, f"{db}.corpus_sets", ["id"],
                       num_buckets=num_buckets, sort_by=["id"])
    tombs = read_tombstones(spark, _index_dir(spark, db))
    ex_l = _retract(spark.table(f"{db}.corpus_prefix"), tombs, db)
    sh_l = _retract(spark.table(f"{db}.corpus_sets"), tombs, db)
    sh_r, ex_r = _shingle_prefix(batch, content_col, id_col, n, tau)
    return _ppjoin_between(sh_l, ex_l, sh_r, ex_r, tau)


def dedup_index_append(batch: DataFrame, content_col: str, id_col: str,
                       n: int = 3, threshold: float = 0.6,
                       db: str = "nsjs_index") -> int:
    """Fold an ingested batch into the STANDING bucketed dedup index —
    the maintenance op that closes the incremental loop: after today's
    batch is deduped against the index
    (``ngram_jaccard_pairs_between_bucketed``), its surviving docs
    APPEND into the same bucketed tables, so tomorrow's batch dedups
    against today's ingest too.

    The append writes the batch's prefix rows and shingle sets with
    the index's exact bucket spec (bucketBy hash layout is append-
    stable: new files land in their buckets, co-location is preserved,
    and the probe join still reads corpus buckets with ZERO Exchange).
    The standing corpus is never read — append cost tracks the batch,
    the same contract as ``similarity.ann_ivf_append``.  The batch's
    shingle pass is cached, so the batch SOURCE is scanned once even
    though two tables and a count derive from it — safe against
    read-once ingest sources, and the returned count is the docs
    actually written (one shingle-set row per doc).
    """
    spark = batch.sparkSession
    for t in ("corpus_prefix", "corpus_sets"):
        if not spark.catalog.tableExists(f"{db}.{t}"):
            raise ValueError(
                f"no standing dedup index table {db}.{t}; build one "
                "first (ngram_jaccard_pairs_between_bucketed "
                "rebuild=True)")
    sh_b, ex_b = _shingle_prefix(batch, content_col, id_col, n,
                                 float(threshold))
    sh_b = sh_b.persist()  # ex_b derives from sh_b: both writes + the
    try:                   # count resolve from this one materialization
        _append_to_index(ex_b, f"{db}.corpus_prefix")
        _append_to_index(sh_b, f"{db}.corpus_sets")
        n = sh_b.count()
        # a previously-deleted id re-ingested here is live again
        clear_tombstones(sh_b.select("id"), _index_dir(spark, db))
    finally:
        sh_b.unpersist()
    return n


def edit_distance_pairs(df: DataFrame, content_col: str, id_col: str,
                        d: int = 2, key_len: int = 32) -> DataFrame:
    """EXACT edit-distance near-dup pairs (id1 < id2, levenshtein <= d)
    over a normalized head key — the short-text twin of the Jaccard
    PPJoin: titles, queries, product names, and truncated doc heads
    where token-set measures are too coarse and typo-level differences
    matter.

    Key: ``substring(whitespace-collapsed lower(trim(text)), 1,
    key_len)`` — normalization is part of the operator's semantics so
    the oracle can replicate it verbatim.

    Candidate generation is the PassJoin segment filter (Li, Deng,
    Feng, Wang: "PASS-JOIN: A Partition-based Method for Similarity
    Joins", VLDB 2011 — public literature), lossless by pigeonhole:

    1. each key of length L splits into ``d+1`` contiguous segments
       (first ``L mod (d+1)`` segments one char longer).  At most d
       edit operations touch at most d segments, so any pair within
       distance d shares at least ONE untouched segment, appearing in
       the other string shifted by at most d positions;
    2. seg side: each key emits its d+1 (segment-hash, index, L) rows;
       sub side: each key enumerates, for every compatible source
       length ``Ls ∈ [L-d, L+d]``, the substrings of the matching
       segment length within the ±d shift window — O(d²·(d+1)) short
       rows per doc, hashed to 8-byte longs before any shuffle;
    3. one equi-join on (hash, segment-index, Ls) yields candidates —
       linear in corpus size, never the n² pair space (the same
       inverted-index shape as the PPJoin prefix filter);
    4. keys short enough that segments degenerate (L ≤ 3d) pair in one
       tiny length-banded broadcast self-join instead;
    5. every candidate is verified with the exact JVM-side
       ``levenshtein`` — the filter affects cost only, never results.

    At 100 TB: two linear passes + one hash equi-join; segment hashes
    shuffle as longs; the ±d windows bound sub-side fanout to a small
    constant; verification touches only candidates.  This exact form
    IS the oracle (DuckDB ``levenshtein`` over the length band).
    """
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    d1 = d + 1
    key = F.substring(
        F.regexp_replace(F.trim(F.lower(F.col(content_col))), r"\s+", " "),
        1, key_len)
    base = (spread(df)
            .select(F.col(id_col).alias("id"), key.alias("key"))
            .withColumn("l", F.length("key"))
            .filter(F.col("l") >= 1))

    long_side = base.filter(F.col("l") > 3 * d)
    short_side = base.filter(F.col("l") <= 3 * d)

    # seg side: the d+1 segments of each key (its own length L)
    seg_expr = f"""
      transform(sequence(0, {d}), i ->
        struct(i AS i, l AS ls,
               xxhash64(substring(key,
                 1 + i * (l div {d1}) + least(i, l % {d1}),
                 (l div {d1}) + if(i < l % {d1}, 1, 0))) AS h))
    """
    segs = (base.filter(F.col("l") >= d1)
                .select("id", "l", F.explode(F.expr(seg_expr)).alias("s"))
                .select("id", F.col("s.i").alias("i"),
                        F.col("s.ls").alias("ls"), F.col("s.h").alias("h")))

    # sub side: for each compatible source length Ls and segment i,
    # the substrings in the ±d shift window (empty window -> array())
    start = f"(1 + i * (ls div {d1}) + least(i, ls % {d1}))"
    slen = f"((ls div {d1}) + if(i < ls % {d1}, 1, 0))"
    sub_expr = f"""
      flatten(transform(sequence(greatest({d1}, l - {d}), l + {d}), ls ->
        flatten(transform(sequence(0, {d}), i ->
          if(greatest(1, {start} - {d}) <= least({start} + {d}, l - {slen} + 1),
             transform(sequence(greatest(1, {start} - {d}),
                                least({start} + {d}, l - {slen} + 1)),
                       p -> struct(i AS i, ls AS ls,
                                   xxhash64(substring(key, p, {slen})) AS h)),
             array())))))
    """
    subs = (base.select("id", "l", "key",
                        F.explode(F.expr(sub_expr)).alias("s"))
                .select(F.col("id").alias("sub_id"),
                        F.col("s.i").alias("i"), F.col("s.ls").alias("ls"),
                        F.col("s.h").alias("h")))

    cand_seg = (segs.join(subs, ["i", "ls", "h"])
                    .filter(F.col("id") != F.col("sub_id"))
                    .select(F.least("id", "sub_id").alias("id1"),
                            F.greatest("id", "sub_id").alias("id2")))
    # short keys (L <= 3d) + the boundary long side (L <= 4d): pair by
    # an exploded length-band key so the length tolerance is an EQUI
    # join (hash, not BNLJ) — each right row emits one row per length
    # in [l-d, l+d] and joins the left's exact length
    near = (short_side.unionByName(long_side.filter(F.col("l") <= 4 * d))
            .select("id", "l"))
    near_x = near.select(
        F.col("id").alias("xid"),
        F.explode(F.sequence(F.col("l") - d, F.col("l") + d)).alias("lb"))
    cand_short = (short_side.join(F.broadcast(near_x),
                                  (F.col("l") == F.col("lb"))
                                  & (F.col("id") != F.col("xid")))
                  .select(F.least("id", "xid").alias("id1"),
                          F.greatest("id", "xid").alias("id2")))
    cand = cand_seg.unionByName(cand_short).distinct()

    keys = base.select("id", "key")
    verified = (cand
                .join(keys.select(F.col("id").alias("id1"),
                                  F.col("key").alias("k1")), "id1")
                .join(keys.select(F.col("id").alias("id2"),
                                  F.col("key").alias("k2")), "id2")
                .withColumn("distance", F.levenshtein("k1", "k2")))
    return (verified.filter(F.col("distance") <= d)
                    .select("id1", "id2", "distance"))


def _table_detail(spark, table: str) -> dict[str, str]:
    """A catalog table's ``DESC EXTENDED`` rows (``Location``, ``Num
    Buckets``, ...) as {name: value}."""
    return {r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESC EXTENDED {table}").collect()}


def _bucket_cols(spark, table: str) -> list[str]:
    """A catalog table's bucket columns."""
    return [c.name for c in spark.catalog.listColumns(table) if c.isBucket]


def dedup_index_compact(spark, db: str) -> dict[str, int]:
    """Compact a standing dedup index's bucketed tables — the file-
    count maintenance every index family needs: each ``*_index_append``
    lands one new file per bucket per batch, so a year of daily
    appends means ~365 files per bucket and scan/open overhead creeps
    into every probe.

    Mechanism: each bucketed table in ``db`` is rewritten FROM ITSELF
    (no corpus re-shingle, no signature recompute — one read + one
    bucketed write per table) into a fresh table name, then swapped in
    with catalog renames.  The bucket columns and count are read from
    the catalog, so one call serves the PPJoin, MinHash, substring and
    media layouts, probe joins keep their zero-corpus-Exchange plans,
    and results are identical (pinned in tests).  Write-then-rename
    rather than overwrite-in-place because Spark (rightly) refuses a
    self-overwrite, and the rename window leaves either the old or the
    new complete table visible — never a partial one.

    Outstanding TOMBSTONES (``dedup_index_delete``) are folded in:
    the rewrite anti-joins each table's rows against them, then drops
    the tombstone set — restoring the probe's no-tombstone fast path,
    exactly like ``similarity.ann_ivf_compact``.
    Returns {table: n_files_after}.
    """
    layouts = {t.name: _bucket_cols(spark, f"{db}.{t.name}")
               for t in spark.catalog.listTables(db) if not t.isTemporary}
    layouts = {t: cols for t, cols in layouts.items() if cols}
    if not layouts:
        raise ValueError(f"no standing index table in {db}")
    loc = _index_dir(spark, db)
    tombs = read_tombstones(spark, loc)
    if tombs is not None:
        # the rewrite below reads these rows while the table swap
        # happens — pin the (tiny) tombstone list first
        tombs = tombs.localCheckpoint()
    out: dict[str, int] = {}
    for t, bucket_cols in layouts.items():
        full = f"{db}.{t}"
        detail = _table_detail(spark, full)
        num_buckets = int(detail["Num Buckets"])
        # repartition onto the bucket spec first: bucketBy emits one
        # file per (task × bucket-touched), so without this a rewrite
        # read by many tasks can emit MORE files than it compacts —
        # aligned murmur3 hash partitioning puts each bucket's rows in
        # exactly one task, capping output at num_buckets files/table.
        # The files are read by PATH, without the bucket spec: through
        # the catalog the planner drops this repartition as redundant
        # with the bucketed scan, then disables that scan as unneeded
        # (no join/agg above it), so the write inherits the file-split
        # tasks and wrote as many files as it read (18 in, 18 out).
        compacted = (_retract(spark.read.parquet(detail["Location"]),
                              tombs, db)
                     .repartition(num_buckets, *bucket_cols))
        write_bucketed(compacted, f"{full}_compacting",
                       bucket_cols, num_buckets=num_buckets,
                       sort_by=bucket_cols)
        spark.sql(f"ALTER TABLE {full} RENAME TO {db}.{t}_old")
        spark.sql(f"ALTER TABLE {db}.{t}_compacting RENAME TO {db}.{t}")
        spark.sql(f"DROP TABLE {db}.{t}_old")
        # the session may hold a cached relation for the pre-swap name
        # (any earlier probe reads it); refresh so the post-compaction
        # file listing is the NEW table's, not a stale FileIndex
        spark.catalog.refreshTable(full)
        # refreshTable drops the relation cache entry, but the
        # SESSION-SHARED FileStatusCache is keyed by directory PATH —
        # and the managed-table renames above move directories, so the
        # swapped-in table's path can still carry the PRE-swap listing.
        # refreshByPath is the API that purges that cache layer.
        spark.catalog.refreshByPath(_table_detail(spark, full)["Location"])
        out[t] = len(spark.table(full).inputFiles())
    if tombs is not None:
        drop_tombstones(loc)
    return out


def resolve_keep_best(df: DataFrame, pairs: DataFrame, id_col: str,
                      score_col: str) -> DataFrame:
    """Near-dup resolution keeping the BEST-scoring member of each
    group as canonical (ties to the smallest id) — what production
    curation actually wants: among near-duplicates, keep the highest-
    quality copy, not the accidental smallest id.

    Components come from the same hash-min label propagation as
    ``dedup_resolve``; the winner is then a per-component aggregate —
    ``min(struct(-score, id))`` picks max score with min-id tiebreak
    in ONE map-side-combinable shuffle (no per-component rank window),
    and the tiny (component → winner) table joins back.

    Returns (id, score, canonical_id, is_duplicate).
    """
    comp = connected_components(pairs)
    ids = df.select(F.col(id_col).alias("id"),
                    F.col(score_col).alias("score"))
    labeled = (ids.join(comp, "id", "left")
                  .withColumn("comp", F.coalesce("comp", F.col("id"))))
    best = (labeled.groupBy("comp")
                   .agg(F.min(F.struct((-F.col("score")).alias("ns"),
                                       F.col("id").alias("id")))
                         .alias("w"))
                   .select("comp", F.col("w.id").alias("canonical_id")))
    return (labeled.join(best, "comp")
                   .select("id", "score", "canonical_id",
                           (F.col("id") != F.col("canonical_id"))
                            .alias("is_duplicate")))


def repeated_substring_spans(df: DataFrame, content_col: str, id_col: str,
                             w: int = 15) -> DataFrame:
    """Span-level repeated-substring detection — the ExactSubstr dedup
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") re-expressed relationally instead of via a suffix
    array: every ``w``-token window whose token content occurs >= 2
    times anywhere in the corpus (in another document OR repeated
    within the same one) marks its token span; overlapping/adjacent
    marked spans merge per document.

    Returns (id, span_start, span_end, span_tokens) with 0-based token
    offsets, end exclusive — the exact spans a span-level cleaner
    would cut, catching the partial/templated duplication that
    whole-doc, paragraph, and set-similarity dedup all miss (a doc is
    flagged even if only 5%% of it is copied).

    Scale shape: one row per token position — the same linear blowup
    the suffix array pays, WITHOUT its global sort.  Shuffled rows
    carry (id, pos, 8-byte gram hash); gram strings never leave the
    map side (xxhash64 — a collision can only over-mark one window,
    it cannot drop a true span).  Exactly two shuffles: one analytic
    count partitioned on the gram hash, one per-doc ordered window for
    interval merging (doc-sized partitions, no global window).  Pair
    space is never materialized, so corpus-wide boilerplate (a gram
    repeated k times) costs k rows here versus k^2 pairs in any
    pairwise scheme — the skew that breaks pair-based span detection
    is exactly what the count formulation absorbs.
    """
    from pyspark.sql import Window

    win = _token_windows(df, content_col, id_col, w)
    dup = (win.withColumn("c", F.count("*").over(Window.partitionBy("gh")))
              .filter(F.col("c") >= 2))
    return _merge_spans(dup, w)


def _token_windows(df: DataFrame, content_col: str, id_col: str,
                   w: int) -> DataFrame:
    """(id, pos, gh): every w-token window's 0-based position and
    8-byte content hash — gram strings never leave the map side."""
    toks = F.split(F.trim(F.col(content_col)), r"\s+")
    base = (spread(df).select(F.col(id_col).alias("id"), toks.alias("t"))
              .filter(F.size("t") >= w))
    return base.select(
        "id",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.size("t") - w),
            lambda i: F.xxhash64(F.array_join(F.slice("t", i + 1, w), " "))
        )).alias("pos", "gh"))


def _merge_spans(dup: DataFrame, w: int) -> DataFrame:
    """Gaps-and-islands interval merge of marked (id, pos) windows →
    (id, span_start, span_end, span_tokens), end exclusive."""
    from pyspark.sql import Window

    wd = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + w).over(
        wd.rowsBetween(Window.unboundedPreceding, -1))
    spans = (dup.withColumn(
                 "new_span",
                 F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
                  .otherwise(0))
                .withColumn("span_id", F.sum("new_span").over(wd)))
    return (spans.groupBy("id", "span_id")
                 .agg(F.min("pos").alias("span_start"),
                      (F.max("pos") + w).alias("span_end"))
                 .withColumn("span_tokens",
                             F.col("span_end") - F.col("span_start"))
                 .select("id", "span_start", "span_end", "span_tokens"))


def repeated_substring_spans_between(
        corpus: DataFrame, batch: DataFrame, content_col: str, id_col: str,
        w: int = 15, db: str = "nsjs_substr", location: str | None = None,
        num_buckets: int = 16, rebuild: bool = True) -> DataFrame:
    """Incremental ExactSubstr — span detection for a DAILY BATCH
    against a STANDING corpus gram index (the operational form: at
    100 TB you cannot re-window the whole corpus per ingest, and this
    is the same standing-artifact move the PPJoin/MinHash tiers make).

    One-time (``rebuild=True`` for a self-contained demo): the
    corpus's per-doc DISTINCT window hashes are written as a managed
    table bucketed+sorted on ``gh`` — (id, 8-byte hash) per
    doc-distinct window, still the smallest index any tier carries;
    the id column is what makes DELETION possible (a gram shared
    with a surviving doc survives the anti-join, a gram only the
    deleted doc contributed stops matching).  Per batch: the batch's
    windows left-semi-join the bucketed index on ``gh`` (corpus side
    reads its co-located buckets IN PLACE — zero corpus Exchange,
    only the batch shuffles) and a batch-internal count catches
    same-day repeats; the union marks exactly the windows the FULL
    operator would mark over corpus ∪ batch, restricted to batch docs
    (count_total >= 2  ⇔  in-corpus >= 1 OR in-batch >= 2).
    Spans then merge per batch doc as usual.
    """
    from pyspark.sql import Window

    spark = corpus.sparkSession
    if location is None:
        location = artifact_dir("nsjs_substr", "default")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{location}'")
    if rebuild:
        _reset_index(spark, db, ("corpus_grams",))
        grams = (_token_windows(corpus, content_col, id_col, w)
                 .select("id", "gh").distinct())
        write_bucketed(grams, f"{db}.corpus_grams", ["gh"],
                       num_buckets=num_buckets, sort_by=["gh"])
    idx = _retract(spark.table(f"{db}.corpus_grams"),
                   read_tombstones(spark, _index_dir(spark, db)), db)
    win = _token_windows(batch, content_col, id_col, w)
    hit_corpus = win.join(idx, "gh", "left_semi")
    hit_batch = (win.withColumn(
                     "c", F.count("*").over(Window.partitionBy("gh")))
                    .filter(F.col("c") >= 2).drop("c"))
    dup = (hit_corpus.select("id", "pos")
           .unionByName(hit_batch.select("id", "pos")).distinct())
    return _merge_spans(dup, w)


def substring_index_append(batch: DataFrame, content_col: str, id_col: str,
                           w: int = 15, db: str = "nsjs_substr") -> int:
    """Fold an ingested batch into the STANDING substring-gram index —
    the append op that closes the gram family's lifecycle the way
    ``dedup_index_append`` / ``minhash_index_append`` do for theirs:
    after today's batch is span-checked against the index
    (``repeated_substring_spans_between``), its per-doc distinct
    window hashes APPEND with the index's exact bucket spec
    (append-stable bucketBy layout — co-location preserved, probes
    keep their zero-corpus-Exchange semi-join), so tomorrow's batch
    detects spans repeated against today's ingest too.  The standing
    corpus is never read; the batch's window pass is persisted so its
    SOURCE is scanned once (read-once-ingest safe).  Re-ingested
    previously-deleted ids become live again (tombstones cleared).
    Returns the number of docs appended."""
    spark = batch.sparkSession
    if not spark.catalog.tableExists(f"{db}.corpus_grams"):
        raise ValueError(
            f"no standing substring-gram index table {db}.corpus_grams; "
            "build one first (repeated_substring_spans_between "
            "rebuild=True)")
    grams = (_token_windows(batch, content_col, id_col, w)
             .select("id", "gh").distinct().persist())
    try:
        _append_to_index(grams, f"{db}.corpus_grams")
        n_docs = grams.select("id").distinct().count()
        clear_tombstones(grams.select("id"), _index_dir(spark, db))
    finally:
        grams.unpersist()
    return n_docs


def cut_spans(df: DataFrame, spans: DataFrame, content_col: str,
              id_col: str) -> DataFrame:
    """The FIX for :func:`repeated_substring_spans`: rewrite each
    document with the marked token ranges removed (Lee et al. 2022 cut
    duplicated spans rather than whole docs — most of a partially-
    copied page is worth keeping).

    ``spans`` is (id, span_start, span_end) as produced by
    ``repeated_substring_spans``.  Returns
    (id, n_tokens, n_tokens_cut, clean_text); docs without spans pass
    through with ``n_tokens_cut = 0``.

    Scale shape: spans collapse to one array per doc (span counts are
    small — they were merged), join back on the id (one shuffle), and
    the cut itself is a pure JVM higher-order-function chain
    (transform + exists + filter) — no explode of the token stream, no
    Python.  Cost is a token-array pass per doc, the same as any
    full-text metric.
    """
    toks = F.split(F.trim(F.col(content_col)), r"\s+")
    sp = (spans.groupBy("id")
               .agg(F.array_sort(F.collect_list(
                    F.struct("span_start", "span_end"))).alias("sp")))
    joined = (df.select(F.col(id_col).alias("id"), toks.alias("t"))
                .join(sp, "id", "left"))
    spcol = F.coalesce(
        F.col("sp"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"))
    kept = F.filter(
        F.transform(
            "t", lambda tok, i: F.struct(tok.alias("tok"), i.alias("i"))),
        lambda s: ~F.exists(
            spcol, lambda r: (s["i"] >= r["span_start"])
                             & (s["i"] < r["span_end"])))
    return joined.select(
        "id",
        F.size("t").alias("n_tokens"),
        (F.size("t") - F.size(kept)).alias("n_tokens_cut"),
        F.array_join(F.transform(kept, lambda s: s["tok"]), " ")
         .alias("clean_text"))


def resolve_incremental(labels: DataFrame, new_pairs: DataFrame,
                        max_iter: int = 20) -> DataFrame:
    """Incremental component resolution: fold a batch of NEW near-dup
    pairs into EXISTING (id, comp) labels without re-deriving the
    historical pair list — the resolution-side companion of the
    standing pair indexes (the index answers "which pairs", this
    answers "which canonical" — both must be incremental or the daily
    job isn't).

    Key identity: old components are equivalent to star edges
    (id — comp), so CC over {star edges} ∪ {new pairs} equals CC over
    {all historical pairs} ∪ {new pairs} — the stars are exactly the
    transitive closure the old pairs had already established, and
    hash-min labels are closed under this rewrite (comp is a member
    of its own component).  Cost: the propagation runs over
    |labels| + |batch pairs| edges, independent of how many
    historical pairs produced those labels.

    Returns the updated full (id, comp) label table (old ids keep or
    lower their label when a batch pair bridges two components; new
    ids appear labeled).
    """
    star = (labels.filter(F.col("id") != F.col("comp"))
                  .select(F.col("id").alias("id1"),
                          F.col("comp").alias("id2")))
    merged = star.unionByName(new_pairs.select("id1", "id2"))
    updated = connected_components(merged, max_iter=max_iter)
    # singleton components (id == comp, no edges) never enter the edge
    # list — re-attach any such previously-known ids unchanged
    singletons = (labels.join(updated, "id", "left_anti")
                        .select("id", "comp"))
    return updated.unionByName(singletons)
