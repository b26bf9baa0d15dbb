"""Text analysis for large-scale training-data pipelines.

Beyond the reference (its only scalar computation is the user mapper
closure, SURVEY.md §2.6); first-class here per the build plan (M6):
language ID, quality scoring, token counting, fingerprinting — all as
pure ``pyspark.sql.functions`` Column expressions (JVM-side, codegen,
no Python in the hot path), so at 100 TB these run at parquet-scan
speed with full pushdown/pruning.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column
from pyspark.sql import functions as F

from nosql_join_stream_spark.operators import spread

# Small, fixed stopword lists (top function words) — enough for an
# n-gram/stopword-heuristic language ID, deterministic and
# SQL-mirrorable. Order matters: ties break in this order.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "que", "por"],
}
LANG_ORDER = ["en", "de", "fr", "es"]

FINGERPRINT_MOD = 1_000_000_007
TOKEN_REGEX = "[A-Za-z]+|[0-9]+"


def tokens(col: Column) -> Column:
    """Whitespace tokenization (trimmed, multi-space safe)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def regex_token_count(col: Column) -> Column:
    """BPE-ish pre-tokenizer count: alpha runs + digit runs
    (``[A-Za-z]+|[0-9]+``) — the standard LLM-data proxy for token
    count without shipping a tokenizer to executors."""
    return F.regexp_count(col, F.lit(TOKEN_REGEX))


def stopword_hits(col: Column, words: list[str]) -> Column:
    """Number of tokens (with repeats) that are in ``words``."""
    return F.size(F.filter(tokens(F.lower(col)), lambda t: t.isin(*words)))


def lang_id(col: Column) -> Column:
    """Stopword-count language ID. Returns the language whose stopword
    list has the most (repeat-counting) hits; ties and zero hits fall
    back in LANG_ORDER; pure-JVM expression."""
    counts = {lg: stopword_hits(col, STOPWORDS[lg]) for lg in LANG_ORDER}
    best = F.greatest(*[counts[lg] for lg in LANG_ORDER])
    out = F.lit(LANG_ORDER[0])
    # first language (in fixed order) achieving the max
    expr = None
    for lg in LANG_ORDER:
        cond = counts[lg] == best
        expr = F.when(cond, F.lit(lg)) if expr is None else expr.when(cond, F.lit(lg))
    return expr.otherwise(out)


def quality_features(col: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features used by LLM data
    quality filters (C4/Gopher-style heuristics, simplified)."""
    n_chars = F.length(col)
    n_tokens = token_count(col)
    n_alpha = F.regexp_count(col, F.lit("[A-Za-z]"))
    n_punct = F.regexp_count(col, F.lit("[.,;:!?]"))
    n_stop = stopword_hits(col, STOPWORDS["en"])
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round(n_alpha / n_tokens, 4),
        "punct_ratio": F.round(n_punct / n_chars, 6),
        "stopword_ratio": F.round(n_stop / n_tokens, 6),
    }


def quality_score(col: Column) -> Column:
    """Deterministic 0-1 quality score: rewards mid-length docs with
    normal word lengths and some stopwords (Gopher-ish rules folded to
    one number; weights arbitrary but fixed)."""
    f = quality_features(col)
    len_ok = F.when((f["n_tokens"] >= 10) & (f["n_tokens"] <= 1000), 1.0).otherwise(0.0)
    wlen_ok = F.when((f["avg_token_len"] >= 2.0) & (f["avg_token_len"] <= 12.0), 1.0).otherwise(0.0)
    stop_ok = F.when(f["stopword_ratio"] >= 0.01, 1.0).otherwise(0.0)
    return F.round((0.4 * len_ok + 0.3 * wlen_ok + 0.3 * stop_ok), 4)


def fingerprint(col: Column) -> Column:
    """Polynomial rolling hash of the full text, mod 1e9+7 — a
    document fingerprint for exact-dup detection that is cheap,
    order-sensitive, and reproducible in any engine (unlike engine
    hash() builtins).  acc = acc*31 + codepoint, per character."""
    codes = F.transform(F.split(col, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FINGERPRINT_MOD)


def pack_sequences(df, id_col: str, shard_col: str, budget: int,
                   text_col: str = "text", len_col: str | None = None):
    """Concat-and-chunk sequence packing: the layout step that turns a
    document corpus into fixed-size training sequences.

    Documents concatenate in deterministic ``id`` order within a shard
    (``shard_col``); a running token count places each doc at a global
    offset; the doc's sequence is ``offset // budget`` and its start
    within that sequence ``offset % budget`` (docs may straddle
    boundaries, as concat-then-chunk training data does).

    The window partitions by shard, so at 100 TB the cumulative sum
    parallelizes across shards (a global, unpartitioned window would
    serialize on one task); shards are independent streams, matching
    how packing shards are actually written.

    ``len_col``: use a PRE-COMPUTED per-doc length instead of the
    whitespace count — pass ``bpe_token_count``'s ``n_bpe_tokens``
    for tokenizer-FAITHFUL packing (sequence boundaries land where
    the real tokenizer puts them, not where the proxy estimates).
    """
    from pyspark.sql import Window

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    n_tok = F.col(len_col) if len_col is not None \
        else token_count(F.col(text_col))
    w = (Window.partitionBy(shard_col).orderBy(id_col)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(n_tok).over(w)
    off = cum - n_tok
    return df.select(
        F.col(id_col), F.col(shard_col),
        n_tok.alias("n_tokens"),
        F.floor(off / budget).alias("seq_id"),
        (off % budget).alias("offset_in_seq"))


def novelty_ratio(df, content_col: str, id_col: str, n: int = 3):
    """Per-document novelty: the fraction of its distinct word
    n-grams whose FIRST occurrence (minimum id over the corpus) is
    this document — near 1 for fresh content, near 0 for remixes of
    earlier documents.  A curation signal complementary to pairwise
    dedup (catches heavy borrowing below any pairwise threshold).

    Two linear shuffles: a window-min on the gram hash attributes the
    first occurrence WITHOUT a second pass over the gram list (the
    groupBy+self-join form costs a third shuffle and measured 3×
    slower at sf0.1), then a per-doc count; grams travel as 8-byte
    hashes, never strings.
    """
    from pyspark.sql import Window

    from nosql_join_stream_spark.operators.dedup import word_shingles

    grams = (spread(df)
             .select(F.col(id_col).alias("id"),
                     F.explode(word_shingles(F.col(content_col), n))
                      .alias("g"))
             .select("id", F.xxhash64("g").alias("gh")))
    first = F.min("id").over(Window.partitionBy("gh"))
    return (grams.withColumn("first_id", first)
            .groupBy("id")
            .agg(F.count("*").alias("n_grams"),
                 F.sum((F.col("first_id") == F.col("id")).cast("long"))
                  .alias("n_novel"))
            .withColumn("novelty",
                        F.round(F.col("n_novel") / F.col("n_grams"), 4)))


def normalize_text(col: Column) -> Column:
    """Canonical cleaning pass before dedup/fingerprinting: lowercase,
    punctuation → space, whitespace collapsed, trimmed.  Pure JVM
    regexp chain at scan speed; engine-portable (same regexes run in
    the oracle).  Near-dup measures over normalized text stop counting
    case/punct variants as distinct content."""
    t = F.lower(col)
    t = F.regexp_replace(t, r"[.,;:!?\"'()\[\]{}]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def common_gram_ratio(df, content_col: str, id_col: str,
                      n: int = 3, min_docs: int = 5):
    """Per-document boilerplate ratio: the fraction of a doc's
    distinct word ``n``-grams that appear in ≥ ``min_docs`` documents
    corpus-wide.  The popularity-based complement of
    ``novelty_ratio``: novelty credits the FIRST introducer of a gram,
    this flags template/boilerplate content symmetrically (the
    original gets flagged too) — the signal behind header/footer and
    SEO-template stripping.

    Two linear shuffles (gram doc-frequency, per-doc rollup), grams as
    8-byte hashes — same scale shape as novelty_ratio.
    Returns (id, n_grams, n_common, boilerplate) rounded to 4 dp.
    """
    from nosql_join_stream_spark.operators.dedup import word_shingles

    e = df.select(F.col(id_col).alias("id"),
                  F.explode(word_shingles(F.col(content_col), n)).alias("g")) \
          .select("id", F.xxhash64("g").alias("gh"))
    dfreq = e.groupBy("gh").agg(F.count("*").alias("df"))
    marked = e.join(dfreq, "gh")
    return (marked.groupBy("id")
                  .agg(F.count("*").alias("n_grams"),
                       F.sum((F.col("df") >= min_docs).cast("long"))
                        .alias("n_common"))
                  .withColumn("boilerplate",
                              F.round(F.col("n_common") /
                                      F.col("n_grams"), 4)))


#: PII patterns — kept to syntax that means the same thing in Java
#: regex (Spark) and RE2 (DuckDB): ASCII classes, greedy quantifiers,
#: no lookaround.  Replacement order matters: emails first (contain
#: dots/digits), then IPs (all-digit dotted), then phones (digit runs).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d().-]{7,}\d", "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Scrub emails / IPv4s / phone-like digit runs to typed
    placeholder tags — the privacy pass every training corpus needs
    before anything is retained.  A chain of JVM ``regexp_replace``
    at scan speed; patterns are engine-portable so the oracle applies
    the identical chain."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind PII hit counts (pre-redaction), for audit rollups."""
    return {f"n_{name}": F.regexp_count(col, F.lit(pat))
            for name, pat, _ in PII_PATTERNS}


def chunk_text_sliding(df, content_col: str, id_col: str,
                       chunk_tokens: int = 128, stride: int = 64):
    """Sliding-window token chunking — the RAG / context-window prep
    step that turns documents into overlapping fixed-size passages
    (chunk i covers tokens [i*stride, i*stride + chunk_tokens)).

    Pure JVM Column expressions (split → sequence → explode → slice →
    concat_ws): runs at scan speed with zero shuffle — at 100 TB this
    is a map-only pass whose output partitioning follows the input,
    ready for the embedding/index stage downstream.  ``stride ==
    chunk_tokens`` gives disjoint chunks; ``stride < chunk_tokens``
    the usual overlap.  Window starts at every multiple of ``stride``
    below the token count, so trailing tokens always land in a (short)
    final chunk.

    Returns (id, chunk_id, start_tok, n_tokens, chunk_text).
    """
    if chunk_tokens < 1 or stride < 1:
        raise ValueError(
            f"chunk_tokens and stride must be >= 1, got "
            f"{chunk_tokens}, {stride}")
    if stride > chunk_tokens:
        raise ValueError(
            f"stride ({stride}) > chunk_tokens ({chunk_tokens}) would "
            "drop tokens between windows")
    toks = F.split(F.trim(F.col(content_col)), " ")
    n = F.size(toks)
    n_windows = F.ceil(n / F.lit(stride)).cast("int")
    base = df.select(
        F.col(id_col), toks.alias("__toks"), n.alias("__n"),
        F.explode(F.sequence(F.lit(0), n_windows - 1)).alias("chunk_id"))
    start = F.col("chunk_id") * stride
    return base.select(
        F.col(id_col),
        F.col("chunk_id").cast("int"),
        (start + 1).cast("long").alias("start_tok"),
        F.least(F.lit(chunk_tokens), F.col("__n") - start)
         .cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice("__toks", start + 1, chunk_tokens))
         .alias("chunk_text"))


def drop_common_paragraphs(df, content_col: str, id_col: str,
                           words_per_para: int = 10,
                           max_docs: int = 2):
    """Paragraph-level boilerplate removal (the CCNet / C4 cleaning
    step): split every document into consecutive ``words_per_para``-
    word blocks ("paragraphs" — this corpus has no newline structure,
    so blocks are the paragraph unit), count how many DISTINCT
    documents each block appears in corpus-wide, and rebuild each
    document keeping only blocks seen in at most ``max_docs``
    documents, in their original order.  Catches shared headers,
    footers, navigation chrome, and license blurbs that whole-document
    and near-dup passes both miss.

    Scale shape: two linear shuffles — block doc-frequency (grouped on
    the block's 8-byte xxhash64, map-side combined) and the per-doc
    rebuild.  The frequency join carries (hash, count); block STRINGS
    travel only inside the per-doc rebuild rows they came from.  The
    rebuild is collect_list of (position, block) structs + array_sort
    — per-doc state, never a global window.

    Collision trade, explicit: doc-frequency keys on xxhash64(para),
    not the paragraph string, so two DISTINCT blocks colliding in 64
    bits would pool their counts (and the SQL oracle, which groups on
    the raw string, would diverge).  P[any collision] ~ n^2/2^65 —
    ~3e-12 at 1e9 distinct blocks — and a collision inflates a count
    by at most the partner's doc-frequency; accepted deliberately
    because shipping 8-byte keys instead of full paragraph strings is
    what keeps the frequency shuffle linear at 100 TB.  (The same
    trade, same odds, applies to the xxhash64(__head) head-gram key in
    pipeline_materialize_training.)

    Returns (id, n_paras, n_dropped, kept_text); kept_text is '' when
    every block was boilerplate.
    """
    from pyspark.sql import functions as F

    if words_per_para < 1:
        raise ValueError(f"words_per_para must be >= 1, got {words_per_para}")
    if max_docs < 1:
        raise ValueError(f"max_docs must be >= 1, got {max_docs}")
    w = words_per_para
    toks = F.split(F.trim(F.col(content_col)), r"\s+")
    n_paras = F.greatest(F.ceil(F.size(toks) / F.lit(w)), F.lit(1)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.array_join(F.slice(toks, i * w + 1, w), " "))
    p = (spread(df).select(F.col(id_col).alias("id"),
                           F.posexplode(paras).alias("i", "para"))
           .withColumn("ph", F.xxhash64("para")))
    dfreq = (p.select("id", "ph").distinct()
              .groupBy("ph").agg(F.count("*").alias("nd")))
    keep = F.col("nd") <= max_docs
    kept_struct = F.when(keep, F.struct("i", "para"))
    return (p.join(dfreq, "ph")
             .groupBy("id")
             .agg(F.count("*").alias("n_paras"),
                  F.sum((~keep).cast("long")).alias("n_dropped"),
                  F.array_join(
                      F.transform(
                          F.array_sort(F.collect_list(kept_struct)),
                          lambda s: s["para"]),
                      " ").alias("kept_text")))


def pack_sequences_text(df, id_col: str, shard_col: str, budget: int,
                        text_col: str = "text"):
    """Materialize the PACKED SEQUENCES themselves — one row per
    ``budget``-token training sequence per shard, docs concatenated in
    id order and chunked across boundaries (the text companion to
    ``pack_sequences``' offset table).

    This is the honest grouped-map (``applyInPandas``) case in the UDF
    surface: a sequence's text spans multiple input rows, so no
    row-local Column expression can emit it — each shard group arrives
    as one Arrow batch, pandas concatenates and rechunks, and the
    output cardinality differs from the input's.  Shards are
    independent, so at 100 TB the groups parallelize and no state
    outlives a group.  The last sequence of a shard may be short;
    every other one carries exactly ``budget`` tokens (asserted in
    tests, mirrored by the oracle).
    """
    from pyspark.sql import functions as F  # noqa: F401  (parity w/ sibling)

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")

    def op(pdf):
        import pandas as _pd
        pdf = pdf.sort_values(id_col)
        shard = pdf[shard_col].iloc[0]
        toks = []
        for t in pdf[text_col]:
            toks.extend(x for x in t.strip().split(" ") if x)
        out = []
        for i in range(0, max(len(toks), 1), budget):
            chunk = toks[i:i + budget]
            out.append({shard_col: shard, "seq_id": i // budget,
                        "n_tokens": len(chunk),
                        "seq_text": " ".join(chunk)})
        return _pd.DataFrame(out)

    shard_t = dict(df.dtypes)[shard_col]
    return (df.select(id_col, shard_col, text_col)
              .groupBy(shard_col)
              .applyInPandas(op, schema=f"{shard_col} {shard_t}, "
                                        "seq_id long, n_tokens long, "
                                        "seq_text string"))


def pack_sequences_nosplit(df, id_col: str, shard_col: str, budget: int,
                           text_col: str = "text",
                           len_col: str | None = None):
    """NO-SPLIT sequence packing — the other standard packing mode
    next to :func:`pack_sequences`' concat-and-chunk: documents NEVER
    straddle a sequence boundary.  Docs are taken in ``id`` order per
    shard (deterministic, like every packing op here) and assigned
    first-fit: a doc that would overflow the current sequence's
    ``budget`` starts the next one; a doc longer than ``budget``
    occupies its own sequence at offset 0 (downstream truncates or
    drops — flagged by ``n_tokens > budget``).  Preserving document
    boundaries trades some padding waste for attention masks that
    never cross documents.

    The assignment is a sequential fold (a doc's sequence depends on
    every doc before it), so it runs as a grouped-map
    (``applyInPandas``) per shard — shards parallelize, the fold is
    O(docs-per-shard) Python over an Arrow batch of (id, len) pairs
    only (never the text).  ``len_col`` takes pre-computed lengths
    (e.g. ``bpe_token_count`` for tokenizer-faithful boundaries).

    ``shard_col`` granularity IS the parallelism: with a handful of
    coarse shards the folds serialize.  At scale, pre-compose a finer
    deterministic shard first — e.g. ``F.concat(F.col("source"),
    F.lit("-"), F.pmod(F.xxhash64("doc_id"), F.lit(256)))`` — the
    same move every packing shard layout makes.

    Returns (id, shard, n_tokens, seq_id, offset_in_seq).
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if len_col is None:
        df = df.select(F.col(id_col), F.col(shard_col),
                       token_count(F.col(text_col)).alias("__n"))
    else:
        df = df.select(F.col(id_col), F.col(shard_col),
                       F.col(len_col).alias("__n"))

    def op(pdf):
        pdf = pdf.sort_values(id_col)
        seqs, offs = [], []
        seq, fill = 0, 0
        for n in pdf["__n"]:
            n = int(n)
            if fill > 0 and fill + n > budget:
                seq, fill = seq + 1, 0
            seqs.append(seq)
            offs.append(fill)
            fill += n
        out = pdf[[id_col, shard_col]].copy()
        out["n_tokens"] = pdf["__n"].astype("int64")
        out["seq_id"] = seqs
        out["offset_in_seq"] = offs
        return out

    types = dict(df.dtypes)
    return (df.groupBy(shard_col)
              .applyInPandas(op, schema=f"{id_col} {types[id_col]}, "
                                        f"{shard_col} {types[shard_col]}, "
                                        "n_tokens long, seq_id long, "
                                        "offset_in_seq long"))


def nb_llr_score(df, content_col: str, id_col: str, label_col: str):
    """Naive-Bayes token log-likelihood-ratio scorer — the classifier
    tier of quality filtering (public LLM-data practice: bootstrap a
    cheap linear/NB classifier from a small labeled or heuristic-
    labeled set, then score the whole corpus with it; the heuristic
    rules catch structure, the classifier generalizes to vocabulary).

    Trains add-1-smoothed class-conditional token models from the
    boolean ``label_col`` and scores every document by its mean token
    log-likelihood ratio:
    ``llr(t) = ln((c_pos(t)+1)/(N_pos+V)) - ln((c_neg(t)+1)/(N_neg+V))``.
    Returns (id, n_tokens, mean_llr); mean > 0 leans positive-class
    vocabulary.  Training and scoring are ONE declarative plan over
    the same corpus — no model artifact round-trips the driver.

    Scale shape: one token shuffle for the class counts; the
    (token, llr) model is vocabulary-sized (MBs even at 100 TB) and
    broadcasts back onto the token stream; class totals and V ride a
    1-row broadcast scalar; final per-doc mean is one map-side-
    combinable agg.
    """
    # a NULL label must not train (F.when(y,0).otherwise(1) would
    # silently count its tokens into the NEGATIVE class); unlabeled
    # rows are excluded from both training and scoring
    toks = (df.filter(F.col(label_col).isNotNull())
              .select(
                F.col(id_col).alias("id"),
                F.col(label_col).cast("boolean").alias("y"),
                F.explode(F.split(F.trim(F.lower(F.col(content_col))),
                                  r"\s+")).alias("tok"))
              .filter(F.col("tok") != ""))
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(F.col("y"), 0).otherwise(1)).alias("c_neg"))
    totals = counts.agg(F.sum("c_pos").alias("n_pos"),
                        F.sum("c_neg").alias("n_neg"),
                        F.count("*").alias("v"))
    model = (counts.crossJoin(F.broadcast(totals))
             .select("tok",
                     (F.log((F.col("c_pos") + 1.0)
                            / (F.col("n_pos") + F.col("v")))
                      - F.log((F.col("c_neg") + 1.0)
                              / (F.col("n_neg") + F.col("v"))))
                     .alias("llr")))
    return (toks.join(F.broadcast(model), "tok")
                .groupBy("id")
                .agg(F.count("*").alias("n_tokens"),
                     F.round(F.avg("llr"), 4).alias("mean_llr")))


def _lang_rank(col: Column) -> Column:
    """Position of a language code in LANG_ORDER (tiebreak key)."""
    expr = F.lit(len(LANG_ORDER))
    for i, lg in reversed(list(enumerate(LANG_ORDER))):
        expr = F.when(col == lg, i).otherwise(expr)
    return expr


def mixed_language_report(df, content_col: str, id_col: str,
                          block_tokens: int = 20):
    """Mixed-language detection — the cleaning signal language-ID at
    DOC level cannot give: a page that is half English and half German
    still gets one confident doc-level label, but its per-block labels
    disagree.  Splits each doc into non-overlapping ``block_tokens``-
    word blocks, language-IDs each block with the same stopword vote
    as :func:`lang_id`, and reports the per-doc spread.  Blocks with
    ZERO stopword hits in every language abstain (too short/technical
    to vote).

    Returns (id, n_blocks, n_voting, n_langs, majority_lang,
    is_mixed); ``majority_lang`` is the most-voted language (ties to
    LANG_ORDER), ``'und'`` when every block abstains.

    Scale shape: block explode is map-side (bounded fan-out:
    tokens/block_tokens rows per doc); per-block votes are pure JVM
    Column chains; one (id) agg with a min(struct) majority pick —
    no rank window, one shuffle total.
    """
    toks = F.split(F.trim(F.lower(F.col(content_col))), r"\s+")
    n_blocks = F.ceil(F.size(toks) / block_tokens).cast("int")
    block = F.explode(F.transform(
        F.sequence(F.lit(0), n_blocks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * block_tokens + 1, block_tokens), " ")))
    blocks = spread(df).select(F.col(id_col).alias("id"), block.alias("blk"))
    counts = {lg: stopword_hits(F.col("blk"), STOPWORDS[lg])
              for lg in LANG_ORDER}
    best = F.greatest(*counts.values())
    lang = None
    for lg in LANG_ORDER:
        cond = counts[lg] == best
        lang = F.when(cond, F.lit(lg)) if lang is None else lang.when(
            cond, F.lit(lg))
    labeled = blocks.select(
        "id", F.when(best >= 1, lang).alias("blk_lang"))
    votes = (labeled.groupBy("id", "blk_lang")
             .agg(F.count("*").alias("cnt")))
    per_doc = (votes.groupBy("id").agg(
        F.sum("cnt").alias("n_blocks"),
        F.sum(F.when(F.col("blk_lang").isNotNull(), F.col("cnt"))
               .otherwise(0)).alias("n_voting"),
        F.count_distinct("blk_lang").alias("n_langs"),
        F.min(F.when(F.col("blk_lang").isNotNull(),
                     F.struct((-F.col("cnt")).alias("nc"),
                              _lang_rank(F.col("blk_lang")).alias("rk"),
                              F.col("blk_lang").alias("lg"))))
         .alias("w")))
    return per_doc.select(
        "id", "n_blocks", "n_voting", "n_langs",
        F.coalesce(F.col("w.lg"), F.lit("und")).alias("majority_lang"),
        (F.col("n_langs") >= 2).alias("is_mixed"))


# ---------------------------------------------------------------------------
# Real BPE tokenization (Sennrich, Haddow & Birch 2016, "Neural Machine
# Translation of Rare Words with Subword Units" — the public BPE
# algorithm).  The regex proxy above (regex_token_count) stays as the
# zero-setup estimator; these ops make token-budget sampling/packing
# tokenizer-FAITHFUL when a real merge table matters.
# ---------------------------------------------------------------------------

# fixed demonstration merge table (common English merges, ordered so
# later merges BUILD ON earlier ones — (a,n) before (an,d); rank =
# list position).  Used by the oracle-checked registry query and the
# scale probe; real deployments learn a table with bpe_learn.
BPE_MERGES_EN_DEMO = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("s", "t"), ("e", "n"),
    ("o", "r"), ("an", "d"), ("in", "g"), ("t", "o"),
]

#: end-of-word marker (Sennrich et al. 2016 §3.2 / subword-nmt):
#: fused onto the word's LAST character, so the symbol inventory
#: distinguishes word-final from word-internal occurrences and the
#: original tokenization is recoverable from the subword stream.
BPE_EOW = "</w>"

# marked-variant demo table: word-FINAL merges carry the fused marker
# (('e','r</w>') merges only a word-ending "er"; the unmarked
# ('e','r') only a word-internal one) — the distinction the plain
# table cannot express.
BPE_MERGES_EN_DEMO_EOW = [
    ("t", "h"), ("th", "e</w>"), ("i", "n"), ("a", "n"),
    ("e", "r</w>"), ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"),
    ("s", "t"), ("e", "n"), ("o", "r"), ("an", "d</w>"),
    ("in", "g</w>"), ("t", "o</w>"),
]


def _word_syms(word: str, eow: bool) -> list[str]:
    """Initial symbol sequence for a word: its characters, with the
    end-of-word marker fused onto the last one when ``eow``."""
    if not eow or not word:
        return list(word)
    return list(word[:-1]) + [word[-1] + BPE_EOW]


def bpe_learn(df, content_col: str, num_merges: int = 200,
              max_vocab_words: int = 50_000,
              eow: bool = False) -> list[tuple[str, str]]:
    """Learn a BPE merge table from a corpus (Sennrich et al. 2016):
    repeatedly merge the most frequent adjacent symbol pair in the
    word-frequency vocabulary.

    Scale shape: the word-frequency table aggregates DISTRIBUTED
    (one token shuffle); only the top ``max_vocab_words`` (by count,
    ties to the lexicographically smaller word — zipf coverage makes
    the tail irrelevant to pair counts) collect to the driver, the
    same bounded-model contract as the k-means centroid and PQ
    codebook samples.  Merge learning itself is pure driver-side
    Python over that bounded dict — the MODEL is KBs; the corpus
    never leaves the cluster.

    Deterministic: pair-count ties break to the lexicographically
    smallest pair.  ``eow=True`` fuses the :data:`BPE_EOW` marker
    onto each word's last character (Sennrich et al. 2016 §3.2 /
    subword-nmt), so learned merges distinguish word-final from
    word-internal pairs — the form whose counts match a real subword
    tokenizer's; the default stays markerless to preserve the
    established oracle.  Returns merges in rank order.
    """
    rows = (df.select(F.explode(
                F.split(F.trim(F.lower(F.col(content_col))),
                        r"\s+")).alias("w"))
              .filter(F.col("w") != "")
              .groupBy("w").count()
              .orderBy(F.col("count").desc(), F.col("w"))
              .limit(max_vocab_words)
              .collect())
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        k = tuple(_word_syms(r["w"], eow))
        vocab[k] = vocab.get(k, 0) + int(r["count"])
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + cnt
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {tuple(_merge_pair(list(syms), best)): cnt
                 for syms, cnt in vocab.items()}
    return merges


def _merge_pair(syms: list[str], pair: tuple[str, str]) -> list[str]:
    """Merge ALL non-overlapping occurrences of ``pair``, left to
    right — the same single-pass semantics a literal string replace
    has, so the DuckDB oracle (sentinel-joined replace()) and this
    kernel agree symbol for symbol."""
    a, b = pair
    ab = a + b
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _bpe_encode_word(word: str, ranks: dict[tuple[str, str], int],
                     eow: bool = False) -> int:
    """Greedy BPE application (subword-nmt loop): repeatedly find the
    LOWEST-rank adjacent pair present and merge all its occurrences,
    until no learned pair remains.  Returns the subword count."""
    syms = _word_syms(word, eow)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        syms = _merge_pair(syms, best_pair)
    return len(syms)


def bpe_token_count(df, merges: list[tuple[str, str]],
                    content_col: str, id_col: str, eow: bool = False):
    """Tokenizer-faithful token counting with a learned/broadcast BPE
    merge table.  Returns (id, n_words, n_bpe_tokens).

    Scale shape — the reason this beats shipping a tokenizer over the
    token stream: the Python kernel runs once per DISTINCT WORD
    (vocabulary-sized, zipf-bounded — millions of rows at 100 TB, not
    trillions), via an Arrow-batched pandas UDF with the merge-rank
    table broadcast; the corpus-sized work (doc×word multiset, count
    aggregation, the join back) stays JVM-side.  Feed ``n_bpe_tokens``
    to sampling.sample_token_budget / text.pack_sequences for
    budget-faithful curation.  ``eow=True`` applies the end-of-word
    marker convention — pass it iff the merge table was learned with
    it (``bpe_learn(eow=True)`` / :data:`BPE_MERGES_EN_DEMO_EOW`).
    """
    from pyspark.sql.functions import pandas_udf

    ranks = {(a, b): i for i, (a, b) in enumerate(merges)}
    bc = df.sparkSession.sparkContext.broadcast(ranks)

    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(F.split(
                          F.trim(F.lower(F.col(content_col))),
                          r"\s+")).alias("w"))
              .filter(F.col("w") != ""))
    doc_words = toks.groupBy("id", "w").agg(F.count("*").alias("cnt"))

    @pandas_udf("int")
    def n_sub(words: pd.Series) -> pd.Series:
        rk = bc.value
        cache: dict[str, int] = {}

        def enc(wd: str) -> int:
            n = cache.get(wd)
            if n is None:
                n = _bpe_encode_word(wd, rk, eow)
                cache[wd] = n
            return n

        return words.map(enc)

    wsub = doc_words.select("w").distinct().withColumn("n_sub", n_sub("w"))
    return (doc_words.join(wsub, "w")
            .groupBy("id")
            .agg(F.sum("cnt").alias("n_words"),
                 F.sum(F.col("cnt") * F.col("n_sub"))
                  .alias("n_bpe_tokens")))


# ---------------------------------------------------------------------------
# HTML -> text extraction (r13 VERDICT lead #3): the first stage of
# every web-crawl training corpus (C4 / RefinedWeb / jusText start at
# markup, not clean text — the repo's boilerplate story previously
# began at `common_gram_ratio`).

# Block-level elements: opening OR closing one of these flushes the
# current text block.  Inline elements (a, b, i, em, strong, span,
# code, small, sub, sup) do not.
HTML_BLOCK_TAGS = frozenset(
    "html head body title p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd "
    "table thead tbody tr td th blockquote pre br hr nav header footer "
    "section article aside main figure figcaption form fieldset".split())
HTML_SKIP_TAGS = frozenset(("script", "style", "noscript", "template"))

# jusText/C4-style block classification thresholds (documented, fixed;
# the oracle mirrors them bit-for-bit — all three features are exact
# int/int divisions so the boolean is engine-portable).
HTML_LINK_DENSITY_MAX = 0.4   # > this fraction of chars inside <a> -> nav
HTML_MIN_BLOCK_CHARS = 40     # shorter blocks are headings/crumbs
HTML_STOPWORD_MIN = 0.08      # lower stopword density -> not prose


def _html_blocks(payload: str) -> list[tuple[str, int]]:
    """Parse one HTML document into ordered (text, link_chars) blocks.

    Real parser, not a regex chain: stdlib ``html.parser.HTMLParser``
    handles comments, CDATA script/style content (``</p>`` inside a
    script string must NOT flush a block), attribute quoting, and
    entity/charref decoding (``convert_charrefs``) — and decoded
    entities land as DATA, so ``&lt;eof&gt;`` becomes literal
    ``<eof>`` text instead of being re-parsed as a tag (the classic
    extractor bug).  Text is whitespace-normalized per block;
    ``link_chars`` is the normalized length of text inside anchors
    (link-density numerator).  Empty blocks are dropped.
    """
    from html.parser import HTMLParser

    blocks: list[tuple[str, int]] = []
    state = {"buf": [], "link": 0, "skip": 0, "a_depth": 0}

    def flush() -> None:
        text = " ".join("".join(state["buf"]).split())
        if text:
            blocks.append((text, state["link"]))
        state["buf"] = []
        state["link"] = 0

    class _P(HTMLParser):
        def handle_starttag(self, tag, attrs):
            if tag in HTML_SKIP_TAGS:
                state["skip"] += 1
            elif tag in HTML_BLOCK_TAGS:
                flush()
            elif tag == "a":
                state["a_depth"] += 1

        def handle_endtag(self, tag):
            if tag in HTML_SKIP_TAGS:
                state["skip"] = max(0, state["skip"] - 1)
            elif tag in HTML_BLOCK_TAGS:
                flush()
            elif tag == "a":
                state["a_depth"] = max(0, state["a_depth"] - 1)

        def handle_data(self, data):
            if state["skip"]:
                return
            state["buf"].append(data)
            if state["a_depth"]:
                state["link"] += len(" ".join(data.split()))

    p = _P(convert_charrefs=True)
    p.feed(payload)
    p.close()
    flush()
    return blocks


def extract_html_text(df, html_col: str, id_col: str,
                      link_density_max: float = HTML_LINK_DENSITY_MAX,
                      min_chars: int = HTML_MIN_BLOCK_CHARS,
                      stopword_min: float = HTML_STOPWORD_MIN,
                      passthrough: tuple = ()):
    """HTML -> (id, block_seq, text, is_boilerplate) block table.

    ``passthrough`` names extra input columns to replicate onto every
    block row (r16): columns functionally dependent on the id (url,
    http_status) can then ride the downstream groupBy key instead of
    re-deriving the whole upstream subtree for a re-attach join — the
    §2.4 dl-rides-the-key discipline applied to the crawl chain.

    The jusText/C4 discipline: strip tags/script/style/comments,
    decode entities, segment at block-level elements, then flag each
    block as boilerplate by three features — link density
    (> ``link_density_max``: navigation), length (< ``min_chars``:
    headings/breadcrumbs), and stopword density (< ``stopword_min``:
    not prose; English function-word list :data:`STOPWORDS`).
    ``block_seq`` numbers the surviving (non-empty) blocks 0..n-1 in
    document order.

    Scale shape: ONE ``mapInPandas`` pass — no shuffle, no driver
    hop; the parser is a per-Arrow-batch Python kernel (HTML grammar
    is beyond Column expressions), output is blocks-linear, and the
    narrow parent partitioning is preserved, so at 100 TB this runs
    at scan parallelism like the JPEG decode path.  All three
    classification features are exact integer ratios, so the
    boilerplate boolean is engine-portable (DuckDB oracle mirrors it).
    """
    stop = frozenset(STOPWORDS["en"])
    pt = tuple(passthrough)
    dtypes = dict(df.dtypes)
    # pandas reads an integer column holding a NULL as float64 NaN,
    # which rounds values past 2**53: integer passthroughs cross the
    # kernel as decimal strings and leave as Python ints (or None), so
    # the declared Spark type drives the conversion back
    as_str = {c for c in pt
              if dtypes[c] in ("tinyint", "smallint", "int", "bigint")}
    pt_schema = "".join(f"{c} {dtypes[c]}, " for c in pt)
    schema = f"{id_col} long, {pt_schema}block_seq int, text string, " \
             "is_boilerplate boolean"

    def op(batches):
        for pdf in batches:
            ids, seqs, texts, flags = [], [], [], []
            extras: list[list] = [[] for _ in pt]
            for row in zip(pdf[id_col], pdf[html_col],
                           *(pdf[c] for c in pt)):
                did, payload = row[0], row[1]
                for seq, (text, link) in enumerate(
                        _html_blocks(payload or "")):
                    tc = len(text)
                    toks = text.split(" ")
                    nstop = sum(1 for t in toks if t.lower() in stop)
                    bp = (link / tc > link_density_max
                          or tc < min_chars
                          or nstop / len(toks) < stopword_min)
                    ids.append(did)
                    seqs.append(seq)
                    texts.append(text)
                    flags.append(bp)
                    for i, v in enumerate(row[2:]):
                        extras[i].append(v)
            out = {id_col: pd.Series(ids, dtype="int64")}
            for i, c in enumerate(pt):
                out[c] = (pd.Series([None if v is None else int(v)
                                     for v in extras[i]], dtype=object)
                          if c in as_str else
                          pd.Series(extras[i], dtype=pdf[c].dtype))
            out["block_seq"] = pd.Series(seqs, dtype="int32")
            out["text"] = texts
            out["is_boilerplate"] = pd.Series(flags, dtype="bool")
            yield pd.DataFrame(out)

    return df.select(id_col, html_col,
                     *[F.col(c).cast("string").alias(c) if c in as_str
                       else c for c in pt]).mapInPandas(op, schema=schema)


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) subword tokenizer (r13 VERDICT
# lead #6) — the second major tokenizer family next to bpe_learn.

UNK_PIECE_COST = 100_0  # centi-nats per unknown single char (fixed)

# Fixed demo vocabulary (piece -> integer centi-nat cost, i.e.
# round(-100 * ln p)): common English fragments plus whole words from
# the synthetic-corpus domain, so Viterbi segmentations are
# interesting.  Integer costs make the DP engine-portable — the
# DuckDB oracle reruns the exact lattice with a recursive CTE.
UNIGRAM_VOCAB_EN_DEMO = {
    "a": 350, "e": 320, "i": 360, "o": 355, "u": 400, "t": 370,
    "n": 375, "s": 365, "r": 380, "l": 395, "h": 410, "d": 405,
    "c": 415, "m": 425, "p": 430, "w": 435, "f": 440, "g": 445,
    "b": 450, "y": 455, "v": 460, "k": 470, "x": 520, "j": 530,
    "q": 540, "z": 545,
    "th": 400, "the": 380, "in": 410, "an": 415, "er": 420,
    "re": 425, "on": 430, "at": 435, "en": 440, "or": 445,
    "st": 450, "and": 460, "ing": 455, "to": 465,
    "value": 300, "table": 310, "data": 315, "row": 320,
    "scan": 330, "part": 335, "fast": 340, "slow": 345,
    "filter": 325, "window": 328, "batch": 332, "query": 338,
}


def _viterbi_encode_word(word: str, costs: dict[str, int],
                         unk_cost: int = UNK_PIECE_COST,
                         max_len: int | None = None) -> tuple[int, int]:
    """Min-cost segmentation of ``word`` over the piece vocabulary —
    the unigram-LM Viterbi decode (Kudo 2018).  Every single char is
    always segmentable at ``unk_cost`` (the UNK floor), so the DP
    never dead-ends.  Ties break to FEWER pieces: states compare as
    (cost, n_pieces) lexicographically, exactly the oracle's
    ``ORDER BY cost, np``.  Returns (n_pieces, total_cost)."""
    if not word:
        return 0, 0
    L = max_len if max_len is not None else \
        max((len(p) for p in costs), default=1)
    inf = (1 << 60, 1 << 60)
    dp: list[tuple[int, int]] = [inf] * (len(word) + 1)
    dp[0] = (0, 0)
    for i in range(len(word)):
        c, n = dp[i]
        if c >= inf[0]:
            continue
        cand = (c + unk_cost, n + 1)          # UNK single-char floor
        if cand < dp[i + 1]:
            dp[i + 1] = cand
        for l in range(1, min(L, len(word) - i) + 1):
            pc = costs.get(word[i:i + l])
            if pc is not None:
                cand = (c + pc, n + 1)
                if cand < dp[i + l]:
                    dp[i + l] = cand
    c, n = dp[len(word)]
    return n, c


def unigram_learn(df, content_col: str, vocab_size: int = 200,
                  max_piece_len: int = 4, em_iters: int = 3,
                  max_vocab_words: int = 50_000) -> dict[str, int]:
    """Learn a unigram-LM piece vocabulary (SentencePiece family,
    Kudo 2018) — the sibling trainer to :func:`bpe_learn`, same
    bounded-model contract: the word-frequency table aggregates
    distributed (one token shuffle), only the top ``max_vocab_words``
    rows collect, and training is driver-side Python over that
    bounded dict (the MODEL is KBs; the corpus never leaves the
    cluster).

    Seed = all substrings up to ``max_piece_len`` weighted by word
    frequency; then hard-EM: E-step Viterbi-segments every vocab word
    under current costs and accumulates frequency-weighted piece
    counts (the documented Viterbi simplification of the full
    lattice forward-backward — deterministic, and the fixed point
    the encoder actually uses); M-step re-derives integer centi-nat
    costs ``round(-100 ln p)`` (clamped to 1..UNK_PIECE_COST-1 so
    explicit pieces always beat the UNK floor); prune keeps every
    single char plus the top multi-char pieces by count (ties
    lexicographic).  Corpus Viterbi cost is non-increasing across
    iterations (asserted in tests).  Returns piece -> cost.
    """
    import math

    rows = (df.select(F.explode(
                F.split(F.trim(F.lower(F.col(content_col))),
                        r"\s+")).alias("w"))
              .filter(F.col("w") != "")
              .groupBy("w").count()
              .orderBy(F.col("count").desc(), F.col("w"))
              .limit(max_vocab_words)
              .collect())
    wf = {r["w"]: int(r["count"]) for r in rows}

    def to_costs(counts: dict[str, float]) -> dict[str, int]:
        total = sum(counts.values())
        return {p: min(UNK_PIECE_COST - 1,
                       max(1, int(math.floor(
                           -100.0 * math.log(c / total) + 0.5))))
                for p, c in counts.items() if c > 0}

    def prune(counts: dict[str, float]) -> dict[str, float]:
        singles = {p: c for p, c in counts.items() if len(p) == 1}
        multi = sorted(((p, c) for p, c in counts.items() if len(p) > 1),
                       key=lambda kv: (-kv[1], kv[0]))
        keep = dict(multi[:max(0, vocab_size - len(singles))])
        keep.update(singles)
        return keep

    counts: dict[str, float] = {}
    for w, c in wf.items():
        for i in range(len(w)):
            for l in range(1, min(max_piece_len, len(w) - i) + 1):
                p = w[i:i + l]
                counts[p] = counts.get(p, 0) + c
    counts = prune(counts)
    for _ in range(em_iters):
        costs = to_costs(counts)
        new: dict[str, float] = {}
        for w, c in wf.items():
            for p in _viterbi_pieces(w, costs, max_piece_len):
                new[p] = new.get(p, 0) + c
        # singles must survive even if unused (UNK floor siblings)
        for p in (p for p in counts if len(p) == 1):
            new.setdefault(p, 1)
        counts = prune(new)
    return to_costs(counts)


def _viterbi_pieces(word: str, costs: dict[str, int],
                    max_len: int,
                    unk_cost: int = UNK_PIECE_COST) -> list[str]:
    """The argmin segmentation behind :func:`_viterbi_encode_word`
    (same DP, with backpointers; same (cost, n_pieces) tie-break,
    ties on both broken to the SHORTEST last piece)."""
    if not word:
        return []
    inf = (1 << 60, 1 << 60)
    dp = [inf] * (len(word) + 1)
    back = [0] * (len(word) + 1)
    dp[0] = (0, 0)
    for i in range(len(word)):
        c, n = dp[i]
        if c >= inf[0]:
            continue
        opts = [(1, unk_cost)]
        for l in range(1, min(max_len, len(word) - i) + 1):
            pc = costs.get(word[i:i + l])
            if pc is not None:
                opts.append((l, pc))
        for l, pc in opts:
            cand = (c + pc, n + 1)
            if cand < dp[i + l]:
                dp[i + l] = cand
                back[i + l] = l
    out = []
    j = len(word)
    while j > 0:
        l = back[j]
        out.append(word[j - l:j])
        j -= l
    return out[::-1]


def _unigram_doc_words(df, content_col: str, id_col: str):
    """(id, w, cnt) word multiset — the JVM-side half of unigram
    counting, shared by the from-scratch and standing-table paths."""
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(F.split(
                          F.trim(F.lower(F.col(content_col))),
                          r"\s+")).alias("w"))
              .filter(F.col("w") != ""))
    return toks.groupBy("id", "w").agg(F.count("*").alias("cnt"))


def _unigram_encode_words(words, costs: dict[str, int]):
    """Distinct-word frame (column ``w``) -> (w, n_sub, cost) via the
    Viterbi DP in an Arrow-batched pandas UDF, cost table broadcast —
    the only Python in the unigram family, vocabulary-sized."""
    from pyspark.sql.functions import pandas_udf

    max_len = max((len(p) for p in costs), default=1)
    bc = words.sparkSession.sparkContext.broadcast(dict(costs))

    @pandas_udf("n_sub int, cost long")
    def enc(ws: pd.Series) -> pd.DataFrame:
        cs = bc.value
        cache: dict[str, tuple[int, int]] = {}

        def one(wd: str) -> tuple[int, int]:
            r = cache.get(wd)
            if r is None:
                r = _viterbi_encode_word(wd, cs, max_len=max_len)
                cache[wd] = r
            return r

        pairs = [one(w) for w in ws]
        return pd.DataFrame({"n_sub": [p[0] for p in pairs],
                             "cost": [p[1] for p in pairs]})

    return (words.select("w")
            .withColumn("e", enc("w"))
            .select("w", F.col("e.n_sub").alias("n_sub"),
                    F.col("e.cost").alias("cost")))


def _unigram_doc_sums(doc_words, wsub):
    return (doc_words.join(wsub, "w")
            .groupBy("id")
            .agg(F.sum("cnt").alias("n_words"),
                 F.sum(F.col("cnt") * F.col("n_sub"))
                  .alias("n_unigram_tokens"),
                 F.sum(F.col("cnt") * F.col("cost"))
                  .alias("total_cost_centinats")))


def unigram_token_count(df, costs: dict[str, int], content_col: str,
                        id_col: str):
    """Tokenizer-faithful unigram-LM token counting — the Viterbi
    twin of :func:`bpe_token_count`, same scale shape: the Python DP
    runs once per DISTINCT WORD (vocabulary-sized, zipf-bounded) via
    an Arrow-batched pandas UDF with the cost table broadcast; the
    corpus-sized work (doc x word multiset, the join back, the sums)
    stays JVM-side.  Returns (id, n_words, n_unigram_tokens,
    total_cost_centinats) — the cost sum is the corpus negative
    log-likelihood in centi-nats, exact in int64.
    """
    doc_words = _unigram_doc_words(df, content_col, id_col)
    wsub = _unigram_encode_words(doc_words.select("w").distinct(), costs)
    return _unigram_doc_sums(doc_words, wsub)


def unigram_word_table_sync(words, costs: dict[str, int],
                            location: str):
    """Maintain a STANDING per-word (w, n_sub, cost) table and return
    it covering ``words`` — the daily-job form of the unigram family
    (r14 VERDICT lead #5): the Viterbi table is a pure function of
    (word, vocab), so a long-lived pipeline encodes each word ONCE
    EVER; a new batch anti-joins the standing table and pays the DP
    only for genuinely new vocabulary.  Same append lifecycle as the
    standing dedup index (dedup.minhash_index_append): bootstrap
    writes the table, each sync appends the new-word delta,
    :func:`unigram_word_table_compact` folds the deltas.

    The table is bound to its vocabulary: a ``_VOCAB`` fingerprint
    (sha256 of the sorted cost items) is written at bootstrap and a
    sync under a different vocab fails LOUDLY — stale costs must
    never silently blend (same fail-fast contract as the codecs).
    Duplicate rows (two processes appending the same new word) are
    harmless — (n_sub, cost) is deterministic per word — and are
    dropped on read.
    """
    import hashlib
    import json
    import os

    spark = words.sparkSession
    fp = hashlib.sha256(
        json.dumps(sorted(costs.items())).encode()).hexdigest()[:16]
    tbl = os.path.join(location, "word_costs")
    fpf = os.path.join(location, "_VOCAB")
    if os.path.isdir(tbl):
        got = open(fpf).read().strip() if os.path.exists(fpf) else ""
        if got != fp:
            raise ValueError(
                f"standing unigram table at {location} was built for "
                "a different vocabulary; rebuild it (delete the "
                "directory) instead of blending costs")
        standing = spark.read.parquet(tbl)
        new = (words.select("w").distinct()
               .join(standing.select("w"), "w", "left_anti"))
        if new.count() > 0:
            _unigram_encode_words(new, costs) \
                .write.mode("append").parquet(tbl)
        return spark.read.parquet(tbl).dropDuplicates(["w"])
    os.makedirs(location, exist_ok=True)
    _unigram_encode_words(words.select("w").distinct(), costs) \
        .write.mode("overwrite").parquet(tbl)
    with open(fpf, "w") as f:
        f.write(fp)
    return spark.read.parquet(tbl)


def unigram_word_table_compact(spark, location: str) -> int:
    """Fold append deltas of a standing unigram word table into one
    deduplicated file — tmp-write + atomic directory swap, the same
    crash-safe publish the shard writers use.  Returns row count."""
    import os
    import shutil

    tbl = os.path.join(location, "word_costs")
    if not os.path.isdir(tbl):
        raise ValueError(f"no standing unigram table at {location}")
    tmp = tbl + ".compact-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    compacted = spark.read.parquet(tbl).dropDuplicates(["w"])
    compacted.coalesce(1).write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    old = tbl + ".compact-old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(tbl, old)
    os.rename(tmp, tbl)
    shutil.rmtree(old, ignore_errors=True)
    return n


def unigram_token_count_standing(df, costs: dict[str, int],
                                 content_col: str, id_col: str,
                                 location: str, sync: bool = True):
    """:func:`unigram_token_count` served from the standing word
    table: identical output, but the Viterbi DP runs only for words
    not yet in the table at ``location``.

    ``sync=True`` (ingest/bootstrap): anti-join the corpus vocabulary
    against the table and encode+append the delta first — the daily
    vocabulary-ingest step (one extra corpus pass).

    ``sync=False`` (steady-state serve): ONE corpus pass and ONE
    shuffle total — raw token stream broadcast-hash-joined against
    the (vocab-sized) table, then a single partial-aggregated
    groupBy(id); the from-scratch path's (id, word) pre-aggregation
    exists only to bound the Viterbi UDF's input and is dead weight
    once the DP is a table lookup, so the serve plan drops that
    whole 25M-group exchange.  An IN-PLAN coverage guard (per-group
    missing-word count through ``assert_true``) makes an uncovered
    word raise loudly at execution instead of producing silently
    wrong sums — the fail-fast sibling of the ``_VOCAB``
    fingerprint."""
    if sync:
        doc_words = _unigram_doc_words(df, content_col, id_col)
        wsub = unigram_word_table_sync(
            doc_words.select("w").distinct(), costs, location)
        return _unigram_doc_sums(doc_words, wsub)
    import os

    tbl = os.path.join(location, "word_costs")
    if not os.path.isdir(tbl):
        raise ValueError(
            f"no standing unigram table at {location}; bootstrap "
            "with sync=True or unigram_word_table_sync first")
    wsub = df.sparkSession.read.parquet(tbl).dropDuplicates(["w"])
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(F.split(
                          F.trim(F.lower(F.col(content_col))),
                          r"\s+")).alias("w"))
              .filter(F.col("w") != ""))
    out = (toks.join(F.broadcast(wsub), "w", "left")
           .groupBy("id")
           .agg(F.count("*").alias("n_words"),
                F.sum("n_sub").alias("n_unigram_tokens"),
                F.sum("cost").alias("total_cost_centinats"),
                F.sum(F.col("n_sub").isNull().cast("int"))
                 .alias("__miss")))
    guard = F.assert_true(
        F.col("__miss") == 0,
        F.lit("standing unigram table does not cover this corpus; "
              "run unigram_word_table_sync first"))
    return out.filter(guard.isNull()).drop("__miss")


def _html_anchor_links(payload: str) -> list[tuple[str, str]]:
    """Parse one HTML document into ordered (href, anchor_text) pairs
    — same stdlib parser discipline as :func:`_html_blocks` (CDATA
    script/style skipped, comments dropped, entities decoded in
    anchor text AND in href attribute values).  Anchors without an
    ``href`` attribute are ignored; nested anchors (illegal but seen
    in the wild) close the outer one first, matching browser error
    recovery."""
    from html.parser import HTMLParser

    links: list[tuple[str, str]] = []
    state = {"href": None, "buf": [], "skip": 0}

    def close() -> None:
        if state["href"] is not None:
            links.append((state["href"],
                          " ".join("".join(state["buf"]).split())))
        state["href"] = None
        state["buf"] = []

    class _P(HTMLParser):
        def handle_starttag(self, tag, attrs):
            if tag in HTML_SKIP_TAGS:
                state["skip"] += 1
            elif tag == "a":
                close()                     # browser-style recovery
                href = dict(attrs).get("href")
                if href is not None:
                    state["href"] = href
                    state["buf"] = []

        def handle_endtag(self, tag):
            if tag in HTML_SKIP_TAGS:
                state["skip"] = max(0, state["skip"] - 1)
            elif tag == "a":
                close()

        def handle_data(self, data):
            if not state["skip"] and state["href"] is not None:
                state["buf"].append(data)

    p = _P(convert_charrefs=True)
    p.feed(payload)
    p.close()
    close()
    return links


def extract_html_links(df, html_col: str, id_col: str):
    """HTML -> (id, link_seq, href, anchor) out-link table — the
    crawl-frontier / web-graph stage next to
    :func:`extract_html_text`.  ``link_seq`` numbers anchors 0..n-1
    in document order.  Same scale shape: one ``mapInPandas`` pass,
    no shuffle, output links-linear."""
    schema = f"{id_col} long, link_seq int, href string, anchor string"

    def op(batches):
        for pdf in batches:
            ids, seqs, hrefs, anchors = [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[html_col]):
                for seq, (href, anchor) in enumerate(
                        _html_anchor_links(payload or "")):
                    ids.append(did)
                    seqs.append(seq)
                    hrefs.append(href)
                    anchors.append(anchor)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "link_seq": pd.Series(seqs,
                                                      dtype="int32"),
                                "href": hrefs, "anchor": anchors})

    return df.select(id_col, html_col).mapInPandas(op, schema=schema)


def repetition_report(df, content_col: str, id_col: str,
                      line_words: int = 10):
    """Gopher-style INTRA-document repetition signals (Rae et al.
    2021, table A1) — the quality-filter family the corpus-level
    signals (novelty_ratio, common_gram_ratio) don't cover: a doc
    that repeats ITSELF (boilerplate loops, scraper stutter, SEO
    keyword stuffing) scores clean on cross-doc measures.

    Signals, computed over the single-space word stream
    ``split(trim(text), ' ')`` (the corpus' established grain):

    * ``dup_line_frac`` / ``dup_line_char_frac`` — "lines" are
      consecutive ``line_words``-word blocks (the corpus carries no
      newlines); an occurrence is duplicate when its block text
      appears more than once in the doc.  Char fraction is over the
      summed block chars (``line_char_base``).
    * ``top2_char_frac`` — chars covered by the most frequent word
      2-gram (count × gram length, over ``char_base`` =
      ``length(trim(text))``); ties break to the lexicographically
      smallest gram, and a singleton top gram contributes 0 (Gopher
      applies the raw fraction only to 50+-word docs; on short docs
      one occurrence can clear the threshold vacuously).
    * ``dup5_char_frac`` — chars covered by word 5-grams occurring
      more than once (Σ count × gram length over ``char_base``).
    * ``is_repetitive`` — any Gopher threshold tripped:
      dup_line_frac > 0.30, dup_line_char_frac > 0.20,
      top2_char_frac > 0.20, dup5_char_frac > 0.15.  Fractions are
      pre-rounded to 6 dp before the literal compare, so the flag is
      engine-portable.

    Scale shape: ZERO shuffles.  Every signal lives inside one row —
    lines/grams are built with transform/slice, duplicate counting is
    sorted-array run analysis (array_sort + run boundaries via
    filter/zip_with, O(n log n) per doc), tops/sums fold with
    aggregate.  The whole report is a scan-parallel JVM projection:
    at 100 TB it runs at parquet-scan speed with no exchange, unlike
    the explode+groupBy form whose shuffle would carry every gram.
    Reference fixture discipline for the planted gate corpus:
    queries_pipeline.text_repetition_filter.
    """
    L = int(line_words)
    w = F.split(F.trim(F.col(content_col)), " ")
    d = (df.select(F.col(id_col).alias("id"), w.alias("w"),
                   F.length(F.trim(F.col(content_col)))
                    .alias("char_base"))
           .withColumn("n_words", F.size("w").cast("long")))

    # consecutive L-word blocks; slice() truncates the tail block
    d = d.withColumn("lines", F.expr(
        f"transform(sequence(1, CAST(ceil(size(w) / {L}.0) AS INT)),"
        f" i -> array_join(slice(w, (i-1)*{L}+1, {L}), ' '))"))

    # sorted-run machinery: starts = 1-based positions opening a run;
    # runs = (count, value) structs via zip_with against the shifted
    # starts list (same length, so no null padding).
    def _runs(src: str, out: str):
        return (
            f"CASE WHEN size({src}) = 0 THEN "
            f"  array(named_struct('cnt', CAST(0 AS LONG), 'g', '')) "
            f"ELSE "
            f"  zip_with(_st_{out}, "
            f"    concat(slice(_st_{out}, 2, size(_st_{out})), "
            f"           array(size({src}) + 1)), "
            f"    (a, b) -> named_struct('cnt', CAST(b - a AS LONG), "
            f"                           'g', element_at(_so_{out}, a)))"
            f" END")

    def _with_runs(frame, src: str, out: str):
        frame = frame.withColumn(f"_so_{out}",
                                 F.expr(f"array_sort({src})"))
        # greatest(i-1, 1): ANSI element_at rejects index 0 even on a
        # branch the OR makes dead — at i=1 the self-compare is false
        # and the i = 1 disjunct decides.  The size-0 CASE also dodges
        # sequence(1, 0), which counts DOWN ([1, 0]) rather than
        # producing an empty list.
        frame = frame.withColumn(f"_st_{out}", F.expr(
            f"CASE WHEN size(_so_{out}) = 0 THEN "
            f"CAST(array() AS ARRAY<INT>) ELSE "
            f"filter(sequence(1, size(_so_{out})), i -> i = 1 OR "
            f"element_at(_so_{out}, i) <> "
            f"element_at(_so_{out}, greatest(i - 1, 1))) END"))
        return frame.withColumn(out, F.expr(_runs(src, out)))

    d = _with_runs(d, "lines", "lruns")
    d = d.withColumn("g2", F.expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w)-1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i+1)))"
        " ELSE array() END"))
    d = _with_runs(d, "g2", "g2runs")
    d = d.withColumn("g5", F.expr(
        "CASE WHEN size(w) >= 5 THEN transform(sequence(1, size(w)-4),"
        " i -> array_join(slice(w, i, 5), ' ')) ELSE array() END"))
    d = _with_runs(d, "g5", "g5runs")

    agg_dup_cnt = ("aggregate({0}, CAST(0 AS LONG), (acc, x) -> "
                   "acc + IF(x.cnt > 1, x.cnt, CAST(0 AS LONG)))")
    agg_dup_chars = ("aggregate({0}, CAST(0 AS LONG), (acc, x) -> "
                     "acc + IF(x.cnt > 1, x.cnt * length(x.g), "
                     "CAST(0 AS LONG)))")
    d = d.select(
        "id", "char_base", "n_words",
        F.size("lines").cast("long").alias("n_lines"),
        F.expr(agg_dup_cnt.format("lruns")).alias("n_dup_lines"),
        F.expr(agg_dup_chars.format("lruns")).alias("dup_line_chars"),
        F.expr("aggregate(lruns, CAST(0 AS LONG), (acc, x) -> "
               "acc + x.cnt * length(x.g))").alias("line_char_base"),
        F.expr("aggregate(g2runs, "
               "named_struct('cnt', CAST(0 AS LONG), 'g', ''), "
               "(acc, x) -> IF(x.cnt > acc.cnt OR "
               "(x.cnt = acc.cnt AND x.g < acc.g), x, acc))"
               ).alias("top2"),
        F.expr(agg_dup_chars.format("g5runs")).alias("dup5_chars"),
    )
    # a singleton "top" gram is vacuous repetition — on short docs one
    # occurrence can clear 20% of chars, so coverage requires cnt >= 2
    # (Gopher applies the raw fraction only to 50+-word docs)
    d = d.withColumn("top2_chars",
                     F.expr("IF(top2.cnt > 1, "
                            "top2.cnt * length(top2.g), 0)")
                      .cast("long"))
    frac = lambda n, dd: F.round(F.col(n) / F.greatest(F.col(dd),
                                                       F.lit(1)), 6)
    d = (d.withColumn("dup_line_frac", frac("n_dup_lines", "n_lines"))
          .withColumn("dup_line_char_frac",
                      frac("dup_line_chars", "line_char_base"))
          .withColumn("top2_char_frac", frac("top2_chars", "char_base"))
          .withColumn("dup5_char_frac", frac("dup5_chars", "char_base")))
    return d.select(
        "id", "n_words", "n_lines", "n_dup_lines", "dup_line_chars",
        "line_char_base", "top2_chars", "dup5_chars", "char_base",
        "dup_line_frac", "dup_line_char_frac", "top2_char_frac",
        "dup5_char_frac",
        ((F.col("dup_line_frac") > 0.30)
         | (F.col("dup_line_char_frac") > 0.20)
         | (F.col("top2_char_frac") > 0.20)
         | (F.col("dup5_char_frac") > 0.15)).alias("is_repetitive"))
