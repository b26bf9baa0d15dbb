"""Property-based equivalence tests (hypothesis).

The reference proves operators with fixed-cardinality golden counts
(SURVEY.md §5); these go further: randomized inputs, equivalence
oracles in plain Python or between two independent code paths.
Example counts are kept small — each example is a real Spark job.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from nosql_join_stream_spark.dsl import q
from nosql_join_stream_spark.mql import mql_to_column
from nosql_join_stream_spark.operators.join import salted_join

SLOW = settings(max_examples=12, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

FIELDS = ["o_orderkey", "o_custkey", "o_totalprice"]
RANGE_OPS = {"$gt": "gt", "$gte": "gte", "$lt": "lt", "$lte": "lte",
             "$ne": "ne"}


@st.composite
def predicate(draw):
    field = draw(st.sampled_from(FIELDS))
    op = draw(st.sampled_from(list(RANGE_OPS) + ["$eq", "$in", "$nin"]))
    if op in ("$in", "$nin"):
        val = draw(st.lists(st.integers(0, 2000), min_size=1, max_size=5))
    elif field == "o_totalprice":
        val = draw(st.floats(0, 500000, allow_nan=False, width=32))
    else:
        val = draw(st.integers(0, 2000))
    return field, op, val


@SLOW
@given(preds=st.lists(predicate(), min_size=1, max_size=3),
       conj=st.sampled_from(["$and", "$or"]))
def test_mql_equals_dsl(orders_cached, preds, conj):
    """The MQL string front end and the Q DSL must compile to the same
    filter semantics — row sets equal on random predicates."""
    clauses, dsl_terms = [], []
    for field, op, val in preds:
        clauses.append({field: val if op == "$eq" else {op: val}})
        t = q(field)
        if op == "$eq":
            t = t.eq(val)
        elif op == "$in":
            t = t.isin(*val)
        elif op == "$nin":
            t = t.nin(*val)
        else:
            t = getattr(t, RANGE_OPS[op])(val)
        dsl_terms.append(t.column())
    mql = json.dumps({conj: clauses} if len(clauses) > 1 else clauses[0])
    dsl_col = dsl_terms[0]
    for c in dsl_terms[1:]:
        dsl_col = (dsl_col & c) if conj == "$and" else (dsl_col | c)
    got = {r.o_orderkey for r in
           orders_cached.filter(mql_to_column(mql)).select("o_orderkey").collect()}
    want = {r.o_orderkey for r in
            orders_cached.filter(dsl_col).select("o_orderkey").collect()}
    assert got == want


# --- MQL grammar fuzz vs DuckDB (r8-VERDICT lead #9) ----------------
# Random predicate TREES (nested $and/$or, field-level $not, the full
# comparison/set surface) rendered twice — to MQL JSON for
# mql_to_column, and to ANSI SQL for DuckDB — over a null-bearing
# table, so three-valued-logic divergence anywhere in the grammar
# (NULL-dropping $ne/$nin vs the null-matching $not, nesting,
# multi-branch conjunctions) fails the row-set equality.

_FUZZ_ROWS = [
    (i, a, b, s)
    for i, (a, b, s) in enumerate([
        (None, None, None), (0, 0.5, "x"), (1, 1.25, "y"),
        (2, 2.5, "z"), (3, None, "ab"), (None, 3.5, "x"),
        (4, 0.5, None), (1, 1.25, "ab"), (2, None, "y"),
        (0, 2.5, None), (3, 3.5, "z"), (None, 0.5, "ab"),
    ])
]
_FUZZ_FIELDS = {"a": "int", "b": "float", "s": "str"}
_INT_VALS = [0, 1, 2, 3, 4]
_FLOAT_VALS = [0.5, 1.25, 2.5, 3.5]      # exact binary fractions
_STR_VALS = ["x", "y", "z", "ab"]
_CMP_OPS = ["$eq", "$ne", "$gt", "$gte", "$lt", "$lte"]


@st.composite
def _fuzz_leaf(draw):
    field = draw(st.sampled_from(sorted(_FUZZ_FIELDS)))
    vals = {"int": _INT_VALS, "float": _FLOAT_VALS,
            "str": _STR_VALS}[_FUZZ_FIELDS[field]]
    op = draw(st.sampled_from(_CMP_OPS + ["$in", "$nin", "$not"]))
    if op in ("$in", "$nin"):
        val = draw(st.lists(st.sampled_from(vals), min_size=1,
                            max_size=3, unique=True))
    elif op == "$not":
        inner = draw(st.sampled_from(_CMP_OPS))
        val = (inner, draw(st.sampled_from(vals)))
    else:
        val = draw(st.sampled_from(vals))
    return ("leaf", field, op, val)


_fuzz_tree = st.recursive(
    _fuzz_leaf(),
    lambda ch: st.tuples(st.sampled_from(["$and", "$or"]),
                         st.lists(ch, min_size=1, max_size=3)),
    max_leaves=8)


def _to_mql(node):
    if node[0] == "leaf":
        _, field, op, val = node
        if op == "$eq":
            return {field: val}
        if op == "$not":
            return {field: {"$not": {val[0]: val[1]}}}
        return {field: {op: val}}
    conj, kids = node
    return {conj: [_to_mql(k) for k in kids]}


def _sql_lit(v):
    return f"'{v}'" if isinstance(v, str) else repr(v)


_SQL_CMP = {"$eq": "=", "$ne": "<>", "$gt": ">", "$gte": ">=",
            "$lt": "<", "$lte": "<="}


def _to_sql(node):
    if node[0] == "leaf":
        _, field, op, val = node
        if op in _SQL_CMP:
            return f"({field} {_SQL_CMP[op]} {_sql_lit(val)})"
        if op == "$in":
            return f"({field} IN ({', '.join(map(_sql_lit, val))}))"
        if op == "$nin":
            return f"(NOT {field} IN ({', '.join(map(_sql_lit, val))}))"
        # $not: Mongo semantics — a missing/NULL field MATCHES
        inner = f"{field} {_SQL_CMP[val[0]]} {_sql_lit(val[1])}"
        return f"((NOT ({inner})) OR {field} IS NULL)"
    conj, kids = node
    glue = " AND " if conj == "$and" else " OR "
    return "(" + glue.join(_to_sql(k) for k in kids) + ")"


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(tree=_fuzz_tree)
def test_mql_tree_fuzz_equals_duckdb(spark, tree):
    import duckdb
    import pandas as pd

    df = spark.createDataFrame(_FUZZ_ROWS,
                               "id int, a int, b double, s string")
    mql = json.dumps(_to_mql(tree))
    got = {r.id for r in df.filter(mql_to_column(mql))
           .select("id").collect()}
    # nullable extension dtypes: plain int/float columns would turn
    # None into NaN, which DuckDB treats as a VALUE (> everything),
    # not NULL — exactly the divergence this test exists to catch
    pdf = (pd.DataFrame(_FUZZ_ROWS, columns=["id", "a", "b", "s"])
           .astype({"a": "Int64", "b": "Float64"}))
    con = duckdb.connect()
    con.register("t", pdf)
    want = {r[0] for r in con.execute(
        f"SELECT id FROM t WHERE {_to_sql(tree)}").fetchall()}
    con.close()
    assert got == want, (mql, _to_sql(tree))


@SLOW
@given(keys=st.lists(st.integers(0, 4), min_size=1, max_size=40),
       rkeys=st.lists(st.integers(0, 4), min_size=0, max_size=10))
def test_salted_join_random_skew(spark, keys, rkeys):
    """salted_join must equal the plain join on any key multiset,
    including maximally skewed ones (all rows one key)."""
    left = spark.createDataFrame([(k, i) for i, k in enumerate(keys)],
                                 "k int, lv int")
    right = spark.createDataFrame([(k, i * 10) for i, k in enumerate(rkeys)],
                                  "k int, rv int")
    got = sorted((r.k, r.lv, r.rv)
                 for r in salted_join(left, right, on="k", num_salts=4).collect())
    want = sorted((r.k, r.lv, r.rv)
                  for r in left.join(right, "k").collect())
    assert got == want


@SLOW
@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40), min_size=1, max_size=12))
def test_word_shingles_match_python_reference(spark, texts):
    """word_shingles (zip_with slices) equals the obvious Python set
    construction on arbitrary whitespace-ridden text."""
    from nosql_join_stream_spark.operators.dedup import word_shingles

    def ref(text, n=3):
        toks = text.strip().split()
        if not toks:
            toks = [""] if not text.strip() else toks
        if len(toks) >= n:
            out, seen = [], set()
            for i in range(len(toks) - n + 1):
                g = " ".join(toks[i:i + n])
                if g not in seen:
                    seen.add(g)
                    out.append(g)
            return out
        return [" ".join(toks)]

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    got = {r.i: r.sh for r in
           df.select("i", word_shingles(F.col("text")).alias("sh")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == ref(t), repr(t)


@SLOW
@given(n_left=st.integers(0, 25), n_right=st.integers(0, 25))
def test_zip_streams_pairs_ith_rows(spark, n_left, n_right):
    from nosql_join_stream_spark.operators.combinators import zip_streams
    left = spark.createDataFrame([(i, i * 2) for i in range(n_left)],
                                 "seq int, v int")
    right = spark.createDataFrame([(i, i * 3) for i in range(n_right)],
                                  "seq int, w int")
    z = zip_streams(left, right, ["seq"], ["seq"])
    rows = {(r.l_seq, r.r_seq) for r in z.collect()}
    assert rows == {(i, i) for i in range(min(n_left, n_right))}


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_minhash_finds_planted_high_jaccard_dups(spark, data):
    """Contract: at the planted-dup regime (one token substituted in a
    ~40-token doc → j ≈ 0.85+), MinHash-LSH candidates verified
    exactly must equal the exact n-gram Jaccard pairs."""
    from nosql_join_stream_spark.operators.dedup import (
        minhash_lsh_pairs, ngram_jaccard_pairs)
    rng = data.draw(st.randoms(use_true_random=False))
    vocab = [f"w{i}" for i in range(200)]
    docs = []
    for i in range(20):
        toks = [rng.choice(vocab) for _ in range(40)]
        docs.append((i * 2, " ".join(toks)))
        dup = list(toks)
        dup[rng.randrange(40)] = rng.choice(vocab)  # one-token edit
        docs.append((i * 2 + 1, " ".join(dup)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {(r.id1, r.id2): r.jaccard
             for r in ngram_jaccard_pairs(df, "text", "doc_id",
                                          threshold=0.6).collect()}
    lsh = {(r.id1, r.id2): r.jaccard
           for r in minhash_lsh_pairs(df, "text", "doc_id",
                                      threshold=0.6).collect()}
    # precision: every LSH pair is exact-verified, so values match
    for k, v in lsh.items():
        assert abs(v - exact[k]) < 1e-9
    # recall at high j: every planted pair with j >= 0.8 is found
    for k, v in exact.items():
        if v >= 0.8:
            assert k in lsh, (k, v)


@SLOW
@given(lens=st.lists(st.tuples(st.integers(0, 1), st.integers(1, 9)),
                     min_size=1, max_size=30),
       budget=st.integers(2, 12))
def test_pack_sequences_invariants(spark, lens, budget):
    """Packing is a bijection onto the concatenated token stream:
    within each shard, offsets reconstruct the running sum, every
    offset_in_seq < budget, and seq ids are the straddle-aware floor
    of the global offset (python reference replay)."""
    from nosql_join_stream_spark.operators.text import pack_sequences
    rows = [(i, f"s{shard}", " ".join(["w"] * n))
            for i, (shard, n) in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r.doc_id: r for r in
           pack_sequences(df, "doc_id", "source", budget=budget).collect()}
    offsets: dict[str, int] = {}
    for i, (shard, n) in enumerate(lens):
        key = f"s{shard}"
        off = offsets.get(key, 0)
        r = got[i]
        assert (r.n_tokens, r.seq_id, r.offset_in_seq) == \
            (n, off // budget, off % budget)
        assert 0 <= r.offset_in_seq < budget
        offsets[key] = off + n


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
           st.lists(st.sampled_from("abc"), min_size=0, max_size=12)
             .map(" ".join),
           min_size=1, max_size=8),
       phrase=st.lists(st.sampled_from("abc"), min_size=1, max_size=3)
                .map(" ".join))
def test_phrase_search_matches_python_reference(spark, texts, phrase):
    """phrase_search (positional posting map) equals the obvious
    Python sliding-window count, overlaps included."""
    from nosql_join_stream_spark.operators.retrieval import phrase_search

    words = phrase.split()

    def ref(text):
        toks = text.strip().lower().split()
        return sum(1 for p in range(len(toks) - len(words) + 1)
                   if toks[p:p + len(words)] == words)

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r.id: r.n_matches for r in
           phrase_search(df, "text", "doc_id", phrase).collect()}
    want = {i: ref(t) for i, t in enumerate(texts) if ref(t) > 0}
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ids=st.lists(st.integers(0, 10**12), min_size=1, max_size=40,
                    unique=True),
       cap=st.integers(1, 4))
def test_cap_per_group_property(spark, ids, cap):
    """cap_per_group keeps exactly min(cap, |group|) rows per group,
    and they are the cap smallest sha2-60 id hashes."""
    import hashlib
    from nosql_join_stream_spark.operators.sampling import cap_per_group

    rows = [(i, "g%d" % (i % 3)) for i in ids]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = cap_per_group(df, "grp", "id", cap=cap)
    got = {}
    for r in out.collect():
        got.setdefault(r.grp, set()).add(r.id)

    def h(i):
        return int(hashlib.sha256(str(i).encode()).hexdigest()[:15], 16)

    for g in {"g%d" % (i % 3) for i in ids}:
        members = [i for i in ids if "g%d" % (i % 3) == g]
        want = set(sorted(members, key=lambda i: (h(i), i))[:cap])
        assert got.get(g, set()) == want, g


@SLOW
@given(weights=st.lists(st.integers(1, 40), min_size=5, max_size=25),
       budget=st.integers(5, 120))
def test_budget_per_group_equals_naive_window(spark, weights, budget):
    """budget_per_group (prefiltered, skew-proof) must return EXACTLY
    the rows the naive full-group prefix-sum window would."""
    from pyspark.sql import Window
    from nosql_join_stream_spark.operators import sampling

    rows = [(i, "g", w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, grp string, w long")
    out = {r.id for r in sampling.budget_per_group(
        df, "grp", "id", "w", budget=budget).collect()}
    h = sampling.order_hash(F.col("id"))
    win = (Window.partitionBy("grp").orderBy(h.asc(), F.col("id"))
                 .rowsBetween(Window.unboundedPreceding, -1))
    naive = {r.id for r in
             df.withColumn("spent",
                           F.coalesce(F.sum("w").over(win), F.lit(0)))
               .filter(F.col("spent") < budget).select("id").collect()}
    assert out == naive


@SLOW
@given(texts=st.lists(
    st.lists(st.sampled_from("abcdef"), min_size=1, max_size=30)
      .map(lambda ws: " ".join(ws)),
    min_size=2, max_size=12),
    w=st.integers(1, 5), max_docs=st.integers(1, 3))
def test_drop_common_paragraphs_equals_python_reference(
        spark, texts, w, max_docs):
    """Random corpora: the Spark rebuild must equal a plain-Python
    reimplementation of block splitting, doc-frequency, and in-order
    reassembly."""
    from collections import defaultdict
    from nosql_join_stream_spark.operators import text as textops

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in textops.drop_common_paragraphs(
        df, "text", "doc_id", words_per_para=w,
        max_docs=max_docs).collect()}

    def blocks(t):
        toks = t.strip().split()
        return [" ".join(toks[i * w:(i + 1) * w])
                for i in range(max(-(-len(toks) // w), 1))]

    freq = defaultdict(set)
    for i, t in rows:
        for b in blocks(t):
            freq[b].add(i)
    for i, t in rows:
        bs = blocks(t)
        kept = [b for b in bs if len(freq[b]) <= max_docs]
        assert got[i].n_paras == len(bs)
        assert got[i].n_dropped == len(bs) - len(kept)
        assert got[i].kept_text == " ".join(kept)


def _lev(a: str, b: str) -> int:
    """Plain-Python Levenshtein reference."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(words=st.lists(
    st.text(alphabet="abcdx ", min_size=0, max_size=18),
    min_size=2, max_size=10, unique=True))
def test_edit_distance_pairs_equals_python_brute(spark, words):
    """The PassJoin segment filter must be LOSSLESS on random strings —
    output equals all-pairs Python levenshtein over the same normalized
    keys (tiny alphabet + whitespace makes near-pairs, empty strings,
    and short-bucket keys all common)."""
    import re

    from nosql_join_stream_spark.operators import dedup

    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id1, r.id2, r.distance)
           for r in dedup.edit_distance_pairs(
               df, "text", "doc_id", d=2).collect()}

    def norm(s):
        return re.sub(r"\s+", " ", s.strip().lower())[:32]

    keys = {i: norm(w) for i, w in rows}
    want = set()
    for i in sorted(keys):
        for j in sorted(keys):
            if i < j and len(keys[i]) >= 1 and len(keys[j]) >= 1:
                d = _lev(keys[i], keys[j])
                if d <= 2:
                    want.add((i, j, d))
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_minhash_standing_index_equals_inline_cross(spark, tmp_path_factory,
                                                    data):
    """The standing bucketed band index must answer EXACTLY like the
    inline cross-set PPJoin on random corpora with planted cross-set
    near-dups — same pairs, same jaccard values (the bucketed layout
    is a physical optimization, never a semantic one)."""
    from nosql_join_stream_spark.operators.dedup import (
        minhash_pairs_between_bucketed, ngram_jaccard_pairs_between)
    rng = data.draw(st.randoms(use_true_random=False))
    vocab = [f"w{i}" for i in range(150)]
    corpus, batch = [], []
    for i in range(12):
        toks = [rng.choice(vocab) for _ in range(40)]
        corpus.append((i, " ".join(toks)))
        if i % 2 == 0:  # planted near-dup of a corpus doc in the batch
            dup = list(toks)
            dup[rng.randrange(40)] = rng.choice(vocab)
            batch.append((1000 + i, " ".join(dup)))
        else:           # unrelated batch doc
            batch.append((1000 + i,
                          " ".join(rng.choice(vocab) for _ in range(40))))
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")
    loc = str(tmp_path_factory.mktemp("mh_prop"))
    spark.sql("DROP DATABASE IF EXISTS nsjs_mh_prop CASCADE")
    got = {(r.left_id, r.right_id, r.jaccard) for r in
           minhash_pairs_between_bucketed(
               cdf, bdf, "text", "doc_id", threshold=0.6,
               min_band_matches=1, db="nsjs_mh_prop",
               location=loc, rebuild=True).collect()}
    want = {(r.left_id, r.right_id, r.jaccard) for r in
            ngram_jaccard_pairs_between(
                cdf, bdf, "text", "doc_id", threshold=0.6).collect()}
    # every emitted pair is exact-verified (precision); at the planted
    # j≈0.9 regime single-band recall is ~1, so the sets coincide
    assert got == want and got
    spark.sql("DROP DATABASE IF EXISTS nsjs_mh_prop CASCADE")


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_upsert_keyed_equals_keep_latest_fold(spark, tmp_path_factory, data):
    """MERGE invariant: applying any sequence of batches through
    upsert_keyed_snapshot must equal latest_per_key over their
    concatenation — regardless of key overlap, within-batch
    duplicates, stale rows, or bucket layout."""
    from nosql_join_stream_spark.sinks import (
        latest_per_key, read_keyed_snapshot, upsert_keyed_snapshot,
        write_keyed_snapshot)

    n_batches = data.draw(st.integers(1, 3))
    batches = [
        data.draw(st.lists(
            st.tuples(st.integers(0, 9),          # key (forced overlap)
                      st.integers(0, 20),         # seq
                      st.integers(0, 999)),       # payload
            min_size=1, max_size=12))
        for _ in range(n_batches)]
    # row_number ties are engine-arbitrary, so make (k, seq) globally
    # unique: fold batch index and within-batch position into seq's
    # low digits (later batches still carry larger low bits than an
    # equal-seq earlier batch, preserving ingest order)
    batches = [[(k, s * 1000 + i * 10 + bi, p)
                for i, (k, s, p) in enumerate(b)]
               for bi, b in enumerate(batches)]
    path = str(tmp_path_factory.mktemp("ups") / "t")
    dfs = [spark.createDataFrame(b, "k int, seq int, p int")
           for b in batches]
    write_keyed_snapshot(latest_per_key(dfs[0], "k", ["seq"]), path, "k",
                         num_buckets=4)
    for b in dfs[1:]:
        upsert_keyed_snapshot(spark, path, b, "k", ["seq"])
    got = {(r.k, r.seq, r.p)
           for r in read_keyed_snapshot(spark, path).collect()}
    allrows = dfs[0]
    for b in dfs[1:]:
        allrows = allrows.unionByName(b)
    want = {(r.k, r.seq, r.p)
            for r in latest_per_key(allrows, "k", ["seq"]).collect()}
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_snapshot_cdc_equals_python_model_and_time_travels(
        spark, tmp_path_factory, data):
    """FULL-CDC invariant (model-based): any sequence of mixed
    upsert/delete batches through upsert_keyed_snapshot(delete_col=...)
    must equal the plain-Python SEQUENTIAL-merge fold — batches apply
    in order; within each merge the greatest seq wins among {standing
    row} ∪ {batch rows for the key}, and a winning delete removes the
    key.  This is the statement-level MERGE contract (public table
    formats behave identically): an out-of-order OLDER upsert in a
    later batch resurrects a deleted key, because no deleted-version
    memory is kept — the model encodes that explicitly.  Every
    intermediate version must also time-travel back exactly — the
    immutable-manifest claim under randomized workloads."""
    from nosql_join_stream_spark.sinks import (
        read_keyed_snapshot, upsert_keyed_snapshot, write_keyed_snapshot)

    first = data.draw(st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 20),
                  st.integers(0, 999)),
        min_size=1, max_size=8))
    batches = [
        data.draw(st.lists(
            st.tuples(st.integers(0, 7),          # key (forced overlap)
                      st.integers(0, 20),         # seq
                      st.integers(0, 999),        # payload
                      st.booleans()),             # delete marker
            min_size=1, max_size=10))
        for _ in range(data.draw(st.integers(1, 3)))]
    # make (k, seq) globally unique (row_number ties are engine-
    # arbitrary); batch 0 == the bootstrap, deletes start at batch 1
    first = [(k, s * 1000 + i * 10, p, False)
             for i, (k, s, p) in enumerate(first)]
    batches = [[(k, s * 1000 + i * 10 + bi + 1, p, d)
                for i, (k, s, p, d) in enumerate(b)]
               for bi, b in enumerate(batches)]

    path = str(tmp_path_factory.mktemp("snapcdc") / "t")
    schema = "k int, seq int, p int, is_del boolean"
    state: dict[int, tuple] = {}
    for (k, s, p, _d) in first:
        if k not in state or s > state[k][0]:
            state[k] = (s, p)
    write_keyed_snapshot(
        spark.createDataFrame(
            [(k, s, p) for k, (s, p) in state.items()],
            "k int, seq int, p int"),
        path, "k", num_buckets=4)
    expected_versions = [dict(state)]
    for b in batches:
        upsert_keyed_snapshot(spark, path,
                              spark.createDataFrame(b, schema),
                              "k", ["seq"], delete_col="is_del")
        win: dict[int, tuple] = {}
        for (k, s, p, d) in b:
            prev = win.get(k, state.get(k) and (*state[k], False))
            if prev is None or s > prev[0]:
                win[k] = (s, p, d)
        for k, (s, p, d) in win.items():
            if d:
                state.pop(k, None)
            else:
                state[k] = (s, p)
        expected_versions.append(dict(state))

    # every version time-travels back to its model state
    for v, model in enumerate(expected_versions, start=1):
        got = {(r.k, r.seq, r.p)
               for r in read_keyed_snapshot(spark, path, version=v).collect()}
        assert got == {(k, s, p) for k, (s, p) in model.items()}, f"v{v}"


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_repeated_substring_spans_match_python_reference(spark, data):
    """ExactSubstr spans equal a brute-force Python reference on random
    corpora over a tiny alphabet (which forces plenty of true repeated
    windows, within and across docs) — window marking, >=2 counting,
    and interval merging all pinned at once."""
    from collections import Counter

    from nosql_join_stream_spark.operators.dedup import (
        repeated_substring_spans)

    w = data.draw(st.integers(2, 4))
    docs = data.draw(st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=12),
        min_size=1, max_size=6))
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]

    counts = Counter()
    for _, text in rows:
        t = text.split()
        for i in range(len(t) - w + 1):
            counts[tuple(t[i:i + w])] += 1
    want = set()
    for did, text in rows:
        t = text.split()
        marked = [i for i in range(len(t) - w + 1)
                  if counts[tuple(t[i:i + w])] >= 2]
        spans, cur = [], None
        for i in marked:
            if cur and i <= cur[1]:
                cur[1] = max(cur[1], i + w)
            else:
                cur = [i, i + w]
                spans.append(cur)
        want |= {(did, s, e, e - s) for s, e in spans}

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {tuple(r) for r in
           repeated_substring_spans(df, "text", "doc_id", w=w).collect()}
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_cut_spans_removes_exactly_marked_positions(spark, data):
    """cut_spans must keep exactly the tokens outside the detected
    spans, in order — verified against a Python cut driven by the
    operator's own span output on random repeat-dense corpora."""
    from nosql_join_stream_spark.operators.dedup import (
        cut_spans, repeated_substring_spans)

    w = data.draw(st.integers(2, 3))
    docs = data.draw(st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=10),
        min_size=1, max_size=5))
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = repeated_substring_spans(df, "text", "doc_id", w=w)
    by_doc = {}
    for r in spans.collect():
        by_doc.setdefault(r.id, []).append((r.span_start, r.span_end))
    got = {r.id: (r.n_tokens, r.n_tokens_cut, r.clean_text)
           for r in cut_spans(df, spans, "text", "doc_id").collect()}
    for did, text in rows:
        t = text.split()
        cut = set()
        for s, e in by_doc.get(did, []):
            cut |= set(range(s, e))
        keep = [tok for i, tok in enumerate(t) if i not in cut]
        assert got[did] == (len(t), len(cut), " ".join(keep)), did


# --- r10 sketch/PSI family invariants -------------------------------

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vals=st.lists(st.integers(0, 50), min_size=20, max_size=120),
       dup=st.integers(0, 30))
def test_psi_zero_on_identical_and_symmetric_shift(spark, vals, dup):
    """PSI(X, X) == 0 for ANY distribution (including heavy ties), and
    every psi_term is >= 0 by construction (Gibbs' inequality holds
    per eps-clamped bucket pair)."""
    from nosql_join_stream_spark.operators.expectations import (
        distribution_drift_psi)
    rows = [(float(v),) for v in vals] + [(7.0,)] * dup
    df = spark.createDataFrame(rows, "value double")
    out = distribution_drift_psi(df, df, "value").collect()
    by = {r["bucket"]: r["psi_term"] for r in out}
    assert by[-1] == 0.0
    assert all(t == 0.0 for t in by.values())


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(counts=st.dictionaries(
    st.text(alphabet="abcdefgh", min_size=1, max_size=3),
    st.integers(1, 40), min_size=1, max_size=12))
def test_heavy_hitters_match_exact_multiset(spark, counts):
    """With max_tracked >= distinct count the frequent-items sketch is
    exact: the witness must hold and the reported rows must equal the
    exact top-k (count desc, item asc) for every random multiset."""
    from nosql_join_stream_spark.operators.expectations import (
        sketch_heavy_hitters)
    rows = [(tok,) for tok, n in counts.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "tok string")
    k = min(5, len(counts))
    out = sketch_heavy_hitters(df, "tok", k=k).collect()
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert [(r["item"], r["cnt"]) for r in out] == expect
    assert all(r["hh_ok"] for r in out)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(a=st.sets(st.integers(0, 60), min_size=0, max_size=40),
       b=st.sets(st.integers(0, 60), min_size=0, max_size=40))
def test_theta_overlap_exact_mode_any_sets(spark, a, b):
    """Below the sketch's nominal entries theta runs exact: the
    witness must hold for ANY pair of sets, including empty and
    disjoint ones, and the exact fields must equal set arithmetic."""
    from nosql_join_stream_spark.operators.expectations import (
        sketch_set_overlap)
    rows = ([("A", v) for v in a] + [("B", v) for v in b]
            + [("pad", 999)])  # keeps both filters non-degenerate
    df = spark.createDataFrame(rows, "g string, v long")
    r = sketch_set_overlap(df, "g", "v", "A", "B").collect()[0]
    assert r["n_a"] == len(a) and r["n_b"] == len(b)
    assert r["n_intersect"] == len(a & b)
    assert r["n_union"] == len(a | b)
    assert r["n_a_only"] == len(a - b)
    assert r["theta_ok"]


# --- GIF LZW codec pair (pure Python, no Spark job per example) --------

@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=600), st.integers(2, 8))
def test_gif_lzw_roundtrip_property(data, mcs):
    """encode→decode is the identity for ANY index stream and any min
    code size — covers KwKwK runs, width bumps, and CLEAR-adjacent
    boundaries the handwritten cases can't enumerate."""
    from nosql_join_stream_spark.operators.png_codec import (
        _lzw_decode, _lzw_encode)
    idx = bytes(b % (1 << mcs) for b in data)
    assert _lzw_decode(_lzw_encode(idx, mcs), mcs, len(idx)) == idx


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 31), st.integers(1, 23), st.integers(0, 2**31))
def test_gif_image_roundtrip_property(w, h, seed):
    import numpy as np

    from nosql_join_stream_spark.operators import png_codec
    rng = np.random.default_rng(seed)
    gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    out = png_codec.decode_gif_gray(png_codec.encode_gray_gif(gray))
    assert (out == gray).all()


# --- SCD2 run collapse vs a plain-Python gaps-and-islands oracle -------

@st.composite
def _scd2_events(draw):
    n = draw(st.integers(1, 30))
    rows = []
    for i in range(n):
        rows.append((draw(st.integers(1, 4)),           # key
                     draw(st.integers(1, 12)),          # day
                     i,                                 # unique event id
                     # None included: NULL runs must collapse like any
                     # other value (null-safe boundary, r12)
                     draw(st.sampled_from(["A", "B", "C", None]))))
    return rows


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_scd2_events())
def test_scd2_history_matches_python_oracle(spark, rows):
    from datetime import datetime

    from nosql_join_stream_spark.sinks import scd2_history

    df = spark.createDataFrame(
        [(u, datetime(2024, 1, d), e, v) for u, d, e, v in rows],
        "user_id long, ts timestamp, event_id long, et string")
    got = {(r.user_id, r.valid_from): (r.et, r.valid_to, r.is_current,
                                       r.n_events)
           for r in scd2_history(df, "user_id", ["ts", "event_id"],
                                 "et").collect()}
    # plain-Python oracle: sort per key by (ts, event_id), collapse
    # consecutive runs, chain the intervals
    want = {}
    bykey: dict = {}
    for u, d, e, v in rows:
        bykey.setdefault(u, []).append((datetime(2024, 1, d), e, v))
    for u, evs in bykey.items():
        evs.sort()
        runs = []
        for ts_, _, v in evs:
            if runs and runs[-1][0] == v:
                runs[-1][2] += 1
            else:
                runs.append([v, ts_, 1])
        for i, (v, vf, n) in enumerate(runs):
            vt = runs[i + 1][1] if i + 1 < len(runs) else None
            want[(u, vf)] = (v, vt, vt is None, n)
    assert got == want
