"""Property-based tests (hypothesis) for the correctness-critical
operators — SURVEY.md §5.4: merge idempotence and reference semantics,
dedup fixpoint, SCD2 replay, snapshot-diff patch round-trip, shard
packing vs the naive formulation.

Examples are deliberately tiny (Spark job per example); null keys and
duplicate keys are drawn explicitly because they are the historical
bug surface of MERGE rewrites.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from python_tool_setup_spark.ingestion.versioned import snapshot_diff
from python_tool_setup_spark.llm.pipeline import pack_shards
from python_tool_setup_spark.operators.merge import merge_upsert
from python_tool_setup_spark.operators.scd import scd2_apply, scd2_init

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.one_of(st.integers(min_value=0, max_value=5), st.none())
vals = st.text(alphabet="abc", min_size=0, max_size=2)
# unique per-table keys (SQL MERGE forbids dup source keys; dup TARGET
# keys are legal and must each be replaced)
table = st.lists(st.tuples(keys, vals), max_size=6, unique_by=lambda r: r[0])
multiset = st.lists(st.tuples(keys, vals), max_size=6)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _bag(df):
    from collections import Counter

    return Counter((r["k"], r["v"]) for r in df.collect())


@SETTINGS
@given(target=multiset, source=table)
def test_merge_matches_reference_semantics(spark, target, source):
    got = _bag(merge_upsert(_df(spark, target), _df(spark, source), ["k"]))
    src = dict(source)
    # reference semantics: every matched target row replaced by its
    # source row (null never matches), unmatched source rows appended
    expect = [
        (k, src[k]) if (k is not None and k in src) else (k, v) for k, v in target
    ]
    expect += [(k, v) for k, v in source
               if k is None or k not in {t[0] for t in target if t[0] is not None}]
    from collections import Counter

    assert got == Counter(expect)


@SETTINGS
@given(target=multiset, source=multiset)
def test_merge_duplicate_source_keys_multiply_matches(spark, target, source):
    # no dedup: each target row becomes one updated copy per matching
    # source row (or stays as-is with no match); source rows whose key
    # is null or absent from the target are inserted
    from collections import Counter

    got = _bag(merge_upsert(_df(spark, target), _df(spark, source), ["k"]))
    expect = Counter()
    for k, v in target:
        hits = [(k, sv) for sk, sv in source if k is not None and sk == k]
        expect.update(hits or [(k, v)])
    tkeys = {k for k, _ in target if k is not None}
    expect.update((k, v) for k, v in source if k is None or k not in tkeys)
    assert got == expect


nonnull_table = st.lists(
    st.tuples(st.integers(min_value=0, max_value=5), vals),
    max_size=6,
    unique_by=lambda r: r[0],
)


@SETTINGS
@given(target=multiset, source=nonnull_table)
def test_merge_idempotent(spark, target, source):
    # idempotence holds only for NON-NULL source keys: a null key never
    # matches (SQL MERGE semantics), so replaying re-inserts it — the
    # reference-semantics test above pins that behavior explicitly
    t, s = _df(spark, target), _df(spark, source)
    once = merge_upsert(t, s, ["k"])
    twice = merge_upsert(once, s, ["k"])
    assert _bag(once) == _bag(twice)


@SETTINGS
@given(rows=multiset)
def test_dedup_fixpoint(spark, rows):
    df = _df(spark, rows)
    once = df.dropDuplicates(["k"])
    key = lambda k: (k is None, k)  # noqa: E731
    assert sorted((r["k"] for r in once.dropDuplicates(["k"]).collect()), key=key) \
        == sorted((r["k"] for r in once.collect()), key=key)


@SETTINGS
@given(b1=table, b2=table)
def test_scd2_replay_idempotent_and_one_current_per_key(spark, b1, b2):
    if not b1:
        return
    hist = scd2_init(_df(spark, b1), ["k"], "2024-01-01 00:00:00")
    out = scd2_apply(hist, _df(spark, b2), ["k"], ["v"], "2024-02-01 00:00:00")
    replay = scd2_apply(out, _df(spark, b2), ["k"], ["v"], "2024-03-01 00:00:00")

    def snap(df):
        from collections import Counter

        return Counter(
            (r["k"], r["v"], str(r["valid_from"]), str(r["valid_to"]),
             r["is_current"]) for r in df.collect()
        )

    assert snap(out) == snap(replay)
    per_key = (
        out.filter(F.col("is_current"))
        .groupBy("k")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert per_key == 0


@SETTINGS
@given(old=table, new=table)
def test_snapshot_diff_patches_old_to_new(spark, old, new):
    o, n = _df(spark, old), _df(spark, new)
    diff = snapshot_diff(o, n, ["k"]).collect()
    ins = {(r["k"], r["v"]) for r in diff if r["_change_type"] == "insert"}
    dels = {(r["k"], r["v"]) for r in diff if r["_change_type"] == "delete"}
    pre = {(r["k"], r["v"]) for r in diff if r["_change_type"] == "update_preimage"}
    post = {(r["k"], r["v"]) for r in diff if r["_change_type"] == "update_postimage"}
    patched = (set(_bag(o).keys()) - dels - pre) | ins | post
    assert patched == set(_bag(n).keys())


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.sampled_from(["a", "b"]),
            st.integers(min_value=1, max_value=99),
        ),
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    budget=st.integers(min_value=50, max_value=400),
)
def test_pack_shards_matches_naive(spark, rows, budget):
    if not rows:
        return
    df = spark.createDataFrame(rows, "ord int, g string, tok int")
    fast = pack_shards(df, "g", "ord", "tok", budget=budget, chunk_size=7)
    w = Window.partitionBy("g").orderBy("ord").rowsBetween(
        Window.unboundedPreceding, -1
    )
    naive = df.withColumn(
        "shard_id",
        (F.coalesce(F.sum("tok").over(w), F.lit(0)) / budget).cast("bigint"),
    )
    assert {(r["g"], r["ord"]): r["shard_id"] for r in fast.collect()} == {
        (r["g"], r["ord"]): r["shard_id"] for r in naive.collect()
    }


# ------------------------------------------------- round-2 operators ----

edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=0, max_value=6),
    ),
    min_size=1,
    max_size=12,
)


@SETTINGS
@given(edges=edge_lists)
def test_pagerank_conserves_mass_and_stays_positive(spark, edges):
    from python_tool_setup_spark.operators.graph import pagerank

    e = spark.createDataFrame(edges, "src long, dst long")
    ranks = [r.rank for r in pagerank(e, iterations=4).collect()]
    assert abs(sum(ranks) - 1.0) < 1e-6
    assert all(r > 0 for r in ranks)


tok_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=50),
              st.integers(min_value=0, max_value=9)),
    min_size=1, max_size=20, unique_by=lambda r: r[0],
)


@SETTINGS
@given(rows=tok_rows, seq_len=st.integers(min_value=2, max_value=16))
def test_pack_sequences_matches_naive_window(spark, rows, seq_len):
    from python_tool_setup_spark.llm.pipeline import pack_sequences

    df = spark.createDataFrame(rows, "k long, tok long")
    got = {
        r.k: (r.seq_id, r.seq_offset, r.end_seq_id)
        for r in pack_sequences(
            df.withColumn("g", F.lit("x")), "g", "k", "tok", seq_len,
            chunk_size=3,
        ).collect()
    }
    # naive reference: running start positions in k order
    start = 0
    expect = {}
    for k, tok in sorted(rows):
        if tok > 0:
            expect[k] = (start // seq_len, start % seq_len,
                         (start + tok - 1) // seq_len)
            start += tok
    assert got == expect


iv_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=40),
              st.integers(min_value=0, max_value=15)),
    min_size=1, max_size=8,
)
pt_lists = st.lists(st.integers(min_value=-5, max_value=60),
                    min_size=1, max_size=25)


@SETTINGS
@given(ivs=iv_lists, pts=pt_lists, width=st.integers(min_value=1, max_value=9))
def test_binned_interval_join_matches_naive(spark, ivs, pts, width):
    from python_tool_setup_spark.operators.asof import binned_interval_join

    intervals = spark.createDataFrame(
        [(i, s, s + ln) for i, (s, ln) in enumerate(ivs)],
        "iid long, s long, e long",
    )
    points = spark.createDataFrame([(p,) for p in pts], "p long")
    got = sorted(
        (r.iid, r.p)
        for r in binned_interval_join(
            points, intervals, "p", "s", "e", bin_width=width
        ).collect()
    )
    expect = sorted(
        (i, p)
        for i, (s, ln) in enumerate(ivs)
        for p in pts
        if s <= p <= s + ln
    )
    assert got == expect


id_rows = st.lists(st.integers(min_value=-100, max_value=100),
                   min_size=1, max_size=30, unique=True)


@SETTINGS
@given(ks=id_rows, chunk=st.integers(min_value=1, max_value=7))
def test_assign_global_ids_is_rank_order(spark, ks, chunk):
    from python_tool_setup_spark.llm.pipeline import assign_global_ids

    df = spark.createDataFrame([(k,) for k in ks], "k long")
    got = {
        r.k: r.global_id
        for r in assign_global_ids(df, "k", chunk_size=chunk).collect()
    }
    assert got == {k: i for i, k in enumerate(sorted(ks))}
