"""Scale-safety regression tests for the dedup/ANN pair finders (VERDICT r1
items 3/5/10): the banded paths must stay equi-joins — no CartesianProduct /
BroadcastNestedLoopJoin may (re)appear in their physical plans — and the
production xxhash64 MinHash path must find the same injected duplicates as
the oracle-portable md5 path."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lagespark import harness
from lagespark import harness2  # noqa: F401  (registers the dedup queries)
from lagespark import harness3  # noqa: F401  (registers the image queries)
from lagespark.operators.dedup import banded_pairs

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="simple") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _assert_no_all_pairs(plan: str, what: str):
    assert "CartesianProduct" not in plan, f"{what}: all-pairs CartesianProduct"
    assert "BroadcastNestedLoopJoin" not in plan, f"{what}: nested-loop join"


def test_simhash_pairs_plan_is_banded(spark):


    df = harness.QUERIES["q82b-dedup-simhash-pairs"](spark, SF)
    _assert_no_all_pairs(plan_of(df), "q82b")


def test_minhash_fast_plan_is_banded(spark):


    df = harness.QUERIES["q72b-dedup-minhash-fast"](spark, SF)
    _assert_no_all_pairs(plan_of(df), "q72b")


def test_minhash_oracle_plan_is_banded(spark):


    df = harness.QUERIES["q72-dedup-minhash-lsh"](spark, SF)
    _assert_no_all_pairs(plan_of(df), "q72")


def test_phash_neardup_plan_is_banded(spark):
    from lagespark.operators import image_ops

    image_ops.set_image_batching(spark)
    imgs = image_ops.generate_with_neardups(spark, 64, partitions=4)
    df = image_ops.phash_neardup_pairs(imgs, max_hamming=6)
    _assert_no_all_pairs(plan_of(df), "phash pairs")


def test_hamming_pairs_matches_bruteforce(spark):
    """Banded hamming_pairs == the naive all-pairs result (pigeonhole bound
    is exact for hamming <= max_hamming)."""
    from lagespark.operators import dedup

    rows = [(i, (i * 2654435761) % 65536) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    banded = {
        (r.a, r.b, r.hamming)
        for r in dedup.hamming_pairs(df, "simhash", bits=16, max_hamming=2).collect()
    }
    a = df.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    b = df.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    naive = {
        (r.a, r.b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
        )
        .filter(F.col("hamming") <= 2)
        .select("a", "b", "hamming")
        .collect()
    }
    assert banded == naive


def test_minhash_fast_finds_injected_duplicates(spark):
    """Exact duplicates share every band; heavily-overlapping docs share at
    least one — the production path must surface both kinds."""
    from lagespark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, f"document number {i} with unrelated filler content {i * 7}") for i in range(40)]
    rows += [(100, base), (101, base)]  # exact dup pair
    rows += [(102, base + " x"), (103, base + " y")]  # near dups of base
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b) for r in dedup.minhash_pairs_fast(df, perms=8, band_rows=2).collect()}
    assert (100, 101) in pairs
    near = {p for p in pairs if p[0] >= 100}
    assert {(100, 102), (100, 103), (101, 102), (101, 103)} & near


def test_minhash_null_and_empty_text_emit_no_pairs(spark):
    """ADVICE round 2: null/empty-text docs must NOT band together (an
    all-null signature would give every such doc identical band keys in all
    bands → spurious all-pairs). Both the md5-oracle and the fast path must
    drop them before banding."""
    from lagespark.operators import dedup

    rows = [(1, None), (2, None), (3, ""), (4, "ab"), (5, "real text one"),
            (6, "real text one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in (dedup.minhash_pairs, dedup.minhash_pairs_fast):
        pairs = {(r.a, r.b) for r in fn(df, perms=8, band_rows=2).collect()}
        assert (5, 6) in pairs, f"{fn.__name__} must keep real duplicates"
        bad = {p for p in pairs if p[0] in (1, 2, 3) or p[1] in (1, 2, 3)}
        assert not bad, f"{fn.__name__} emitted null/empty-text pairs: {bad}"


def test_lsh_jaccard_pipeline_precision_and_recall(spark):
    """q71b shape: every emitted pair verifies (precision exact); injected
    exact duplicates are all recovered (recall on jaccard=1.0 pairs is 1 —
    identical signatures share every band); plan has no cartesian."""
    from lagespark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(150)
    dup = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    d = docs.unionByName(dup)
    out = dedup.minhash_jaccard_pairs(d, threshold=0.62)
    _assert_no_all_pairs(plan_of(out), "q71b")
    pdf = out.toPandas()
    assert (pdf["jaccard"] >= 0.62).all()
    got = {(r.a, r.b) for r in pdf.itertuples()}
    injected = {
        (int(r.doc_id), int(r.doc_id) + 1_000_000) for r in dup.select(
            (F.col("doc_id") - 1_000_000).alias("doc_id")
        ).collect()
    }
    assert injected <= got, injected - got
    # exact-refine agreement: the pipeline's pairs are a SUBSET of the
    # bruteforce jaccard pairs at the same threshold (precision = 1)
    brute = {
        (r.a, r.b)
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.62).collect()
    }
    assert got <= brute


def test_cosine_pairs_lsh_recall_on_injected(spark):
    """q74b shape: exact duplicates (cos = 1.0) must be recovered by the
    sign-LSH bucket path (identical sketches in every table), results refine
    exactly, and the plan stays an equi-join."""
    from lagespark.operators import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    dup = e.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    d = e.unionByName(dup)
    out = similarity.cosine_pairs_lsh(d, threshold=0.85)
    _assert_no_all_pairs(plan_of(out), "q74b")
    pdf = out.toPandas()
    assert (pdf["cos"] >= 0.85).all()
    got = {(r.a, r.b) for r in pdf.itertuples()}
    injected = {
        (int(v), int(v) + 1_000_000)
        for (v,) in e.filter(F.col("vec_id") % 20 == 0).select("vec_id").collect()
    }
    assert injected <= got, injected - got
    # precision vs the exact bounded baseline
    exact = {
        (r.a, r.b) for r in similarity.cosine_pairs(d, threshold=0.85).collect()
    }
    assert got <= exact


def test_minhash_fast_vs_md5_candidates(spark):
    """Different hash families → candidate sets may differ on borderline
    pairs, but both must agree on the high-similarity core: every pair the
    md5 path finds with verified Jaccard >= 0.8 must also be found fast."""
    from lagespark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    dup = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    d = docs.unionByName(dup)
    md5_pairs = dedup.minhash_pairs(d, perms=8, band_rows=2)
    fast_pairs = {
        (r.a, r.b) for r in dedup.minhash_pairs_fast(d, perms=8, band_rows=2).collect()
    }
    # exact-duplicate injected pairs (jaccard = 1.0) are found by BOTH
    exact = {
        (r.a, r.b)
        for r in md5_pairs.join(
            d.select(F.col("doc_id").alias("a"), F.col("text").alias("ta")), "a"
        )
        .join(d.select(F.col("doc_id").alias("b"), F.col("text").alias("tb")), "b")
        .filter(F.col("ta") == F.col("tb"))
        .select("a", "b")
        .collect()
    }
    assert exact, "fixture must inject exact duplicates"
    assert exact <= fast_pairs


@pytest.mark.parametrize("bits,maxh", [(16, 1), (16, 3), (24, 2), (12, 4)])
def test_hamming_pairs_matches_bruteforce_params(spark, bits, maxh):
    from lagespark.operators import dedup

    mask = (1 << bits) - 1
    rows = [(i, (i * 2654435761 + 17) % (mask + 1)) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    banded = {
        (r.a, r.b)
        for r in dedup.hamming_pairs(df, "simhash", bits=bits, max_hamming=maxh).collect()
    }
    a = df.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    b = df.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    naive = {
        (r.a, r.b)
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("h", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("h") <= maxh)
        .select("a", "b")
        .collect()
    }
    assert banded == naive


# ---------------------------------------------------------------------------
# banded_pairs: the one pair-emission primitive
# ---------------------------------------------------------------------------

_STR_IDS = st.text("abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=6)
_LONG_IDS = st.integers(min_value=-(2**62), max_value=2**62)


@st.composite
def _key_tables(draw):
    """One or two key tables over the same band count. Band keys come from a
    3-value alphabet so pairs collide in several bands; `hot` puts every row
    of both sides in ONE band-0 bucket. Ids are unique per side — the
    helper's precondition — and may overlap across sides."""
    n_bands = draw(st.integers(min_value=1, max_value=4))
    ids = draw(st.sampled_from([_LONG_IDS, _STR_IDS]))
    hot = draw(st.booleans())

    def side():
        rows = draw(st.lists(ids, min_size=0, max_size=12, unique=True))
        keys = draw(
            st.lists(
                st.lists(st.integers(0, 2), min_size=n_bands, max_size=n_bands),
                min_size=len(rows),
                max_size=len(rows),
            )
        )
        return {i: ([0] + k[1:]) if hot else k for i, k in zip(rows, keys)}

    return n_bands, side(), side()


def _keys_df(spark, table, string_ids):
    """(id, band, band_key, _bks, w): the helper's input shape, carrying a
    per-id payload `w` to check carry columns follow their id."""
    rows = [
        (i, b, k, bks, f"w{i}")
        for i, bks in table.items()
        for b, k in enumerate(bks)
    ]
    id_t = "string" if string_ids else "bigint"
    return spark.createDataFrame(
        rows, f"id {id_t}, band int, band_key bigint, _bks array<bigint>, w string"
    )


def _brute_pairs(left, right, self_join):
    return {
        (x, y)
        for x, kx in left.items()
        for y, ky in right.items()
        if (x < y if self_join else x != y) and any(p == q for p, q in zip(kx, ky))
    }


def _check_banded(got, want):
    pairs = [(r.a, r.b) for r in got]
    assert len(pairs) == len(set(pairs)), "a pair was emitted more than once"
    assert set(pairs) == want
    assert all(r.w_a == f"w{r.a}" and r.w_b == f"w{r.b}" for r in got)


def test_banded_pairs_states_unique_id_precondition():
    assert "ids are unique within each side" in banded_pairs.__doc__


@settings(
    max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(_key_tables())
def test_banded_pairs_self_join_matches_bruteforce(spark, tables):
    n_bands, left, _ = tables
    string_ids = any(isinstance(i, str) for i in left)
    got = banded_pairs(_keys_df(spark, left, string_ids), n_bands).collect()
    _check_banded(got, _brute_pairs(left, left, self_join=True))


@settings(
    max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(_key_tables())
def test_banded_pairs_two_sided_matches_bruteforce(spark, tables):
    n_bands, left, right = tables
    string_ids = any(isinstance(i, str) for i in (*left, *right))
    got = banded_pairs(
        _keys_df(spark, left, string_ids),
        n_bands,
        right=_keys_df(spark, right, string_ids),
    ).collect()
    _check_banded(got, _brute_pairs(left, right, self_join=False))


def test_banded_pairs_hot_bucket(spark):
    """Every id shares one key in every band: all k(k-1)/2 pairs, once each."""
    table = {i: [7, 7, 7] for i in range(30)}
    got = banded_pairs(_keys_df(spark, table, False), 3).collect()
    _check_banded(got, _brute_pairs(table, table, self_join=True))
    assert len(got) == 30 * 29 // 2


_PAIR_QUERIES = [
    "q72-dedup-minhash-lsh",
    "q72b-dedup-minhash-fast",
    "q82b-dedup-simhash-pairs",
    "q74b-dedup-embed-cosine-lsh",
    "q76-ann-lsh",
    "q85-img-phash-dedup",
]
_BUCKET_JOIN = re.compile(r"Join \[(band|bucket)#")


def _bucket_join_consumers(df) -> list[str | None]:
    """Node name of the first operator above each (band | bucket) equi-join
    that is not a Project or Filter (None: the join feeds the output)."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.initialPlan()
    found = []

    def walk(node, above):
        if "Join" in node.nodeName() and _BUCKET_JOIN.search(node.simpleString(50)):
            found.append(next(
                (n for n in reversed(above) if n not in ("Project", "Filter")), None
            ))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), above + [node.nodeName()])

    walk(root, [])
    return found


@pytest.mark.parametrize("name", _PAIR_QUERIES)
def test_pair_stream_is_not_reaggregated(spark, name):
    """Pairs come out of banded_pairs' bucket join with the min-band dedup
    as a map-side filter: no HashAggregate (distinct / dropDuplicates) or
    Exchange may consume the quadratic pair stream above the join."""
    from lagespark.operators import image_ops

    image_ops.set_image_batching(spark)
    consumers = _bucket_join_consumers(harness.QUERIES[name](spark, SF))
    assert consumers, f"{name}: no (band | bucket) equi-join in the plan"
    for c in consumers:
        assert c is None or not (c.endswith("HashAggregate") or "Exchange" in c), (
            f"{name}: {c} consumes the pair stream"
        )


def test_minhash_aggregate_signature_matches_transform_reference(spark):
    """The one-pass aggregate minhash signature equals the old
    perms×(transform + array_min) computation bit-for-bit."""
    from lagespark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = dedup._spread(
        docs.filter(F.col("text").isNotNull()).select("doc_id", "text")
    )
    sh = base.select(
        "doc_id", dedup.shingle_col("text", 3, distinct=False).alias("shs")
    ).filter(F.size("shs") > 0)
    perms = 8

    def _perm(p):
        return lambda s: F.xxhash64(F.lit(p), s)

    ref = sh.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("shs"), _perm(p))).alias(f"mh{p}")
            for p in range(perms)
        ],
    )
    init = F.struct(
        *[F.lit(2**63 - 1).cast("long").alias(f"m{p}") for p in range(perms)]
    )

    def _merge(acc, s):
        return F.struct(
            *[
                F.least(acc[f"m{p}"], F.xxhash64(F.lit(p), s)).alias(f"m{p}")
                for p in range(perms)
            ]
        )

    agg = sh.select("doc_id", F.aggregate("shs", init, _merge).alias("_mh")).select(
        "doc_id", *[F.col(f"_mh.m{p}").alias(f"mh{p}") for p in range(perms)]
    )
    assert ref.exceptAll(agg).count() == 0 and agg.exceptAll(ref).count() == 0


# -- bitset refine: Spark-exact rounding (round-7 ADVICE #1) -----------------


def test_round_like_spark_matches_spark_round(spark):
    from lagespark.operators import dedup

    # the documented divergence case + a dense grid of small ratios
    # (includes many exact 4-dp halves whose nearest double sits below)
    ratios = [(131, 160)] + [(i, j) for j in range(1, 40) for i in range(1, j)]
    vals = [i / j for i, j in ratios]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r[0] for r in sdf.selectExpr("round(x, 4)").collect()]
    got = [dedup._round_like_spark(v) for v in vals]
    assert got == want
    assert dedup._round_like_spark(131 / 160) == 0.8188  # binary-floor gives .8187


def test_bitset_refine_emits_spark_rounded_values(spark):
    """End-to-end: a pair whose jaccard is exactly 131/160 must come out of
    the BITSET path as 0.8188 (Spark ROUND), not the binary-floor 0.8187."""
    import numpy as np
    import pandas as pd

    from lagespark.operators import dedup

    # two docs with |A|=|B|=160-ish shingle sets intersecting in 131 is hard
    # to author via text; drive _refine_bitset directly with synthetic
    # hashed-shingle sets: A = 0..159, B = 29..188 -> inter=131, union=189?
    # No: choose A = 0..144 (145), B = 116..159 + 0..115? Simplest exact
    # construction: |A| = 145, |B| = 146, inter = 131 -> union = 160,
    # jac = 131/160 = 0.81875 >= 0.8.
    a_set = list(range(145))
    b_set = list(range(14, 145)) + list(range(1000, 1015))
    assert len(set(a_set) & set(b_set)) == 131
    assert len(set(a_set) | set(b_set)) == 160
    sh = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "sh": [a_set, b_set]})
    )
    cand = spark.createDataFrame([(1, 2)], "a long, b long")
    out = dedup._refine_bitset(cand, sh, "doc_id", 0.8, 256 << 20)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["jaccard"] == 0.8188
    del np  # silence linters; numpy presence is the bitset path's precondition


# -- bitset refine: broadcast lifecycle (round-7 ADVICE #2) ------------------


def test_bitset_broadcast_unpersisted_on_next_call(spark):
    from lagespark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    for _ in range(2):
        out = dedup.minhash_jaccard_pairs(docs, threshold=0.62)
        out.count()
    # the previous call's broadcast was popped + unpersisted; only the most
    # recent survives the session
    assert len(dedup._BITSET_BCS) <= 1


# -- fit_banding_matched + derived defaults ------------------------------------


def test_fit_banding_matched_pins():
    from lagespark.operators import dedup

    # the 0.8-threshold trap: static (8, 2) had t* ~= 0.5; matched banding
    # lands t* ~= 0.707 with recall ~= 0.91
    assert dedup.fit_banding_matched(0.8) == (48, 6)
    assert dedup.fit_banding_matched(0.62) == (64, 4)
    for thr in (0.5, 0.62, 0.7, 0.8, 0.9):
        perms, r = dedup.fit_banding_matched(thr)
        b = perms // r
        assert perms % r == 0 and perms <= 64
        tstar = (1.0 / b) ** (1.0 / r)
        recall = 1.0 - (1.0 - thr**r) ** b
        assert tstar <= thr and recall >= 0.9
        # no other divisor pair on the ladder beats the returned t*
        for p2 in range(8, 65, 8):
            for r2 in range(1, p2 + 1):
                if p2 % r2:
                    continue
                b2 = p2 // r2
                t2 = (1.0 / b2) ** (1.0 / r2)
                rec2 = 1.0 - (1.0 - thr**r2) ** b2
                if t2 <= thr and rec2 >= 0.9:
                    assert t2 <= tstar + 1e-12


def test_minhash_jaccard_pairs_derives_banding(spark, monkeypatch):
    from lagespark.operators import dedup

    seen = {}
    orig = dedup.minhash_pairs_fast

    def spy(df, id_col, text_col, perms, band_rows, n, **kw):
        seen["banding"] = (perms, band_rows)
        return orig(df, id_col, text_col, perms, band_rows, n, **kw)

    monkeypatch.setattr(dedup, "minhash_pairs_fast", spy)
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    dedup.minhash_jaccard_pairs(docs, threshold=0.8).count()
    assert seen["banding"] == dedup.fit_banding_matched(0.8) == (48, 6)
    # explicit values still win
    dedup.minhash_jaccard_pairs(docs, threshold=0.8, perms=8, band_rows=2).count()
    assert seen["banding"] == (8, 2)
    # perms given, band_rows derived threshold-matched for that perms
    dedup.minhash_jaccard_pairs(docs, threshold=0.8, perms=24).count()
    assert seen["banding"] == (24, dedup.fit_band_rows(24, 0.8)) == (24, 6)


def _union_find_components(pairs) -> dict:
    parent: dict = {}

    def find(u):
        while parent.setdefault(u, u) != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


def _path_star_pair() -> list[tuple[int, int]]:
    """A seeded 262-node graph: a 200-node path, a 60-node star and an
    isolated pair, with shuffled ids and edge directions."""
    import numpy as np

    rng = np.random.default_rng(7)
    ids = [int(i) for i in rng.permutation(10_000)[:262]]
    path, star, pair = ids[:200], ids[200:260], ids[260:]
    pairs = [(path[i], path[i + 1]) for i in range(199)]
    pairs += [(star[0], leaf) for leaf in star[1:]]
    pairs += [tuple(pair)]
    return [(a, b) if rng.random() < 0.5 else (b, a) for a, b in pairs]


def test_duplicate_components_matches_union_find(spark, monkeypatch):
    """(doc, component = min id of its cluster) equals a pure-Python
    union-find on a seeded graph: a 200-node path (forces several
    pointer-doubling rounds), a 60-node star and an isolated pair, with
    shuffled ids and edge directions. Every round is ONE checkpoint whose
    own stat stops the loop; an empty input gives no rows."""
    from lagespark.operators import dedup

    pairs = _path_star_pair()
    df = spark.createDataFrame(pairs, "a long, b long")

    rounds = []
    real = dedup.checkpoint

    def spy(*frames, **stats):
        out = real(*frames, **stats)
        if "changed" in stats:
            rounds.append(out[0][1]["changed"])
        return out

    monkeypatch.setattr(dedup, "checkpoint", spy)
    got = {r.doc: r.component for r in dedup.duplicate_components(df).collect()}
    assert got == _union_find_components(pairs)
    assert len(got) == 262 and len(set(got.values())) == 3
    assert len(rounds) >= 4 and rounds[-1] == 0 and all(rounds[:-1])

    empty = spark.createDataFrame([], "a long, b long")
    assert dedup.duplicate_components(empty).count() == 0


def test_duplicate_components_raises_when_max_iters_runs_out(spark):
    """The 200-node path needs at least 4 rounds (the test above closes it
    at the default max_iters): with max_iters=3 its labels still change in
    the last round, which raises instead of returning split clusters."""
    from lagespark.operators import dedup

    df = spark.createDataFrame(_path_star_pair(), "a long, b long")
    with pytest.raises(RuntimeError, match="max_iters=3"):
        dedup.duplicate_components(df, max_iters=3)
