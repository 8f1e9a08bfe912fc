"""Round-6 hardening pins: the S2 lattice snap (three-engine parity on
lattice-adjacent points), lsh_topk's skinny bucket join (no vector column
below the bucket exchange) and q95's single-scan plan. The decontaminate
benchmark-side _spread pin lives in test_decontaminate.py."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lagespark.kernels import cells
from lagespark.operators import similarity, spatial


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# S2 lattice snap (VERDICT r5 #3): libm COS/SIN wiggle can no longer flip a
# lattice-adjacent point across engines
# ---------------------------------------------------------------------------


def _lattice_adjacent_lonlat(n_pts: int = 160, seed: int = 11):
    """(lat, lon) points whose FACE-0 projected s value lands a chosen
    distance (in cell units) from a 1/2^15 lattice line: exact-on-line,
    well inside the snap window (±1e-12, ±3e-10), and well outside it
    (±5e-9). Built st→uv→xyz→lonlat so the encode replays back to p ≈
    k + delta up to trig round-trip error (~1e-10 cell units)."""
    n = 1 << 15
    rng = np.random.default_rng(seed)
    deltas = np.array([0.0, 1e-12, -1e-12, 3e-10, -3e-10, 5e-9, -5e-9])
    ks = rng.integers(n // 4, 3 * n // 4, size=n_pts)
    dsel = deltas[np.arange(n_pts) % len(deltas)]
    s = (ks + dsel) / n
    # t: half random, half lattice-adjacent too (both axes near lines)
    kt = rng.integers(n // 4, 3 * n // 4, size=n_pts)
    t = np.where(
        np.arange(n_pts) % 2 == 0,
        rng.uniform(0.3, 0.7, n_pts),
        (kt + dsel) / n,
    )
    u = cells._st_to_uv(s)
    v = cells._st_to_uv(t)
    # face 0: xyz = (1, u, v)
    r = np.sqrt(1.0 + u * u + v * v)
    lat = np.degrees(np.arcsin(v / r))
    lon = np.degrees(np.arctan2(u, np.ones_like(u)))
    return lat, lon, ks, dsel


def test_s2_lattice_snap_numpy_semantics():
    """Points within LATTICE_EPS of lattice line k land in cell i=k (round,
    not floor) — including points just BELOW the line; points outside the
    window floor normally."""
    lat, lon, ks, dsel = _lattice_adjacent_lonlat()
    cell = cells.s2_encode(lat, lon, 15)
    face, i, _, _ = cells.s2_decode_ij(cell)
    assert (face == 0).all()
    inside = np.abs(dsel) <= 3e-10  # well inside the 1e-9 window
    assert (i[inside] == ks[inside]).all()
    below = dsel == -5e-9  # outside the window, below the line → floor
    assert (i[below] == ks[below] - 1).all()
    above = dsel == 5e-9
    assert (i[above] == ks[above]).all()


def test_s2_lattice_snap_three_engine_parity(spark):
    """numpy kernel, Spark native step chain, and the DuckDB oracle dialect
    must agree cell-for-cell on lattice-adjacent points (the exact fuzz the
    pre-snap encode was vulnerable to)."""
    duckdb = pytest.importorskip("duckdb")
    lat, lon, _, _ = _lattice_adjacent_lonlat()
    want = cells.s2_encode(lat, lon, 15)

    pdf = pd.DataFrame({"k": np.arange(len(lat)), "lat": lat, "lon": lon})
    df = spark.createDataFrame(pdf)
    got_spark = (
        spatial.with_s2_cell_native(df, "lat", "lon", 15)
        .orderBy("k")
        .select("cell_s2")
        .toPandas()["cell_s2"]
        .to_numpy()
    )
    assert (got_spark == want).all()

    con = duckdb.connect()
    con.register("pts", pdf)
    nested = cells.s2_nested_select_sql(
        "SELECT k, lat, lon FROM pts", "lat", "lon", 15, "duckdb"
    )
    got_duck = (
        con.sql(f"SELECT k, cell_s2 FROM ({nested}) ORDER BY k")
        .df()["cell_s2"]
        .to_numpy()
    )
    assert (got_duck == want).all()


def test_s2_snap_harness_domain_unchanged(spark):
    """The snap must not move any cell on the harness domain (goldens +
    oracles depend on it): re-run the round-4 fuzz domain and check the
    encode agrees with a snap-free floor for every point NOT lattice-
    adjacent (all of them, statistically)."""
    rng = np.random.default_rng(3)
    lat = 52.0 + rng.uniform(0, 0.09, 4000)
    lon = 13.0 + rng.uniform(0, 0.09, 4000)
    cell = cells.s2_encode(lat, lon, 15)
    # snap-free reference
    x, y, z = cells._lonlat_to_xyz(lat, lon)
    face, u, v = cells._xyz_to_face_uv(x, y, z)
    n = 1 << 15
    i_ref = np.clip((cells._uv_to_st(u) * n).astype(np.int64), 0, n - 1)
    j_ref = np.clip((cells._uv_to_st(v) * n).astype(np.int64), 0, n - 1)
    _, i, j, _ = cells.s2_decode_ij(cell)
    assert (i == i_ref).all() and (j == j_ref).all()


# ---------------------------------------------------------------------------
# lsh_topk skinny bucket join (VERDICT r5 #1)
# ---------------------------------------------------------------------------


def _embeddings(spark, n=64, dim=64, seed=5):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n),
            "embedding": list(rng.normal(size=(n, dim)).astype(np.float64)),
        }
    )
    return spark.createDataFrame(pdf)


def test_lsh_topk_plan_no_vectors_below_bucket_exchange(spark):
    """The ×tables bucket explosion must carry only (id, bucket): any
    Exchange hash-partitioned on the bucket key whose input includes an
    embedding column means vectors are being replicated tables× through
    the shuffle (the round-5 scale flaw)."""
    e = _embeddings(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = similarity.lsh_topk(e.limit(8), e, k=3)
        plan = _formatted_plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # formatted explain: node detail blocks are blank-line separated; an
    # Exchange block names its partitioning in Arguments and its columns in
    # Input/Output lines
    bucket_exchanges = [
        b
        for b in plan.split("\n\n")
        if "Exchange" in b and "hashpartitioning(bucket" in b
    ]
    assert bucket_exchanges, plan  # shuffle join forced above — must appear
    for block in bucket_exchanges:
        assert "qv#" not in block and "tv#" not in block, block


def test_lsh_topk_results_deterministic_after_rewrite(spark):
    """Skinny rewrite is a pure plan change: same (qid, nn_id, cos, rank)
    set across two runs, ranks contiguous from 1, cos sorted within qid."""
    e = _embeddings(spark)
    q = e.limit(8)
    a = similarity.lsh_topk(q, e, k=3).toPandas()
    b = similarity.lsh_topk(q, e, k=3).toPandas()
    key = lambda d: sorted(map(tuple, d.to_numpy().tolist()))  # noqa: E731
    assert key(a) == key(b)
    for _, g in a.sort_values(["qid", "rank"]).groupby("qid"):
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert list(g["cos"]) == sorted(g["cos"], reverse=True)


# ---------------------------------------------------------------------------
# q95 single scan of events (VERDICT r5 #4)
# ---------------------------------------------------------------------------


def test_q95_plan_single_events_scan(spark):
    from lagespark import harness, harness4  # noqa: F401

    df = harness.QUERIES["q95-spatiotemporal-rollup"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _formatted_plan(df)
    # one file-scan detail block (each scan prints a Location: line once)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# threshold-matched LSH banding helper
# ---------------------------------------------------------------------------


def test_fit_band_rows_matches_thresholds():
    """fit_band_rows returns the tightest banding whose S-curve midpoint
    stays at-or-below the refine threshold (pure arithmetic — no Spark)."""
    from lagespark.operators import dedup

    # the two published configurations derive exactly
    assert dedup.fit_band_rows(24, 0.8) == 6   # b=4, t* ~= 0.79 (refine row)
    assert dedup.fit_band_rows(8, 0.9) == 4    # b=2, t* ~= 0.84 (corpus CLI)
    # midpoint never exceeds the threshold, for a sweep of shapes
    for perms in (8, 16, 24, 32, 64, 128):
        for thr in (0.5, 0.62, 0.8, 0.9, 0.95):
            r = dedup.fit_band_rows(perms, thr)
            b = perms // r
            assert perms % r == 0
            assert (1.0 / b) ** (1.0 / r) <= thr + 1e-12
            # and it is the LARGEST such divisor (tightest candidate set)
            for r2 in range(r + 1, perms + 1):
                if perms % r2 == 0:
                    b2 = perms // r2
                    assert (1.0 / b2) ** (1.0 / r2) > thr or b2 < 1


# ---------------------------------------------------------------------------
# adaptive bitset refine: broadcast docs×vocab bit matrix over the skinny
# pair stream == the per-pair array-join refine, value for value
# ---------------------------------------------------------------------------


def test_minhash_jaccard_bitset_refine_matches_join_path(spark):
    """minhash_jaccard_pairs' config-scale bitset refine must emit EXACTLY
    the join refine's pairs and jaccard values (same hashed sets, same
    integer |A∩B|/|A|/|B| arithmetic, both half-up at 4 dp). The join path
    otherwise ships each doc's full hash array once per candidate pair —
    q71b at sf0.1 moves ~20 GB of duplicated arrays through the pair
    shuffle; the bitset path moves each array once (measured warm 36 s →
    12.5 s for the whole op)."""
    from lagespark.operators import dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).limit(200)
    dup = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    d = docs.unionByName(dup)
    fast = dedup.minhash_jaccard_pairs(d, threshold=0.62)
    # default guards admit this corpus → the kernel plan, not the join
    assert "MapInPandas" in _formatted_plan(fast)
    slow = dedup.minhash_jaccard_pairs(d, threshold=0.62, bitset_max_hashes=0)
    assert "MapInPandas" not in _formatted_plan(slow)
    got = {(r.a, r.b): r.jaccard for r in fast.collect()}
    ref = {(r.a, r.b): r.jaccard for r in slow.collect()}
    assert got.keys() == ref.keys()
    assert got, "guard corpus must produce pairs"
    assert all(got[k] == ref[k] for k in got)
    # a vocabulary too big for the matrix budget falls back to the join
    fb = dedup.minhash_jaccard_pairs(d, threshold=0.62, bitset_max_bytes=0)
    assert "MapInPandas" not in _formatted_plan(fb)
    assert {(r.a, r.b) for r in fb.collect()} == ref.keys()


def test_minhash_jaccard_bitset_string_ids_and_random_corpora(spark):
    """The bitset refine must hold its join-path parity for non-numeric ids
    (np.argsort/searchsorted on object arrays) and across randomized small
    corpora — not just the harness fixture."""
    import random

    from lagespark.operators import dedup

    rng = random.Random(7)
    vocab = ["alpha", "bravo", "cargo", "delta", "echo", "forge", "gamma"]
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 12))]
        rows.append((f"doc-{i:03d}", " ".join(words)))
    # inject exact + near duplicates
    for i in range(0, 60, 7):
        rows.append((f"dup-{i:03d}", rows[i][1]))
        rows.append((f"near-{i:03d}", rows[i][1] + " omega"))
    d = spark.createDataFrame(rows, "doc_id string, text string")
    fast = dedup.minhash_jaccard_pairs(
        d, id_col="doc_id", threshold=0.5
    )
    slow = dedup.minhash_jaccard_pairs(
        d, id_col="doc_id", threshold=0.5, bitset_max_hashes=0
    )
    got = {(r.a, r.b): r.jaccard for r in fast.collect()}
    ref = {(r.a, r.b): r.jaccard for r in slow.collect()}
    assert got.keys() == ref.keys() and got
    assert all(got[k] == ref[k] for k in got)


def test_fit_banding_recall_floor():
    """fit_banding returns the smallest perms whose threshold-matched
    banding reaches the at-threshold recall floor (pure arithmetic)."""
    from lagespark.operators import dedup

    # the documented example: perms=8/r=4 gives ~0.88 at J=0.9; 16 perms
    # (r=4, b=4) lifts recall to ~0.99
    assert dedup.fit_banding(0.9, 0.95) == (16, 4)
    for thr in (0.62, 0.8, 0.9, 0.95):
        for floor in (0.8, 0.9, 0.95, 0.99):
            perms, r = dedup.fit_banding(thr, floor)
            b = perms // r
            assert (1.0 / b) ** (1.0 / r) <= thr + 1e-12  # midpoint matched
            assert 1.0 - (1.0 - thr ** r) ** b >= floor   # recall floor met
            # minimality: EVERY smaller ladder step misses the floor
            # (recall is not monotonic in perms — r jumps with the
            # divisor grid — so check them all)
            for p2 in range(8, perms, 8):
                r2 = dedup.fit_band_rows(p2, thr)
                assert 1.0 - (1.0 - thr ** r2) ** (p2 // r2) < floor
