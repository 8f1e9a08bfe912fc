"""Deduplication operators for training-data pipelines.

All variants are expressed in NATIVE Catalyst (higher-order array functions,
md5, groupBy) so they scale JVM-side with no Python worker in the path:

  exact_dedup       — hash-groupBy on content digest
  shingle_col       — distinct character n-gram shingles (higher-order fns)
  minhash_pairs     — MinHash+LSH: per-permutation min over md5-hex of
                      (shingle, perm) — min of fixed-width hex strings ==
                      numeric min, so the signature is portable SQL; band
                      keys bucket-join candidate pairs
  banded_pairs      — the one pair-emission primitive (min-band dedup) under
                      every LSH / pigeonhole pair finder
  hamming_pairs     — SimHash/pHash pairs: pigeonhole chunks + bit_count
  simhash_expr      — n-bit SimHash as generated arithmetic (portable to the
                      DuckDB oracle dialect — no bitwise ops)
  ngram_jaccard_pairs — exact set-Jaccard over shingles for pair subsets
  decontaminate     — benchmark-overlap removal (broadcast shingle semi-join)

Scale notes: minhash_pairs shuffles (doc, band_key) — at 10^12 docs the band
key space is huge and uniform (md5), so the shuffle partitions evenly; the
pair self-join runs per band bucket. Exact jaccard is quadratic → used on
LSH candidates or bounded subsets only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lagespark.operators.checkpoint import checkpoint


def _spread(df: DataFrame) -> DataFrame:
    """Repartition before a CPU-bound NATIVE stage: a small parquet file
    scans as ONE partition, so the shingle/signature projection — the
    expensive map work of the whole operator — would run single-threaded.
    One tiny shuffle of (id, text) buys full parallelism. Skipped when the
    plan already has enough partitions (at real scale the scan does, and an
    unconditional repartition would be a full extra shuffle of the corpus)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def fit_band_rows(perms: int, threshold: float) -> int:
    """Threshold-MATCHED LSH banding: the largest rows-per-band r dividing
    `perms` whose S-curve midpoint t* = (1/b)^(1/r) (b = perms/r bands)
    stays ≤ `threshold`. Collision probability for a pair at J is
    1-(1-J^r)^b — at J = t* that is ≈ 1-1/e ≈ 0.63 and climbs steeply
    above it, so the returned banding catches most at-threshold pairs
    while near-zero background similarity stays out of the candidate set.

    Why this matters at scale: bands MISMATCHED low (t* ≪ threshold)
    over-generate quadratically — b=4/r=2 (t* ≈ 0.5) at a 0.8 refine
    threshold emitted 11.09M candidates for 238 true pairs at 240k docs
    (~46,000× — BENCH/BASELINE.md round 6) and the junk refine dominated
    the job. If at-threshold recall ≈ 0.63 is not enough (borderline
    duplicates matter), step r down one divisor: recall at `threshold`
    goes near 1 at the cost of a looser candidate set — the tradeoff
    pipeline/corpus.py's --dedup-band-rows help documents."""
    best = 1
    for r in range(1, perms + 1):
        if perms % r:
            continue
        b = perms // r
        if b >= 1 and (1.0 / b) ** (1.0 / r) <= threshold:
            best = r
    return best


def fit_banding(
    threshold: float, min_recall: float = 0.95, max_perms: int = 256
) -> tuple[int, int]:
    """(perms, band_rows) for a target refine threshold AND a floor on
    at-threshold recall — the knob ADVICE r5 asked for: fit_band_rows
    alone pins the S-curve midpoint at-or-below the threshold (bounded
    candidate volume) but leaves collision probability AT the threshold
    wherever the divisor grid puts it (e.g. perms=8/r=4 → ~0.88 at
    J=0.9). More permutations refine the divisor grid AND multiply bands
    at the same rows-per-band, so recall at J=threshold —
    1-(1-J^r)^(perms/r) — climbs toward 1 while t* stays matched.

    Returns the SMALLEST perms on a divisor-rich ladder whose matched
    banding reaches `min_recall` at J=threshold (signature cost is linear
    in perms — don't pay 128 hashes when 16 suffice). Raises if max_perms
    cannot reach the floor (thresholds near 0 want a different scheme)."""
    perms = 8
    while perms <= max_perms:
        r = fit_band_rows(perms, threshold)
        b = perms // r
        recall = 1.0 - (1.0 - threshold ** r) ** b
        if recall >= min_recall:
            return perms, r
        perms += 8
    raise ValueError(
        f"fit_banding: no perms <= {max_perms} reaches recall "
        f"{min_recall} at J={threshold}"
    )


def fit_banding_matched(
    threshold: float, min_recall: float = 0.9, max_perms: int = 64
) -> tuple[int, int]:
    """(perms, band_rows) maximizing the S-curve midpoint t* = (1/b)^(1/r)
    subject to t* <= threshold AND at-threshold recall >= min_recall —
    the CANDIDATE-VOLUME-first sibling of fit_banding (which minimizes
    signature cost instead and will happily return the b=4/r=2 banding
    whose t* ~= 0.5 over-generated 46,000x at a 0.8 threshold —
    BENCH/BASELINE.md round 6). Scans every divisor pair on the perms
    ladder, not just each perms' largest-r banding, because the best
    tradeoff (e.g. perms=48/r=6 at threshold 0.8: t* ~= 0.707, recall
    0.91) is often not the minimal-perms one. Ties prefer fewer perms
    (signature cost), then more rows per band (steeper curve = fewer
    background collisions at equal t*). This is what
    minhash_jaccard_pairs derives its banding from when the caller
    passes a threshold but no explicit (perms, band_rows)."""
    best: tuple[float, int, int] | None = None  # (t*, -(-perms), r) keyed
    for perms in range(8, max_perms + 1, 8):
        for r in range(1, perms + 1):
            if perms % r:
                continue
            b = perms // r
            tstar = (1.0 / b) ** (1.0 / r)
            if tstar > threshold:
                continue
            recall = 1.0 - (1.0 - threshold**r) ** b
            if recall < min_recall:
                continue
            key = (tstar, -perms, r)
            if best is None or key > (best[0], -best[1], best[2]):
                best = (tstar, perms, r)
    if best is None:
        raise ValueError(
            f"fit_banding_matched: no banding <= {max_perms} perms reaches "
            f"recall {min_recall} at J={threshold}"
        )
    return best[1], best[2]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest → (h, n, keeper)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.min(id_col).alias("keeper"))
        .filter(F.col("n") > 1)
    )


def shingle_col(text_col: str = "text", n: int = 3, distinct: bool = True):
    """Character n-gram shingles as a native array column (distinct by
    default — set semantics for Jaccard).

    distinct=False skips the array_distinct pass: MIN over a multiset
    equals MIN over its distinct set, so the MinHash SIGNATURE paths don't
    need it. On the harness corpus (mostly-distinct trigrams per doc) the
    saving is noise-level — the pass cost and the extra hash evaluations
    roughly cancel — but on repetitive real-world text the balance depends
    on the hash: keep distinct for expensive digests over highly-repetitive
    docs, skip it for cheap int64 hashes. Oracle equivalence is untouched
    either way: DuckDB's DISTINCT unnest mins the same set.

    Texts shorter than n (and NULL) yield an EMPTY array: Spark's
    sequence(1, 0) counts DOWN ([1, 0]) where DuckDB's range(1, 1) is empty,
    so the guard keeps both dialects (and the size()>0 null filter in the
    minhash paths) agreeing on which docs have no shingles."""
    arr = F.transform(
        F.sequence(F.lit(1), F.length(F.col(text_col)) - (n - 1)),
        lambda i: F.col(text_col).substr(i, F.lit(n)),
    )
    if distinct:
        arr = F.array_distinct(arr)
    return F.when(F.length(F.col(text_col)) >= n, arr).otherwise(
        F.array().cast("array<string>")
    )


def shingles_sql(text_col: str = "text", n: int = 3) -> str:
    """DuckDB mirror of shingle_col."""
    return (
        f"list_distinct(list_transform(range(1, length({text_col}) - {n - 2}), "
        f"i -> substr({text_col}, CAST(i AS INT), {n})))"
    )


def band_keys_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = 8,
    band_rows: int = 2,
    n: int = 3,
    keep: tuple[str, ...] = (),
    spread: bool = True,
    all_keys: bool = False,
) -> DataFrame:
    """(id, band, band_key, *keep): one row per (doc, LSH band) on the
    md5-oracle signature path — the per-doc half of minhash_pairs, shared
    with streaming ingest dedup (streaming.ops.dedup_stream_minhash passes
    spread=False and keep=('ts',)). The SQL mirror of the (sh, sig, keys)
    chain is band_keys_ctes_sql. all_keys=True additionally carries the
    full band-key array as `_bks` (min-band pair dedup, banded_pairs).

    PLAN-SIZE NOTE (round 8): the whole signature→band-key chain is ONE
    aggregate fold whose `finish` lambda emits the band-key array directly.
    Extracting the perms struct fields as separate mh columns and combining
    them downstream (the round-5..7 form) made CollapseProject inline the
    ENTIRE fold expression once per extracted field — a perms× expression
    blow-up that cost seconds of driver-side analysis/optimization per
    invocation (measured: q72 7.9 s plan build vs 1.6 s execution; q71b at
    48 perms 21.4 s vs 3.3 s). The single-use finish form keeps the fold in
    the plan exactly once; the per-shingle arithmetic is unchanged.

    Two more single-evaluation guards (round 8, measured on the sf0.1 q72
    key table — lazy-checkpoint stage-materialization 7.8 s → 0.2 s):
      * the no-shingle filter is `length(text) >= n` (EXACTLY equivalent to
        the old size(shs) > 0: shingle_col yields an empty array iff the
        text is shorter than n, and NULL length drops NULL texts the same
        way) — the size() form re-evaluated the whole shingle transform
        inside the filter, which predicate pushdown then moved BELOW the
        _spread exchange into the single-threaded scan task;
      * the explode is posexplode_OUTER: InferFiltersFromGenerate otherwise
        infers `size(_bks) > 0` from a plain posexplode and pushes THE
        ENTIRE FOLD below the exchange too (the arrays are never empty —
        aggregate's finish always returns `bands` elements — so outer
        semantics are identical)."""
    assert perms <= 9
    bands = perms // band_rows
    base = df.select(F.col(id_col), F.col(text_col), *[F.col(c) for c in keep])
    if spread:
        base = _spread(base)
    sh = base.filter(F.length(text_col) >= n).select(
        F.col(id_col),
        shingle_col(text_col, n, distinct=False).alias("shs"),
        *[F.col(c) for c in keep],
    )
    hs = sh.select(
        F.col(id_col),
        F.transform(F.col("shs"), lambda s: F.md5(s)).alias("hs"),
        *[F.col(c) for c in keep],
    )
    # MinHash fold: permutation p takes the 15-hex-char window of
    # md5(shingle) at offset 2p+1 and MINs it over the shingle set (fixed
    # width lowercase hex, so string MIN == numeric MIN in any SQL engine;
    # perms <= 9 keeps every window inside the 32-char digest). One md5 per
    # shingle serves every permutation; the derived permutations share hash
    # bits, which correlates bands slightly — fine for candidates that are
    # verified exactly downstream. The 'g'*15 sentinel sorts after every
    # window and the length filter guarantees the fold replaces it; finish
    # maps the accumulator straight to the band keys.
    # The whole aggregate is ONE F.expr SQL string: the Column-builder form
    # issued ~6 py4j round trips per struct field (seconds of driver
    # latency at high perms — q71b's 64-perm fold cost 2.5 s to BUILD).
    init = (
        "named_struct("
        + ", ".join(f"'m{p}', '{'g' * 15}'" for p in range(perms))
        + ")"
    )
    merge = (
        "(acc, h) -> named_struct("
        + ", ".join(
            f"'m{p}', least(acc.m{p}, substring(h, {2 * p + 1}, 15))"
            for p in range(perms)
        )
        + ")"
    )
    finish = (
        "acc -> array("
        + ", ".join(
            "concat_ws('|', "
            + ", ".join(f"acc.m{b * band_rows + r}" for r in range(band_rows))
            + ")"
            for b in range(bands)
        )
        + ")"
    )
    arr = hs.select(
        F.col(id_col),
        F.expr(f"aggregate(hs, {init}, {merge}, {finish})").alias("_bks"),
        *[F.col(c) for c in keep],
    )
    return arr.select(
        id_col,
        F.posexplode_outer("_bks").alias("band", "band_key"),
        *(["_bks"] if all_keys else []),
        *keep,
    )


def minhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = 8,
    band_rows: int = 2,
    n: int = 3,
) -> DataFrame:
    """LSH candidate pairs (a, b): docs sharing ≥1 band of the MinHash
    signature. bands = perms / band_rows. Each doc explodes to one row per
    band key; the self-join runs per (band, key) bucket — at scale the key
    space is uniform (md5) so the shuffle partitions evenly."""
    return banded_pairs(
        band_keys_md5(df, id_col, text_col, perms, band_rows, n, all_keys=True),
        perms // band_rows,
    )


def banded_pairs(
    keys: DataFrame,
    n_bands: int,
    right: DataFrame | None = None,
    on: tuple[str, ...] = ("band", "band_key"),
) -> DataFrame:
    """THE pair-emission primitive of every banded pair finder (MinHash LSH,
    SimHash/pHash pigeonhole chunks, sign-LSH sketches): key rows
    `(id, band, band_key, _bks, *carry)` → candidate pairs
    `(a, b, *carry_a, *carry_b)`, each pair EXACTLY ONCE. The id is the
    FIRST column (each side may name it differently); `_bks` is the row's
    full band-key array (`_bks[band] == band_key`); every other non-key
    column is carry, suffixed `_a` / `_b` on output.

    Modes: `right=None` self-joins `keys` (pairs a < b); a `right` key
    table makes it two-sided (pairs a != b, a from `keys`, b from
    `right`). `on` names the join columns — a key that already packs its
    band (sign-LSH's `t << 59 | bits` bucket) joins on itself alone.

    PRECONDITION: ids are unique within each side (the corpus contract;
    the DuckDB oracle's GROUP BY doc_id signature assumes the same). A
    repeated id would emit its pairs once per copy.

    Why a self-join and not collect_list + double explode: a hot bucket of
    k rows explodes k² pair rows out of ONE collect_list row — a single
    task (the harness documents have a 2,699-doc bucket that serialized 7M
    rows through one thread). The equi-join streams each key row
    independently, so hot-bucket output is generated across ALL partitions
    holding those rows. The self-join's LAZY checkpoint makes the skinny
    key table compute its signature subplan ONCE for both sides.

    Pair dedup is MIN-BAND (round 8): a pair is emitted ONLY from the
    FIRST band whose keys agree — a pure map-side filter on the join
    output, so the quadratic candidate stream never shuffles again (a
    post-join distinct hash-aggregated + exchanged up-to-bands× the pair
    volume). Bucket membership is DEFINED by band-key equality, so checking
    earlier bands' keys reproduces exactly the distinct pair set — HERO's
    and the PBSM reference-cell rule's invariant: every pair belongs to
    one partition of the key space. The filter is a flat OR chain of
    element_at comparisons — NOT slice/zip_with/exists, which allocate two
    sliced arrays per joined row and measured SLOWER than the distinct it
    replaces (sf0.1 A/B: distinct ~1.5 s, HOF filter ~4.8 s, element_at
    chain ~0.8 s)."""
    if right is None:
        keys = keys.localCheckpoint(eager=False)
    skip = {"band", *on, "_bks"}
    carry = [c for c in keys.columns[1:] if c not in skip]

    def side(df: DataFrame, s: str, with_band: bool) -> DataFrame:
        return df.select(
            F.col(df.columns[0]).alias(s),
            *(["band"] if with_band and "band" not in on else []),
            *on,
            F.col("_bks").alias(f"_k{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    a = side(keys, "a", True)
    b = side(keys if right is None else right, "b", False)
    j = a.join(b, list(on)).filter(
        (F.col("a") < F.col("b")) if right is None else (F.col("a") != F.col("b"))
    )
    # band is 0-based; element_at is 1-based, so _ka[i] is band i-1's key:
    # row at band b collides earlier iff any i <= b has _ka[i] == _kb[i]
    earlier = F.lit(False)
    for i in range(1, n_bands):
        earlier = earlier | (
            (F.col("band") >= i) & (F.element_at("_ka", i) == F.element_at("_kb", i))
        )
    return j.filter(~earlier).select(
        "a", "b", *[f"{c}_a" for c in carry], *[f"{c}_b" for c in carry]
    )


def minhash_pairs_fast(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = 8,
    band_rows: int = 2,
    n: int = 3,
) -> DataFrame:
    """PRODUCTION MinHash+LSH: identical plan shape to minhash_pairs but the
    signature is native int64 `xxhash64(perm, shingle)` instead of md5-hex
    SUBSTRINGS — the shuffle carries 8 longs per (doc, shingle) row instead
    of 32-char strings and the groupBy mins longs JVM-side. The md5 variant
    exists only for DuckDB-oracle portability; this is the path a 100 TB
    dedup job runs. Candidate quality is equivalent (both are uniform hash
    families); the exact sets differ, so correctness is pinned by tests
    (injected duplicates + recall vs the md5 path), not a SQL oracle.

    Like band_keys_md5, the signature is pure higher-order functions —
    one codegen projection per document, no shingle-row explosion and no
    groupBy shuffle; the only shuffle in the whole operator is the (band,
    band_key) bucket groupBy, whose keys are uniform int64."""
    return banded_pairs(
        band_keys_fast(df, id_col, text_col, perms, band_rows, n, all_keys=True),
        perms // band_rows,
    )


def band_keys_fast(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int = 8,
    band_rows: int = 2,
    n: int = 3,
    keep: tuple[str, ...] = (),
    spread: bool = True,
    all_keys: bool = False,
) -> DataFrame:
    """(id, band, band_key, *keep) on the PRODUCTION int64-xxhash64
    signature path — the per-doc half of minhash_pairs_fast, shared with
    streaming ingest dedup (keep/spread semantics as band_keys_md5).
    all_keys=True carries the full band-key array as `_bks` (min-band pair
    dedup, banded_pairs).

    ONE aggregate pass with a `perms`-field struct accumulator instead of
    `perms` separate transform+array_min projections: the latter
    materializes `perms` derived long arrays per document (allocation/GC
    churn that grows with doc length); the fold keeps O(1) state per row
    and visits each shingle once. Bit-identical mins (same xxhash64 over
    the same multiset — verified by checksum on the harness corpus);
    measured 1.5x on the sf0.1 signature projection. Lambda arity is the
    DECLARED (acc, s) for aggregate's merge — the repo HOF invariant.

    The `finish` lambda maps the accumulator straight to the band-key
    array, so the fold appears in the plan EXACTLY ONCE — extracting mh
    columns and re-combining them downstream made CollapseProject inline
    the whole fold per field, a perms× expression blow-up that cost
    seconds of driver-side optimization per call (see band_keys_md5 —
    the length()-filter and posexplode_OUTER single-evaluation guards
    there apply verbatim here too)."""
    bands = perms // band_rows
    base = df.select(F.col(id_col), F.col(text_col), *[F.col(c) for c in keep])
    if spread:
        base = _spread(base)
    # no-shingle filter: length >= n ≡ size(shingles) > 0, without
    # re-evaluating the shingle transform inside a pushed-down predicate
    sh = base.filter(F.length(text_col) >= n).select(
        F.col(id_col),
        shingle_col(text_col, n, distinct=False).alias("shs"),
        *[F.col(c) for c in keep],
    )
    # ONE F.expr SQL string for the whole fold (see band_keys_md5): the
    # Column-builder form cost seconds of py4j driver latency at high
    # perms. Literal `p` parses as INT, matching F.lit(p)'s IntegerType —
    # xxhash64 values are bit-identical (parity test-pinned).
    init = (
        "named_struct("
        + ", ".join(f"'m{p}', CAST({2**63 - 1} AS BIGINT)" for p in range(perms))
        + ")"
    )
    merge = (
        "(acc, s) -> named_struct("
        + ", ".join(
            f"'m{p}', least(acc.m{p}, xxhash64({p}, s))" for p in range(perms)
        )
        + ")"
    )
    finish = (
        "acc -> array("
        + ", ".join(
            "xxhash64("
            + ", ".join(f"acc.m{b * band_rows + r}" for r in range(band_rows))
            + ")"
            for b in range(bands)
        )
        + ")"
    )
    arr = sh.select(
        F.col(id_col),
        F.expr(f"aggregate(shs, {init}, {merge}, {finish})").alias("_bks"),
        *[F.col(c) for c in keep],
    )
    return arr.select(
        id_col,
        F.posexplode_outer("_bks").alias("band", "band_key"),
        *(["_bks"] if all_keys else []),
        *keep,
    )


def band_keys_ctes_sql(
    perms: int = 8, band_rows: int = 2, n: int = 3, source: str = "documents",
    id_col: str = "doc_id", text_col: str = "text",
) -> str:
    """DuckDB CTE prefix ending in `keys(id, band, band_key)` — the SQL
    mirror of band_keys_md5, shared by the q72 pair oracle and the q104
    ingest-claims oracle."""
    mins = ", ".join(
        f"MIN(substr(h, {2 * p + 1}, 15)) AS mh{p}" for p in range(perms)
    )
    bands = perms // band_rows
    unions = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, "
        + " || '|' || ".join(f"mh{b * band_rows + r}" for r in range(band_rows))
        + " AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT {id_col}, unnest({shingles_sql(text_col, n)}) AS sh FROM {source}
),
sig AS (
  SELECT {id_col}, {mins} FROM (SELECT {id_col}, md5(sh) AS h FROM sh)
  GROUP BY {id_col}
),
keys AS ({unions})"""


def minhash_pairs_sql(
    perms: int = 8, band_rows: int = 2, n: int = 3, source: str = "documents",
    id_col: str = "doc_id", text_col: str = "text",
) -> str:
    """DuckDB mirror of minhash_pairs (same md5 math, same band keys)."""
    return band_keys_ctes_sql(perms, band_rows, n, source, id_col, text_col) + f"""
SELECT DISTINCT a.{id_col} AS a, b.{id_col} AS b
FROM keys a JOIN keys b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.{id_col} < b.{id_col}
"""


def _hexdigit(expr: str, dialect: str) -> str:
    fn = "instr" if dialect == "spark" else "strpos"
    return f"({fn}('0123456789abcdef', {expr}) - 1)"


def simhash_vote_exprs(bits: int, dialect: str) -> list[tuple[str, str]]:
    """n-bit SimHash of whitespace words: per-bit vote-sum aggregation exprs
    [(alias, expr)] over a pre-exploded words relation (word column w).
    Bit j comes from hex digit j//4 of md5(w), bit (3 - j%4) — extracted with
    FLOOR division (portable; DuckDB CAST rounds, so no bare CAST)."""
    votes = []
    for j in range(bits):
        digit = _hexdigit(f"substr(md5(w), {1 + j // 4}, 1)", dialect)
        bit = f"(CAST(FLOOR({digit} / {2 ** (3 - j % 4)}) AS INT) % 2)"
        votes.append((f"s{j}", f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END)"))
    return votes


def simhash_value_sql(bits: int) -> str:
    return "(" + " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)) + ")"


def _popcount64(x):
    """Vectorized 64-bit SWAR popcount over a uint64 ndarray (numpy 1.x has
    no np.bitwise_count; this is the classic parallel-bits reduction)."""
    import numpy as np

    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


# most-recent bitset-refine broadcast, unpersisted on the next call (see
# _refine_bitset) so long-lived sessions don't accumulate 256 MB pins
_BITSET_BCS: list = []


def _round_like_spark(x: float, dp: int = 4) -> float:
    """Spark ROUND(double, 4) bit-exact: HALF_UP on the SHORTEST decimal
    repr of the double (BigDecimal.valueOf = Double.toString), which
    Python's repr() also produces. The naive floor(x*1e4+0.5)/1e4 rounds
    the BINARY value instead and disagrees by 1 ulp-of-4dp on exact
    halves whose nearest double sits below the half (e.g. 131/160 =
    0.81875 → binary 0.8187…4999 → 0.8187, Spark → 0.8188) — ADVICE r6.
    Only emitted pairs pay the scalar cost."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))


def _refine_bitset(cand: DataFrame, sh: DataFrame, id_col: str,
                   threshold: float, max_bytes: int):
    """Config-scale refine: broadcast the candidate docs' hashed shingle
    sets as a packed docs×vocab bit matrix; the pair stream stays SKINNY
    (a, b) and each pair's intersection is one AND + popcount row op.

    Why: the join refine ships every doc's full hash array once PER PAIR —
    on a template-dense corpus a doc rides the pair shuffle thousands of
    times (q71b at sf0.1: 6.97M candidate pairs from 5,500 docs ≈ 20 GB of
    duplicated arrays), and array_intersect re-builds a hash set per row.
    Here the arrays cross the wire ONCE (driver collect + broadcast) and
    the per-pair work is ~vocab/64 uint64 ops, vectorized per Arrow batch.

    Returns None when the vocabulary makes the matrix exceed `max_bytes` —
    the caller falls back to the join refine (the data-scale path). Same
    integer (|A∩B|, |A|, |B|) arithmetic as the join path, so the jaccard
    values agree (both round half-up to 4 dp; cross-path equality is
    test-pinned in test_dedup_scale_paths.py)."""
    import numpy as np
    import pandas as pd

    # bound session-lifetime broadcast accumulation (ADVICE r6): each call
    # can pin up to max_bytes on executors; unpersist the PREVIOUS call's
    # broadcast before building a new one. unpersist (not destroy) keeps a
    # still-referenced earlier DataFrame re-executable — executors refetch
    # from the driver on demand — while freeing the executor-side copies.
    while _BITSET_BCS:
        try:
            _BITSET_BCS.pop().unpersist()
        except Exception:
            pass

    pdf = sh.toPandas()
    n_docs = len(pdf)
    if n_docs == 0:
        return None
    arrs = [np.asarray(a, dtype=np.int64) for a in pdf["sh"]]
    lens = np.array([len(a) for a in arrs], dtype=np.int64)
    flat = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
    vocab, inv = np.unique(flat, return_inverse=True)
    words = max(1, (len(vocab) + 63) // 64)
    if n_docs * words * 8 > max_bytes:
        return None
    mat = np.zeros((n_docs, words), dtype=np.uint64)
    rows = np.repeat(np.arange(n_docs), lens)
    bits = np.left_shift(
        np.ones(len(inv), dtype=np.uint64), (inv % 64).astype(np.uint64)
    )
    # |= with duplicate (row, word) targets needs the unbuffered ufunc form
    np.bitwise_or.at(mat, (rows, inv // 64), bits)
    ids = pdf[id_col].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids_sorted, mat, sizes = ids[order], mat[order], lens[order]
    bc = cand.sparkSession.sparkContext.broadcast((ids_sorted, mat, sizes))
    _BITSET_BCS.append(bc)
    thr = float(threshold)

    def refine(batches):
        bids, bmat, bsizes = bc.value
        for b in batches:
            a_v, b_v = b["a"].to_numpy(), b["b"].to_numpy()
            ia = np.minimum(np.searchsorted(bids, a_v), len(bids) - 1)
            ib = np.minimum(np.searchsorted(bids, b_v), len(bids) - 1)
            # every candidate id comes from the collected set by
            # construction; a silent searchsorted miss would read another
            # doc's bit row, so fail loudly instead
            if len(a_v) and not (
                (bids[ia] == a_v).all() and (bids[ib] == b_v).all()
            ):
                raise RuntimeError(
                    "bitset refine: candidate id missing from the broadcast "
                    "shingle-set table"
                )
            # chunked AND+popcount: the whole-batch form materializes
            # (batch × words) uint64 temporaries that fall out of L2 —
            # 2k-pair chunks measured 5× faster on the q71b refine shape
            # (round 8; identical values, pure evaluation-order change)
            inter = np.empty(len(ia), dtype=np.int64)
            for s in range(0, len(ia), 2048):
                e = min(s + 2048, len(ia))
                inter[s:e] = (
                    _popcount64(bmat[ia[s:e]] & bmat[ib[s:e]])
                    .sum(axis=1)
                    .astype(np.int64)
                )
            union = bsizes[ia] + bsizes[ib] - inter
            with np.errstate(invalid="ignore", divide="ignore"):
                jac = inter / union
            keep = jac >= thr  # NaN (empty∪empty) compares False, as the
            yield pd.DataFrame(  # join path's NULL-division drop does
                {
                    "a": a_v[keep],
                    "b": b_v[keep],
                    "jaccard": [_round_like_spark(v) for v in jac[keep]],
                }
            )

    a_t = cand.schema["a"].dataType.simpleString()
    b_t = cand.schema["b"].dataType.simpleString()
    out = _spread(cand).mapInPandas(refine, f"a {a_t}, b {b_t}, jaccard double")
    return out


def minhash_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    perms: int | None = None,
    band_rows: int | None = None,
    n: int = 3,
    threshold: float = 0.8,
    bitset_max_hashes: int = 16_000_000,
    bitset_max_bytes: int = 256 << 20,
) -> DataFrame:
    """The PRODUCTION dedup combo: MinHash+LSH candidate generation
    (minhash_pairs_fast — bucketed, linear) followed by EXACT n-gram Jaccard
    refinement computed only on the candidate pairs. Precision is exact
    (every emitted pair really has jaccard ≥ threshold); recall is the LSH
    collision probability, asserted on injected duplicates in tests. This is
    the shape a 100 TB near-dup sweep runs — the quadratic exact comparison
    never touches non-candidate pairs.

    THE BANDING IS THRESHOLD-MATCHED BY DEFAULT (round 7): when `perms` /
    `band_rows` are None they derive via fit_banding_matched(threshold) —
    the config with the highest S-curve midpoint t* ≤ threshold that
    still keeps at-threshold recall ≥ 0.9 on a ≤ 64-perm ladder
    (threshold 0.8 → perms=48/band_rows=6, t* ≈ 0.707). The old static
    default (perms=8, band_rows=2 → t* ≈ 0.5) over-generated candidates
    quadratically at web scale — measured 11.09M candidates for 238 true
    pairs at 240k docs (BENCH/BASELINE.md round 6) — a trap every new
    call site fell into until it read this paragraph; deriving from the
    threshold closes it at the API. Explicit (perms, band_rows) still
    win — pipeline/corpus.py exposes them as flags for the recall/volume
    trade its --help documents.

    The refine itself is adaptive (round 6): when the candidate docs'
    total shingle-hash count fits `bitset_max_hashes` (collect budget) and
    the packed docs×vocab bit matrix fits `bitset_max_bytes`, the exact
    intersection runs as a broadcast bitset kernel over the SKINNY (a, b)
    pair stream — the arrays cross the wire once instead of once per pair
    (see _refine_bitset). Otherwise the original per-pair array join runs
    unchanged — that's the data-scale path."""
    if perms is None:
        perms, band_rows = fit_banding_matched(threshold)
    elif band_rows is None:
        band_rows = fit_band_rows(perms, threshold)
    # cand feeds BOTH the candidate-id semi-join below and the pair join —
    # EAGER checkpoint, same reasoning as duplicate_components' pairs: the
    # two consumers are different plans (no exchange reuse), and with a lazy
    # checkpoint their stages launch concurrently, each computing the banded
    # pair generation before the other's cache lands (measured: the 8-core
    # refine level got SLOWER with eager=False). Eager materializes the
    # (skinny a,b) pair list once, before either branch runs.
    ((cand, _),) = checkpoint(minhash_pairs_fast(df, id_col, text_col, perms, band_rows, n))
    # round 6: only docs that appear in SOME candidate pair pay the hashed-
    # shingle projection. At realistic (~0.1%) near-dup density with
    # threshold-matched bands, candidates touch a tiny fraction of the
    # corpus (~480 of 240k docs on the BENCH/scaling.py refine corpus;
    # measured 41.4 → 36.0 s there, and the saved work grows linearly with
    # corpus size — at 100 TB the full-corpus shingle materialization IS
    # the job). At template-dense corpora the semi-join keeps ~all docs
    # and costs one extra small join. AQE broadcasts `ids` when small.
    ids = (
        cand.select(F.col("a").alias(id_col))
        .union(cand.select(F.col("b").alias(id_col)))
        .distinct()
    )
    # the refine compares HASHED shingle sets (xxhash64 per shingle, native):
    # the pair join then shuffles compact long arrays instead of 32-char
    # strings and array_intersect compares 8-byte ints. Set sizes and the
    # Jaccard value are unchanged unless two distinct shingles collide in 64
    # bits (~1e-19 per pair — the op is approximate-by-contract on recall
    # already; exact-on-strings is ngram_jaccard_pairs)
    # plain repartition, NOT _spread: _spread's .rdd partition probe on a
    # JOIN plan triggers a synchronous AQE stage materialization (the ids
    # aggregate + broadcast build), and the checkpoint below then re-plans
    # and re-executes those stages — the probe cost exceeds the one skinny
    # shuffle it might save (round 8, measured ~1.5 s of the sh phase)
    sh = (
        df.select(F.col(id_col), F.col(text_col))
        .join(ids, id_col, "left_semi")
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    ).select(
        F.col(id_col),
        F.array_distinct(
            # inner distinct skipped: the OUTER distinct over the hashes
            # dedups the same set one pass later, once instead of twice
            F.transform(shingle_col(text_col, n, distinct=False), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )
    # ONE corpus scan for the shingle sets: the join refine consumes `sh`
    # on BOTH pair sides and the two exchanges don't canonicalize equal
    # (different output aliases → no ReusedExchange — verified on the
    # executed plan), so without this checkpoint the corpus scan + shingle
    # projection runs twice; the bitset path's collect reads it too. The
    # checkpoint's own job totals the hashes that pick the refine path.
    ((sh, stats),) = checkpoint(sh, nh=F.sum(F.size("sh")))
    if (stats["nh"] or 0) <= bitset_max_hashes:
        out = _refine_bitset(cand, sh, id_col, threshold, bitset_max_bytes)
        if out is not None:
            return out
    pairs = cand.join(
        sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a")), "a"
    ).join(sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b")), "b")
    na = F.size("sh_a")
    nb = F.size("sh_b")
    # size-ratio prune: |A∩B| ≤ min and |A∪B| ≥ max ⇒ J ≤ min/max — pairs
    # failing it natively skip the expensive intersect entirely
    pairs = pairs.filter(F.least(na, nb) / F.greatest(na, nb) >= threshold)
    ninter = F.size(F.array_intersect("sh_a", "sh_b"))
    # inclusion-exclusion union size: same ints (shingle arrays are distinct
    # sets), same division — and no array_distinct(concat) materialization
    jac = ninter / (na + nb - ninter)
    return (
        pairs.withColumn("raw_jac", jac)
        .filter(F.col("raw_jac") >= threshold)
        .select("a", "b", F.round("raw_jac", 4).alias("jaccard"))
    )


def pigeonhole_keys(
    df: DataFrame,
    sketch_col: str,
    id_col: str,
    bits: int,
    n_bands: int,
    keep: tuple[str, ...] = (),
    all_keys: bool = False,
) -> DataFrame:
    """(id, band, band_key bigint, *keep): the `bits`-bit integer sketch
    split into `n_bands` disjoint chunks (widths differ by at most one bit,
    band 0 = the low bits) — any two sketches within hamming < n_bands
    agree on at least one chunk. The per-row half of hamming_pairs, shared
    with streaming image ingest dedup (the 64-bit pHash in 4×16-bit bands,
    streaming/ops.dedup_stream_phash). all_keys=True carries the chunk
    array as `_bks` (banded_pairs' min-band dedup)."""
    base, extra = divmod(bits, n_bands)
    widths = [base + (1 if b < extra else 0) for b in range(n_bands)]
    chunks = F.array(
        *[
            F.shiftright(F.col(sketch_col), sum(widths[:b]))
            .bitwiseAND(F.lit((1 << widths[b]) - 1))
            .cast("bigint")
            for b in range(n_bands)
        ]
    )
    # posexplode_OUTER: the array is never empty, and the plain form would
    # infer a size() filter below the exchange (see band_keys_md5)
    return df.select(
        F.col(id_col), chunks.alias("_bks"), *[F.col(c) for c in keep]
    ).select(
        id_col,
        F.posexplode_outer("_bks").alias("band", "band_key"),
        *(["_bks"] if all_keys else []),
        *keep,
    )


def hamming_pairs(
    df: DataFrame,
    sketch_col: str,
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (a, b, hamming) over an integer sketch WITHOUT an
    all-pairs join: pigeonhole banding. Split the `bits`-bit sketch into
    `n_bands` (default max_hamming+1) disjoint chunks — any pair within
    hamming ≤ n_bands-1 must agree on at least one chunk — pair candidates
    with banded_pairs, refine with native bit_count(xor) ≤ max_hamming.
    Pure Catalyst end-to-end; SimHash text pairs (q82b) and pHash image
    pairs (image_ops.phash_neardup_pairs) both run it.

    With the default n_bands the result is EXACTLY the all-pairs set. Fewer
    bands (pHash: 4×16 bits at max_hamming=6) trade recall above hamming
    n_bands-1 for smaller candidate buckets.

    Scale: the shuffle key is (band, chunk) — uniform for hash-like
    sketches, so buckets stay small; a hot bucket (many byte-identical
    images sharing one sketch) spreads over the join's partitions (see
    banded_pairs). The sketch rides the key table as carry for the refine."""
    n_bands = n_bands or max_hamming + 1
    keys = pigeonhole_keys(
        df, sketch_col, id_col, bits, n_bands, keep=(sketch_col,), all_keys=True
    )
    ham = F.bit_count(
        F.col(f"{sketch_col}_a").bitwiseXOR(F.col(f"{sketch_col}_b"))
    ).cast("int")
    return (
        banded_pairs(keys, n_bands)
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def duplicate_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """(a, b) candidate-duplicate pairs → (doc, component) where component is
    the minimum doc id reachable through the pair graph (the canonical
    representative each duplicate cluster keeps).

    Iterative min-label propagation over DataFrames: each round every node
    takes the min of its own label and its neighbors' labels, until a
    fixpoint. This is the standard large-scale connected-components shape
    (hash-partitioned joins, no driver materialization of the graph).
    Neighbor propagation alone needs rounds ~ graph diameter, so each round
    also HOOKS and JUMPS (Shiloach–Vishkin style): a node's previous label
    — itself a node id — takes the node's current label, and every label
    then follows one pointer to its own label. A 200-node path then closes
    in 9-11 rounds instead of 34-93.

    Each round is ONE eager checkpoint (operators.checkpoint): the previous
    label is folded into the round's plan, and the checkpoint's own job both
    truncates the lineage and counts the labels that changed — the stop
    test needs no job of its own. No change means every edge joins equal
    labels, so each component carries its minimum id. Labels still changing
    in round `max_iters` raise RuntimeError rather than return split
    clusters."""
    # single-execution guard (the repo's two-union-branch invariant): the
    # forward/reverse edge projections below prune differently, so WITHOUT
    # this checkpoint the upstream pair-generation plan (LSH + exact
    # Jaccard — the expensive part) executes TWICE inside the edges job
    # (measured 15.1 s vs 10.0 s for one pairs pass at 240k docs)
    ((pairs, _),) = checkpoint(pairs)
    # the edge list is checkpointed too: it feeds every round and lineage
    # must stay truncated across iterations
    ((edges, _),) = checkpoint(
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )
    # (node, label, _old = the label before the round); round 0 reads these
    # initial labels several times in ONE plan, which reuses the distinct's
    # exchange
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .withColumn("_old", F.col("node"))
    )
    for _ in range(max_iters):
        cur = labels.select("node", "label")
        neigh = edges.join(cur, edges.v == cur.node).select(
            F.col("u").alias("node"), "label"
        )
        # hook: the node a label names learns the label its holder reached
        # last round (any label of a node is a node of the same component)
        hook = labels.select(F.col("_old").alias("node"), "label")
        merged = (
            cur.unionByName(neigh)
            .unionByName(hook)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # jump: follow label → label's OWN label (labels are node ids, so a
        # self-join resolves one hop)
        l2 = merged.select(F.col("node").alias("label"), F.col("label").alias("_l2"))
        merged = merged.join(l2, "label").select(
            "node", F.least("label", "_l2").alias("label")
        )
        ((labels, st),) = checkpoint(
            merged.join(labels.select("node", F.col("label").alias("_old")), "node"),
            changed=F.count_if(F.col("label") != F.col("_old")),
        )
        if st["changed"] == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_components: labels still changing after max_iters={max_iters} "
            "rounds, so clusters would come back split; raise max_iters"
        )
    return labels.select(F.col("node").alias("doc"), F.col("label").alias("component"))


def dedup_corpus(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end near-duplicate corpus FILTER — the operator a training
    pipeline actually calls: candidate pairs (caller-supplied, e.g.
    minhash_jaccard_pairs at scale; exact ngram_jaccard_pairs by default on
    bounded inputs) → connected components → keep each cluster's MINIMUM id
    plus every unclustered document. Anti-join keeps the fact side
    unshuffled except the component build."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold)
    comp = duplicate_components(pairs.select("a", "b"))
    losers = comp.filter(F.col("doc") != F.col("component")).select(
        F.col("doc").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs over a (bounded) input: |∩| / |∪| on
    distinct shingle sets. Quadratic — apply to LSH candidates or subsets."""
    s = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), shingle_col(text_col, n).alias("sh")
    )
    a = s.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = s.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_distinct(F.concat("sh_a", "sh_b"))
    )
    # threshold on the RAW ratio (int/int division — bit-identical in any
    # IEEE engine, so the oracle filter agrees exactly); round only the output
    return (
        pairs.withColumn("raw_jac", jac)
        .filter(F.col("raw_jac") >= threshold)
        .select("a", "b", F.round("raw_jac", 4).alias("jaccard"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 40,
    hash_keys: bool = False,
) -> DataFrame:
    """Test-set DECONTAMINATION — the training-pipeline op that flags corpus
    documents overlapping an evaluation/benchmark set: a doc is contaminated
    when it shares ANY length-`n` character shingle (a long verbatim span)
    with a benchmark document. Returns (id, n_hits = number of distinct
    shared shingles); anti-join the result to drop the contaminated docs.

    100 TB shape: benchmark suites are config-scale (millions of shingles at
    most) → their distinct shingle set BROADCASTS, and the corpus side is a
    single projection + explode feeding the broadcast semi-join — the corpus
    never shuffles; the only exchange is the per-doc hit count keyed on the
    (small) contaminated subset.

    `hash_keys=True` is the PRODUCTION wire format: shingles hash to int64
    via xxhash64 before the broadcast + probe, so both carry 8-byte keys
    instead of n-char strings (~5× smaller for n=40). Join semantics are
    identical up to xxhash64 collisions (~2^-64 per pair — immaterial; the
    equality of both paths on the harness corpus is test-pinned). The
    string path (default) stays because the q100 DuckDB oracle compares
    raw shingles — DuckDB has no xxhash64."""
    # _spread: the CPU-bound shingle projection otherwise runs single-
    # threaded off a small-file scan (CLAUDE.md invariant); shingle_col is
    # distinct=True already — no second distinct pass needed.
    # Closure-factory lambda per the repo HOF invariant (a second defaulted
    # param would bind the array index).
    sh = shingle_col(text_col, n)
    key = F.transform(sh, lambda s: F.xxhash64(s)) if hash_keys else sh
    c = _spread(corpus.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(key).alias("sh"),
    )
    # benchmark side gets the same _spread guard: a single-file benchmark
    # parquet otherwise computes its shingle explode single-threaded (the
    # corpus-pipeline decon stage reads the benchmark from one file)
    b = (
        _spread(benchmark.select(F.col(text_col)))
        .select(F.explode(key).alias("sh"))
        .distinct()
    )
    return (
        c.join(F.broadcast(b), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
