"""Round-7 regression pins (VERDICT r6 next-items + the four ADVICE items;
the bitset-refine rounding/broadcast and fit_banding_matched pins live in
test_dedup_scale_paths.py):

- ingest_claims_batch never emits a self-claim when the same doc id
  appears on multiple rows (parity with the streaming fn's owner != rid
  guard, which previously held only on unique-id corpora).
- text operators' Latin-1 contract: normalize/quality strip the full
  Latin-1 punctuation/control range, keep Latin-1 letters, and agree
  byte-for-byte between Spark and DuckDB on non-ASCII input.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# -- ADVICE #3: duplicate-id parity between batch and streaming claims ---------


def test_ingest_claims_batch_no_self_claim_on_duplicate_ids(spark):
    from lagespark.streaming import ops

    txt = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, txt), (1, txt), (2, txt), (3, "completely different words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.band, r.dup_of) for r in ops.ingest_claims_batch(docs).collect()}
    # no self-claims (id 1 appears twice but never claims itself)...
    assert not any(d == o for d, _, o in got)
    # ...while doc 2 (a true duplicate of doc 1) claims doc 1 in every band
    assert {(d, o) for d, _, o in got} == {(2, 1)}


# -- Latin-1 text contract ------------------------------------------------------

_L1_TEXTS = [
    "Caf\xe9 \xabZ\xfcrich\xbb\xd7 3",        # e-acute/u-uml kept; guillemets, x-sign strip
    "\xc0 BIENT\xd4T, MONSIEUR!",             # uppercase Latin-1 folds via lower()
    "gro\xdfe stra\xdfe \u2014 b",             # sharp-s kept; em-dash (>U+00FF) passes
    "nbsp\xa0separated\xa0words",             # NBSP (0xA0) strips to space
    "soft\xadhyphen and 10\xf75 = 2",         # SHY (0xAD) and divide-sign strip
    "\xa9 2024 \xb5-service \xbd price",      # (c) strips; micro + one-half kept (alnum)
    "mixed \u4e2d\u6587 passthrough",           # CJK beyond U+00FF passes
    "",
    None,
]


def test_normalize_latin1_semantics(spark):
    from lagespark.operators import text

    sdf = spark.createDataFrame([(t,) for t in _L1_TEXTS], "text string")
    got = [
        r[0] for r in sdf.selectExpr(text.normalize_expr("text", "spark")).collect()
    ]
    assert got[0] == "caf\xe9 z\xfcrich 3"
    assert got[1] == "\xe0 bient\xf4t monsieur"
    # em-dash is beyond Latin-1: passes through as its own token
    assert got[2] == "gro\xdfe stra\xdfe \u2014 b"
    assert got[3] == "nbsp separated words"
    assert got[4] == "soft hyphen and 10 5 2"
    assert got[5] == "2024 \xb5 service \xbd price"
    assert got[6] == "mixed \u4e2d\u6587 passthrough"
    assert got[7] == "" and got[8] is None


def test_text_exprs_latin1_spark_duckdb_parity(spark, duck):
    """normalize, punct_ratio, and langid agree byte-for-byte across engines
    on non-ASCII input — the round-7 contract extension (was ASCII-only)."""
    from lagespark.operators import text

    sdf = spark.createDataFrame([(t,) for t in _L1_TEXTS], "text string")
    exprs_s = [
        text.normalize_expr("text", "spark") + " AS norm",
        text.quality_exprs("text", "spark")["punct_ratio"] + " AS pr",
        text.langid_expr("text", "spark") + " AS lang",
    ]
    got_s = [tuple(r) for r in sdf.selectExpr(*exprs_s).collect()]
    q = text.quality_exprs("text", "duckdb")["punct_ratio"]
    got_d = duck.execute(
        "WITH t(text) AS (SELECT unnest(?)) SELECT "
        + text.normalize_expr("text", "duckdb")
        + f", {q}, "
        + text.langid_expr("text", "duckdb")
        + " FROM t",
        [_L1_TEXTS],
    ).fetchall()
    assert got_s == [tuple(r) for r in got_d]
