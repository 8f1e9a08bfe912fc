"""Text-cleaning expressions (operators/text.py): normalize_expr and the
quality punct count are translate()-based, not regex-based. In this Spark
build regexp evaluation serializes across executor threads (wall time does
not change with partition count), so a regex in the clean stage's hot
projection caps it at single-core speed. The rewrite must stay
bit-identical to the old regex semantics on the ASCII corpus contract,
and keep the Latin-1 contract below."""

from __future__ import annotations

# the OLD regex forms, kept verbatim as the semantic reference
_OLD_NORM_DUCK = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " '  *', ' ', 'g'))"
)
_OLD_PUNCT_DUCK = "CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS INT)"

_EDGE_ROWS = (
    "VALUES (''), (NULL), ('...'), ('a'), ('a  b\tc'), ('Hello, World!'), "
    "('x''y\\z'), ('  lead trail  '), ('MiXeD CaSe 42!'), "
    "('tab\tnewline\nret\rdone')"
)


def test_normalize_translate_matches_regex_reference(duck):
    """The translate-based normalize must equal the regex reference on the
    whole harness corpus AND on edge cases (empty, NULL, control chars,
    quote/backslash, run collapse, trim)."""
    from lagespark.operators import text

    new = text.normalize_expr("text", "duckdb")
    n = duck.execute(
        "SELECT count(*) FROM read_parquet("
        "'/root/testdata/sf0.01/documents.parquet') "
        f"WHERE ({new}) IS DISTINCT FROM ({_OLD_NORM_DUCK})"
    ).fetchone()[0]
    assert n == 0
    rows = duck.execute(
        f"WITH t(text) AS ({_EDGE_ROWS}) "
        f"SELECT text, ({new}), ({_OLD_NORM_DUCK}) FROM t"
    ).fetchall()
    for txt, got, want in rows:
        assert got == want, f"normalize({txt!r}) = {got!r}, want {want!r}"


def test_quality_punct_translate_matches_regex_reference(duck):
    from lagespark.operators import text

    new = text.quality_exprs("text", "duckdb")["punct_ratio"]
    old = f"ROUND({_OLD_PUNCT_DUCK} / CAST(length(text) AS DOUBLE), 4)"
    n = duck.execute(
        "SELECT count(*) FROM read_parquet("
        "'/root/testdata/sf0.01/documents.parquet') "
        f"WHERE ({new}) IS DISTINCT FROM ({old})"
    ).fetchone()[0]
    assert n == 0
    rows = duck.execute(
        f"WITH t(text) AS ({_EDGE_ROWS}) SELECT text, ({new}), ({old}) FROM t"
    ).fetchall()
    for txt, got, want in rows:
        assert got == want, f"punct_ratio({txt!r}) = {got!r}, want {want!r}"


def test_normalize_spark_duckdb_agree_on_edges(spark, duck):
    """Both dialects of the rewritten normalize agree row-for-row on the
    edge cases (incl. '' -> '' and NULL -> NULL, the round-5 guard)."""
    from lagespark.operators import text

    texts = ["", None, "...", "a", "a  b\tc", "Hello, World!",
             "x'y\\z", "  lead trail  ", "MiXeD CaSe 42!"]
    sdf = spark.createDataFrame([(t,) for t in texts], "text string")
    got_s = [
        r[0]
        for r in sdf.selectExpr(text.normalize_expr("text", "spark")).collect()
    ]
    got_d = [
        r[1]
        for r in duck.execute(
            "WITH t(text) AS (SELECT unnest(?)) SELECT text, "
            + text.normalize_expr("text", "duckdb") + " FROM t",
            [texts],
        ).fetchall()
    ]
    assert got_s == got_d


def test_regex_free_clean_plan(spark):
    """The clean-stage expressions must not contain regex operators — the
    serialization pin: RegExpReplace/RegExpExtractAll in this projection
    would cap the corpus pipeline's clean stage at single-core speed."""
    from lagespark.operators import text

    df = spark.createDataFrame([("x y",)], "text string").selectExpr(
        text.normalize_expr("text", "spark") + " AS norm",
        text.quality_exprs("text", "spark")["punct_ratio"] + " AS pr",
    )
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "regexp_replace" not in plan and "regexp_extract" not in plan


# -- Latin-1 contract: normalize/quality strip the full Latin-1 punctuation
# and control range, keep Latin-1 letters, and agree byte-for-byte between
# Spark and DuckDB on non-ASCII input

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
