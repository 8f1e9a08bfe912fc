"""Text-cleaning expressions (operators/text.py): normalize_expr and the
quality punct count are translate()-based, not regex-based. In this Spark
build regexp evaluation serializes across executor threads (wall time does
not change with partition count), so a regex in the clean stage's hot
projection caps it at single-core speed. The rewrite must stay
bit-identical to the old regex semantics on the ASCII corpus contract."""

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
