"""Text-analysis operators (language-ID, quality scoring, token counting,
fingerprinting) — all NATIVE Catalyst expressions (no Python workers), with
DuckDB-dialect mirrors for the oracle gate.

Each builder returns (spark_expr_sql, duckdb_expr_sql) for one scalar so the
harness applies the Spark text via selectExpr and embeds the DuckDB text in
the oracle — guaranteeing both engines run the same math.
"""

from __future__ import annotations

# marker stopword lists for the rule-based language ID (heuristic n-gram /
# stopword scoring — labels in the harness `documents` table are synthetic,
# so the oracle is THIS rule, not the label column)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "with"),
    "de": ("der", "die", "und", "nicht", "mit"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "que", "de", "los"),
}

BPE_ISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _split(dialect: str, col: str) -> str:
    return (
        f"split({col}, ' ')" if dialect == "spark" else f"string_split({col}, ' ')"
    )


def _list_filter(dialect: str, lst: str, lam: str) -> str:
    fn = "filter" if dialect == "spark" else "list_filter"
    return f"{fn}({lst}, {lam})"


def _size(dialect: str, lst: str) -> str:
    return f"size({lst})" if dialect == "spark" else f"CAST(len({lst}) AS INT)"


def lang_score_exprs(col: str, dialect: str) -> dict[str, str]:
    """Per-language marker-word hit counts over whitespace tokens."""
    toks = _split(dialect, col)
    out = {}
    for lang, words in LANG_MARKERS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        out[lang] = _size(dialect, _list_filter(dialect, toks, f"w -> w IN ({inlist})"))
    return out


def langid_expr(col: str, dialect: str) -> str:
    """argmax over language scores, fixed tie-break order en>de>fr>es, 'und'
    (undetermined) when every score is 0."""
    s = lang_score_exprs(col, dialect)
    order = list(LANG_MARKERS)
    zero = " AND ".join(f"{s[l]} = 0" for l in order)
    cases = []
    for i, l in enumerate(order):
        geq = " AND ".join(f"{s[l]} >= {s[m]}" for m in order[i + 1 :]) or "TRUE"
        gt = " AND ".join(f"{s[l]} > {s[m]}" for m in order[:i]) or "TRUE"
        cases.append(f"WHEN {gt} AND {geq} THEN '{l}'")
    return f"(CASE WHEN {zero} THEN 'und' " + " ".join(cases) + " ELSE 'und' END)"


def token_count_ws_expr(col: str, dialect: str) -> str:
    return _size(dialect, _split(dialect, col))


def token_count_bpeish_expr(col: str, dialect: str) -> str:
    if dialect == "spark":
        return f"size(regexp_extract_all({col}, '{BPE_ISH_RE}', 0))"
    return f"CAST(len(regexp_extract_all({col}, '{BPE_ISH_RE}')) AS INT)"


# Latin-1 chars outside the kept alphabet, for translate()-based stripping.
# The printable ASCII ones ride a plain literal; quote (39), backslash (92),
# the control ranges, and every non-ASCII codepoint go through chr() —
# Spark string literals process backslash escapes while DuckDB's are raw,
# so keeping BOTH dialects on chr() for those sidesteps the escaping gap
# (and keeps the source file ASCII). chr() is CODEPOINT-based in both
# engines (verified: Spark chr(233)='é' = DuckDB chr(233)), so the list is
# portable as-is.
#
# CONTRACT (round 7, replaces the round-5 ASCII-only note): the stripped
# set is the full LATIN-1 range — ASCII punctuation/controls plus the C1
# controls (0x80-0x9F) and Latin-1 punctuation/symbols (NBSP, «», §, ©,
# ×, ÷, ...). Latin-1 LETTERS (À-ÿ, ß, µ, ª/º) and the superscript digits
# survive as word characters, and lower() maps À→à identically in Spark
# (UTF8String) and DuckDB (utf8proc) — verified head-to-head, test-pinned
# in test_text_clean.py. Codepoints above U+00FF still pass through
# (they are not in the translate list); a full-Unicode clean wants an ICU
# tokenizer, which would re-introduce per-row Python — out of scope.
_PUNCT_SAFE = "".join(
    chr(c)
    for c in range(33, 127)
    if not (chr(c).isalnum() or c in (39, 92))
)
_PUNCT_CHR = (
    [39, 92, 127]
    + list(range(1, 32))
    + [c for c in range(0x80, 0x100) if not chr(c).isalnum()]
)


def _strip_chars_exprs() -> tuple[str, int]:
    """(from_chars_sql, n_chars) for translate(): every Latin-1 char outside
    the kept word alphabet [A-Za-z0-9 À-ÿ-letters]. The SQL text is
    dialect-portable (concat + chr exist in both engines and are
    codepoint-based). Callers that also need uppercase stripped apply
    lower() to the INPUT first (normalize_expr does)."""
    chrs = ", ".join(f"chr({c})" for c in _PUNCT_CHR)
    n = len(_PUNCT_SAFE) + len(_PUNCT_CHR)
    return f"concat('{_PUNCT_SAFE}', {chrs})", n


def quality_exprs(col: str, dialect: str) -> dict[str, str]:
    """Quality signals: length, punctuation ratio, stopword ratio, mean word
    length — the usual pretraining-corpus filters.

    The punct count is translate()-delete arithmetic, not a regex: in this
    Spark build regexp evaluation serializes across executor threads (wall
    time is invariant to partition count — measured in round 5), so a regex
    here caps the whole clean stage at single-core speed. translate scans
    the listed set linearly and scales; the counted set is the full
    Latin-1 punctuation/control range (round 7 — see the contract note on
    _PUNCT_CHR); codepoints above U+00FF are not counted."""
    toks = _split(dialect, col)
    n_tok = _size(dialect, toks)
    stop = ", ".join(f"'{w}'" for ws in LANG_MARKERS.values() for w in ws)
    n_stop = _size(dialect, _list_filter(dialect, toks, f"w -> w IN ({stop})"))
    frm, _n = _strip_chars_exprs()
    n_punct = (
        f"CAST(length({col}) - length(translate({col}, {frm}, '')) AS INT)"
    )
    return {
        "n_chars_txt": (
            f"length({col})" if dialect == "spark"
            else f"CAST(length({col}) AS INT)"
        ),
        # NULLIF: an empty doc would otherwise DIVIDE_BY_ZERO under Spark's
        # ANSI default (round 7 — both dialects agree on the NULL)
        "punct_ratio": (
            f"ROUND({n_punct} / CAST(NULLIF(length({col}), 0) AS DOUBLE), 4)"
        ),
        "stopword_ratio": f"ROUND({n_stop} / CAST({n_tok} AS DOUBLE), 4)",
        "mean_word_len": (
            f"ROUND((length({col}) - {n_tok} + 1) / CAST({n_tok} AS DOUBLE), 4)"
        ),
    }


def normalize_expr(col: str, dialect: str) -> str:
    """Corpus text normalization (the standard pre-dedup cleanup): lowercase,
    strip ASCII non-alphanumerics to spaces, collapse runs, trim.

    REGEX-FREE by design (round 5): the obvious two-regexp_replace form is
    correct but in this Spark build regexp execution serializes across
    executor threads — wall time for a regex projection is invariant to
    partition count, so the clean stage of a corpus pipeline runs at
    single-core speed no matter the cluster size. translate() + split +
    filter + join compute the identical result (punct chars → space via a
    chr()-built mapping, empty tokens dropped = run collapse + trim) about
    10× faster per core AND parallel. Contract note (round 7): the
    stripped set covers the full LATIN-1 punctuation/control range and
    lower() folds Latin-1 case in both engines — Latin-1 letters are word
    characters, codepoints above U+00FF pass through (see _PUNCT_CHR);
    both dialects agree either way because they run the same translate
    list."""
    frm, n = _strip_chars_exprs()
    to = f"repeat(' ', {n})"
    inner = f"translate(lower({col}), {frm}, {to})"
    if dialect == "spark":
        body = f"array_join(filter(split({inner}, ' '), w -> w != ''), ' ')"
    else:
        body = (
            f"array_to_string(list_filter(string_split({inner}, ' '), "
            "w -> w != ''), ' ')"
        )
    # empty-input guard: DuckDB's split/join chain returns NULL for '' where
    # Spark returns '' — pin both dialects to the old regex semantics
    # ('' → '', NULL → NULL)
    return f"(CASE WHEN {col} IS NULL THEN NULL ELSE coalesce({body}, '') END)"


def sample_hash_expr(col: str, dialect: str, rate_hex4: str = "2000", seed: str = "s1") -> str:
    """Deterministic content-hash sampling predicate: keep a row iff the
    first 4 hex chars of md5(seed || text) sort below `rate_hex4`
    ('2000' ≈ 1/8). Portable (md5 identical everywhere), reproducible at any
    scale/partitioning, and stable under re-runs — the sampling primitive a
    training-data pipeline needs (row-position sampling is neither)."""
    fn = "substring" if dialect == "spark" else "substr"
    # coalesce: Spark's concat returns NULL on any NULL arg (row filtered
    # out) while DuckDB's concat skips NULL args (row hashed as md5('s1|')
    # and possibly kept) — NULL text must sample identically in both dialects
    return f"({fn}(md5(concat('{seed}|', coalesce({col}, ''))), 1, 4) < '{rate_hex4}')"


def fingerprint_expr(col: str, dialect: str, mod: int = 1_000_000_007) -> str:
    """Polynomial rolling hash over the character stream (document
    fingerprint): fp = fold(acc * 131 + codepoint) mod p. Portable: Spark
    `aggregate`, DuckDB `list_reduce` with a prepended seed."""
    if dialect == "spark":
        return (
            f"aggregate(transform(sequence(1, length({col})), "
            f"i -> ascii(substring({col}, i, 1))), 0L, "
            f"(acc, c) -> (acc * 131 + c) % {mod})"
        )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({col}) + 1), "
        f"i -> CAST(ascii(substr({col}, CAST(i AS INT), 1)) AS BIGINT))), "
        f"(a, b) -> (a * 131 + b) % {mod})"
    )


def stratified_sample_pred(
    col: str, lang_expr: str, rates: dict[str, str], dialect: str
) -> str:
    """Training-MIX rebalancing predicate: per-language deterministic
    downsampling — keep a doc iff its content-hash sorts below the
    language's rate threshold (rate_hex4 semantics as sample_hash_expr;
    languages absent from `rates` keep everything). Deterministic at any
    partitioning/scale, so the mix is reproducible and resumable; rates are
    configuration, the predicate is pure Catalyst/SQL."""
    cases = " ".join(
        f"WHEN '{lang}' THEN {sample_hash_expr(col, dialect, rate_hex4=hex4, seed=f'mix-{lang}')}"
        for lang, hex4 in sorted(rates.items())
    )
    return f"(CASE {lang_expr} {cases} ELSE TRUE END)"


def pack_bucket_expr(order_col: str, dialect: str, n_hex: int = 1) -> str:
    """Hash-bucket sub-shard for sequence packing: a deterministic
    16^n_hex-way bucket derived from md5(order_col), emitted identically in
    Spark SQL and DuckDB. This is the scale fix for the packing window — a
    monolingual 100 TB corpus would otherwise push every row of one language
    through ONE sorted window reducer; (lang, bucket) caps any reducer's
    input at corpus/16^n_hex regardless of the language mix, and the bucket
    count is the parallelism knob. Portable by construction: md5 hex is
    byte-identical everywhere, and the hex digit decodes via a position scan
    (Spark `instr` / DuckDB `strpos` — no conv()/from_hex dialect gap)."""
    cast_t = "STRING" if dialect == "spark" else "VARCHAR"
    sub = "substring" if dialect == "spark" else "substr"
    pos = "instr" if dialect == "spark" else "strpos"
    h = f"md5(CAST({order_col} AS {cast_t}))"
    terms = [
        f"({pos}('0123456789abcdef', {sub}({h}, {i + 1}, 1)) - 1) * {16 ** (n_hex - 1 - i)}"
        for i in range(n_hex)
    ]
    return f"CAST({' + '.join(terms)} AS INT)"


def pack_exprs(
    tok_col: str, shard_cols, order_col: str, budget: int
) -> tuple[str, str]:
    """Greedy cumulative-token sequence-packing expressions, shared by the
    q101 Spark body, its DuckDB oracle, and the corpus pipeline so the
    semantics cannot drift. `shard_cols` is the window partition key — a
    single column name or a sequence; production shards are
    (lang, hash-bucket) via pack_bucket_expr so no single reducer ever holds
    a whole language. Returns (running_sql, pack_id_sql); apply the first AS
    `running`, then the second on the aliased frame. The text is
    dialect-portable as-is (identical window + arithmetic in Spark SQL and
    DuckDB); the dividend CASTs to DOUBLE before the division and the
    window result to BIGINT (DuckDB SUM returns HUGEINT) per the repo's
    cross-dialect conventions."""
    if isinstance(shard_cols, str):
        shard_cols = (shard_cols,)
    part = ", ".join(shard_cols)
    running = (
        f"CAST(SUM({tok_col}) OVER (PARTITION BY {part} ORDER BY {order_col} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
    )
    pack_id = (
        f"CAST(FLOOR(CAST(running - {tok_col} AS DOUBLE) / {budget}.0) AS BIGINT)"
    )
    return running, pack_id
