"""Text analysis for web-scale training-data pipelines: language-ID
heuristic, quality scoring, token counting, document fingerprinting.

Not in the reference (trefoil is raster-only) — required by the graft's
training-data-pipeline mandate. Everything is pure Catalyst expressions
(whole-stage codegen, zero Python) with exact DuckDB SQL twins:

- tokens: split on single space (the synthetic corpus is space-joined).
- portable token hash: first 15 hex digits of md5 → BIGINT. md5 is
  identical everywhere; 15 hex digits < 2^60 so the cast is exact in both
  engines.
- fingerprint: order-sensitive polynomial rolling hash folded over the
  token array (arrays preserve order in both engines), modulus P_FP
  small enough that acc*31 + h never overflows int64 (ANSI-safe).
- quality score: rational arithmetic only (counts and exact ratios).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P_FP = (1 << 40) - 87  # prime; keeps acc*31 + h < 2^46 (no int64 overflow)

STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "mit", "von", "zu", "den", "nicht"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "se", "por"),
    "fr": ("le", "la", "et", "les", "des", "en", "un", "du", "une", "est"),
}


# --- Spark column builders ---

def tokens_col(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def token_hash_expr(token_expr: str) -> str:
    """Portable token→int hash (Spark SQL dialect)."""
    return f"CAST(CONV(SUBSTR(MD5({token_expr}), 1, 15), 16, 10) AS BIGINT)"


def token_hash_expr_duckdb(token_expr: str) -> str:
    return f"CAST(('0x' || substr(md5({token_expr}), 1, 15)) AS BIGINT)"


def fingerprint_col(text_col: str = "text") -> Column:
    """Order-sensitive rolling hash over tokens (doc fingerprint)."""
    h = token_hash_expr("t")
    return F.expr(
        f"aggregate(transform(split({text_col}, ' '), t -> {h} % {P_FP}), "
        f"0L, (acc, x) -> (acc * 31 + x) % {P_FP})"
    )


def fingerprint_sql_duckdb(text_col: str = "text") -> str:
    h = token_hash_expr_duckdb("t")
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({text_col}, ' '), t -> {h} % {P_FP})), "
        f"(acc, x) -> (acc * 31 + x) % {P_FP})"
    )


def stopword_count_col(lang: str, text_col: str = "text") -> Column:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(
        f"size(filter(split({text_col}, ' '), t -> t IN ({words})))"
    )


def stopword_count_sql_duckdb(lang: str, text_col: str = "text") -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(string_split({text_col}, ' '), t -> t IN ({words})))"
    )


def lang_id_col(text_col: str = "text") -> Column:
    """Heuristic language-ID: argmax stopword hits, tie/zero → 'und'."""
    langs = list(STOPWORDS)
    counts = [stopword_count_col(lang, text_col).alias(f"_c_{lang}") for lang in langs]
    best = F.greatest(*[F.col(f"_c_{lang}") for lang in langs])
    expr = F.when(best == 0, F.lit("und"))
    for lang in langs:  # first max wins (deterministic order)
        expr = expr.when(F.col(f"_c_{lang}") == best, F.lit(lang))
    return expr, counts


def quality_exprs(text_col: str = "text") -> dict[str, Column]:
    """Deterministic quality features: all counts/exact ratios."""
    toks = tokens_col(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    n_distinct = F.size(F.array_distinct(toks))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_distinct_tokens": n_distinct,
        "type_token_ratio": n_distinct.cast("double") / n_tokens,
        "mean_token_len": (n_chars - (n_tokens - F.lit(1))).cast("double") / n_tokens,
    }


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All text features in one codegen pass."""
    q = quality_exprs(text_col)
    lang_expr, count_cols = lang_id_col(text_col)
    out = df.select(
        "*",
        *[c.alias(n) for n, c in q.items()],
        fingerprint_col(text_col).alias("fingerprint"),
        *count_cols,
    )
    return out.withColumn("lang_pred", lang_expr).drop(
        *[f"_c_{lang}" for lang in STOPWORDS]
    )


# ---------------------------------------------------------------------------
# HTML → text extraction (webtext payload core; r3)
# ---------------------------------------------------------------------------

def build_rich_html_col(text_col: str = "text", title_col: str = "source") -> Column:
    """Realistic page markup around the payload: head/title, a script
    block, entity noise in an attribute — only the <body> paragraph holds
    the extractable text. Pure Catalyst (concat), so construction and
    extraction both stay JVM-side."""
    return F.concat(
        F.lit('<html><head><title>'), F.col(title_col),
        F.lit('</title><style>p{color:#000}</style></head>'
              '<body data-x="a-b">'
              '<script>var t="</p>";track();</script><p>'),
        F.col(text_col),
        F.lit("</p></body></html>"),
    )


def extract_text_col(html_col) -> Column:
    """Strip a page down to its body text: drop script/style blocks
    (lazy, dotall — their content may contain markup-lookalikes), take
    the <body> element, remove remaining tags. The per-row invariant the
    engine guarantees (north rule): applied to `build_rich_html_col`
    output this recovers the original text BYTES exactly."""
    col = html_col if not isinstance(html_col, str) else F.col(html_col)
    no_script = F.regexp_replace(col, r"(?s)<script.*?</script>", "")
    no_style = F.regexp_replace(no_script, r"(?s)<style.*?</style>", "")
    body = F.regexp_extract(no_style, r"(?s)<body[^>]*>(.*)</body>", 1)
    return F.regexp_replace(body, r"(?s)<[^>]*>", "")


# ---------------------------------------------------------------------------
# Gopher-style quality rules (r6). The public web-curation rule set
# from Rae et al. 2021 ("Scaling Language Models: ... Gopher", §A1.1):
# documents are dropped on word-count bounds, mean-word-length bounds,
# symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
# fraction, stopword presence, and repetition ratios. Everything below
# is pure Catalyst (split/filter/aggregate higher-order expressions —
# whole-stage codegen, zero Python) with exact DuckDB twins for the
# oracle. The repetition rules are O(L²)/O(G²) in a doc's OWN line /
# bigram count — per-row bounded work that scales linearly in corpus
# size, the right trade at 100 TB (no shuffle, no explode).
# ---------------------------------------------------------------------------

GOPHER_SYMBOLS = ("#", "...")
GRAM_KEY = 1_000_000  # tie-break encoding: cnt*KEY + gram_length
# Rae 2021 A1.1: a document must contain at least 2 of these English
# stop words (this is Gopher's own 8-word list, distinct from the
# lang-ID STOPWORDS table above)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_exprs(text_col: str = "text") -> dict[str, Column]:
    """Quality-rule features as exact rational/integer expressions."""
    stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    hash_cnt = n_chars - F.length(F.regexp_replace(F.col(text_col), "#", ""))
    dots_cnt = (
        n_chars
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / 3
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)
    bullet = F.size(F.expr(
        f"filter(split({text_col}, '\\n'), l -> l rlike '^\\\\s*[-*•]')"
    ))
    ellipsis = F.size(F.expr(
        f"filter(split({text_col}, '\\n'), l -> l rlike '\\\\.\\\\.\\\\.$')"
    ))
    alpha = F.size(F.expr(
        f"filter(split({text_col}, ' '), t -> t rlike '[A-Za-z]')"
    ))
    dup_line_chars = F.expr(
        f"aggregate(transform(split({text_col}, '\\n'), l -> "
        f"IF(size(filter(split({text_col}, '\\n'), x -> x = l)) > 1, "
        "CAST(length(l) AS BIGINT), 0L)), 0L, (acc, v) -> acc + v)"
    )
    line_chars = F.expr(
        f"aggregate(transform(split({text_col}, '\\n'), "
        "l -> CAST(length(l) AS BIGINT)), 0L, (acc, v) -> acc + v)"
    )
    # top-bigram char fraction: chars covered by the most frequent
    # space-joined token bigram. Tie-break = longer gram, encoded as an
    # integer key cnt*GRAM_KEY + len so Spark and DuckDB provably pick
    # the SAME (count, length) pair (gram length < GRAM_KEY assumed —
    # a single bigram a million chars long is outside any real corpus).
    # r7: delegates to the sorted-run-fold form shared with the top
    # 3/4-gram rules — O(G log G) instead of the r6 all-pairs scan,
    # value-identical (the fold lands on the same max key; the <2
    # guard returns the same 0.0 the empty-gram coalesce produced).
    d = F.lit(1.0)
    return {
        "n_tokens": n_tok,
        "mean_word_len": (
            (n_chars - (n_tok - F.lit(1))).cast("double") / n_tok
        ),
        "symbol_word_ratio": (hash_cnt + dots_cnt).cast("double") * d / n_tok,
        "bullet_line_frac": bullet.cast("double") / n_lines,
        "ellipsis_line_frac": ellipsis.cast("double") / n_lines,
        "alpha_word_frac": alpha.cast("double") / n_tok,
        "dup_line_frac": (
            (n_lines - F.size(F.array_distinct(lines))).cast("double")
            / n_lines
        ),
        "dup_line_char_frac": (
            dup_line_chars.cast("double")
            / F.greatest(line_chars, F.lit(1))
        ),
        "top_2gram_char_frac": F.expr(_top_ngram_frac_sql(text_col, 2)),
        # distinct members of Gopher's 8-word stop list present in the
        # doc (rule: >= 2). O(8) array_contains scans — per-row bounded
        "stopword_hits": F.expr(
            f"size(filter(array({stop_list}), "
            f"w -> array_contains(split({text_col}, ' '), w)))"
        ),
    }


def gopher_pass_col(text_col: str = "text") -> Column:
    """The combined keep/drop verdict with Gopher's published
    thresholds (word count 50-100k, mean word length 3-10, symbol
    ratio <0.1, bullet lines <90%, ellipsis lines <30%, alpha words
    >80%, dup lines <30%, dup line chars <20%, top-bigram chars
    <20%, >= 2 of the 8 Gopher stop words present)."""
    e = gopher_exprs(text_col)
    return (
        (e["n_tokens"] >= 50) & (e["n_tokens"] <= 100_000)
        & (e["mean_word_len"] >= 3) & (e["mean_word_len"] <= 10)
        & (e["symbol_word_ratio"] < 0.1)
        & (e["bullet_line_frac"] < 0.9)
        & (e["ellipsis_line_frac"] < 0.3)
        & (e["alpha_word_frac"] > 0.8)
        & (e["dup_line_frac"] < 0.3)
        & (e["dup_line_char_frac"] < 0.2)
        & (e["top_2gram_char_frac"] < 0.2)
        & (e["stopword_hits"] >= 2)
    )


def gopher_pass_sql_duckdb(text_col: str = "text") -> str:
    """DuckDB twin of :func:`gopher_pass_col` — the identical threshold
    conjunction over the :func:`gopher_sql_duckdb` expressions (all
    thresholds integer-or-exact-decimal literals on exact rational
    features, so the verdict is bit-identical across engines)."""
    e = gopher_sql_duckdb(text_col)
    return (
        f"(({e['n_tokens']}) >= 50 AND ({e['n_tokens']}) <= 100000"
        f" AND ({e['mean_word_len']}) >= 3 AND ({e['mean_word_len']}) <= 10"
        f" AND ({e['symbol_word_ratio']}) < CAST(0.1 AS DOUBLE)"
        f" AND ({e['bullet_line_frac']}) < CAST(0.9 AS DOUBLE)"
        f" AND ({e['ellipsis_line_frac']}) < CAST(0.3 AS DOUBLE)"
        f" AND ({e['alpha_word_frac']}) > CAST(0.8 AS DOUBLE)"
        f" AND ({e['dup_line_frac']}) < CAST(0.3 AS DOUBLE)"
        f" AND ({e['dup_line_char_frac']}) < CAST(0.2 AS DOUBLE)"
        f" AND ({e['top_2gram_char_frac']}) < CAST(0.2 AS DOUBLE)"
        f" AND ({e['stopword_hits']}) >= 2)"
    )


def gopher_sql_duckdb(text_col: str = "text") -> dict[str, str]:
    """Exact DuckDB twins of gopher_exprs (list lambdas mirror the
    Catalyst higher-order functions; same tie-break for the bigram)."""
    stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    toks = f"string_split({text_col}, ' ')"
    lines = f"string_split({text_col}, chr(10))"
    n_tok = f"len({toks})"
    n_chars = f"length({text_col})"
    grams = (
        f"list_transform(range(1, len({toks})), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1])"
    )
    cnt = f"len(list_filter({grams}, x -> x = g))"
    top2_key = (
        f"list_max(list_transform(list_distinct({grams}), "
        f"g -> CAST({cnt} AS BIGINT) * {GRAM_KEY} + length(g)))"
    )
    top2_chars = (
        f"(CAST({top2_key} AS BIGINT) // {GRAM_KEY}) * "
        f"(CAST({top2_key} AS BIGINT) % {GRAM_KEY})"
    )
    dup_chars = (
        f"list_sum(list_transform({lines}, l -> CASE WHEN "
        f"len(list_filter({lines}, x -> x = l)) > 1 "
        "THEN CAST(length(l) AS BIGINT) ELSE CAST(0 AS BIGINT) END))"
    )
    line_chars = f"list_sum(list_transform({lines}, l -> length(l)))"
    return {
        "n_tokens": f"CAST({n_tok} AS INT)",
        "mean_word_len": (
            f"CAST({n_chars} - ({n_tok} - 1) AS DOUBLE) / {n_tok}"
        ),
        "symbol_word_ratio": (
            f"(CAST({n_chars} - length(replace({text_col}, '#', '')) "
            f"AS DOUBLE) + CAST({n_chars} - "
            f"length(replace({text_col}, '...', '')) AS DOUBLE) / 3) "
            f"/ {n_tok}"
        ),
        "bullet_line_frac": (
            f"CAST(len(list_filter({lines}, "
            "l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE) / "
            f"len({lines})"
        ),
        "ellipsis_line_frac": (
            f"CAST(len(list_filter({lines}, "
            "l -> regexp_matches(l, '\\.\\.\\.$'))) AS DOUBLE) / "
            f"len({lines})"
        ),
        "alpha_word_frac": (
            f"CAST(len(list_filter({toks}, "
            "t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) / "
            f"{n_tok}"
        ),
        "dup_line_frac": (
            f"CAST(len({lines}) - len(list_distinct({lines})) "
            f"AS DOUBLE) / len({lines})"
        ),
        "dup_line_char_frac": (
            f"CAST({dup_chars} AS DOUBLE) / greatest({line_chars}, 1)"
        ),
        "top_2gram_char_frac": (
            f"CAST(COALESCE({top2_chars}, 0) AS DOUBLE) / "
            f"greatest({n_chars}, 1)"
        ),
        "stopword_hits": (
            f"CAST(len(list_filter([{stop_list}], "
            f"w -> list_contains({toks}, w))) AS INT)"
        ),
    }


# ---------------------------------------------------------------------------
# Full Gopher repetition-rule set (r7). Completes Rae et al. 2021 §A1.1
# Table A1: duplicate paragraph fraction / char fraction, top 3- and
# 4-gram char fraction, and duplicate 5..10-gram char fraction. The
# dup-n-gram char fraction is OVERLAP-AWARE token-character coverage: a
# token's characters count once if ANY n-gram window containing it
# occurs more than once in the doc (numerator and denominator both
# exclude the inter-token spaces, so the definition is identical in
# both engines regardless of whitespace runs). Single-expression
# Catalyst with a let-binding idiom — `element_at(transform(array(X),
# v -> body), 1)` evaluates X ONCE and binds it as the lambda variable
# — so the O(G^2) duplicate-flag scan runs once per (doc, n), not once
# per token. DuckDB mirrors it with `list_transform([X], v -> body)[1]`
# and inclusive `generate_series` (empty when start > stop, unlike
# Spark's descending `sequence`, hence the explicit < n guard on the
# Spark side). All work is per-row bounded (no shuffle, no explode):
# the right 100 TB shape for a per-document quality gate.
# ---------------------------------------------------------------------------

DUP_NGRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}


def _top_ngram_frac_sql(text_col: str, n: int) -> str:
    """Spark SQL: char fraction of the most frequent word n-gram
    (count * gram length over total chars; (count, length) tie-break
    via the same GRAM_KEY encoding as the bigram rule). O(G log G):
    sort the grams, then one fold tracks the current equal-run length
    and the best key — the last element of each run carries the full
    count, so `greatest` at every step lands on exactly the key that
    the naive count-each-distinct-gram scan (the DuckDB twin) picks."""
    toks = f"split({text_col}, ' ')"
    grams = (
        f"transform(sequence(1, size(t) - {n} + 1), "
        f"i -> concat_ws(' ', slice(t, i, {n})))"
    )
    run = (
        "IF(k > 1 AND element_at(s, k) = element_at(s, k - 1), "
        "acc.run + 1L, 1L)"
    )
    key = (
        "aggregate(sequence(1, size(s)), "
        "named_struct('run', 0L, 'best', 0L), "
        f"(acc, k) -> named_struct('run', {run}, 'best', "
        f"greatest(acc.best, ({run}) * {GRAM_KEY}L "
        "+ length(element_at(s, k)))), acc -> acc.best)"
    )
    return (
        f"IF(size({toks}) < {n}, CAST(0 AS DOUBLE), "
        f"element_at(transform(array({toks}), t -> "
        f"element_at(transform(array(array_sort({grams})), s -> "
        f"element_at(transform(array({key}), b -> "
        f"CAST((b DIV {GRAM_KEY}L) * (b % {GRAM_KEY}L) AS DOUBLE)"
        f" / greatest(CAST(length({text_col}) AS DOUBLE), CAST(1 AS DOUBLE))"
        f"), 1)), 1)), 1))"
    )


def _top_ngram_frac_duckdb(text_col: str, n: int) -> str:
    toks = f"string_split({text_col}, ' ')"
    grams = (
        f"list_transform(generate_series(1, len(t) - {n} + 1), "
        f"i -> array_to_string(t[i:i+{n}-1], ' '))"
    )
    key = (
        "list_max(list_transform(list_distinct(g), x -> "
        "CAST(len(list_filter(g, y -> y = x)) AS BIGINT) "
        f"* {GRAM_KEY} + length(x)))"
    )
    return (
        f"CASE WHEN len({toks}) < {n} THEN CAST(0 AS DOUBLE) ELSE "
        f"list_transform([{toks}], t -> "
        f"list_transform([{grams}], g -> "
        f"CAST((({key}) // {GRAM_KEY}) * (({key}) % {GRAM_KEY}) AS DOUBLE)"
        f" / greatest(CAST(length({text_col}) AS DOUBLE), CAST(1 AS DOUBLE))"
        f")[1])[1] END"
    )


def _dup_ngram_frac_sql(text_col: str, n: int) -> str:
    """Spark SQL: overlap-aware duplicate-n-gram token-char coverage.
    Nested lets bind tokens t, grams g, sorted (gram, idx) pairs s,
    dup-flags d; coverage is then O(T * n) `exists` probes over d.
    The dup flags come from TWO sorts instead of the naive all-pairs
    scan (the DuckDB twin's form): sort (gram, position) pairs, mark
    a pair duplicated iff it equals a sorted neighbor, sort back by
    position — O(G log G) instead of O(G^2), the difference between
    20 ms and minutes per 10k-token crawl doc. Guarded so sequence()
    bounds are always ascending (T >= n inside the ELSE branch)."""
    toks = f"split({text_col}, ' ')"
    grams = (
        f"transform(sequence(1, size(t) - {n} + 1), "
        f"i -> concat_ws(' ', slice(t, i, {n})))"
    )
    sorted_pairs = (
        "array_sort(transform(sequence(1, size(g)), "
        "i -> named_struct('gr', element_at(g, i), 'idx', i)))"
    )
    dupflags = (
        "transform(array_sort(transform(sequence(1, size(s)), "
        "k -> named_struct('idx', element_at(s, k).idx, 'dup', "
        "(k > 1 AND element_at(s, k).gr = element_at(s, k - 1).gr) OR "
        "(k < size(s) AND element_at(s, k).gr = element_at(s, k + 1).gr)"
        "))), p -> p.dup)"
    )
    covered = (
        f"aggregate(sequence(1, size(t)), 0L, (acc, j) -> acc + "
        f"IF(exists(sequence(greatest(1, j - {n} + 1), "
        f"least(j, size(t) - {n} + 1)), i -> element_at(d, i)), "
        f"CAST(length(element_at(t, j)) AS BIGINT), 0L))"
    )
    tok_chars = "aggregate(t, 0L, (acc, w) -> acc + length(w))"
    return (
        f"IF(size({toks}) < {n}, CAST(0 AS DOUBLE), "
        f"element_at(transform(array({toks}), t -> "
        f"element_at(transform(array({grams}), g -> "
        f"element_at(transform(array({sorted_pairs}), s -> "
        f"element_at(transform(array({dupflags}), d -> "
        f"CAST({covered} AS DOUBLE) / "
        f"greatest(CAST({tok_chars} AS DOUBLE), CAST(1 AS DOUBLE))"
        f"), 1)), 1)), 1)), 1))"
    )


def _dup_ngram_frac_duckdb(text_col: str, n: int) -> str:
    toks = f"string_split({text_col}, ' ')"
    grams = (
        f"list_transform(generate_series(1, len(t) - {n} + 1), "
        f"i -> array_to_string(t[i:i+{n}-1], ' '))"
    )
    dupflags = (
        "list_transform(generate_series(1, len(g)), "
        "i -> len(list_filter(g, x -> x = g[i])) > 1)"
    )
    covered = (
        f"list_sum(list_transform(generate_series(1, len(t)), j -> "
        f"CASE WHEN len(list_filter(generate_series(greatest(1, j - {n} + 1), "
        f"least(j, len(t) - {n} + 1)), i -> d[i])) > 0 "
        f"THEN CAST(length(t[j]) AS BIGINT) ELSE CAST(0 AS BIGINT) END))"
    )
    tok_chars = "list_sum(list_transform(t, w -> CAST(length(w) AS BIGINT)))"
    return (
        f"CASE WHEN len({toks}) < {n} THEN CAST(0 AS DOUBLE) ELSE "
        f"list_transform([{toks}], t -> "
        f"list_transform([{grams}], g -> "
        f"list_transform([{dupflags}], d -> "
        f"CAST({covered} AS DOUBLE) / "
        f"greatest(CAST({tok_chars} AS DOUBLE), CAST(1 AS DOUBLE))"
        f")[1])[1])[1] END"
    )


def gopher_repetition_exprs(text_col: str = "text") -> dict[str, Column]:
    """The Rae 2021 A1.1 repetition features beyond the line/bigram
    rules already in :func:`gopher_exprs`: dup-paragraph fraction and
    char fraction (paragraphs = blank-line splits), top 3/4-gram char
    fraction, duplicate 5..10-gram char coverage."""
    paras = f"split({text_col}, '\\n\\n')"
    dup_para_chars = (
        f"aggregate(transform({paras}, p -> "
        f"IF(size(filter({paras}, x -> x = p)) > 1, "
        "CAST(length(p) AS BIGINT), 0L)), 0L, (acc, v) -> acc + v)"
    )
    para_chars = (
        f"aggregate(transform({paras}, "
        "p -> CAST(length(p) AS BIGINT)), 0L, (acc, v) -> acc + v)"
    )
    out: dict[str, Column] = {
        "dup_para_frac": F.expr(
            f"CAST(size({paras}) - size(array_distinct({paras})) AS DOUBLE)"
            f" / size({paras})"
        ),
        "dup_para_char_frac": F.expr(
            f"CAST({dup_para_chars} AS DOUBLE)"
            f" / greatest(CAST({para_chars} AS DOUBLE), CAST(1 AS DOUBLE))"
        ),
    }
    for n in (3, 4):
        out[f"top_{n}gram_char_frac"] = F.expr(
            _top_ngram_frac_sql(text_col, n)
        )
    for n in DUP_NGRAM_THRESHOLDS:
        out[f"dup_{n}gram_char_frac"] = F.expr(
            _dup_ngram_frac_sql(text_col, n)
        )
    return out


def gopher_repetition_sql_duckdb(text_col: str = "text") -> dict[str, str]:
    """Exact DuckDB twins of :func:`gopher_repetition_exprs`."""
    paras = f"string_split({text_col}, chr(10) || chr(10))"
    dup_para_chars = (
        f"list_sum(list_transform({paras}, p -> CASE WHEN "
        f"len(list_filter({paras}, x -> x = p)) > 1 "
        "THEN CAST(length(p) AS BIGINT) ELSE CAST(0 AS BIGINT) END))"
    )
    para_chars = (
        f"list_sum(list_transform({paras}, p -> "
        "CAST(length(p) AS BIGINT)))"
    )
    out = {
        "dup_para_frac": (
            f"CAST(len({paras}) - len(list_distinct({paras})) AS DOUBLE)"
            f" / len({paras})"
        ),
        "dup_para_char_frac": (
            f"CAST({dup_para_chars} AS DOUBLE)"
            f" / greatest(CAST({para_chars} AS DOUBLE), CAST(1 AS DOUBLE))"
        ),
    }
    for n in (3, 4):
        out[f"top_{n}gram_char_frac"] = _top_ngram_frac_duckdb(text_col, n)
    for n in DUP_NGRAM_THRESHOLDS:
        out[f"dup_{n}gram_char_frac"] = _dup_ngram_frac_duckdb(text_col, n)
    return out


def gopher_repetition_pass_col(text_col: str = "text") -> Column:
    """Keep/drop verdict over the repetition rules alone (Table A1
    thresholds: dup paragraphs < 0.30, dup paragraph chars < 0.20,
    top 3-gram < 0.18, top 4-gram < 0.16, dup 5..10-gram coverage
    < 0.15 down to < 0.10)."""
    e = gopher_repetition_exprs(text_col)
    cond = (e["dup_para_frac"] < 0.3) & (e["dup_para_char_frac"] < 0.2)
    for n, thr in TOP_NGRAM_THRESHOLDS.items():
        if n == 2:
            continue  # the bigram rule lives in gopher_pass_col
        cond = cond & (e[f"top_{n}gram_char_frac"] < thr)
    for n, thr in DUP_NGRAM_THRESHOLDS.items():
        cond = cond & (e[f"dup_{n}gram_char_frac"] < thr)
    return cond


def gopher_repetition_pass_sql_duckdb(text_col: str = "text") -> str:
    e = gopher_repetition_sql_duckdb(text_col)
    parts = [
        f"({e['dup_para_frac']}) < CAST(0.3 AS DOUBLE)",
        f"({e['dup_para_char_frac']}) < CAST(0.2 AS DOUBLE)",
    ]
    for n, thr in TOP_NGRAM_THRESHOLDS.items():
        if n == 2:
            continue
        parts.append(
            f"({e[f'top_{n}gram_char_frac']}) < CAST({thr} AS DOUBLE)"
        )
    for n, thr in DUP_NGRAM_THRESHOLDS.items():
        parts.append(
            f"({e[f'dup_{n}gram_char_frac']}) < CAST({thr} AS DOUBLE)"
        )
    return "(" + " AND ".join(parts) + ")"


def gopher_full_pass_col(text_col: str = "text") -> Column:
    """The COMPLETE published Gopher gate: every §A1.1 rule —
    :func:`gopher_pass_col` (bounds/symbols/lines/stopwords/bigram)
    AND :func:`gopher_repetition_pass_col` (paragraph + higher-order
    n-gram repetition)."""
    return gopher_pass_col(text_col) & gopher_repetition_pass_col(text_col)


def gopher_full_pass_sql_duckdb(text_col: str = "text") -> str:
    return (
        f"({gopher_pass_sql_duckdb(text_col)} AND "
        f"{gopher_repetition_pass_sql_duckdb(text_col)})"
    )


# ---------------------------------------------------------------------------
# BPE-style token counting + URL ops (r6). The token-count regex is the
# public GPT-2 pre-tokenizer pattern (contractions / letter runs /
# digit runs / punctuation runs / whitespace), minus the negative
# lookahead, which RE2 (DuckDB) does not support — both engines then
# use ordered-alternation leftmost-first matching, so counts agree
# exactly. This approximates real-tokenizer token counts well enough
# for corpus budgeting without shipping a merges table.
# ---------------------------------------------------------------------------

BPE_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_count_col(text_col: str = "text") -> Column:
    """Pre-tokenizer piece count (the unit LLM data budgets use).
    Column-form regexp arg sidesteps SQL string-literal escaping of the
    quote/backslashes in the pattern."""
    return F.size(
        F.regexp_extract_all(
            F.col(text_col), F.lit(BPE_PATTERN), F.lit(0)
        )
    )


def bpe_token_count_sql_duckdb(text_col: str = "text") -> str:
    pat = BPE_PATTERN.replace("'", "''")
    return (
        f"CAST(len(regexp_extract_all({text_col}, "
        f"'{pat}')) AS INT)"
    )


_URL_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)"
_URL_PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)"

# second-level labels that act like TLD extensions (public-suffix
# heuristic: good enough for grouping crawl URLs by site without
# shipping the full PSL)
_SLD_EXT = ("co", "com", "org", "net", "ac", "gov", "edu")


def url_host_col(url_col: str = "url") -> Column:
    """scheme://[user@]HOST[:port]/... → host (same regex as the
    DuckDB twin; empty string when the URL does not parse)."""
    return F.regexp_extract(F.col(url_col), _URL_HOST_RE, 1)


def url_path_col(url_col: str = "url") -> Column:
    return F.regexp_extract(F.col(url_col), _URL_PATH_RE, 1)


def url_domain_col(url_col: str = "url") -> Column:
    """Registrable-domain heuristic: last two host labels, or last
    three when the middle one is a known SLD extension ('bbc.co.uk' →
    'bbc.co.uk', 'a.b.example.com' → 'example.com')."""
    host = url_host_col(url_col)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    sld = F.element_at(parts, -2)
    three = (n >= 3) & sld.isin(*_SLD_EXT)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2),
        F.element_at(parts, -1)
    )
    return F.when(n <= 2, host).when(three, last3).otherwise(last2)
