"""Webtext corpus cleaning operators (r6): C4 line rules, PII
redaction, benchmark decontamination, cross-corpus paragraph dedup.

All four are published-pipeline standards a 100 TB training-data run
applies between extraction and tokenization:

  * C4 line/page rules — Raffel et al. 2020 (JMLR 21(140)) §2.2: keep
    lines that end in terminal punctuation and have >= 5 words, drop
    lines containing "javascript", drop pages containing "{" or
    "lorem ipsum" or with < 3 retained lines.
  * PII redaction — the standard email/IPv4/phone regex scrub (e.g.
    BigScience ROOTS, The Pile preprocessing).
  * Decontamination — drop training docs sharing any 13-gram with an
    evaluation set (GPT-3 appendix C; Brown et al. 2020).
  * Paragraph dedup — exact cross-corpus paragraph removal keeping the
    first occurrence (RefinedWeb, Penedo et al. 2023; C4 does the same
    at three-sentence granularity).

Scale shapes (the 100 TB plan):
  * c4/pii: pure per-row Catalyst expressions — narrow, codegen, no
    shuffle, no Python.
  * decontaminate: doc n-grams are exploded NARROW (flatMap, no
    shuffle), semi-joined against the BROADCAST eval n-gram set, the
    (small) contaminated-id set is distinct()ed and broadcast back as
    an anti-join. The corpus is never shuffled; the only exchanges are
    on the tiny contaminated-id set.
  * dedup_paragraphs: one hash shuffle on the paragraph digest to pick
    winners (min (doc_id, para_idx) — deterministic under any
    partitioning), one shuffle back to reassemble documents. Both are
    keyed on digest/doc_id, so AQE coalesces; nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "c4_clean_col",
    "c4_page_pass_col",
    "c4_clean",
    "redact_pii_col",
    "pii_sql_duckdb",
    "decontaminate",
    "dedup_paragraphs",
]

# terminal punctuation per C4: period, exclamation, question, end quote
_TERMINAL = ('.', '!', '?', '"')


def _ws_trim(line: Column) -> Column:
    # strip spaces AND tabs from both ends; btrim with an explicit char
    # set is value-identical to the former ^[ \t]+|[ \t]+$ regex (the
    # DuckDB twin keeps the regex text) at a plain scan's cost — the
    # regex ran once per LINE, ~10^7 matcher invocations per 10^5 docs
    return F.btrim(line, F.lit(" \t"))


def _line_keep(line: Column) -> Column:
    """C4 line rule on a trimmed line: terminal punctuation, >= 5
    words, no 'javascript' (case-insensitive)."""
    ends_ok = F.substring(line, -1, 1).isin(*_TERMINAL)
    words_ok = F.size(F.split(line, " +")) >= 5
    no_js = ~F.lower(line).contains("javascript")
    return (F.length(line) > 0) & ends_ok & words_ok & no_js


def c4_clean_col(text_col: str = "text") -> Column:
    """Text → text with only the C4-retained lines (terminal
    punctuation, >= 5 words, no 'javascript'), each line trimmed,
    rejoined with newlines. Pure higher-order expressions — narrow,
    codegen, no Python."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        F.transform(lines, _ws_trim), _line_keep
    )
    return F.array_join(kept, "\n")


def c4_page_pass_col(text_col: str = "text",
                     cleaned_col: str | None = None) -> Column:
    """C4 page rule: drop pages whose ORIGINAL text contains '{' or
    'lorem ipsum' (case-insensitive), or that retain < 3 lines after
    the line rules. cleaned_col may name a column already produced by
    c4_clean_col to avoid recomputing the line pass.

    NULL text is FALSE (the CASE below), so c4_clean drops the row; the
    DuckDB twin in c4_sql_duckdb is FALSE as well. c4_clean_col itself
    returns NULL for NULL text where the twin's cleaned text is ''."""
    raw = F.col(text_col)
    cleaned = (F.col(cleaned_col) if cleaned_col is not None
               else c4_clean_col(text_col))
    n_kept = F.when(
        F.length(cleaned) == 0, F.lit(0)
    ).otherwise(F.size(F.split(cleaned, "\n")))
    # CASE, not a top-level AND (r8): the optimizer splits AND-ed filter
    # conjuncts and pushes each independently — the raw-text checks slid
    # below upstream exchanges while n_kept (which inlines the whole
    # line-pass when cleaned_col is an alias) was duplicated below a
    # bench repartition onto one input partition (~1 s single-task
    # stage). The CASE is one non-splittable predicate with the same
    # truth table (NULL raw text short-circuits to FALSE either way:
    # the old NULL conjunction also dropped the row).
    return F.when(
        ~raw.contains("{") & ~F.lower(raw).contains("lorem ipsum"),
        n_kept >= 3,
    ).otherwise(F.lit(False))


def c4_clean(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Apply the full C4 pass: line filtering rewrites text_col, page
    filtering drops rows. One narrow codegen stage.

    r8: ``__c4_text`` is produced by a Generate (explode of a 1-element
    array), not a Project. Predicates referencing generator output
    cannot be pushed below the Generate, so the page filter reads the
    already-computed column instead of being pushed below upstream
    exchanges with the whole line-pass expression inlined — which both
    re-evaluated the expensive chain per row twice (filter + project)
    and, in the bench shape, ran it on ONE pre-repartition input
    partition. Same rows, same values; plan shape verified in
    plans/r08/corpus_clean_after.txt.
    """
    out = df.withColumn(
        "__c4_text", F.explode(F.array(c4_clean_col(text_col)))
    )
    out = out.filter(c4_page_pass_col(text_col, "__c4_text"))
    return out.withColumn(text_col, F.col("__c4_text")).drop("__c4_text")


def c4_sql_duckdb(text_col: str = "text") -> dict[str, str]:
    """DuckDB twins of c4_clean_col / c4_page_pass_col (list lambdas
    mirror the Catalyst higher-order functions; same trim/word-split
    semantics).

    NULL text: ``cleaned`` is '' (the coalesce) where c4_clean_col gives
    NULL, and ``page_pass`` is FALSE (NULL AND ... AND 0 >= 3) as in
    Spark, so both filters drop the row. The oracle SQL is built from
    this text, so it stays as it is."""
    lines = f"string_split({text_col}, chr(10))"
    keep = (
        "x -> length(x) > 0 "
        "AND list_contains(['.', '!', '?', '\"'], x[-1]) "
        "AND len(list_filter(string_split_regex(x, ' +'), "
        "w -> length(w) > 0)) >= 5 "
        "AND NOT contains(lower(x), 'javascript')"
    )
    trim = "regexp_replace(l, '^[ \t]+|[ \t]+$', '', 'g')"
    cleaned = (
        f"list_aggregate(list_filter(list_transform({lines}, "
        f"l -> {trim}), {keep}), 'string_agg', chr(10))"
    )
    cleaned = f"coalesce({cleaned}, '')"
    n_kept = (
        f"CASE WHEN length({cleaned}) = 0 THEN 0 "
        f"ELSE len(string_split({cleaned}, chr(10))) END"
    )
    page_pass = (
        f"NOT contains({text_col}, '{{') "
        f"AND NOT contains(lower({text_col}), 'lorem ipsum') "
        f"AND {n_kept} >= 3"
    )
    return {"cleaned": cleaned, "page_pass": page_pass}


# ---------------------------------------------------------------------------
# PII redaction — regexes restricted to the syntax subset Java regex
# (Spark) and RE2 (DuckDB) interpret identically, so the DuckDB twin is
# string-equal by construction.
# ---------------------------------------------------------------------------

_PII_RULES = [
    # emails first: their digit runs must not be half-eaten by the
    # phone rule
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IPv4 before phones for the same reason
    (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    # international-ish phone: 8+ digits allowing separators
    (r"\+?[0-9][0-9()\[\] .-]{6,}[0-9]", "<PHONE>"),
]


def redact_pii_col(text_col: str = "text") -> Column:
    """Chained regexp_replace scrubbing emails, IPv4 addresses and
    phone-number-shaped digit runs to typed placeholder tokens. Narrow,
    codegen, no Python; rule order prevents partial double-matching."""
    out = F.col(text_col)
    for pat, token in _PII_RULES:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_sql_duckdb(text_col: str = "text") -> str:
    """The exact DuckDB twin of redact_pii_col (global-flag
    regexp_replace, same patterns in the shared dialect subset)."""
    out = text_col
    for pat, token in _PII_RULES:
        lit = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{lit}', '{token}', 'g')"
    return out


# ---------------------------------------------------------------------------
# Decontamination
# ---------------------------------------------------------------------------

def _ngram_hashes(text_col: Column, n: int) -> Column:
    """Lowercased whitespace tokens → array of xxhash64(ngram string).
    Documents shorter than n tokens yield an empty array (sequence()
    would otherwise count DOWN for a negative span)."""
    toks = F.filter(
        F.split(F.lower(text_col), r"\s+"), lambda t: F.length(t) > 0
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, n), " ")),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<bigint>")
    )


def decontaminate(docs: DataFrame, eval_df: DataFrame, n: int = 13,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Drop training documents that share ANY n-gram (default 13, the
    GPT-3 setting) with the evaluation set.

    100 TB shape: the corpus side explodes its n-gram hashes NARROW
    (flatMap — no shuffle of the corpus, ~n_tokens rows per doc that
    stream straight into the join), semi-joins against the BROADCAST
    eval n-gram set (eval suites are MBs, not TBs), and the resulting
    contaminated-id set — small by construction — is distinct()ed and
    anti-joined back. The full corpus is never shuffled or exploded
    into a shuffle; both exchanges touch only the contaminated ids.
    """
    eval_grams = (
        eval_df.select(
            F.explode(_ngram_hashes(F.col(text_col), n)).alias("gram")
        ).distinct()
    )
    doc_grams = docs.select(
        id_col, F.explode(_ngram_hashes(F.col(text_col), n)).alias("gram")
    )
    contaminated = (
        doc_grams.join(F.broadcast(eval_grams), "gram", "left_semi")
        .select(id_col).distinct()
    )
    return docs.join(F.broadcast(contaminated), id_col, "left_anti")


# ---------------------------------------------------------------------------
# Cross-corpus paragraph dedup
# ---------------------------------------------------------------------------

def dedup_paragraphs(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     split_pat: str = r"\n{2,}",
                     join_sep: str = "\n\n") -> DataFrame:
    """Remove every repeated paragraph (split on blank lines by
    default; pass split_pat=r"\\n+", join_sep="\\n" for RefinedWeb-
    style exact LINE dedup) across the whole corpus, keeping the first
    occurrence — first = smallest (doc_id, para_idx), deterministic
    under any partitioning. Documents left with no paragraphs are
    dropped.

    Plan: posexplode (narrow) → ONE hash shuffle on md5(paragraph)
    where a row_number window keeps the first occurrence (no
    winners-table join-back: the window partition IS the duplicate
    group) → one shuffle on doc_id to reassemble in original order
    (sort_array on the (idx, para) struct). Nothing scales with corpus
    size on the driver. A pathologically hot digest (one paragraph
    duplicated across a large corpus fraction) lands in one window
    task; its rows are only (id, idx, digest) tuples plus one text
    copy, the same bound as any top-1-per-key design.
    """
    from pyspark.sql.window import Window

    paras = docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), split_pat))
        .alias("para_idx", "para"),
    ).filter(F.length(F.trim("para")) > 0)
    digested = paras.withColumn("digest", F.md5(F.encode("para", "UTF-8")))
    w = Window.partitionBy("digest").orderBy(id_col, "para_idx")
    kept = digested.withColumn(
        "__rn", F.row_number().over(w)
    ).filter(F.col("__rn") == 1)
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("para_idx", "para"))),
                lambda s: s["para"],
            ),
            join_sep,
        ).alias(text_col)
    )


# ---------------------------------------------------------------------------
# Incremental pipeline ops (late r6): the shapes a RUNNING pipeline
# needs — new crawl shards arrive against an existing curated corpus.
# ---------------------------------------------------------------------------

def sample_deterministic(docs: DataFrame, fraction: float,
                         id_col: str = "doc_id",
                         salt: str = "sample") -> DataFrame:
    """Keep a deterministic ~fraction of documents: xxhash64(salt, id)
    bucketed mod 1e6. Unlike rand()-based sampling the kept set is a
    pure function of (salt, id) — re-runs, retries and different
    partitionings all select the same rows, and a DuckDB oracle can
    reproduce it. Narrow (no shuffle)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    bucket = F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(1_000_000))
    return docs.filter(bucket < int(round(fraction * 1_000_000)))


# ---------------------------------------------------------------------------
# Per-host boilerplate removal (late r7). Template text — nav bars,
# footers, cookie banners — repeats on most pages OF ITS HOST while
# being rare globally, so corpus-wide line dedup (above) keeps one
# stray copy per line and host-blind frequency cuts would need a
# global threshold that either misses templates on small hosts or
# eats real prose on big ones. The published framing is per-shard
# line-frequency removal (CCNet; RefinedWeb's line-wise rules);
# keying by host targets template text directly.
# ---------------------------------------------------------------------------


def remove_host_boilerplate(docs: DataFrame, url_col: str = "url",
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            min_frac_num: int = 1,
                            min_frac_den: int = 2,
                            min_pages: int = 4,
                            split_pat: str = r"\n+",
                            join_sep: str = "\n") -> DataFrame:
    """Strip lines appearing on >= min_frac_num/min_frac_den of a
    host's pages, for hosts with >= min_pages pages (below that the
    frequency estimate is noise and small hosts pass through
    untouched). The fraction is integer cross-multiplied
    (n_pages * den >= n_docs * num) so the DuckDB twin is float-free.
    Docs whose every line was boilerplate are dropped (the
    dedup_paragraphs contract). Non-text columns ride through.

    Plan: posexplode lines (narrow) → count DISTINCT pages per (host,
    line-digest) (one digest-keyed shuffle) + page counts per host
    (host-sized) → the boilerplate digest table (bounded: hosts x
    their template lines — left to AQE to broadcast when small) →
    left_anti back onto the line table → one doc_id shuffle to
    reassemble in original order. The corpus text shuffles once
    (reassembly), same bound as dedup_paragraphs."""
    from .textstats import url_host_col

    base = docs.select(
        id_col, F.lower(url_host_col(url_col)).alias("__host"), text_col
    )
    lines = base.select(
        id_col, "__host",
        F.posexplode(F.split(F.col(text_col), split_pat))
        .alias("line_idx", "line"),
    ).filter(F.length(F.trim("line")) > 0)
    digested = lines.withColumn("digest", F.md5(F.encode("line", "UTF-8")))
    per_line = digested.groupBy("__host", "digest").agg(
        F.count_distinct(id_col).alias("n_pages")
    )
    per_host = base.groupBy("__host").agg(
        F.count_distinct(id_col).alias("n_docs")
    )
    boiler = (
        per_line.join(per_host, "__host")
        .filter(
            (F.col("n_docs") >= min_pages)
            & (F.col("n_pages") * min_frac_den
               >= F.col("n_docs") * min_frac_num)
        )
        .select("__host", "digest")
    )
    kept = digested.join(boiler, ["__host", "digest"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
            join_sep,
        ).alias(text_col)
    )
    return docs.drop(text_col).join(rebuilt, id_col)
