"""Corpus n-gram language-model scoring (r6) — the CCNet-style
quality signal (Wenzek et al. 2020 train a LM and keep low-perplexity
documents; the same shape underlies most published quality filters).

Two stages, both pure DataFrame ops with exact SQL twins:

  * train_bigram_lm: token/bigram counts over the (reference) corpus →
    add-one-smoothed conditional log-probs log p(w2|w1) =
    ln((c(w1,w2)+1) / (c(w1)+V)). One explode (narrow) + two
    aggregations; the model is a (w1, w2, logp) table whose size is
    the corpus's distinct-bigram count, NOT its token count.
  * score_perplexity: explode each scored doc's bigrams (narrow),
    join the model — broadcast when a sketched byte estimate fits the
    threshold (reference models are MBs — CCNet ships ~few-hundred-MB
    LMs, still broadcastable), shuffle-join otherwise (r7),
    unseen bigrams back off to ln(1/(c(w1)+V)) — and unseen w1 to
    ln(1/V) — then one doc_id aggregation: ppl = exp(-mean logp).

Float parity with DuckDB needs identical IEEE expression trees: all
literals CAST AS DOUBLE (bare decimals parse as DECIMAL with
engine-specific arithmetic), ln/exp natural, counts BIGINT.

100 TB shape: training is two shuffles keyed on w1/(w1,w2); scoring
never shuffles the corpus (narrow explode → broadcast join → one
keyed agg back to doc_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["tokens_col", "train_bigram_lm", "score_perplexity",
           "ppl_tercile_cuts", "ppl_bucket_col"]


def tokens_col(text_col: str = "text"):
    """Lowercased whitespace tokens (empty-safe)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda t: F.length(t) > 0,
    )


def _bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = tokens_col(text_col)
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("bg")
    ).select("doc_id", "bg.w1", "bg.w2")


def train_bigram_lm(corpus: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """corpus → (model, meta): model is (w1, w2, logp) with add-one
    smoothing; meta is a 1-row (vocab_size, unigram table rides in the
    model join). Returns (model, unigrams) — unigrams (w1, c1) are
    needed for the unseen-bigram backoff at scoring time."""
    bg = _bigrams(corpus, id_col, text_col)
    uni = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = corpus.select(
        F.explode(tokens_col(text_col)).alias("w")
    ).agg(F.count_distinct("w").alias("v"))
    big = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    model = (
        big.join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1", "w2",
            F.log(
                (F.col("c12") + F.lit(1).cast("double"))
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("logp"),
        )
    )
    uni_v = uni.crossJoin(F.broadcast(vocab)).select("w1", "c1", "v")
    return model, uni_v


BROADCAST_THRESHOLD = 256 * 1024 * 1024  # CCNet-size LMs stay broadcastable


def _model_bytes(df: DataFrame, *str_cols: str) -> int:
    """Sketched in-memory size: summed string chars + ~24 B/row fixed
    overhead (struct + numeric columns). One bounded agg job."""
    size = sum(F.sum(F.length(c)) for c in (F.col(s) for s in str_cols))
    row = df.agg(
        F.count(F.lit(1)).alias("n"), size.alias("chars")
    ).first()
    return int(row["chars"] or 0) + 24 * int(row["n"])


def score_perplexity(docs: DataFrame, model: DataFrame,
                     unigrams: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     broadcast: bool | None = None,
                     broadcast_threshold: int = BROADCAST_THRESHOLD) -> DataFrame:
    """docs → (doc_id, n_bigrams, ppl). Documents with no bigram get
    NULL ppl (no evidence, not perfect score).

    Join strategy (r7, VERDICT r6 item 3): ``broadcast=None`` sketches
    the model + unigram byte sizes (one bounded agg each — persist the
    model first when scoring repeatedly) and broadcasts only when the
    estimate fits ``broadcast_threshold``; above it, the joins fall
    back to shuffle joins on w1/(w1, w2) — a reference LM over a huge
    corpus can exceed any executor's memory, and the old unconditional
    broadcast would OOM the driver. Pass True/False to skip the
    estimate."""
    if broadcast is None:
        est = _model_bytes(model, "w1", "w2") + _model_bytes(unigrams, "w1")
        broadcast = est <= broadcast_threshold
    hint = F.broadcast if broadcast else (lambda d: d)
    bg = _bigrams(docs, id_col, text_col)
    vocab = unigrams.agg(F.max("v").alias("v_all"))  # 1 row
    scored = (
        bg.crossJoin(F.broadcast(vocab))
        .join(hint(unigrams), "w1", "left")
        .join(hint(model), ["w1", "w2"], "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("logp"),
                # seen w1, unseen bigram: ln(1/(c1+V))
                F.log(
                    F.lit(1).cast("double")
                    / (F.col("c1") + F.col("v")).cast("double")
                ),
                # unseen w1: uniform ln(1/V) over the trained vocab
                F.log(
                    F.lit(1).cast("double") / F.col("v_all").cast("double")
                ),
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.exp(-(F.sum("lp") / F.count("*"))).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail bucketing (late r7). Wenzek et al. 2020 §4.3
# split the crawl into three perplexity buckets per language and train
# preferentially on the low-perplexity "head"; the thresholds are
# CONSTANTS computed once from a reference distribution, after which
# bucketing is a narrow per-row comparison — the shape that matters at
# 100 TB (no global sort, no ntile window over the corpus).
# ---------------------------------------------------------------------------


def ppl_tercile_cuts(scored: DataFrame, sample_frac: float = 1.0,
                     salt: int = 0,
                     max_rows: int | None = None) -> tuple[float, float]:
    """Derive the (head|middle, middle|tail) perplexity thresholds
    from a scored table — exact over all non-null ppl when
    sample_frac=1.0, else over a deterministic hash sample (pure
    function of (salt, doc_id): retry/partition-stable; the collect is
    bounded by the sample). Cut rule: sorted sample, element at index
    floor((n-1)/3) and floor(2*(n-1)/3) — the exact lower-tercile
    statistic, reproducible in any engine.

    ``max_rows`` (r8, guide §5: the driver should do almost no data
    work) is a HARD bound on the collected sample: when set, one count
    of the scored table shrinks the effective fraction to
    ``min(sample_frac, max_rows / n)`` so the collect can never exceed
    ~max_rows rows no matter the corpus size. CCNet itself derives the
    cuts from a reference sample, so a bounded sample is the published
    semantics, not an approximation of it."""
    df = scored.filter(F.col("ppl").isNotNull())
    frac = float(sample_frac)
    if max_rows is not None:
        n = df.count()
        if n > 0:
            frac = min(frac, max_rows / n)
    if frac < 1.0:
        from .cleaning import sample_deterministic

        df = sample_deterministic(df, frac, salt=salt)
    vals = sorted(r["ppl"] for r in df.select("ppl").collect())
    if not vals:
        raise ValueError("no scored documents to derive cuts from")
    n = len(vals)
    return vals[(n - 1) // 3], vals[2 * (n - 1) // 3]


def ppl_bucket_col(cuts: tuple[float, float],
                   ppl_col: str = "ppl"):
    """ppl → 'head' | 'middle' | 'tail' (NULL ppl → NULL): narrow
    comparison against constant thresholds. Its DuckDB twin (same cuts
    injected) lives in tests/reference.py."""
    c1, c2 = cuts
    p = F.col(ppl_col)
    return (
        F.when(p.isNull(), F.lit(None).cast("string"))
        .when(p <= F.lit(float(c1)).cast("double"), F.lit("head"))
        .when(p <= F.lit(float(c2)).cast("double"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
