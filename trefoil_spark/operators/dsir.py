"""DSIR-style data selection via importance resampling (r7).

The published method (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling"): featurize documents as hashed
n-gram (unigram + bigram) bucket counts, fit bag-of-buckets unigram
models over a TARGET corpus (the distribution you want, e.g. quality
text) and the RAW corpus (the crawl), then weight each raw doc by its
log importance ratio

    log w(doc) = sum over grams g of [ log p_target(B(g))
                                       - log p_raw(B(g)) ]

and resample top-k by Gumbel-perturbed weight. Every stage is a plain
DataFrame op with a DuckDB twin (tests/test_dsir.py):

  * featurize: narrow explode of unigrams + space-joined bigrams,
    bucket = portable_md5_hash(gram) % buckets — the SAME md5-prefix
    hash textstats/dedup use for cross-engine parity;
  * train: two keyed aggregations (one per corpus) over at most
    `buckets` distinct keys, full-outer-joined into a weight table of
    AT MOST `buckets` rows — add-alpha smoothed so unseen buckets get
    finite mass;
  * score: explode the raw docs' grams (narrow), broadcast-join the
    bounded weight table (10k rows — ALWAYS broadcastable, by
    construction, unlike an LM whose vocab grows with the corpus),
    one keyed agg back to doc_id;
  * resample: deterministic Gumbel top-k — the Gumbel noise is a pure
    function of (seed, doc_id) via the same portable hash, so the
    selection is reproducible across retries, partitionings, and
    engines (the published method uses RNG Gumbel; determinism is the
    distributed-correctness upgrade, same trick as
    cleaning.sample_deterministic).

100 TB shape: the raw corpus is touched twice (featurize for train,
featurize for score), both narrow; the only shuffles are the two
bucket-count aggregations (bounded key space -> tiny reducers) and the
per-doc score agg. The weight table is O(buckets) regardless of corpus
size. Top-k select compiles to TakeOrderedAndProject (per-partition
heap + driver merge of k rows), not a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lm import tokens_col
from .textstats import token_hash_expr

__all__ = [
    "featurize_dsir",
    "train_dsir",
    "score_dsir",
    "resample_dsir",
]

DSIR_BUCKETS = 10_000  # Xie 2023 use 10k hash buckets
_GUMBEL_MOD = 2_147_483_647  # 2^31 - 1 (u in (0,1) strictly)


def featurize_dsir(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   buckets: int = DSIR_BUCKETS) -> DataFrame:
    """(id, text) -> exploded (doc_id, bucket): hashed unigram +
    bigram buckets, one row per gram occurrence. Lowercased whitespace
    tokens (same tokenizer as the LM scorer)."""
    toks = tokens_col(text_col)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(toks, bigrams)
    h = token_hash_expr("g")
    return df.select(
        F.col(id_col).alias("doc_id"), grams.alias("_grams")
    ).select(
        "doc_id", F.explode("_grams").alias("g")
    ).select(
        "doc_id", F.expr(f"{h} % {buckets}L").alias("bucket")
    )


def _bucket_counts(df: DataFrame, id_col: str, text_col: str,
                   buckets: int) -> DataFrame:
    return featurize_dsir(df, id_col, text_col, buckets).groupBy(
        "bucket"
    ).agg(F.count("*").alias("c"))


def train_dsir(target: DataFrame, raw: DataFrame,
               id_col: str = "doc_id", text_col: str = "text",
               buckets: int = DSIR_BUCKETS,
               alpha: int = 1) -> DataFrame:
    """-> weight table (bucket, logratio): add-alpha smoothed
    log p_target(bucket) - log p_raw(bucket). At most `buckets` rows;
    alpha is an INTEGER so both engines build the identical IEEE
    expression tree (bare decimal literals parse as DECIMAL with
    engine-specific arithmetic — the repo-wide float-parity rule)."""
    tc = _bucket_counts(target, id_col, text_col, buckets)
    rc = _bucket_counts(raw, id_col, text_col, buckets)
    t_tot = tc.agg(F.sum("c").alias("nt"))  # 1 row
    r_tot = rc.agg(F.sum("c").alias("nr"))  # 1 row
    joined = (
        tc.withColumnRenamed("c", "ct")
        .join(rc.withColumnRenamed("c", "cr"), "bucket", "full_outer")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
    )
    a = F.lit(alpha).cast("double")
    ab = F.lit(alpha * buckets).cast("double")
    logratio = (
        F.log(F.coalesce(F.col("ct"), F.lit(0)).cast("double") + a)
        - F.log(F.col("nt").cast("double") + ab)
        - F.log(F.coalesce(F.col("cr"), F.lit(0)).cast("double") + a)
        + F.log(F.col("nr").cast("double") + ab)
    )
    return joined.select("bucket", logratio.alias("logratio"))


def score_dsir(docs: DataFrame, weights: DataFrame,
               id_col: str = "doc_id",
               text_col: str = "text",
               buckets: int = DSIR_BUCKETS) -> DataFrame:
    """docs -> (doc_id, n_grams, logw). Docs with no gram keep a NULL
    logw (no evidence — same contract as score_perplexity). The weight
    table is bounded by `buckets`, so the broadcast is unconditional
    BY CONSTRUCTION (contrast lm.score_perplexity, whose model grows
    with the reference corpus and needs the size-guard)."""
    feats = featurize_dsir(docs, id_col, text_col, buckets)
    scored = feats.join(F.broadcast(weights), "bucket", "left").groupBy(
        "doc_id"
    ).agg(
        F.count("*").alias("n_grams"),
        F.sum("logratio").alias("logw"),
    )
    ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return ids.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        "logw",
    )


def resample_dsir(scored: DataFrame, k: int,
                  seed: int | None = None) -> DataFrame:
    """Top-k docs by Gumbel-perturbed log-weight (Gumbel-top-k IS
    sampling-without-replacement proportional to the importance
    weights — the published resampling step). seed=None -> plain
    deterministic top-k by (logw, doc_id). The Gumbel draw is a pure
    function of (seed, doc_id): u = (H % (2^31-1) + 1) / (2^31),
    g = -ln(-ln(u)) — reproducible under retries and repartitioning.
    NULL-logw docs (no grams) are excluded: no evidence, no ticket."""
    key = F.col("logw")
    if seed is not None:
        h = token_hash_expr(f"concat('dsir', {seed}, ':', doc_id)")
        u = (
            (F.expr(f"pmod({h}, {_GUMBEL_MOD}L)") + F.lit(1)).cast("double")
            / F.lit(_GUMBEL_MOD + 1).cast("double")
        )
        key = key + (-F.log(-F.log(u)))
    out = scored.filter(F.col("logw").isNotNull()).select(
        "doc_id", "n_grams", "logw", key.alias("gumbel_key")
    )
    return out.orderBy(
        F.desc("gumbel_key"), F.asc("doc_id")
    ).limit(k)
