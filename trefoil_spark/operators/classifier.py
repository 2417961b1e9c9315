"""Quality classifier (r7) — the supervised counterpart to the CCNet
perplexity gate. The published crawl-curation recipe (GPT-3 appendix A
/ WebText; LLaMA 1) trains a linear classifier on a trusted positive
corpus (wiki/books/reference pages) vs the unfiltered crawl as
negatives, then keeps documents the classifier scores as
positive-like. Multinomial Naive Bayes with add-one smoothing IS a
linear classifier over token counts whose training is CLOSED-FORM —
two keyed aggregations, no gradient loop — which makes it the
Spark-native instantiation: every stage is a DataFrame op with an
exact DuckDB twin, no driver-side iteration at any corpus size.

Model: per-token log-likelihood ratio
    llr(w) = ln((c_pos(w)+1)/(N_pos+V)) - ln((c_neg(w)+1)/(N_neg+V))
with V = |vocab(pos ∪ neg)|; a token unseen in BOTH corpora scores
    llr0   = ln(1/(N_pos+V)) - ln(1/(N_neg+V)).
Document score = Σ llr(w) over its tokens (+ the caller's prior if
class priors differ; symmetric sampling — the common setup — makes it
0). score > 0 ⇒ positive-like.

Float parity with DuckDB follows operators/lm.py: identical IEEE
expression trees (CAST AS DOUBLE everywhere, natural ln), and
consumers publish ROUND(score*100) so summation-order ulps can't
break hash equality.

100 TB shape: training shuffles only token-count tables (vocab-sized,
not corpus-sized); scoring is a narrow explode → model join
(broadcast under the lm.py size-guard, shuffle-join fallback above
it) → one keyed agg back to doc_id. The corpus is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lm import BROADCAST_THRESHOLD, _model_bytes, tokens_col

__all__ = ["train_nb_quality", "score_nb_quality"]


def train_nb_quality(pos: DataFrame, neg: DataFrame,
                     text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """(positive corpus, negative corpus) → (model, meta): model is
    (w, llr); meta is one row (np, nn, v, llr0) — the scoring-time
    unseen-token backoff rides there."""
    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(tokens_col(text_col)).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias(name))
        )

    joined = (
        counts(pos, "cp")
        .join(counts(neg, "cn"), "w", "full_outer")
        .select(
            "w",
            F.coalesce("cp", F.lit(0)).alias("cp"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
    )
    meta = joined.agg(
        F.sum("cp").alias("np"),
        F.sum("cn").alias("nn"),
        F.count(F.lit(1)).alias("v"),
    ).select(
        "np", "nn", "v",
        (
            F.log(F.lit(1).cast("double") / (F.col("np") + F.col("v")).cast("double"))
            - F.log(F.lit(1).cast("double") / (F.col("nn") + F.col("v")).cast("double"))
        ).alias("llr0"),
    )
    model = joined.crossJoin(F.broadcast(meta)).select(
        "w",
        (
            F.log(
                (F.col("cp") + F.lit(1)).cast("double")
                / (F.col("np") + F.col("v")).cast("double")
            )
            - F.log(
                (F.col("cn") + F.lit(1)).cast("double")
                / (F.col("nn") + F.col("v")).cast("double")
            )
        ).alias("llr"),
    )
    return model, meta


def score_nb_quality(docs: DataFrame, model: DataFrame, meta: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     broadcast: bool | None = None,
                     broadcast_threshold: int = BROADCAST_THRESHOLD,
                     ) -> DataFrame:
    """docs → (doc_id, n_tokens, score). Empty documents score NULL
    (no evidence — same contract as lm.score_perplexity). The model
    join broadcasts when the sketched size fits the threshold and
    falls back to a shuffle join above it (lm.py discipline)."""
    if broadcast is None:
        broadcast = _model_bytes(model, "w") <= broadcast_threshold
    hint = F.broadcast if broadcast else (lambda d: d)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(text_col)).alias("w"),
    )
    scored = (
        toks.join(hint(model), "w", "left")
        .crossJoin(F.broadcast(meta.select("llr0")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("llr", "llr0")).alias("score"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            "score",
        )
    )
