"""Sequence packing + domain capping (r6) — the last mile of a
training-data pipeline: curated documents → fixed-length training
sequences, and per-domain document caps for mixture control.

Sequence packing (pack_sequences): concatenate all documents in
doc_id order (an <eos> token after each), then cut the global token
stream into consecutive seq_len-token sequences. The published
pretraining setup (GPT-2/3 style packing).

100 TB shape — the global cumulative offset is the crux. A naive
`sum() over (order by doc_id)` window has an EMPTY partition clause:
Spark funnels the whole corpus through ONE task. Instead the classic
two-phase scan, all DataFrame ops:

  1. narrow: n_tokens per doc;
  2. bucket docs by doc_id range — equal-width ranges of the OBSERVED
     id span, so the bucket table stays ~count/bucket_size rows for
     dense sequential ids AND for sparse hashed ids (ADVICE r6: the
     old floor(id/bucket_size) rule degenerated to one bucket per doc
     on the WARC source's 63-bit hashed ids, re-creating the one-task
     window + #docs-row broadcast this design exists to avoid); then
     per-bucket token sums (one SMALL shuffle — rows = buckets);
  3. exclusive prefix over the bucket sums, computed in the DRIVER
     (r7): the bucket table is bounded (#buckets rows), so a collect
     + python loop replaces the single-partition prefix-window stage
     and its two exchanges — fixed cost that Amdahl-capped 3 s jobs;
  4. broadcast the bucket offsets back; within-bucket running sum via
     a window PARTITIONED by bucket (parallel across buckets);
  5. each doc explodes into the (few) sequences it overlaps — narrow,
     fragment rows ~ corpus tokens / seq_len extra rows only at
     boundaries;
  6. one shuffle on seq_id to assemble fragments in offset order.

Domain capping (cap_per_domain): keep at most `cap` documents per
registrable host; ties broken by doc_id so the kept set is
deterministic under any partitioning. Hot domains are handled by an
exact two-phase top-k (r7): rank within (domain, id-salt) first so a
mega-domain's sort splits across `salt` tasks, then rank the bounded
survivors per domain — two shuffles, no single-task funnel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["pack_sequences", "cap_per_domain", "domain_col",
           "sample_to_token_budget"]

EOS = "<eos>"


def _prefix_offsets(spark, brows, keyed: bool):
    """Bucket rows → exclusive-prefix offset DataFrame, computed in
    the driver. The bucket aggregate is bounded by design (#keys x
    #buckets rows; bucket_size is tuned so #buckets ~ cores x a few at
    any corpus size), so the python loop is O(#buckets) — and skipping
    the single-partition prefix-window stage drops two exchanges from
    the plan."""
    if keyed:
        brows = sorted(brows, key=lambda r: (r["__key"], r["bucket"]))
        out, acc, cur = [], 0, None
        for r in brows:
            if r["__key"] != cur:
                cur, acc = r["__key"], 0
            out.append((cur, r["bucket"], acc))
            acc += r["bsum"]
        return spark.createDataFrame(
            out, "__key string, bucket bigint, boffset bigint"
        )
    brows = sorted(brows, key=lambda r: r["bucket"])
    out, acc = [], 0
    for r in brows:
        out.append((r["bucket"], acc))
        acc += r["bsum"]
    return spark.createDataFrame(out, "bucket bigint, boffset bigint")


def pack_sequences(docs: DataFrame, seq_len: int,
                   id_col: str = "doc_id", text_col: str = "text",
                   bucket_size: int = 4096,
                   drop_last: bool = True,
                   max_buckets: int = 65536) -> DataFrame:
    """documents → (seq_id, tokens array<string>, n_tokens, n_docs)
    fixed-length training sequences in doc_id order, one <eos> after
    each document. drop_last drops the trailing partial sequence (the
    standard choice); bucket_size is the TARGET doc-count per scan
    bucket (tune so #buckets ~ cluster cores x a few).

    Buckets are equal-width ranges of the observed id span (one extra
    bounded job: a count/min/max agg over the narrow projection — a
    3-scalar collect, column-pruned at the scan). Any monotone
    id→bucket map with contiguous ranges yields the same offsets, so
    where the boundaries fall never affects results — only how evenly
    the bucket table fills."""
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.concat(toks, F.array(F.lit(EOS))).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
    ).first()
    # r8 (ADVICE r7): cap the bucket count — ceil(n/bucket_size) grows
    # linearly with the corpus (10^12 docs at the default bucket_size
    # is a 2.4e8-row driver collect), so the prefix table is now
    # HARD-bounded at max_buckets rows and bucket width widens instead.
    # Bucket boundaries never affect results (any monotone contiguous
    # id->bucket map yields the same offsets); past the cap the
    # per-bucket window simply holds n/max_buckets docs per task.
    n_buckets = min(
        max(1, -(-int(stats["n"] or 0) // bucket_size)), max_buckets
    )
    span = int(stats["hi"] - stats["lo"]) if stats["n"] else 0  # py ints: no overflow
    width = max(1, span // n_buckets + 1)
    # `div` (integer division) keeps the map exact and monotone for the
    # full int64 id range — float division would lose low bits of
    # 63-bit ids; labels needn't start at 0
    base = base.withColumn("bucket", F.expr(f"doc_id div {width}"))
    # phase 2+3: bucket sums, then exclusive prefix computed in the
    # DRIVER (r7): the bucket table is bounded (#buckets rows, tuned
    # via bucket_size), so a collect + python prefix replaces the
    # single-partition window stage and its two exchanges — ~0.5-0.9 s
    # of fixed cost per job that Amdahl-capped short-corpus scaling
    bsums = base.groupBy("bucket").agg(F.sum("n_toks").alias("bsum"))
    boffsets = _prefix_offsets(
        docs.sparkSession, bsums.collect(), keyed=False
    )
    # phase 4: within-bucket exclusive running sum, parallel per bucket
    w_doc = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    placed = (
        base.join(F.broadcast(boffsets), "bucket")
        .withColumn(
            "offset",
            F.col("boffset")
            + F.coalesce(F.sum("n_toks").over(w_doc), F.lit(0)),
        )
    )
    # phase 5: explode each doc into the sequences it overlaps; slice
    # its token array per overlap — narrow (generator, no shuffle)
    first_seq = F.floor(F.col("offset") / seq_len)
    last_seq = F.floor((F.col("offset") + F.col("n_toks") - 1) / seq_len)
    frags = placed.select(
        "doc_id", "toks", "n_toks", "offset",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    ).select(
        "doc_id", "seq_id",
        F.greatest(
            F.col("seq_id") * seq_len - F.col("offset"), F.lit(0)
        ).alias("lo"),
        F.least(
            (F.col("seq_id") + 1) * seq_len - F.col("offset"),
            F.col("n_toks").cast("bigint"),
        ).alias("hi"),
        "toks", "offset",
    ).select(
        "doc_id", "seq_id",
        (F.col("offset") + F.col("lo")).alias("frag_pos"),
        F.slice(
            "toks", (F.col("lo") + 1).cast("int"),
            (F.col("hi") - F.col("lo")).cast("int"),
        ).alias("frag"),
    )
    # phase 6: assemble fragments per sequence in stream order
    out = frags.groupBy("seq_id").agg(
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct("frag_pos", "frag"))),
                lambda s: s["frag"],
            )
        ).alias("tokens"),
        F.count("*").alias("n_docs"),
    ).withColumn("n_tokens", F.size("tokens"))
    if drop_last:
        out = out.filter(F.col("n_tokens") == seq_len)
    return out.select("seq_id", "tokens", "n_tokens",
                      F.col("n_docs").cast("int").alias("n_docs"))


def domain_col(url_col: str = "url") -> F.Column:
    """URL → lowercased host (scheme/userinfo/port/path stripped) —
    the mixture key. Pure regexp, shared Java/RE2 dialect."""
    host = F.regexp_extract(
        F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)", 1
    )
    return F.lower(host)


def cap_per_domain(docs: DataFrame, cap: int,
                   url_col: str = "url",
                   id_col: str = "doc_id",
                   salt: int = 16) -> DataFrame:
    """Keep at most `cap` documents per host, smallest doc_id first
    (deterministic).

    Two-phase top-k (r7, VERDICT r6 item 7): a mega-domain (wikipedia
    at crawl scale) would put its whole population through ONE window
    task. Phase 1 ranks within (domain, pmod(id, salt)) keeping <= cap
    per subgroup — the hot domain's sort splits across `salt` tasks,
    each emitting at most cap rows; phase 2 ranks the <= salt*cap
    survivors per domain. Exact: any id in the true per-domain top-cap
    is also in the top-cap of its own salt subgroup. salt=1 (or None)
    collapses to the single-phase plan."""
    d = docs.withColumn("__domain", domain_col(url_col))
    if salt and salt > 1:
        w1 = Window.partitionBy("__domain", "__salt").orderBy(id_col)
        d = (
            d.withColumn("__salt", F.pmod(F.col(id_col), F.lit(salt)))
            .withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") <= cap)
            .drop("__rn", "__salt")
        )
    w = Window.partitionBy("__domain").orderBy(id_col)
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn", "__domain")
    )


def sample_to_token_budget(docs: DataFrame, budget: int,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           by: str | None = None,
                           bucket_size: int = 4096,
                           max_buckets: int = 65536) -> DataFrame:
    """Keep WHOLE documents in doc_id order until the next doc would
    push the running token total past `budget` — the quota-fill every
    mixture recipe needs ("2B tokens of lang X", "500M of domain Y").
    `by` makes the budget PER KEY (e.g. by='lang': each language gets
    `budget` tokens). Keep rule: exclusive-prefix(tokens) + n_toks <=
    budget, so the kept set is a deterministic pure function of the
    corpus — stable under retries and any partitioning.

    Same two-phase cumulative scan as pack_sequences (the naive
    `sum over (order by doc_id)` window funnels the corpus through one
    task): equal-width id-span buckets -> per-(key, bucket) sums (one
    SMALL shuffle) -> exclusive prefix in the driver (bounded bucket
    table) -> broadcast offsets back -> within-bucket window, parallel
    across (key, bucket). Broadcast size is #keys x #buckets rows — bounded
    by design for mixture keys (languages, domains-after-capping).
    Tokens = whitespace split, the corpus-budget unit used repo-wide."""
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0
    )
    key = F.col(by) if by else F.lit("")
    base = docs.select(
        key.cast("string").alias("__key"),
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_toks"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
    ).first()
    # bucket count hard-capped like pack_sequences (ADVICE r8 fix);
    # note the broadcast offsets table is #keys x #buckets rows, so the
    # cap also bounds the broadcast for high-cardinality keys
    n_buckets = min(
        max(1, -(-int(stats["n"] or 0) // bucket_size)), max_buckets
    )
    span = int(stats["hi"] - stats["lo"]) if stats["n"] else 0
    width = max(1, span // n_buckets + 1)
    base = base.withColumn("bucket", F.expr(f"doc_id div {width}"))
    bsums = base.groupBy("__key", "bucket").agg(
        F.sum("n_toks").alias("bsum")
    )
    boffsets = _prefix_offsets(
        docs.sparkSession, bsums.collect(), keyed=True
    )
    w_doc = Window.partitionBy("__key", "bucket").orderBy(
        "doc_id"
    ).rowsBetween(Window.unboundedPreceding, -1)
    placed = base.join(
        F.broadcast(boffsets), ["__key", "bucket"]
    ).withColumn(
        "offset",
        F.col("boffset") + F.coalesce(F.sum("n_toks").over(w_doc), F.lit(0)),
    )
    kept = placed.filter(
        F.col("offset") + F.col("n_toks") <= budget
    ).select("doc_id")
    return docs.join(
        kept.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    )
