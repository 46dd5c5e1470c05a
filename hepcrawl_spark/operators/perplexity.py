"""CCNet-style language-model perplexity filtering (Wenzek et al. 2020).

CCNet scores every web document by the perplexity of a small LM trained on
a trusted target corpus (Wikipedia in the paper) and keeps/labels docs by
score tercile — low-perplexity text "looks like" the target. The full
KenLM 5-gram model doesn't fit a relational engine, but its job here is a
RANKING signal, and a hashed add-alpha bigram LM preserves the ranking
machinery while staying 100 % expressible as DataFrame ops (and therefore
oracle-checkable bit-for-bit):

    log p(w_i | w_{i-1}) = ln( (c2[b2(w_{i-1} w_i)] + a)
                             / (c1[b1(w_{i-1})] + a * B) )
    cross_entropy(doc)   = -(1/n_bigrams) * sum_i log p(w_i | w_{i-1})
    perplexity           = exp(cross_entropy)

where c1/c2 are hashed unigram/bigram occurrence counts over the target
corpus (the same portable-md5 bucket recipe as ``operators/dsir.py``).

Scale shape — identical to DSIR's, which is the point:

- **Fit** is ONE Arrow pass emitting per-task Counter partials for both
  gram orders (at most 2*num_buckets rows per task) + one groupBy sum.
  The model IS the two count vectors (O(B) scalars collected driver-side
  — the model, never the data).
- **Score** carries the two vectors in the task closure and folds each
  doc's (context, bigram) bucket pairs into them in the same Arrow pass
  that tokenizes and hashes — narrow, zero shuffle, one Python boundary
  crossing for the text column.
- **Tercile split** needs two scalar thresholds: one
  ``percentile_approx`` aggregate (t-digest, single reduce) collected to
  the driver and compared as literals — never a global sort.

Reference context: hepcrawl has no statistical quality stage; this joins
the beyond-reference LLM-pipeline suite (Gopher rules in textstats.py,
DSIR in dsir.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dsir import DEFAULT_BUCKETS


@dataclass
class BigramLM:
    """Hashed add-alpha bigram model: two bucket-count vectors."""

    unigram: list[int]
    bigram: list[int]
    alpha: float
    num_buckets: int


def fit_bigram_lm(
    corpus: DataFrame,
    text_col: str = "text",
    num_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
) -> BigramLM:
    """Fit the count model over the target corpus. ONE Arrow pass emits
    both gram orders' per-task Counter partials (at most 2*num_buckets
    rows per task), one groupBy sums them — integer-exact, so the fitted
    counts equal the old two explode+groupBy passes while tokenize+md5
    runs once in Python/hashlib instead of twice through interpreted
    transform lambdas (round 6; same recipe as dsir.bucket_counts).
    Collecting is O(num_buckets)."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..session import spread
    from .dsir import _WS_RE, _md5

    schema = T.StructType(
        [
            T.StructField("o", T.IntegerType()),  # 1 = unigram, 2 = bigram
            T.StructField("bucket", T.LongType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    def _partials(batches):
        from collections import Counter

        cu: Counter = Counter()
        cb: Counter = Counter()
        for pdf in batches:
            for txt in pdf[text_col]:
                if txt is None:
                    continue
                toks = _WS_RE.sub(" ", txt.lower()).strip(" ").split(" ")
                cu.update(
                    int(_md5(t.encode("utf-8")).hexdigest()[:7], 16) % num_buckets
                    for t in toks
                )
                cb.update(
                    int(_md5((a + " " + b).encode("utf-8")).hexdigest()[:7], 16)
                    % num_buckets
                    for a, b in zip(toks, toks[1:])
                )
        rows = [(1, k, v) for k, v in cu.items()] + [
            (2, k, v) for k, v in cb.items()
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["o", "bucket", "cnt"])

    counts = (
        spread(corpus.select(text_col))
        .mapInPandas(_partials, schema)
        .groupBy("o", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    uni = {r["bucket"]: r["cnt"] for r in counts if r["o"] == 1}
    bi = {r["bucket"]: r["cnt"] for r in counts if r["o"] == 2}
    return BigramLM(
        unigram=[int(uni.get(b, 0)) for b in range(num_buckets)],
        bigram=[int(bi.get(b, 0)) for b in range(num_buckets)],
        alpha=float(alpha),
        num_buckets=num_buckets,
    )


def lm_score(
    docs: DataFrame,
    model: BigramLM,
    text_col: str = "text",
) -> DataFrame:
    """Append ``n_bigrams``, ``cross_entropy`` (nats/bigram) and
    ``perplexity``. Docs under two normalized tokens get NULLs — there is
    no bigram evidence to score.

    One Arrow pass per corpus (round 6): tokenize + md5 buckets + the
    per-doc log-sum all run in the worker against the count vectors
    carried in the task closure; the log terms accumulate LEFT-TO-RIGHT
    in pair order (``cumsum``), matching the old per-pair JVM fold's
    order term for term (the x27 oracle's milli rounding absorbs the
    sub-ulp ln() library differences exactly as it did for the old
    fold-vs-DuckDB comparison). Replaces an interpreted element_at
    lambda per bigram plus a duplicate tokenize per gram order.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from ..session import spread
    from .dsir import _WS_RE, _md5

    drop = [c for c in ("n_bigrams", "cross_entropy", "perplexity") if c in docs.columns]
    if drop:  # old withColumn semantics replaced pre-existing columns
        docs = docs.drop(*drop)
    nb = model.num_buckets
    a = float(model.alpha)
    ab = float(model.alpha * model.num_buckets)
    out_schema = T.StructType(
        list(docs.schema.fields)
        + [
            T.StructField("n_bigrams", T.LongType()),
            T.StructField("cross_entropy", T.DoubleType()),
            T.StructField("perplexity", T.DoubleType()),
        ]
    )

    def _score(batches):
        import numpy as np

        uni = np.asarray(model.unigram, dtype=np.float64)
        bi = np.asarray(model.bigram, dtype=np.float64)
        for pdf in batches:
            ns: list[int | None] = []
            ces: list[float | None] = []
            for txt in pdf[text_col]:
                if txt is None:
                    ns.append(None)
                    ces.append(None)
                    continue
                toks = _WS_RE.sub(" ", txt.lower()).strip(" ").split(" ")
                if len(toks) < 2:
                    ns.append(len(toks) - 1)  # size(ctx) of a 1-token doc = 0
                    ces.append(None)
                    continue
                cb = np.fromiter(
                    (
                        int(_md5(t.encode("utf-8")).hexdigest()[:7], 16) % nb
                        for t in toks[:-1]
                    ),
                    dtype=np.int64,
                )
                bb = np.fromiter(
                    (
                        int(_md5((x + " " + y).encode("utf-8")).hexdigest()[:7], 16)
                        % nb
                        for x, y in zip(toks, toks[1:])
                    ),
                    dtype=np.int64,
                )
                terms = np.log((bi[bb] + a) / (uni[cb] + ab))
                s = float(np.cumsum(terms)[-1])
                ns.append(len(cb))
                ces.append(-s / len(cb))
            out = pdf.copy()
            out["n_bigrams"] = pd.Series(ns, index=pdf.index, dtype="object")
            out["cross_entropy"] = pd.Series(
                ces, index=pdf.index, dtype="object"
            )
            out["perplexity"] = pd.Series(
                [None if c is None else float(np.exp(c)) for c in ces],
                index=pdf.index,
                dtype="object",
            )
            yield out

    return spread(docs).mapInPandas(_score, out_schema)


def perplexity_terciles(
    scored: DataFrame,
    col: str = "perplexity",
    out_col: str = "ppl_bucket",
    accuracy: int = 10000,
) -> DataFrame:
    """CCNet's head/middle/tail split: two approximate quantile thresholds
    (one t-digest aggregate, two scalars to the driver) compared as
    literals — no global sort, no window over the whole corpus. NULL
    scores stay NULL-labelled."""
    row = scored.filter(F.col(col).isNotNull()).agg(
        F.percentile_approx(col, [1.0 / 3.0, 2.0 / 3.0], accuracy).alias("q")
    ).collect()[0]
    q = row["q"] or [float("inf"), float("inf")]
    c = F.col(col)
    return scored.withColumn(
        out_col,
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(c <= float(q[0]), F.lit("head"))
        .when(c <= float(q[1]), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )


def ccnet_filter(
    target: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    num_buckets: int = DEFAULT_BUCKETS,
    alpha: float = 1.0,
    keep: tuple[str, ...] = ("head", "middle"),
) -> DataFrame:
    """End-to-end CCNet recipe: fit on target, score, tercile, keep the
    low-perplexity buckets."""
    model = fit_bigram_lm(target, text_col, num_buckets, alpha)
    labelled = perplexity_terciles(lm_score(docs, model, text_col))
    return labelled.filter(F.col("ppl_bucket").isin(*keep))
