"""Linear quality-classifier INFERENCE over hashed n-gram features —
the fastText-style model-based filter stage (DCLM / FineWeb-Edu style)
that sits beside the surface-statistics scorer (textstats.quality_score):
score = sigmoid((bias + sum of per-feature weights) / SCALE) over hashed
word unigrams + bigrams (the hashing trick: feature -> md5 -> bucket in
[0, HASH_DIM)).

Numeric determinism: weights are INTEGER centi-units, so the per-doc sum
is exact integer arithmetic in any aggregation order on any engine; the
single float op (sigmoid) happens once per document on an identical
integer, then rounds to 6 dp.  A float-weighted sum would depend on
Spark's partial-aggregation order and could flap last-bit vs the oracle.

Weights come from a deterministic synthetic formula standing in for
training (this repo ships no labeled data; the formula keeps every gate
value-checkable).

Scale shape: explode features -> pure-expression bucket/weight -> one
groupBy(id) sum.  The explode factor is
~2x the word count (unigrams + bigrams); the aggregate collapses
map-side.  No UDF, no collect, no global state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ulp_spark.operators.curation import (
    word_grams, word_grams_sql, word_tokens, word_tokens_sql)

HASH_DIM = 4096     # feature buckets
SCALE = 100.0       # centi-units -> logits
BIAS_CENTI = 0      # classifier-head bias, centi-units
DSIR_ALPHA = 1.0    # add-alpha smoothing of the DSIR bucket models
_MIX = 2654435761   # Knuth multiplicative constant (synthetic weights)


def feature_bucket(feature: Column) -> Column:
    """Portable hashing trick: first 8 md5 hex digits -> int -> mod
    HASH_DIM.  (md5 is the repo's cross-engine hash; Spark conv(hex) ==
    DuckDB '0x..'::BIGINT on the same digest.)"""
    return F.conv(F.substring(F.md5(feature), 1, 8), 16, 10) \
        .cast("bigint") % HASH_DIM


def feature_bucket_sql(feature: str) -> str:
    return f"(('0x' || substr(md5({feature}), 1, 8))::BIGINT % {HASH_DIM})"


def synthetic_weight_centi(bucket: Column) -> Column:
    """Deterministic stand-in for trained weights: centi-units in
    [-500, 500].  Integer arithmetic end to end."""
    return (bucket * F.lit(_MIX)) % F.lit(1001) - F.lit(500)


def synthetic_weight_centi_sql(bucket: str) -> str:
    return f"((({bucket}) * {_MIX}) % 1001 - 500)"


def _feature_rows(
    frame: DataFrame, text_col: str, id_col: str | None,
) -> DataFrame:
    """(id, bucket) feature-occurrence rows — (bucket) alone when
    ``id_col`` is None — over hashed word uni+bigrams, with the token
    array STAGED as a real column so the bigram lambda reads an attribute
    instead of re-splitting the text per gram (measured 14.7 s -> ~4 s
    on the dsir bench corpus).  Empty/null text yields one row with a
    NULL bucket (explode_outer)."""
    keep = [id_col] if id_col is not None else []
    staged = frame.select(
        *keep,
        word_tokens(F.coalesce(F.col(text_col), F.lit("")))
        .alias("__toks"))
    return (
        staged.select(
            *keep,
            F.explode_outer(
                F.concat(F.col("__toks"), word_grams(F.col("__toks"), 2)))
            .alias("f"))
        .select(*keep, feature_bucket(F.col("f")).alias("bucket"))
    )


def linear_quality_score(
    df: DataFrame, text_col: str, id_col: str,
) -> DataFrame:
    """(id, score_centi, prob) — the classifier head over the synthetic
    weight formula: zero joins, pure expressions.  Every input row comes
    back (empty/null text scores the bias alone).
    """
    feats = _feature_rows(df, text_col, id_col)
    weighted = feats.select(
        id_col,
        F.when(F.col("bucket").isNull(), F.lit(0))  # explode_outer pad
        .otherwise(synthetic_weight_centi(F.col("bucket")))
        .alias("w_centi"))
    scored = weighted.groupBy(id_col).agg(
        (F.sum("w_centi") + F.lit(BIAS_CENTI)).cast("bigint")
        .alias("score_centi"))
    prob = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score_centi") / SCALE)), 6)
    return scored.select(id_col, "score_centi", prob.alias("prob"))


def linear_quality_score_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin of :func:`linear_quality_score`."""
    toks = word_tokens_sql(f"coalesce({text_col}, '')")
    bucket = feature_bucket_sql("f")
    return f"""
        WITH feats AS (
          SELECT {id_col},
                 unnest(list_concat({toks}, {word_grams_sql(toks, 2)})) AS f
          FROM {table}
        ),
        scored AS (
          SELECT {id_col},
                 sum({synthetic_weight_centi_sql(bucket)}) AS s
          FROM feats GROUP BY {id_col}
        )
        SELECT t.{id_col},
               (coalesce(sc.s, 0) + {BIAS_CENTI})::BIGINT AS score_centi,
               round(1.0 / (1.0 + exp(-(coalesce(sc.s, 0) + {BIAS_CENTI})
                                      / {SCALE})), 6) AS prob
        FROM (SELECT {id_col} FROM {table}) t
        LEFT JOIN scored sc USING ({id_col})
    """


def dsir_importance(
    df: DataFrame, text_col: str, id_col: str, target: DataFrame,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per-document log
    importance ratio log p_target(x) / p_raw(x) under bag-of-hashed-
    n-gram unigram models — the principled replacement for a binary
    quality classifier when the goal is to RESAMPLE raw data toward a
    target domain (compose with sampling.weighted_sample on
    exp(logratio) for the paper's resampling step).

    Model: both corpora are reduced to counts over the same ``HASH_DIM``
    hashed word uni+bigram buckets (classifier.feature_bucket — the
    hashing trick, md5-portable across engines); per-bucket weight
    lambda_b = ln((t_b + alpha) / (T + alpha*dim))
             - ln((r_b + alpha) / (R + alpha*dim))
    (add-alpha smoothing with alpha = ``DSIR_ALPHA``, so buckets unseen in
    the target get a finite negative weight); per-doc logratio = sum of
    lambda over the doc's feature occurrences.

    Numeric determinism: lambda is materialized in INTEGER micro-nats
    (round(1e6 * ln-ratio) on identical integer inputs — the
    unigram_logprob_table pattern), so the per-doc sum is exact integer
    arithmetic in any aggregation order on any engine.

    Returns (id, n_feats, logratio_micro, weight) for EVERY row of
    ``df`` — empty/null text gets n_feats 0, logratio 0, weight 1.0;
    weight = round(exp(logratio_micro / 1e6), 6) is the resampling
    weight.  ``target`` needs only its ``text_col`` column.

    Scale shape: the bucket-weight table is bounded by ``HASH_DIM`` rows
    (never corpus scale) and broadcast; the raw side is ONE explode +
    two map-side-combined aggregates (bucket counts, then the per-doc
    sum); the target corpus (small by DSIR's construction) contributes
    one bounded aggregate.  Corpus text never shuffles — only (id,
    bucket) pairs move.  No UDF, no collect, no driver state.
    """
    from ulp_spark.session import seam

    # the exploded corpus-feature frame feeds the bucket counts AND the
    # final per-doc sum — seam it ONCE or Catalyst re-derives the explode
    # per consumer (the recorded fan-out rule)
    raw_feats = seam(_feature_rows(df, text_col, id_col))
    # the count frames each feed TWO consumers (the lambda join and
    # their totals) — unseamed, the target explode and the corpus-scale
    # raw aggregation re-derive per consumer (the fan-out rule's fifth
    # sighting, caught in this op's plan audit).  Both are <= HASH_DIM rows.
    r_counts = seam(raw_feats.filter(F.col("bucket").isNotNull())
                    .groupBy("bucket").agg(F.count(F.lit(1)).alias("r")))
    # the target side needs only bucket counts, so it carries no id
    t_counts = seam(_feature_rows(target, text_col, None)
                    .filter(F.col("bucket").isNotNull())
                    .groupBy("bucket").agg(F.count(F.lit(1)).alias("t")))
    r_tot = r_counts.agg(F.sum("r").alias("__r_all"))
    t_tot = t_counts.agg(F.sum("t").alias("__t_all"))
    lam = (
        r_counts.join(t_counts, "bucket", "full_outer")
        .crossJoin(F.broadcast(r_tot)).crossJoin(F.broadcast(t_tot))
        .select(
            "bucket",
            F.round(F.lit(1e6) * (
                F.log((F.coalesce(F.col("t"), F.lit(0)).cast("double")
                       + F.lit(DSIR_ALPHA))
                      / (F.coalesce(F.col("__t_all"), F.lit(0)).cast("double")
                         + F.lit(DSIR_ALPHA * HASH_DIM)))
                - F.log((F.coalesce(F.col("r"), F.lit(0)).cast("double")
                         + F.lit(DSIR_ALPHA))
                        / (F.coalesce(F.col("__r_all"), F.lit(0)).cast("double")
                           + F.lit(DSIR_ALPHA * HASH_DIM)))
            )).cast("bigint").alias("lam_micro"))
    )
    weighted = (
        raw_feats.join(F.broadcast(lam), "bucket", "left")
        .groupBy(id_col)
        .agg(F.sum(F.when(F.col("bucket").isNull(), F.lit(0))
                   .otherwise(F.col("lam_micro"))).alias("logratio_micro"),
             F.sum(F.col("bucket").isNotNull().cast("int"))
             .alias("n_feats"))
    )
    return weighted.select(
        id_col,
        F.col("n_feats").cast("bigint").alias("n_feats"),
        F.coalesce(F.col("logratio_micro"), F.lit(0)).cast("bigint")
        .alias("logratio_micro"),
        F.round(F.exp(F.coalesce(F.col("logratio_micro"), F.lit(0))
                      .cast("double") / F.lit(1e6)), 6).alias("weight"),
    )


def dsir_importance_sql(
    table: str, text_col: str, id_col: str, target_pred: str,
) -> str:
    """DuckDB twin; ``target_pred`` is a WHERE predicate over ``table``
    selecting the target corpus (the driver query's shape — target as a
    filtered view of the same raw table)."""
    toks = word_tokens_sql(f"coalesce({text_col}, '')")
    bucket = feature_bucket_sql("f")
    return f"""
        WITH raw_feats AS (
          SELECT {id_col},
                 {bucket} AS bucket
          FROM (
            SELECT {id_col},
                   unnest(list_concat({toks}, {word_grams_sql(toks, 2)})) AS f
            FROM {table}
          )
        ),
        tgt_feats AS (
          SELECT {bucket} AS bucket
          FROM (
            SELECT unnest(list_concat({toks}, {word_grams_sql(toks, 2)})) AS f
            FROM {table} WHERE {target_pred}
          )
        ),
        rc AS (SELECT bucket, count(*) AS r FROM raw_feats GROUP BY bucket),
        tc AS (SELECT bucket, count(*) AS t FROM tgt_feats GROUP BY bucket),
        tot AS (SELECT (SELECT coalesce(sum(r), 0) FROM rc) AS R,
                       (SELECT coalesce(sum(t), 0) FROM tc) AS T),
        lam AS (
          SELECT coalesce(rc.bucket, tc.bucket) AS bucket,
                 CAST(round(1e6 * (
                   ln((coalesce(tc.t, 0)::DOUBLE + {DSIR_ALPHA})
                      / (tot.T::DOUBLE + {DSIR_ALPHA * HASH_DIM}))
                   - ln((coalesce(rc.r, 0)::DOUBLE + {DSIR_ALPHA})
                        / (tot.R::DOUBLE + {DSIR_ALPHA * HASH_DIM}))
                 )) AS BIGINT) AS lam_micro
          FROM rc FULL OUTER JOIN tc USING (bucket) CROSS JOIN tot
        ),
        scored AS (
          SELECT f.{id_col},
                 sum(l.lam_micro) AS s,
                 count(*) AS n_feats
          FROM raw_feats f JOIN lam l USING (bucket)
          GROUP BY f.{id_col}
        )
        SELECT t.{id_col},
               coalesce(sc.n_feats, 0)::BIGINT AS n_feats,
               coalesce(sc.s, 0)::BIGINT AS logratio_micro,
               round(exp(coalesce(sc.s, 0)::DOUBLE / 1e6), 6) AS weight
        FROM (SELECT {id_col} FROM {table}) t
        LEFT JOIN scored sc USING ({id_col})
    """
