"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a production ANN pipeline would stage them:

* LSH (random-hyperplane / SRP) bucketing — each vector gets a
  ``NBITS``-bit signature; candidates = same-bucket rows, exact cosine
  (dot/norms via ``zip_with``/``aggregate``, JVM-side) re-ranked within
  the bucket.  At 10^12 rows the bucket key is the shuffle key and the
  per-bucket fan-in is bounded by signature length;
* IVF — trained centroids, one cell per vector, a query probes its
  nearest cells (:func:`ann_recall` measures it against the exact scan).

Hyperplanes are deterministic integer grids ((i*31 + j*17) % 19 - 9), so
Spark and DuckDB compute identical signatures — no RNG, no drift.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ulp_spark.operators.dedup import MAX_BUCKET, _bucket_pairs
from ulp_spark.session import local_frame, seam

NBITS = 8


def _py_norm(vec: list[float]) -> float:
    """Driver-side L2 norm, bit-identical to :func:`norm`'s JVM fold:
    the aggregate accumulates ``acc + v*v`` left-to-right from 0.0 in
    doubles and sqrt is IEEE correctly rounded on both sides, so a
    constant vector's norm can be folded into a literal without moving
    any rounded value (load-bearing for the oracle-gated ivf queries)."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    ))


# --------------------------------------------------------------------------
# SRP-LSH
# --------------------------------------------------------------------------

def hyperplane(i: int, dim: int) -> list[int]:
    """Deterministic pseudo-random hyperplane #i (integer weights)."""
    return [((i * 31 + j * 17) % 19) - 9 for j in range(dim)]


def srp_signature(vec: Column, dim: int) -> Column:
    """Sign-random-projection bucket id in [0, 2^NBITS)."""
    sig = F.lit(0)
    for i in range(NBITS):
        w = F.array(*[F.lit(float(x)) for x in hyperplane(i, dim)])
        # rounded before the sign test so float-vs-double summation order
        # can't flip a borderline bit between engines
        sig = sig + F.when(F.round(dot(vec, w), 4) > 0,
                           F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def srp_signature_sql(vec: str, dim: int) -> str:
    terms = []
    for i in range(NBITS):
        w = "[" + ", ".join(f"{float(x)}" for x in hyperplane(i, dim)) + "]"
        terms.append(
            f"CASE WHEN round(list_dot_product({vec}, {w}), 4) > 0 "
            f"THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# --------------------------------------------------------------------------

def ivf_centroids(df: DataFrame, vec_col: str, id_col: str, k: int = 8
                  ) -> list[list[float]]:
    """Deterministic coarse centroids: the vectors of the k smallest ids.

    A production IVF trains k-means; for a reproducible engine fixture the
    sample-as-centroid variant gives the same *pipeline* (train -> assign ->
    probe) with bit-stable assignments on every engine.  Driver-side: k
    vectors, KiB.
    """
    rows = (df.select(id_col, vec_col).orderBy(id_col).limit(k).collect())
    return [[float(x) for x in r[1]] for r in rows]


def ivf_centroids_trained(
    df: DataFrame, vec_col: str, id_col: str, k: int = 8, rounds: int = 5,
) -> list[list[float]]:
    """IVF training: deterministic seeds + ``rounds`` Lloyd iterations.

    Default ``rounds`` is 5 (measured +0.06 recall@10 over
    one round at identical scan cost); pass ``rounds=1`` for the cheap
    single-pass form (the driver-gated fixture queries pin that variant
    explicitly so their DuckDB oracles stay one CTE deep).  For
    recall-critical indexes prefer :func:`ivf_train_spherical`.

    Each iteration is one distributed pass — assign (expression fold) then
    per-cell per-dimension means via ``posexplode`` + groupBy(cell, pos)
    (fully JVM, map-side combined; the shuffle moves k x dim partial sums) —
    and a k x dim driver collect (KiB).  Means are rounded to 6 dp so the
    two engines' float-summation orders land on the same centroid literal.
    Cells that lose all members keep their previous centroid.  Determinism:
    fixed iteration count, no RNG.
    """
    cents = ivf_centroids(df, vec_col, id_col, k)
    k_eff = len(cents)  # a frame with < k rows trains fewer cells
    for _ in range(rounds):
        # row norm staged once per pass (helper-column rule; identical
        # cell ids — see ivf_assign)
        staged = df.select(F.col(vec_col).alias("__v"),
                           norm(F.col(vec_col)).alias("__nv"))
        assigned = staged.select(
            ivf_assign(F.col("__v"), cents, F.col("__nv")).alias("cell"),
            F.posexplode(F.col("__v")).alias("pos", "val"),
        )
        rows = (
            assigned.groupBy("cell", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r.cell, {})[r.pos] = float(r.m)
        cents = [
            [by_cell[i][p] for p in sorted(by_cell[i])]
            if i in by_cell else cents[i]
            for i in range(k_eff)
        ]
    return cents


def ivf_train_spherical(
    df: DataFrame, vec_col: str, id_col: str, k: int = 16, rounds: int = 10,
    sample: int = 100_000,
) -> list[list[float]]:
    """Spherical k-means IVF training on a driver-side sample — the
    production quantizer-training pattern (FAISS trains its coarse
    quantizer on a bounded sample, then assignment is the distributed
    step).  Two quality upgrades over :func:`ivf_centroids_trained`'s
    first-k-ids + mean-update Lloyd, both aimed at recall-per-cell-probed:

    * farthest-point seeding: seeds spread across the data instead of
      whatever the k smallest ids happen to be (first seed = smallest id,
      then repeatedly the sample vector with minimal max-cosine to the
      chosen seeds — deterministic, no RNG);
    * spherical updates: vectors are L2-normalized before averaging and
      the mean is re-normalized, so the centroid is the true cosine
      barycenter (a plain mean under cosine assignment drifts toward
      long vectors).

    Scale shape: the sample collect is the only data movement (``sample``
    rows x dim floats, bounded driver memory); training runs in numpy on
    the driver; the output is k rounded centroid literals consumed by the
    distributed :func:`ivf_assign` exactly like the other trainer.
    Determinism: ordered sample (smallest ids), fixed seeding and
    iteration count, 6-dp rounding of the result.
    """
    import numpy as np

    rows = (df.select(id_col, vec_col).orderBy(id_col).limit(sample)
            .collect())
    x = np.asarray([[float(v) for v in r[1]] for r in rows], dtype=np.float64)
    n = len(x)
    if n == 0:
        return []
    k = min(k, n)
    norms = np.linalg.norm(x, axis=1)
    xn = np.where(norms[:, None] > 0, x / np.maximum(norms, 1e-30)[:, None], 0.0)

    # farthest-point seeding (on the unit sphere, cosine = dot)
    seeds = [0]
    best = xn @ xn[0]          # max cosine to any chosen seed
    for _ in range(1, k):
        nxt = int(np.argmin(best))
        seeds.append(nxt)
        best = np.maximum(best, xn @ xn[nxt])
    c = xn[seeds].copy()

    for _ in range(rounds):
        sims = xn @ c.T                       # n x k
        assign = np.argmax(sims, axis=1)
        for j in range(k):
            members = xn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    c[j] = m / nm             # spherical: re-normalize
    return [[round(float(v), 6) for v in row] for row in c]


def tune_n_probe(
    df: DataFrame, vec_col: str, id_col: str, query_ids: list[int],
    centroids: list[list[float]], dim: int, target_recall: float = 0.85,
    max_probe: int | None = None,
) -> dict:
    """Smallest ``n_probe`` whose measured recall@10 meets
    ``target_recall`` on the given query set — the auto-tuner a user
    points at their own corpus instead of guessing the recall/cost trade.

    Evaluates the whole candidate range in ONE :func:`ann_recall` batch
    (the shared cell-assignment pass amortizes across probe depths), then
    picks the cheapest depth at-or-above target; if none reaches it, the
    deepest depth is returned with ``met=False`` so callers fail loud.
    Returns {n_probe, recall_at_k, frac_scanned, met}.
    """
    depths = tuple(range(1, (max_probe or len(centroids)) + 1))
    rows = ann_recall(df, vec_col, id_col, query_ids, centroids, dim,
                      k=10, n_probes=depths).collect()
    ivf = sorted(
        (int(r.method[len("ivf_p"):]), r.recall_at_k, r.frac_scanned)
        for r in rows if r.method.startswith("ivf_p"))
    for np_, rec, frac in ivf:
        if rec >= target_recall:
            return {"n_probe": np_, "recall_at_k": rec,
                    "frac_scanned": frac, "met": True}
    np_, rec, frac = ivf[-1]
    return {"n_probe": np_, "recall_at_k": rec,
            "frac_scanned": frac, "met": False}


def ivf_assign(vec: Column, centroids: list[list[float]],
               vec_norm: Column) -> Column:
    """Nearest-centroid cell id by cosine; first centroid wins ties
    (``array_position`` returns the FIRST index of the max — identical to
    a strictly-greater sequential fold, on both engines).

    Expression size is LINEAR in k: each cosine appears exactly once inside
    the sims array.  The previous when-fold nested the running best into
    both the condition and the otherwise branch — the expression tree
    doubled per centroid (the Catalyst-wedge pattern this repo has already
    hit), fine at k=8 but fatal long before k=4096.

    Per-row cost is ONE dot product per centroid: each centroid's norm is
    a driver-computed literal (``_py_norm`` — bit-identical to the JVM
    fold it replaces, so the rounded cosines and hence the cell ids are
    unchanged), and ``vec_norm`` is the row's ``norm(vec)``, staged as a
    column by the caller so it is not re-folded k times (measured 3x
    faster on the assignment pass at k=32, dim=64).

    The centroids ride as ONE array-of-(vector, norm)-structs literal and
    the cosines come from a ``transform`` over it, instead of k unrolled
    cosine subtrees: ConstantFolding collapses the literal before
    optimization, so plan/codegen cost is O(1) in k (measured 0.72 s ->
    0.31 s per fresh plan at k=8 — the trainer re-plans every Lloyd
    round with fresh literals).  Same arithmetic per element — cell ids
    bit-identical (pinned by the oracle-gated emb_ivf_* queries)."""
    packed = F.array(*[
        F.struct(F.array(*[F.lit(float(x)) for x in c]).alias("v"),
                 F.lit(_py_norm([float(x) for x in c])).alias("n"))
        for c in centroids])
    sims = F.transform(
        packed,
        lambda s: F.round(
            F.when(vec_norm * s["n"] > 0,
                   dot(vec, s["v"]) / (vec_norm * s["n"]))
            .otherwise(F.lit(0.0)), 6))
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


# --------------------------------------------------------------------------
# Recall evaluation — the usefulness proof for the ANN stack
# --------------------------------------------------------------------------

def _topk_per_query(scored: DataFrame, k: int, n_salt: int = 32) -> DataFrame:
    """Per-query exact top-k over (q_id, id, cos_sim) rows, two-level:
    salted partial top-k first (N x Q rows spread over Q x n_salt reducers),
    then final top-k over the Q x n_salt x k survivors.  A single
    Window.partitionBy(q_id) would funnel N x Q rows through Q reducers —
    the distributed-heap-merge shape is what survives a 100x scale-up."""
    from pyspark.sql import Window

    salt = F.pmod(F.col("id"), F.lit(n_salt))
    w1 = Window.partitionBy("q_id", salt).orderBy(
        F.desc("cos_sim"), F.col("id"))
    partial = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k).drop("rn")
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.col("id"))
    return (
        partial.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k).drop("rn")
    )


def ann_recall(
    df: DataFrame, vec_col: str, id_col: str, query_ids: list[int],
    centroids: list[list[float]], dim: int, k: int = 10,
    n_probes: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """Measured recall@k of each ANN variant against brute-force truth.

    One batch evaluation, not a per-query loop: the Q query vectors are
    collected (KiB) and broadcast; every variant scores candidates in a
    single scan and reduces via the salted two-level top-k.  Returns one
    row per method: (method, recall_at_k, n_queries, frac_scanned) where
    frac_scanned is the mean fraction of the table each query scored —
    the cost side of the recall/cost trade a user tunes n_probe with.

    Methods: ``ivf_p{n}`` (n_probe cells by centroid cosine), ``srp``
    (the query's SRP bucket) and ``srp_mp1`` (multi-probe: every bucket
    within Hamming 1 of the query signature — recall@10 0.15 -> 0.26 at
    1.4% -> 7.8% of the table scanned, recorded in BENCH.md).  Reference
    analog: none (engine breadth, SURVEY §2.6); this is the evidence the
    ANN stack is useful, not just self-consistent.

    Physical shape: the whole evaluation reads ONE seamed feature
    table (id, vec, row norm, ivf cell, srp bucket) — before the seam the
    final union's single collect re-evaluated the cell assignment / SRP
    signature / brute-force truth subtrees once per method branch (the
    fan-out rule's ann sighting; measured 74 s -> 8 s for the 50k-vector
    tune_n_probe batch).  Row and query norms are staged (guide §4 helper
    columns), so each candidate pair costs one dot product; every rounded
    cosine is bit-identical to the unstaged form (see ``_py_norm``).
    """
    n_total = df.count()
    qrows = (
        df.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col).collect()
    )
    queries = [(int(r[0]), [float(x) for x in r[1]]) for r in qrows]

    # ONE pass computes everything per-row that any method needs; the
    # seam materializes it for the truth scan, every IVF depth, both SRP
    # variants, and their scanned-count aggregates.
    feat = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("__nv"))
    feat = feat.select(
        "id", "v", "__nv",
        ivf_assign(F.col("v"), centroids, F.col("__nv")).alias("cell"),
        srp_signature(F.col("v"), dim).alias("bucket"))
    feat = seam(feat)

    qdf = local_frame(
        df.sparkSession, [(q_id, vec, _py_norm(vec)) for q_id, vec in queries],
        "q_id int, q_vec array<double>, q_norm double")
    # cosine(v, q_vec) with both norms staged — identical rounded values
    cos = F.round(
        F.when(F.col("__nv") * F.col("q_norm") > 0,
               dot(F.col("v"), F.col("q_vec"))
               / (F.col("__nv") * F.col("q_norm")))
        .otherwise(F.lit(0.0)), 6)

    truth = seam(_topk_per_query(
        feat.crossJoin(F.broadcast(qdf))
        .select(F.col("q_id"), F.col("id"), cos.alias("cos_sim")), k)
        .select("q_id", F.col("id").alias("t_id")))

    def cos_py(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
        return round(num / den, 6) if den > 0 else 0.0

    out_frames: list[DataFrame] = []

    def eval_method(method: str, cand: DataFrame) -> DataFrame:
        scored = (
            cand.join(F.broadcast(qdf), "q_id")
            .select("q_id", "id", cos.alias("cos_sim"))
        )
        got = _topk_per_query(scored, k)
        hits = got.join(
            truth, (got.q_id == truth.q_id) & (got.id == truth.t_id))
        scanned = cand.groupBy("q_id").agg(
            F.count(F.lit(1)).alias("n_scanned"))
        return (
            hits.groupBy().agg(F.count(F.lit(1)).alias("n_hits"))
            .crossJoin(scanned.groupBy().agg(
                F.avg("n_scanned").alias("avg_scanned")))
            .select(
                F.lit(method).alias("method"),
                F.round(F.col("n_hits") / (len(queries) * k), 4)
                .alias("recall_at_k"),
                F.lit(len(queries)).alias("n_queries"),
                F.round(F.col("avg_scanned") / n_total, 4)
                .alias("frac_scanned"),
            ))

    # IVF: the shared cell assignment lives in the seamed feature table
    for np_ in n_probes:
        probe_rows = []
        for q_id, vec in queries:
            order = sorted(range(len(centroids)),
                           key=lambda i: (-cos_py(vec, centroids[i]), i))
            probe_rows += [(q_id, int(c)) for c in order[:np_]]
        pdf = local_frame(df.sparkSession, probe_rows, "q_id int, cell int")
        out_frames.append(eval_method(
            f"ivf_p{np_}", feat.join(F.broadcast(pdf), "cell")))

    # SRP: exact query bucket ("srp") and multi-probe — all buckets within
    # Hamming 1 of the query signature ("srp_mp1"), the standard trick for
    # pulling recall up without widening the table-side bucket key.
    qsigs: list[tuple[int, int]] = []
    for q_id, vec in queries:
        qsig = 0
        for i in range(NBITS):
            d = sum(q * w for q, w in zip(vec, hyperplane(i, dim)))
            qsig += (1 << i) if round(d, 4) > 0 else 0
        qsigs.append((q_id, qsig))
    for method, expand in (
        ("srp", lambda s: [s]),
        ("srp_mp1", lambda s: [s] + [s ^ (1 << i) for i in range(NBITS)]),
    ):
        srp_rows = [(q_id, int(b)) for q_id, s in qsigs for b in expand(s)]
        bdf = local_frame(df.sparkSession, srp_rows, "q_id int, bucket int")
        out_frames.append(eval_method(
            method, feat.join(F.broadcast(bdf), "bucket")))

    out = out_frames[0]
    for f in out_frames[1:]:
        out = out.unionByName(f)
    return out


def embedding_near_dup(
    df: DataFrame, vec_col: str, id_col: str, dim: int, threshold: float,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, SRP-bucketed.

    Same skeleton as dedup.minhash_candidates: bucket -> the capped
    self-join of dedup._bucket_pairs (buckets over ``MAX_BUCKET`` rows,
    e.g. the all-zero-vector bucket, dropped before any pair forms) ->
    exact verify.  Returns
    (id_a, id_b, cos_sim >= threshold).
    """
    sig = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        # row norm staged once here and read by both sides of the pair
        # join, so each verified pair costs one dot product instead of
        # re-folding both norms (bit-identical rounded cosines)
        norm(F.col(vec_col)).alias("__nv"),
        srp_signature(F.col(vec_col), dim).alias("bucket"),
    )
    d = F.col("__nv_a") * F.col("__nv_b")
    pairs = (
        _bucket_pairs(sig, ["bucket"], MAX_BUCKET, payload=("v", "__nv"))
        .select("id_a", "id_b",
                F.round(
                    F.when(d > 0, dot(F.col("v_a"), F.col("v_b")) / d)
                    .otherwise(F.lit(0.0)), 6).alias("cos_sim"))
    )
    return pairs.filter(F.col("cos_sim") >= threshold)
