"""Deduplication operators for training-data pipelines.

Not present in the reference (its "dedup" is at most idempotent re-ingest);
these are the standard large-corpus techniques, each expressed Spark-first:

* minhash + LSH  — shingle -> 32-bit hash -> k minhashes -> b bands ->
                   bucket-join candidates -> verified Jaccard
* winnowing      — positional k-gram hashes -> window minima ->
                   shared-fingerprint candidates
* clustering     — connected components over the candidate pairs

Scale notes (the design constraints, not this box):
* everything is expression-only until the LSH bucket self-join; that join
  keys on (band, signature) so its shuffle moves one short row per
  (doc, band) — candidates are then verified WITHIN buckets, never all-pairs;
* minhash signatures are k=|HASHES| ints per doc: 10^12 docs x 16 x 8B is
  shuffle-heavy but column-pruned to exactly the signature;
* hot buckets (boilerplate shingles) are the skew risk: cap bucket size
  (``MAX_BUCKET``) like production dedup pipelines cap posting lists.

Portability: the shingle hash is the first 8 hex chars of md5 (identical in
Spark and DuckDB), folded by (a*h + b) % P with P prime < 2^31 and h
pre-reduced mod P so every product stays < 2^62 (no int64 overflow on
either engine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ulp_spark.session import seam

SHINGLE = 5
P = 2147483647  # 2^31 - 1 (Mersenne prime)
# (a, b) pairs — deterministic, coprime with P.
HASHES: list[tuple[int, int]] = [
    (1000003 + 2 * i, 998244353 % P + 7 * i) for i in range(16)
]
BANDS, ROWS_PER_BAND = 4, 4  # 16 = BANDS * ROWS_PER_BAND
MAX_BUCKET = 1000     # skew cap: larger LSH buckets / postings form no pairs
JACCARD_MIN = 0.8     # verified near-dup threshold on shingle sets
WINNOW_W = 8          # winnowing window, in k-grams
WINNOW_MIN_SHARED = 2  # fingerprints a winnow candidate pair must share
MAX_ROUNDS = 25       # star rounds connected_components runs before it raises


# --------------------------------------------------------------------------
# shingles + minhash
# --------------------------------------------------------------------------

def _grams(text: Column) -> Column:
    """Distinct character ``SHINGLE``-grams (the shingle SET, pre-hash)."""
    size = SHINGLE
    end = F.greatest(F.length(text) - (size - 1), F.lit(0))
    grams = F.when(
        end >= 1,
        F.transform(F.sequence(F.lit(1), end), lambda i: F.substring(text, i, size)),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _grams_sql(text: str) -> str:
    size = SHINGLE
    return (
        f"list_distinct([substr({text}, i, {size}) "
        f"FOR i IN range(1, greatest(len({text}) - {size - 1}, 0) + 1)])"
    )


def _md5_bigint(col: Column, start: int = 1) -> Column:
    """32 bits of md5 as a bigint (hex chars [start, start+8)) — THE hash
    fold shared by shingles and (as a SQL twin pattern) sampling.hash_bucket;
    change it here and in every *_sql twin together."""
    return F.conv(F.substring(F.md5(col), start, 8), 16, 10).cast("bigint")


def shingle_hashes(text: Column) -> Column:
    """Distinct 32-bit hashes of character ``SHINGLE``-grams (sorted
    array).

    Empty/short texts yield an empty array.  All JVM-side: sequence +
    transform + md5; identical results in the DuckDB twin.  (Distinct runs
    on the gram set AND on the hash values — a 32-bit collision between
    two distinct grams dedups either way, so the value set is identical.)
    """
    hashes = F.transform(_grams(text), lambda g: _md5_bigint(g))
    return F.array_sort(F.array_distinct(hashes))


def shingle_hashes_sql(text: str) -> str:
    size = SHINGLE
    return (
        f"list_sort(list_distinct([CAST(('0x' || substr(md5(substr({text}, i, {size})), 1, 8)) AS BIGINT) "
        f"FOR i IN range(1, greatest(len({text}) - {size - 1}, 0) + 1)]))"
    )


def minhash_signature(hashes: Column) -> list[Column]:
    """k minhash values; empty shingle set -> P (sentinel, matches twin)."""
    out = []
    for j, (a, b) in enumerate(HASHES):
        perm = F.transform(hashes, lambda h: (F.lit(a) * (h % P) + F.lit(b)) % P)
        out.append(
            F.coalesce(F.array_min(perm), F.lit(P)).alias(f"mh_{j}")
        )
    return out


def minhash_signature_sql(hashes_expr: str) -> list[str]:
    return [
        f"coalesce(list_min([({a} * (h % {P}) + {b}) % {P} FOR h IN {hashes_expr}]), {P})"
        for (a, b) in HASHES
    ]


def band_keys(mh_cols: list[Column]) -> list[Column]:
    """LSH bands: one compound key per band (string concat of r minhashes)."""
    keys = []
    for b in range(BANDS):
        parts = mh_cols[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]
        keys.append(F.concat_ws("_", *[p.cast("string") for p in parts])
                    .alias(f"band_{b}"))
    return keys


def _bucket_pairs(
    keyed: DataFrame, key: list[str], cap: int, payload: tuple = (),
) -> DataFrame:
    """The skew-capped bucket self-join shared by every near-dup candidate
    generator.  ``keyed`` carries ``id``, the key column(s) and the
    ``payload`` columns; returns ``(*key, id_a, id_b, <col>_a, <col>_b ...)``
    for every ``id_a < id_b`` pair sharing a key whose bucket holds
    1 < n <= ``cap`` rows.

    ``keyed`` is seamed lazily: it feeds the count aggregate AND both
    self-join sides, so unseamed its derivation (md5/shingle/signature
    work) would run three times.  Per-bucket posting lists are NEVER
    materialized: bucket sizes come from a count aggregate (map-side
    partial combine), hot buckets are dropped by a semi-join BEFORE the
    pair join, and each surviving bucket contributes at most ``cap``²
    rows.  (A ``collect_list``-then-filter shape would build the posting
    list of a degenerate bucket — e.g. millions of empty-text docs sharing
    one signature — in one buffer: an OOM at 100 TB.)
    """
    keyed = seam(keyed)
    ok = (
        keyed.groupBy(*key).agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") > 1) & (F.col("n") <= cap))
        .select(*key)
    )
    small = keyed.join(ok, key, "leftsemi")

    def side(s: str) -> DataFrame:
        return small.select(*key, F.col("id").alias(f"id_{s}"),
                            *[F.col(c).alias(f"{c}_{s}") for c in payload])

    return side("a").join(side("b"), key).filter(F.col("id_a") < F.col("id_b"))


def minhash_candidates(
    df: DataFrame, text_col: str, id_col: str,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from LSH bucket collisions.

    Buckets over ``MAX_BUCKET`` rows (boilerplate) are dropped — the skew
    cap of :func:`_bucket_pairs`.
    """
    return minhash_candidates_from_hashes(
        df, shingle_hashes(F.col(text_col)), id_col)


def minhash_candidates_from_hashes(
    df: DataFrame, hashes: Column, id_col: str,
) -> DataFrame:
    """The minhash_candidates engine over a caller-supplied shingle-hash
    set column — so token-id shingles (tokens.sequence_minhash_candidates)
    and character shingles share one banding implementation; the bucket
    cap and pair join are :func:`_bucket_pairs`."""
    # Stage the shingle-hash array as a REAL column before the signature
    # projection: minhash_signature(hashes) embeds a full copy of the
    # `hashes` expression (md5/shingle derivation) in EVERY one of the 16
    # mh_j columns, and Catalyst does not CSE across higher-order
    # transforms — measured 54 s inline vs 5.4 s staged for 20k token
    # sequences on local[8] (guide §4 helper-column discipline).  Values
    # are identical: the permutations read the attribute instead of
    # re-deriving it.
    hdf = df.select(F.col(id_col).alias("id"), hashes.alias("__h"))
    sig = hdf.select("id", *minhash_signature(F.col("__h")))
    sig = sig.select("id", *band_keys([F.col(f"mh_{j}") for j in range(len(HASHES))]))
    bands = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bk"))
            for b in range(BANDS)
        ])).alias("e"),
    ).select("id", "e.band", "e.bk")
    pairs = _bucket_pairs(bands, ["band", "bk"], MAX_BUCKET)
    return pairs.select("id_a", "id_b").distinct()


def band_keys_sql(sig_exprs: list[str]) -> list[str]:
    """DuckDB twins of :func:`band_keys` over signature expressions."""
    keys = []
    for b in range(BANDS):
        parts = sig_exprs[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]
        keys.append(
            "concat_ws('_', "
            + ", ".join(f"CAST({p} AS VARCHAR)" for p in parts) + ")"
        )
    return keys


def minhash_candidates_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin of :func:`minhash_candidates` (band self-join)."""
    return minhash_candidates_from_hashes_sql(
        table, shingle_hashes_sql(text_col), id_col)


def minhash_candidates_from_hashes_sql(
    table: str, hashes_sql: str, id_col: str,
) -> str:
    """DuckDB twin of :func:`minhash_candidates_from_hashes`."""
    sig_exprs = minhash_signature_sql("hashes")
    bands_sel = " UNION ALL ".join(
        f"SELECT {id_col} AS id, {b} AS band, {key} AS bk FROM sh"
        for b, key in enumerate(band_keys_sql(sig_exprs))
    )
    return f"""
    WITH sh AS (
      SELECT {id_col}, {hashes_sql} AS hashes FROM {table}
    ),
    bands AS ({bands_sel}),
    ok AS (
      SELECT band, bk FROM bands GROUP BY band, bk
      HAVING count(*) > 1 AND count(*) <= {MAX_BUCKET}
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bands a JOIN ok USING (band, bk)
    JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.id < b.id
    """


def jaccard_distinct(a: Column, b: Column) -> Column:
    """Jaccard |A∩B| / |A∪B| (0.0 for two empty sets) of arrays KNOWN to
    be duplicate-free (shingle-hash sets are ``array_distinct``-built):
    |A∪B| = |A|+|B|-|A∩B| by inclusion-exclusion, so the union hash-set
    build (the more expensive half of the pair verify — it re-inserts
    every element of both sides) is replaced by integer arithmetic.  Do
    NOT use on arrays that may carry duplicates."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


# --------------------------------------------------------------------------
# dedup clustering: connected components over candidate pairs
# --------------------------------------------------------------------------

def connected_components(pairs: DataFrame) -> DataFrame:
    """``(id, comp_id)`` for every node in ``pairs``, where ``comp_id`` is
    the minimum node id in the node's connected component — the canonical
    document of a near-duplicate cluster.

    ALTERNATING STAR algorithm (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond"): each round rewrites the EDGE
    set — large-star hangs every larger neighbor off the minimum of each
    closed neighborhood, small-star re-hangs the smaller neighbors —
    contracting the graph toward a forest of stars rooted at component
    minima in O(log^2 n) rounds GUARANTEED.  Edge rewriting matters:
    min-LABEL propagation moves information along the ORIGINAL edges one
    hop per round, which is Theta(#local-min regions) on region-chain
    graphs (an md5-scrambled path has ~n/3 of them), while the star form
    closes the same graph in a handful of rounds.  Convergence is detected
    exactly (edge set unchanged: counts equal + an exceptAll emptiness
    probe); the star fixed point's roots are the component minima, unique
    and independent of round count, hence oracle-comparable against a
    recursive-CTE transitive closure.  Works for STRING ids.

    The input and every round's edge frame are PINNED, one Spark action
    each: persist, then an eager ``session.seam`` of the cached frame
    that also fills an ``observe`` edge count (the convergence test and
    the rounds' shuffle width read it), then the cache is dropped.  The
    seam truncates lineage: a persist alone leaves the logical tree
    embedding the previous round's tree severally, 3^k nodes by round k.
    The persist fixes the pinned frame's stats to the cache's REAL bytes:
    a seam alone carries the plan's ESTIMATED ``sizeInBytes``, and since
    each frame enters the next round's plan several times the estimate
    multiplies round over round — 24 to 29 digits on a 20k-sequence
    token-dedup graph, 19 to 25 on an 800-node path, where the persisted
    pins read 5-7 digits.

    Not in the reference engine (its dedup story ends at per-record ids);
    this is the standard downstream of LSH candidate generation in corpus
    pipelines — near-dup GROUPS, from which one keeps comp_id == id.
    """
    u, v = F.col("u"), F.col("v")

    def _pin(df: DataFrame) -> tuple[DataFrame, int]:
        """``df`` seamed with real stats, and its count of non-self
        edges, from one job."""
        edge_count = Observation()
        cached = df.persist()
        out = seam(cached.observe(edge_count, F.count_if(u != v).alias("n")),
                   eager=True)
        cached.unpersist()
        return out, edge_count.get["n"]

    raw, n_edges = _pin(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .distinct())
    edges = raw.filter(u != v)
    # the star rounds' shuffle width: ~1M edges (~32 MB of narrow rows) per
    # partition, never above the session's configured width
    configured = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(configured, (n_edges + 999_999) // 1_000_000))

    def _large_star(e: DataFrame) -> DataFrame:
        """(v, m(u)) for every neighbor v > u, where m(u) = min of u's
        closed neighborhood — larger nodes re-hang under the local min."""
        sym = (e.select(u, v).union(e.select(v.alias("u"), u.alias("v")))
               .repartition(width, "u"))
        mins = (sym.groupBy("u")
                .agg(F.least(F.min("v"), u).alias("m")))
        return (sym.join(mins, "u").filter(v > u)
                .select(v.alias("u"), F.col("m").alias("v"))
                .distinct())

    def _small_star(e: DataFrame) -> DataFrame:
        """Orient edges to the smaller endpoint; re-hang each node's
        smaller neighbors (and itself) under their minimum."""
        d = (e.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
             .repartition(width, "u"))
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = (d.join(mins, "u")
                .select(v.alias("u"), F.col("m").alias("v")))
        selfs = mins.select(u, F.col("m").alias("v"))
        return (nbrs.union(selfs)
                .filter(u != v)
                .distinct())

    for _ in range(MAX_ROUNDS):
        new, n_new = _pin(_small_star(_large_star(edges)))
        # exact fixed-point probe: same edge count AND nothing in the
        # difference (stops at the first row; runs only when counts agree)
        if n_new == n_edges and new.exceptAll(edges).isEmpty():
            edges = new
            break
        edges, n_edges = new, n_new
    else:
        # Kiveris et al. bound rounds by O(log^2 n) and observe single
        # digits in practice; hitting MAX_ROUNDS means the star fixpoint was
        # NOT reached — fail loudly rather than under-merging groups.
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} rounds")
    # nodes come from the raw pin (self-pairs included), so a node whose
    # only pair is reflexive still gets a (node, node) row — the
    # contract is a label for EVERY node in `pairs`.  At the star fixpoint
    # every edge is (node, component-min root); roots label themselves.
    nodes = raw.select(u.alias("n")).union(raw.select(v.alias("n"))).distinct()
    return (
        nodes.join(edges, nodes["n"] == edges["u"], "left")
        .select(F.col("n").alias("id"),
                F.coalesce(F.col("v"), F.col("n")).alias("comp_id"))
    )


def connected_components_sql(pairs_sql: str, id_alias: str) -> str:
    """DuckDB twin: exact transitive closure by recursive CTE (small-scale
    oracle only — the closure is quadratic in cluster size).

    ``pairs`` is ``MATERIALIZED``: DuckDB 1.0 inlines a plain CTE, so the
    whole ``pairs_sql`` (for the dedup-group oracles, candidate generation
    plus Jaccard verification) was re-evaluated inside every step of the
    recursive closure — 582 s vs 38 s for the ``seq_dedup_groups`` oracle
    on 4 threads, identical rows."""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
    sym AS (
      SELECT id_a AS n, id_b AS m FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(n, m) AS (
      SELECT n, m FROM sym
      UNION
      SELECT r.n, s.m FROM reach r JOIN sym s ON r.m = s.n
    )
    SELECT n AS {id_alias}, least(n, min(m)) AS comp_id FROM reach GROUP BY n
    """


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003)
# --------------------------------------------------------------------------

def _positional_hashes(text: Column) -> Column:
    """Per-POSITION ``SHINGLE``-gram hashes (no distinct — winnowing
    needs the positional sequence, unlike the minhash shingle SET)."""
    size = SHINGLE
    end = F.greatest(F.length(text) - (size - 1), F.lit(0))
    return F.when(
        end >= 1,
        F.transform(F.sequence(F.lit(1), end),
                    lambda i: _md5_bigint(F.substring(text, i, size))),
    ).otherwise(F.array().cast("array<bigint>"))


def _winnow_from_hashes(h: Column) -> Column:
    """The MOSS fingerprint set: min k-gram hash in every w-window
    (w = ``WINNOW_W``) of an ALREADY-STAGED positional-hash array column
    (:func:`_positional_hashes`), distinct + sorted.  The winnowing
    guarantee (SIGMOD 2003, thm 2): two documents sharing any substring
    of length >= w + k - 1 share at least one fingerprint — a
    DETERMINISTIC recall floor, where minhash recall is
    probabilistic.  Density is ~2/(w+1) of positions, so the
    posting table is ~an order smaller than full k-gram indexing.

    Texts with at least one gram but fewer than w of them keep their
    global min (every non-trivial doc gets >= 1 fingerprint); empty and
    sub-k texts yield an empty array.  O(n*w) comparisons per doc inside
    one codegen stage, no shuffle.  Pass an attribute, not an expression:
    Catalyst re-evaluates a referenced non-attribute expression inside
    the per-window lambda PER ELEMENT — O(n^2) md5 work (measured 33 s vs
    0.7 s on the 5k-doc bench corpus)."""
    w = WINNOW_W
    n = F.size(h)
    # least(element_at...) instead of array_min(slice...): slice allocates
    # a w-element array per window (see curation.word_grams);
    # windows are full by the sequence bound, so the minima are identical
    wins = F.when(
        n >= w,
        F.transform(F.sequence(F.lit(0), n - w),
                    lambda i: F.least(*[F.element_at(h, i + 1 + j)
                                        for j in range(w)])),
    ).otherwise(
        F.when(n > 0, F.array(F.array_min(h)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return F.array_sort(F.array_distinct(wins))


def winnow_fingerprints_sql(text: str) -> str:
    k, w = SHINGLE, WINNOW_W
    # compute the O(n) positional hash list ONCE via a scalar subquery
    # (five verbatim interpolations would lean on DuckDB CSE to avoid a
    # 5x md5 scan per row)
    h = (f"(SELECT [CAST(('0x' || substr(md5(substr({text}, i, {k})), 1, 8))"
         f" AS BIGINT) FOR i IN"
         f" range(1, greatest(len({text}) - {k - 1}, 0) + 1)])")
    return (
        f"(SELECT list_sort(list_distinct(CASE "
        f"WHEN len(h) >= {w} THEN "
        f"[list_min(h[i + 1 : i + {w}]) "
        f"FOR i IN range(0, len(h) - {w} + 1)] "
        f"WHEN len(h) > 0 THEN [list_min(h)] "
        f"ELSE [] END)) FROM (SELECT {h} AS h))"
    )


def winnow_candidates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b, n_shared fingerprints) from
    the winnowing posting table — the deterministic-recall complement to
    minhash_candidates (same skew discipline: :func:`_bucket_pairs` caps
    posting lists for boilerplate fingerprints before any pair forms).

    The SIGMOD-2003 guarantee lives at the FINGERPRINT level: it would
    hold for the candidate set only with one shared fingerprint enough
    (a single shared >= w+k-1-char substring yields exactly one).
    Requiring ``WINNOW_MIN_SHARED`` = 2 deliberately trades that floor
    for precision on boilerplate-dense corpora; the ``MAX_BUCKET``
    posting cap likewise drops guaranteed pairs inside capped postings.

    Scale shape: explode to (fingerprint, id) — ~2/(w+1) x corpus grams —
    then the capped self-join on the fingerprint and a pair-count
    aggregate.
    """
    # stage the positional hash array (one md5 pass), THEN window-min over
    # the attribute (see _winnow_from_hashes)
    staged = df.select(
        F.col(id_col).alias("id"),
        _positional_hashes(F.col(text_col)).alias("__h"))
    post = staged.select(
        "id",
        F.explode(_winnow_from_hashes(F.col("__h"))).alias("fp"))
    return (
        _bucket_pairs(post, ["fp"], MAX_BUCKET)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


def winnow_candidates_sql(table: str, text_col: str, id_col: str) -> str:
    fps = winnow_fingerprints_sql(text_col)
    return f"""
        WITH post AS (
          SELECT {id_col} AS id, unnest({fps}) AS fp FROM {table}
        ),
        ok AS (
          SELECT fp FROM post GROUP BY fp
          HAVING count(*) > 1 AND count(*) <= {MAX_BUCKET}
        ),
        small AS (SELECT * FROM post WHERE fp IN (SELECT fp FROM ok))
        SELECT a.id AS id_a, b.id AS id_b,
               count(*)::BIGINT AS n_shared
        FROM small a JOIN small b USING (fp)
        WHERE a.id < b.id
        GROUP BY a.id, b.id
        HAVING count(*) >= {WINNOW_MIN_SHARED}
    """
