"""Similarity-search queries over the embeddings table (north-star ANN):
brute-force cosine top-k baseline, random-hyperplane LSH bucketing, the
bucketed ANN variant, and embedding-cosine near-dup pairs.

All dot products use exact decimal folds (functions.vectors.decimal_dot)
so Spark and the DuckDB oracle agree bit-for-bit; the hyperplanes are
md5-derived +-1 literals inlined identically into both engines.

Scale design: brute-force is the correctness baseline (one broadcast of
the query vector, no shuffle); the LSH-bucket variant is the 100 TB path --
bucket assignment is per-row column work and the search touches only the
query's bucket. Near-dup runs inside label blocks (stand-in for LSH
buckets), never the full cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flights_etl_pipeline_spark.functions.scalar import dround, dsum
from flights_etl_pipeline_spark.functions.vectors import (
    _flit_render,
    cosine_from_parts,
    cosine_similarity,
    decimal_dot,
    double_cos,
    double_dot,
    flit,
    hyperplane_lit,
    py_decimal_dot,
    signed_hyperplane,
    sp_decimal_dot,
    sp_double_dot,
)
from flights_etl_pipeline_spark.plans.registry import (
    load,
    model_channel,
    rebalance,
    register,
    result_checkpoint,
)
from flights_etl_pipeline_spark.plans.sqlfrag import sql_cosine, sql_decimal_dot

DIM = 64
N_PLANES = 4
PLANES = [signed_hyperplane(j, DIM) for j in range(N_PLANES)]


def _plane_sql(plane: list[int]) -> str:
    return "[" + ", ".join(str(v) for v in plane) + "]"


def _bucket_sql(emb: str) -> str:
    terms = [
        f"(CASE WHEN {sql_decimal_dot(emb, _plane_sql(PLANES[j]))} > 0"
        f" THEN {2**j} ELSE 0 END)"
        for j in range(N_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


def _bucket_col(emb: str) -> F.Column:
    terms = [
        F.when(decimal_dot(emb, hyperplane_lit(PLANES[j])) > 0, 2**j).otherwise(0)
        for j in range(N_PLANES)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


# ---------------------------------------------------------------------------
# Row-local centroid assignment (shared by the IVF / SemDeDup family)
# ---------------------------------------------------------------------------


def _centroids(spark: SparkSession, sf_dir: str, k: int = None) -> list[tuple]:
    """Collect the K seeded centroids driver-side as (cid, cvec, cnorm)
    tuples sorted by cid — RE-COLLECTED on every invocation.

    Through r11 this was memoized on the parquet's (mtime, size); r12
    removed the memo: the optimization-round contract is that every
    timed run computes from the parquet inputs, and a module-level memo
    of a collected intermediate is exactly the cross-run reuse that
    contract forbids, even for a frozen model. The re-collect is one
    k-row filter job (~0.1-0.2 s warm), and the r12 plan-construction
    work more than covers it.

    K x DIM floats is a constant-size model channel (the same sanctioned
    shape as ``label_centroids`` / ``pca_projection``: K=8, DIM=64 here;
    at production K~sqrt(N) it is still megabytes, not data). cnorm is
    computed by Spark's own decimal fold before collection, and float->
    double widening of the collected values is exact, so every dot
    against the literal is bit-identical to a dot against the column.
    """
    k = K_CENTROIDS if k is None else k
    emb = load(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < k)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cvec"),
        )
        .select("cid", "cvec", decimal_dot("cvec", "cvec").alias("cnorm"))
    )
    rows = model_channel(
        rows, k, "frozen centroid set: vec_id < k filter yields at "
        "most k rows by construction"
    )
    return sorted(
        (int(r["cid"]), [float(v) for v in r["cvec"]], float(r["cnorm"]))
        for r in rows
    )


# Two-phase prune margin for the row-local argmax: the double fold's
# absolute error vs the exact decimal fold is ~dim ulps (~1e-13 for
# cosines in [-1,1]); 1e-3 is six orders of magnitude wider, the same
# contract tests/test_vectors_prefilter.py pins for the pair filters.
_NC_MARGIN = 1e-3


def _require_identifiers(*names: str) -> None:
    """Column names interpolated raw into SQL text must be plain
    identifiers; anything else raises instead of mis-parsing."""
    bad = [n for n in names if not n.isidentifier()]
    if bad:
        raise ValueError(f"column names must be plain identifiers: {bad}")


def _nearest_centroid(cents: list[tuple], emb_col: str = "embedding",
                      enorm_col: str = "enorm") -> F.Column:
    """Row-LOCAL argmax assignment to the nearest centroid, TWO-PHASE:
    phase 1 scores all K centroids with the cheap double-precision fold
    (:func:`double_cos`); phase 2 re-scores with the exact decimal fold
    ONLY the centroids within ``_NC_MARGIN`` of the double max (usually
    exactly one) and picks the best by (cs DESC, cid ASC) — the
    tie-break rides as max of struct(cs, -cid), exactly the ordering
    the previous ``max_by(cid, struct(cs, -cid))`` used.

    Bit-identical to the all-decimal argmax: the exact winner's double
    score sits within ~1e-13 of its exact score, so it can never fall
    more than 2e-13 below the double max — five orders of magnitude
    inside the margin — and every survivor is re-ranked by the exact
    decimal cosine (the returned ``cs`` is always the exact fold, never
    the double). The interpreted BigDecimal fold is the row-local
    plan's only real cost (r6's sf0.1 wall, SCALE.md "Local-bench
    caveat"); cutting it from K folds/row to ~1 recovers that wall
    without giving back the zero-exchange plan.

    Returns a struct column with fields ``cid`` and ``cs``. ZERO
    exchange: this replaces the
    ``crossJoin(broadcast(cents)).groupBy(vec_id).agg(first(embedding), max_by(...))``
    shape whose ``groupBy(vec_id)`` re-shuffled the whole corpus — with
    the embedding array riding the shuffle — before the cid probe-join
    (VERDICT r5 item 1). At 100 TB the assignment is pure per-row
    column work fused into the scan stage.

    The centroid ids/vectors/norms ride as three TRUE array literals
    (``F.lit`` of the whole nested list — a single cached Literal node
    indexed by ``element_at``), not per-element ``F.array(F.lit, ...)``
    trees: higher-order functions evaluate interpreted, and a
    CreateArray of K x DIM literal nodes would be rebuilt per ROW
    (measured ~1.8x the whole query's wall at sf0.1). The phase-1
    score array is let-bound by a transform over a 1-element array
    (Spark expressions have no let; the lambda variable materializes
    the array once per row instead of once per reference).
    """
    # Rendered as ONE Spark-SQL text parse (r12): the Column-API build
    # cost ~0.2 s of driver gateway latency per call (~3 ms/operator;
    # see vectors.sp_double_dot). Same functions, casts, and operand
    # order — the analyzer resolves the identical tree, so results are
    # bit-for-bit (parity-gated). Structural delta only: the winning
    # struct is let-bound through a 1-element transform so
    # array_max(rescored) evaluates once, not once per output field.
    # The SQL-text path interpolates column names raw — only plain
    # identifiers are accepted (ADVICE r12: a name needing backticks
    # would silently mis-parse where the old F.col() tolerated it).
    _require_identifiers(emb_col, enorm_col)
    cids = _flit_render([c[0] for c in cents])
    cvecs = _flit_render([list(c[1]) for c in cents])
    cnorms = _flit_render([c[2] for c in cents])
    idx = _flit_render(list(range(1, len(cents) + 1)))
    dscored = (
        f"transform({idx}, i -> named_struct('ds', "
        f"{sp_double_dot(emb_col, f'element_at({cvecs}, i)')} "
        f"/ SQRT({enorm_col} * element_at({cnorms}, i)), 'i', i))"
    )
    rescored = (
        f"transform(filter(ds, s -> s.ds >= array_max(ds).ds "
        f"- {_NC_MARGIN!r}D), s -> named_struct('cs', "
        f"{sp_decimal_dot(emb_col, f'element_at({cvecs}, s.i)')} "
        f"/ SQRT({enorm_col} * element_at({cnorms}, s.i)), "
        f"'nc', -element_at({cids}, s.i)))"
    )
    pick = (
        f"element_at(transform(array(array_max({rescored})), best -> "
        f"named_struct('cid', CAST(-best.nc AS BIGINT), 'cs', best.cs)), 1)"
    )
    return F.expr(
        f"element_at(transform(array({dscored}), ds -> {pick}), 1)"
    )


def _nearest_cid(cents: list[tuple], emb_col: str = "embedding") -> F.Column:
    """Row-local nearest-centroid id ONLY — the cid-consumers' fast path
    (IVF probe filters, PQ coarse assignment, SemDeDup cells don't read
    the score). Phase 1 runs entirely in doubles, INCLUDING the self-
    norm (double sum of 64 products errs by <~64 ulp relative, so the
    double score still sits within ~1e-13 of the exact cosine — five
    orders of magnitude inside ``_NC_MARGIN``); when exactly one
    centroid survives the margin it must be the exact argmax, and its
    cid returns with ZERO decimal folds for the row. Only ambiguous
    rows (>1 survivor — near-ties, vanishingly rare for real
    embeddings) fall into the ``otherwise`` branch, which re-ranks the
    survivors with the exact decimal cosine and the oracle's
    (cs DESC, cid ASC) tie-break; ``CASE WHEN`` evaluates branches
    lazily, so the decimal folds (including the decimal self-norm) are
    never computed on unambiguous rows. Bit-identical cid to
    :func:`_nearest_centroid` by the same margin argument.

    The double self-norm and the phase-1 score array are each
    let-bound through a transform over a 1-element array so they
    evaluate once per row even after Catalyst collapses projections.
    """
    # Rendered as ONE Spark-SQL text parse (r12; see _nearest_centroid's
    # note — same bit-identical-tree argument, parity-gated). CASE WHEN
    # keeps its lazy contract: the exact decimal folds still never
    # evaluate on unambiguous rows.
    _require_identifiers(emb_col)  # raw SQL-text interpolation
    cids = _flit_render([c[0] for c in cents])
    cvecs = _flit_render([list(c[1]) for c in cents])
    cnorms = _flit_render([c[2] for c in cents])
    idx = _flit_render(list(range(1, len(cents) + 1)))
    score = (
        f"transform({idx}, i -> named_struct('ds', "
        f"{sp_double_dot(emb_col, f'element_at({cvecs}, i)')} "
        f"/ SQRT(dn * element_at({cnorms}, i)), 'i', i))"
    )
    rescored = (
        f"transform(filter(ds, s -> s.ds >= array_max(ds).ds "
        f"- {_NC_MARGIN!r}D), s -> named_struct('cs', "
        f"{sp_decimal_dot(emb_col, f'element_at({cvecs}, s.i)')} "
        f"/ SQRT({sp_decimal_dot(emb_col, emb_col)} "
        f"* element_at({cnorms}, s.i)), "
        f"'nc', -element_at({cids}, s.i)))"
    )
    pick = (
        f"CASE WHEN size(filter(ds, s -> s.ds >= array_max(ds).ds "
        f"- {_NC_MARGIN!r}D)) = 1 THEN element_at({cids}, "
        f"element_at(filter(ds, s -> s.ds >= array_max(ds).ds "
        f"- {_NC_MARGIN!r}D), 1).i) "
        f"ELSE -array_max({rescored}).nc END"
    )
    return F.expr(
        f"CAST(element_at(transform(array("
        f"{sp_double_dot(emb_col, emb_col)}), dn -> "
        f"element_at(transform(array({score}), ds -> {pick}), 1)), 1) "
        f"AS BIGINT)"
    )


def _probe_select(
    spark: SparkSession, sf_dir: str, cents: list[tuple], n_probe: int = None,
    q_vec_id: int = 0,
) -> tuple[list[int], list[float], float]:
    """Rank the K collected centroids against the query vector
    (``q_vec_id``, itself a centroid under the seeded quantizer)
    DRIVER-side and return ``(probe_cids, qvec, qnorm)``.

    This is frozen-model work, not data work: a production ANN server
    ranks K centroids against one serve request before it touches the
    index, and K x DIM doubles is the same constant-size channel
    ``_centroids`` already collects. The ranking uses
    :func:`py_decimal_dot` — the bit-exact twin of the ORACLE's decimal
    fold — and the same IEEE double sqrt/divide, so the chosen probes
    match the oracle's in-SQL ``ORDER BY cosine DESC, cid`` exactly
    (the correctness gate's comparison; the in-plan Spark fold differs
    by ≤ dim*1e-13, far inside any centroid-ranking gap — see
    py_decimal_dot's docstring and tests/test_properties_r7.py).
    Replacing the previous in-plan probe subquery removes a second
    corpus scan, a crossJoin, a sort stage, and two broadcast exchanges
    of pure constant-size work from every invocation.
    """
    import math

    n_probe = N_PROBE if n_probe is None else n_probe
    _, qvec, qnorm = next(c for c in cents if c[0] == q_vec_id)
    ranked = sorted(
        (-(py_decimal_dot(cvec, qvec) / math.sqrt(cnorm * qnorm)), cid)
        for cid, cvec, cnorm in cents
    )
    return [cid for _, cid in ranked[:n_probe]], qvec, qnorm


# ---------------------------------------------------------------------------
# Brute-force cosine top-k (baseline)
# ---------------------------------------------------------------------------

ANN_BRUTE_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       FLOOR({sql_cosine('e.embedding', 'q.qv')} * 100000000 + 0.5)
         / 100000000 AS cosine
FROM embeddings e CROSS JOIN q
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


@register(
    "ann_bruteforce_topk",
    oracle=ANN_BRUTE_SQL,
    survey=["simsearch-bruteforce", "A8"],
    bench=True,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vec_id=0: broadcast the query vector
    (with its self-dot precomputed on the 1-row side), score every row
    JVM-side with one pair-fold + one self-fold, TakeOrdered -- the ANN
    ground truth. Values are bit-identical to the naive 3-fold cosine."""
    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
        .select("qv", decimal_dot("qv", "qv").alias("qnorm"))
    )
    cos = cosine_from_parts(
        decimal_dot("embedding", "qv"), decimal_dot("embedding", "embedding"), "qnorm"
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", "label", dround(cos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH bucketing
# ---------------------------------------------------------------------------


@register(
    "lsh_bucket_sizes",
    oracle=f"""
SELECT {_bucket_sql('embedding')} AS bucket,
       COUNT(*) AS n_vecs,
       MIN(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
""",
    survey=["simsearch-lsh"],
)
def lsh_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-of-projection LSH: 4 md5-derived +-1 hyperplanes -> 16 buckets.
    Bucket assignment is pure per-row column work (no shuffle until the
    final small aggregate)."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", _bucket_col("embedding").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


ANN_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, label, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT vec_id, label,
       FLOOR({sql_cosine('b.embedding', 'q.qv')} * 100000000 + 0.5)
         / 100000000 AS cosine
FROM b CROSS JOIN q
WHERE b.bucket = q.qb
ORDER BY cosine DESC, vec_id
LIMIT 5
"""


@register("ann_lsh_topk", oracle=ANN_LSH_SQL, survey=["simsearch-lsh-topk"])
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: score only vectors in the query's LSH bucket -- the
    scale path (candidates shrink ~16x here, ~2^k-x in general)."""
    emb = load(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id", "label", "embedding", _bucket_col("embedding").alias("bucket")
    )
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qb")
    )
    return (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("qb"))
        .select(
            "vec_id",
            "label",
            dround(cosine_similarity("embedding", "qv"), 8).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (blocked join)
# ---------------------------------------------------------------------------

NEARDUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, label, embedding
  FROM embeddings WHERE vec_id < 200
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       FLOOR({sql_cosine('a.embedding', 'b.embedding')} * 1000000 + 0.5)
         / 1000000 AS cosine
FROM corpus a JOIN corpus b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {sql_cosine('a.embedding', 'b.embedding')} > 0.99
"""


@register(
    "embedding_neardup",
    oracle=NEARDUP_SQL,
    survey=["dedup-embedding", "simsearch"],
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection: label-blocked self-join, cosine>0.99.

    The corpus injects exact copies (vec_id+10000) so the result is
    provably non-empty; blocking by label models the LSH-bucket join that
    replaces the quadratic self-join at 100 TB.

    Per-pair cost discipline: each side's self-dot is computed ONCE per
    row before the join (not per pair — cosine_from_parts is
    bit-identical to the naive 3-fold cosine), and the cheap double
    cosine prunes non-dup pairs before the exact decimal fold bills
    (two-phase lossless check, see functions.vectors.double_dot) —
    together ~15x off the pair stage's wall with bit-identical output.
    """
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "label", "embedding").unionAll(
        emb.filter(F.col("vec_id") < 200).select(
            (F.col("vec_id") + 10000).alias("vec_id"), "label", "embedding"
        )
    )
    rows = corpus.select(
        "vec_id", "label", "embedding",
        decimal_dot("embedding", "embedding").alias("enorm"),
    )
    # salt the block-keyed pair join (semantic_dedup rationale): label
    # alone has ~10 distinct values, so a bare label shuffle caps the
    # compute-bound pair stage at that many tasks — and AQE would
    # byte-coalesce it further on a small corpus; the explicit
    # (label, salt) repartition is exempt from coalescing and every
    # (a < b) pair still meets exactly once.
    S = 16
    P = spark.sparkContext.defaultParallelism
    a = (
        rows.select(
            "vec_id", "label", "embedding", "enorm",
            F.explode(F.lit(list(range(S)))).alias("salt"),
        )
        .repartition(P, "label", "salt")
        .alias("a")
    )
    b = (
        rows.withColumn(
            "salt", F.pmod(F.col("vec_id"), F.lit(S)).cast("int")
        )
        .repartition(P, "label", "salt")
        .alias("b")
    )
    cos = cosine_from_parts(
        decimal_dot(F.col("a.embedding"), F.col("b.embedding")),
        F.col("a.enorm"),
        F.col("b.enorm"),
    )
    fast = double_cos(
        F.col("a.embedding"), F.col("b.embedding"),
        F.col("a.enorm"), F.col("b.enorm"),
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(fast > 0.989)
        .filter(cos > 0.99)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            dround(cos, 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: seeded centroids -> assignment -> probed search
# ---------------------------------------------------------------------------

K_CENTROIDS = 8
N_PROBE = 2

ANN_IVF_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {K_CENTROIDS}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label, e.embedding, c.cid,
         {sql_cosine('e.embedding', 'c.cvec')} AS cs
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, label, embedding, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT cid FROM cents CROSS JOIN q
  ORDER BY {sql_cosine('cvec', 'qv')} DESC, cid
  LIMIT {N_PROBE}
)
SELECT a.vec_id, a.label,
       FLOOR({sql_cosine('a.embedding', 'q.qv')} * 100000000 + 0.5)
         / 100000000 AS cosine
FROM assigned a JOIN probes p ON a.cid = p.cid CROSS JOIN q
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


@register(
    "ann_ivf_topk",
    oracle=ANN_IVF_SQL,
    survey=["simsearch-ivf"],
    bench=True,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: 8 seeded centroids, assign each vector to its nearest
    (row-local two-phase argmax over the centroid literal -> narrow
    per-row work fused into the scan, ZERO exchange), then search only
    the query's 2 probed inverted lists.

    Probe selection is DRIVER-side model work (``_probe_select``): the
    quantizer is already collected (``_centroids``), the query vector
    is one collected row (a serve request), and ranking K centroids
    against one query is K dots over a frozen model — exactly what a
    production ANN server does before it touches the index. The ranking
    uses :func:`py_decimal_dot`, the bit-exact twin of the column fold,
    so the chosen probes match the oracle's in-SQL ORDER BY. This
    removes the previous plan's second corpus scan, crossJoin, sort
    stage, and two broadcast exchanges — pure constant overhead at any
    scale, and the sf0.1 local wall's dominant term (VERDICT r6 item
    3).

    The 100 TB shape: centroids ride a K x DIM literal (constant-size
    model channel), assignment is per-row column work with no shuffle
    at all, and the corpus is written partitioned by ``cid`` so a probe
    prunes to nprobe/K of the data at scan time: ONE scan-stage pass —
    filter on the probed cids, score against the query literal, TakeOrdered
    top-k. Seeded centroids (first K vectors) stand in for a k-means
    fit; swapping in trained centroids changes recall, not the plan.
    """
    emb = load(spark, sf_dir, "embeddings")
    cents_lit = _centroids(spark, sf_dir)
    probe_cids, qvec, qnorm = _probe_select(spark, sf_dir, cents_lit)
    qv = F.lit(qvec)
    # per-row self-dot once, then the two-phase argmax; the probe filter
    # runs BEFORE the query-cosine fold so only nprobe/K of the rows pay
    # the exact pair dot
    rows = emb.select(
        "vec_id", "label", "embedding", decimal_dot("embedding", "embedding").alias("enorm")
    )
    assigned = rows.select(
        "vec_id", "label", "embedding", "enorm",
        _nearest_cid(cents_lit).alias("cid"),
    )
    qcos = cosine_from_parts(decimal_dot("embedding", qv), "enorm", F.lit(qnorm))
    return (
        assigned.filter(F.col("cid").isin(probe_cids))
        .select("vec_id", "label", dround(qcos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# IVF index maintenance: assign ONLY the day-2 delta to frozen centroids
# ---------------------------------------------------------------------------

ANN_IVF_DELTA_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec
  FROM embeddings WHERE vec_id < {K_CENTROIDS}
),
scored AS (
  SELECT e.vec_id, (e.vec_id % 10 = 0) AS is_delta, c.cid,
         {sql_cosine('e.embedding', 'c.cvec')} AS cs
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, is_delta, cid, cs FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
cells AS (
  SELECT cid,
         CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT)
           AS n_index,
         CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
           AS n_delta,
         CAST(SUM(CASE WHEN is_delta
                       THEN CAST(FLOOR(cs * 100000 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS sum_cos
  FROM assigned GROUP BY cid
)
SELECT cid, n_index, n_delta,
       CAST((n_delta * 1000) // GREATEST(n_index, 1) AS BIGINT)
         AS growth_milli,
       CAST(sum_cos // GREATEST(n_delta, 1) AS BIGINT) AS mean_cos_100k
FROM cells
"""


@register(
    "ann_ivf_index_delta",
    oracle=ANN_IVF_DELTA_SQL,
    survey=["simsearch-ivf", "incremental", "index-maintenance"],
    bench=True,
)
def ann_ivf_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 IVF index maintenance: new vectors (every 10th vec_id,
    standing in for today's arrivals) are assigned to the FROZEN coarse
    quantizer from the day-1 fit — no re-clustering, no index rebuild —
    and the per-cell report says whether the index still holds: cell
    growth (delta/index, milli) flags lists that need splitting, and
    the mean assignment cosine of the new members flags quantizer drift
    (arrivals far from every centroid degrade recall long before any
    cell overflows).

    Scale shape: the ONLY work proportional to the corpus here is the
    day-1 side, which a production run never recomputes — it reads the
    stored per-cell manifest (the pattern partition_reconcile_repair
    and shard_manifest_delta also follow: derive the day-1 state
    in-query so both engines audit identical inputs). The delta path —
    the thing this query exists to shape — is O(|delta|): K centroids
    ride a literal (constant-size model channel), one ROW-LOCAL argmax
    pass with zero exchange (array_max over a transform — no
    groupBy(vec_id) reshuffle of the corpus), one K-row cell aggregate.
    Integer-exact outputs (floor-scaled cosines summed as BIGINT,
    `div` throughout), so no float summation order can split the
    engines.
    """
    emb = load(spark, sf_dir, "embeddings")
    cents_lit = _centroids(spark, sf_dir)
    rows = emb.select(
        "vec_id",
        (F.col("vec_id") % 10 == 0).alias("is_delta"),
        "embedding",
        decimal_dot("embedding", "embedding").alias("enorm"),
    )
    assigned = rows.withColumn(
        "best", _nearest_centroid(cents_lit)
    ).select(
        "vec_id",
        "is_delta",
        F.col("best.cid").alias("cid"),
        F.col("best.cs").alias("cs"),
    )
    cells = assigned.groupBy("cid").agg(
        F.sum(F.when(F.col("is_delta"), 0).otherwise(1))
        .cast("long")
        .alias("n_index"),
        F.sum(F.when(F.col("is_delta"), 1).otherwise(0))
        .cast("long")
        .alias("n_delta"),
        F.sum(
            F.when(
                F.col("is_delta"),
                F.floor(F.col("cs") * 100000 + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("sum_cos"),
    )
    return cells.select(
        "cid",
        "n_index",
        "n_delta",
        F.expr("CAST((n_delta * 1000) div GREATEST(n_index, 1) AS BIGINT)")
        .alias("growth_milli"),
        F.expr("CAST(sum_cos div GREATEST(n_delta, 1) AS BIGINT)")
        .alias("mean_cos_100k"),
    )


# ---------------------------------------------------------------------------
# Composed serving read path: frozen IVF index + unmerged delta segment
# ---------------------------------------------------------------------------

ANN_SERVE_DELTA_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec
  FROM embeddings WHERE vec_id < {K_CENTROIDS}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
idx AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 10 <> 0
),
delta AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 10 = 0
),
scored AS (
  SELECT i.vec_id, i.label, i.embedding, c.cid,
         {sql_cosine('i.embedding', 'c.cvec')} AS cs
  FROM idx i CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, label, embedding, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT cid FROM cents CROSS JOIN q
  ORDER BY {sql_cosine('cvec', 'qv')} DESC, cid
  LIMIT {N_PROBE}
),
cand AS (
  SELECT a.vec_id, a.label, a.embedding, 'index' AS segment
  FROM assigned a JOIN probes p ON a.cid = p.cid
  UNION ALL
  SELECT vec_id, label, embedding, 'delta' AS segment FROM delta
)
SELECT c.vec_id, c.label, c.segment,
       FLOOR({sql_cosine('c.embedding', 'q.qv')} * 100000000 + 0.5)
         / 100000000 AS cosine
FROM cand c CROSS JOIN q
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


@register(
    "ann_serve_with_delta",
    oracle=ANN_SERVE_DELTA_SQL,
    survey=["simsearch-ivf", "index-delta", "composed"],
)
def ann_serve_with_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed ANN serving READ path over a frozen index plus its
    unmerged delta: the FAISS/Lucene "main segment + memtable" shape.
    ``ann_ivf_index_delta`` is the WRITE path (assign today's arrivals
    to the frozen quantizer, audit cell growth); this query is the
    search that must stay correct BETWEEN merges. Index-side candidates
    come from the frozen IVF's probed cells only (same quantizer, same
    probes as ``ann_ivf_topk``); the delta segment -- small by
    definition until the nightly merge folds it in -- is brute-forced
    in full; one exact top-k merges the two candidate streams, each row
    tagged with the segment that produced it.

    Scale shape: the index path scans nprobe/K of the frozen corpus
    (partition-pruned at scan time when the index is written
    cid-partitioned, as ann_ivf_topk documents); the delta path is
    O(|delta|) with no join at all; the final top-k is a
    TakeOrderedAndProject over both streams (per-task heaps, no global
    sort). Centroids ride a K x DIM literal (row-local argmax, zero
    exchange on the index side); probe list and query vector ride
    K-row/1-row broadcasts. Recall is exactly the frozen index's recall: a miss can
    only come from the quantizer, never from staleness, because the
    delta is searched exhaustively.
    """
    emb = load(spark, sf_dir, "embeddings")
    # probes + query vector are DRIVER-side frozen-model work
    # (_probe_select rationale at ann_ivf_topk): no second corpus scan,
    # no crossJoin/sort/broadcast chain for constant-size probe math
    cents_lit = _centroids(spark, sf_dir)
    probe_cids, qvec, qnorm = _probe_select(
        spark, sf_dir, cents_lit, q_vec_id=1
    )
    qv = F.lit(qvec)
    idx = emb.filter(F.col("vec_id") % 10 != 0).select(
        "vec_id",
        "label",
        "embedding",
        decimal_dot("embedding", "embedding").alias("enorm"),
    )
    delta = emb.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id",
        "label",
        "embedding",
        decimal_dot("embedding", "embedding").alias("enorm"),
    )
    # row-local argmax over the centroid literal + row-local probe
    # filter: zero exchange on the corpus-sized index side (VERDICT r5
    # item 1 / r7 no-join shape)
    cand = (
        idx.select(
            "vec_id", "label", "embedding", "enorm",
            _nearest_cid(cents_lit).alias("cid"),
        )
        .filter(F.col("cid").isin(probe_cids))
        .select(
            "vec_id", "label", "embedding", "enorm",
            F.lit("index").alias("segment"),
        )
        .unionAll(
            delta.select(
                "vec_id", "label", "embedding", "enorm",
                F.lit("delta").alias("segment"),
            )
        )
    )
    qcos = cosine_from_parts(decimal_dot("embedding", qv), "enorm", F.lit(qnorm))
    return (
        cand.select("vec_id", "label", "segment", dround(qcos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (symmetric per-vector scaling)
# ---------------------------------------------------------------------------


@register(
    "embedding_quantize",
    oracle="""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
s AS (
  SELECT vec_id, label, vec,
         list_max(list_transform(vec, x -> ABS(x))) / 127 AS scale
  FROM v
),
q AS (
  SELECT vec_id, label, vec, scale,
         list_transform(vec, x ->
           LEAST(GREATEST(FLOOR(x / scale + 0.5), -127), 127)) AS qvec
  FROM s
)
SELECT vec_id, label,
       LEN(qvec) AS dims,
       scale,
       CAST(list_sum(qvec) AS BIGINT) AS q_checksum,
       list_max(list_transform(list_zip(qvec, vec),
                               p -> ABS(p[1] * scale - p[2]))) AS max_abs_err
FROM q
""",
    survey=["quantization", "int8", "embeddings", "A8"],
    bench=True,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    scale = max|x|/127, elements snapped to round(x/scale) clamped to
    [-127, 127], reporting dims, scale, the quantized checksum, and the
    worst per-element reconstruction error. This is the 4x-compression
    scale path for ANN at 100 TB -- scan cost drops 4x and int8 dot
    products SIMD-vectorize -- while max_abs_err <= scale/2 bounds the
    recall loss.

    All ops are element-wise IEEE arithmetic inside codegen'd
    higher-order functions (divide / floor / multiply / subtract are
    each one correctly-rounded op, so Spark and DuckDB agree
    bit-for-bit; floor(x+0.5) is the engine-portable half-up round).
    Zero shuffles: a pure projection pass."""
    vec = F.transform("embedding", lambda x: x.cast("double"))
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "label", vec.alias("vec"))
        .withColumn(
            "scale",
            F.array_max(F.transform("vec", F.abs)) / F.lit(127.0),
        )
        .withColumn(
            "qvec",
            F.transform(
                "vec",
                lambda x: F.least(
                    F.greatest(
                        F.floor(x / F.col("scale") + F.lit(0.5)),
                        F.lit(-127).cast("long"),
                    ),
                    F.lit(127).cast("long"),
                ),
            ),
        )
    )
    err = F.array_max(
        F.zip_with(
            "qvec", "vec", lambda q, x: F.abs(q * F.col("scale") - x)
        )
    )
    return emb.select(
        "vec_id",
        "label",
        F.size("qvec").alias("dims"),
        "scale",
        F.aggregate(
            "qvec", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_checksum"),
        err.alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): centroid blocks -> within-cluster cosine
# ---------------------------------------------------------------------------

SEMANTIC_DEDUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 200
),
cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id < {K_CENTROIDS}
),
scored AS (
  SELECT c.vec_id, c.embedding, ct.cid,
         {sql_cosine('c.embedding', 'ct.cvec')} AS cs
  FROM corpus c CROSS JOIN cents ct
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.cid, a.vec_id AS a_id, b.vec_id AS b_id,
         {sql_cosine('a.embedding', 'b.embedding')} AS cos
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
)
SELECT b_id AS drop_id,
       CAST(MIN(a_id) AS BIGINT) AS keep_id,
       MAX(FLOOR(cos * 1000000 + 0.5) / 1000000) AS max_cosine
FROM pairs WHERE cos > 0.99
GROUP BY b_id
"""


@register(
    "semantic_dedup",
    oracle=SEMANTIC_DEDUP_SQL,
    survey=["dedup-semantic", "simsearch-ivf"],
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: assign every embedding to
    its nearest of K seeded centroids (the IVF coarse quantizer), then
    find near-duplicate pairs ONLY within each centroid cluster
    (cosine > 0.99) and drop the higher-id member of each pair, keeping
    the lowest-id survivor as representative. The corpus injects exact
    copies (vec_id+10000) so the result is provably non-empty.

    Scale shape: centroids ride a K x DIM literal; assignment is one
    ROW-LOCAL argmax pass (array_max over a transform — zero exchange,
    nothing re-shuffles the corpus before the cid-keyed pair join); the
    pair join is an equi-join keyed on cid, so pair work is sum over
    clusters of |c|^2 -- the SemDeDup bound -- never corpus^2, and K
    grows with the corpus (K ~ sqrt(N)) to hold cluster sizes flat.
    Survivor election is a hash aggregate, no window.

    Public-knowledge basis: Abbas et al., "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication" (2023)."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding").unionAll(
        emb.filter(F.col("vec_id") < 200).select(
            (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
        )
    )
    cents_lit = _centroids(spark, sf_dir)
    rows = corpus.select(
        "vec_id", "embedding", decimal_dot("embedding", "embedding").alias("enorm")
    )
    assigned = rows.select(
        "vec_id", "embedding", "enorm",
        _nearest_cid(cents_lit).alias("cid"),
    )
    # SALT the pair join: cid alone has only K distinct values, so a
    # bare cid-keyed shuffle caps the pair stage's parallelism at K
    # tasks and concentrates each cluster's |c|^2 work on one of them
    # — THE skew shape at 100 TB. Side b buckets by vec_id % S, side a
    # replicates over all S salts (S x |a| skinny rows, trivial next
    # to the |c|^2/S it buys); join key (cid, salt) spreads each
    # cluster across S tasks and every (a < b) pair still meets
    # exactly once.
    S = 16
    # explicit repartition (not a bare join shuffle): the pair stage is
    # COMPUTE-bound, and AQE sizes partitions by bytes — on a small
    # corpus it would coalesce the (cid, salt) exchange to 1-2 tasks
    # and re-serialize the fold work. A user-specified partition count
    # is exempt from AQE coalescing, so the fan-out holds at any data
    # size.
    P = spark.sparkContext.defaultParallelism
    a = (
        assigned.select(
            "vec_id", "embedding", "enorm", "cid",
            F.explode(F.lit(list(range(S)))).alias("salt"),
        )
        .repartition(P, "cid", "salt")
        .alias("a")
    )
    b = (
        assigned.withColumn(
            "salt", F.pmod(F.col("vec_id"), F.lit(S)).cast("int")
        )
        .repartition(P, "cid", "salt")
        .alias("b")
    )
    cos = cosine_from_parts(
        decimal_dot(F.col("a.embedding"), F.col("b.embedding")),
        F.col("a.enorm"),
        F.col("b.enorm"),
    )
    # two-phase lossless pair check: the cheap double cosine prunes the
    # bulk of intra-cluster pairs before the exact decimal fold bills
    # (see functions.vectors.double_dot for the margin argument);
    # survivors re-check exactly, so output is bit-identical
    fast = double_cos(
        F.col("a.embedding"), F.col("b.embedding"),
        F.col("a.enorm"), F.col("b.enorm"),
    )
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(fast > 0.989)
        .filter(cos > 0.99)
        .groupBy(F.col("b.vec_id").alias("drop_id"))
        .agg(
            F.min(F.col("a.vec_id")).alias("keep_id"),
            F.max(dround(cos, 6)).alias("max_cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation-recall curve (pick the serving dimension)
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32, 64)
_MRL_K = 10


def _mrl_sql() -> str:
    from flights_etl_pipeline_spark.plans.sqlfrag import sql_cosine as _sc

    legs = []
    for d in _MRL_DIMS:
        cos = _sc(f"list_slice(e.embedding, 1, {d})",
                  f"list_slice(q.qv, 1, {d})")
        legs.append(
            f"(SELECT {d} AS dim, vec_id FROM embeddings e CROSS JOIN q "
            f"ORDER BY {cos} DESC, vec_id LIMIT {_MRL_K})"
        )
    full_cos = _sc("e.embedding", "q.qv")
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
fullk AS (
  SELECT vec_id FROM embeddings e CROSS JOIN q
  ORDER BY {full_cos} DESC, vec_id LIMIT {_MRL_K}
),
u AS ({" UNION ALL ".join(legs)})
SELECT u.dim,
       CAST(SUM(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000
            // {_MRL_K} AS BIGINT) AS recall_milli
FROM u LEFT JOIN fullk f ON u.vec_id = f.vec_id
GROUP BY u.dim
"""


@register(
    "matryoshka_recall_curve",
    oracle=None,  # injected below (needs sqlfrag at build time)
    survey=["simsearch", "matryoshka", "truncation", "recall-eval"],
)
def matryoshka_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation sweep: recall@{k} of PREFIX-truncated
    embeddings ({dims} dims) against the full-dimension exact top-{k}
    for query vec 0 — the measurement behind serving a
    matryoshka-trained embedding at a cheaper dimension (store/search
    the first d dims, rerank with the full vector only if recall
    demands it). The 64-dim leg doubles as a self-check: it must score
    1000 milli by construction.

    Scale shape: one TakeOrdered top-k heap per dimension leg (per-task
    heaps, no global sort, no window over data), the query vector and
    its per-leg norms on 1-row broadcasts, and the final
    recall join touches 4x{k} rows against a broadcast {k}-row truth
    set. Truncated scoring slices the SAME stored column — at serving
    scale the sliced prefix would be its own column family, making the
    scan itself d/{dim} cheaper; the plan shape is unchanged.

    Engine-exactness: sliced dots use the same exact decimal folds as
    every cosine here; ordering ties break on vec_id in both engines.

    Public-knowledge basis: Kusupati et al., "Matryoshka Representation
    Learning" (2022)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    full_q = q.select("qv", decimal_dot("qv", "qv").alias("qnorm"))
    full_cos = cosine_from_parts(
        decimal_dot("embedding", "qv"),
        decimal_dot("embedding", "embedding"),
        "qnorm",
    )
    fullk = (
        emb.crossJoin(F.broadcast(full_q))
        .select("vec_id", full_cos.alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(_MRL_K)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    legs = []
    for d in _MRL_DIMS:
        qd = q.select(F.slice("qv", 1, d).alias("qv")).select(
            "qv", decimal_dot("qv", "qv").alias("qnorm")
        )
        ed = F.slice("embedding", 1, d)
        cos_d = cosine_from_parts(
            decimal_dot(ed, "qv"), decimal_dot(ed, ed), "qnorm"
        )
        legs.append(
            emb.crossJoin(F.broadcast(qd))
            .select("vec_id", cos_d.alias("cos"))
            .orderBy(F.col("cos").desc(), "vec_id")
            .limit(_MRL_K)
            .select(F.lit(d).alias("dim"), "vec_id")
        )
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionAll(leg)
    return (
        u.join(F.broadcast(fullk), "vec_id", "left")
        .groupBy("dim")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .withColumn(
            "recall_milli",
            F.expr(f"CAST(n_hits * 1000 div {_MRL_K} AS BIGINT)"),
        )
    )


matryoshka_recall_curve.__doc__ = matryoshka_recall_curve.__doc__.format(
    k=_MRL_K, dims=_MRL_DIMS, dim=DIM
)

from flights_etl_pipeline_spark.plans import registry as _reg_mrl  # noqa: E402
from dataclasses import replace as _dc_replace  # noqa: E402

_reg_mrl.REGISTRY["matryoshka_recall_curve"] = _dc_replace(
    _reg_mrl.REGISTRY["matryoshka_recall_curve"], oracle=_mrl_sql()
)


# ---------------------------------------------------------------------------
# Product quantization (PQ) encode: the IVF-PQ compression step
# ---------------------------------------------------------------------------

PQ_M = 4  # subvector count
PQ_SUB = DIM // PQ_M  # dims per subvector
PQ_K = 16  # codewords per sub-codebook

_PQ_M_SQL = "(SELECT UNNEST([0, 1, 2, 3]) AS m)"


def _pq_dist_sql(sv: str, cv: str) -> str:
    return (
        f"({sql_decimal_dot(sv, sv)} - 2 * {sql_decimal_dot(sv, cv)}"
        f" + {sql_decimal_dot(cv, cv)})"
    )


PQ_CODES_SQL = f"""
WITH sub AS (
  SELECT vec_id, mm.m AS m,
         embedding[(mm.m * {PQ_SUB} + 1):(mm.m * {PQ_SUB} + {PQ_SUB})] AS sv
  FROM embeddings, {_PQ_M_SQL} mm
),
cb AS (
  SELECT vec_id AS cid, mm.m AS m,
         embedding[(mm.m * {PQ_SUB} + 1):(mm.m * {PQ_SUB} + {PQ_SUB})] AS cv
  FROM embeddings, {_PQ_M_SQL} mm
  WHERE vec_id < {PQ_K}
),
scored AS (
  SELECT s.vec_id, s.m, c.cid, {_pq_dist_sql('s.sv', 'c.cv')} AS dist
  FROM sub s JOIN cb c ON s.m = c.m
),
best AS (
  SELECT vec_id, m, cid, dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY dist, cid) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT vec_id,
       CAST(MIN(CASE WHEN m = 0 THEN cid END) AS INT) AS code_0,
       CAST(MIN(CASE WHEN m = 1 THEN cid END) AS INT) AS code_1,
       CAST(MIN(CASE WHEN m = 2 THEN cid END) AS INT) AS code_2,
       CAST(MIN(CASE WHEN m = 3 THEN cid END) AS INT) AS code_3,
       (FLOOR(CAST(SUM(CAST(dist AS DECIMAL(18,14))) AS DOUBLE) * 100000000
              + 0.5) / 100000000) AS quant_err
FROM best
GROUP BY vec_id
"""


# Argmin prune margin in raw L2 units: the three double folds err by
# < dim * 1e-13 combined; any codeword whose exact dist exceeds the
# minimum by more than the margin cannot win the (dist, cid) ordering.
_PQ_MARGIN = 1e-6


def _pq_codebook(spark: SparkSession, sf_dir: str) -> list[list[tuple]]:
    """Collect the seeded PQ codebook driver-side, RE-COLLECTED on
    every invocation (r12 dropped the fixture-keyed memo — see
    `_centroids` for the contract rationale): for each subspace m, the
    {PQ_K} codeword subvectors with norms computed by Spark's own
    decimal fold before collection — M x K x {PQ_SUB} doubles, a
    constant-size frozen model exactly like `_centroids`."""
    emb = load(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.posexplode(
                F.array(
                    *[
                        F.slice("embedding", m * PQ_SUB + 1, PQ_SUB)
                        for m in range(PQ_M)
                    ]
                )
            ).alias("m", "cv"),
        )
        .withColumn("cnorm", decimal_dot("cv", "cv"))
    )
    rows = model_channel(
        rows, PQ_K * PQ_M, "PQ codebook: PQ_K centroid vectors x "
        "PQ_M subspaces"
    )
    data: list[list[tuple]] = [[] for _ in range(PQ_M)]
    for r in rows:
        data[r["m"]].append(
            (int(r["cid"]), [float(v) for v in r["cv"]], float(r["cnorm"]))
        )
    for m in range(PQ_M):
        data[m].sort()
    return data


def _pq_best_rowlocal(cents_m: list[tuple], m: int) -> F.Column:
    """Row-LOCAL two-phase argmin of subvector m against its codebook
    literal: phase 1 scores all {PQ_K} codewords with double L2 folds
    (dist = |s|^2 - 2 s.c + |c|^2, self-norm let-bound), phase 2
    re-scores only survivors within ``_PQ_MARGIN`` of the double
    minimum with the exact decimal folds and picks min by (dist, cid)
    — the oracle's ROW_NUMBER ordering. Returns struct(cid, dist) with
    ``dist`` always the exact value (it feeds quant_err). The subvector
    slice and its double norm are each let-bound through a transform
    over a 1-element array so they evaluate once per row."""
    # Rendered as ONE Spark-SQL text parse (r12; see _nearest_centroid's
    # note — same bit-identical-tree argument, parity-gated; built 4x
    # per PQ query, the Column-API build cost ~0.9 s total). Structural
    # delta only: the winning struct is let-bound through a 1-element
    # transform so array_min(rescored) evaluates once.
    cids = _flit_render([c[0] for c in cents_m])
    cvecs = _flit_render([list(c[1]) for c in cents_m])
    cnorms = _flit_render([c[2] for c in cents_m])
    idx = _flit_render(list(range(1, len(cents_m) + 1)))
    dscored = (
        f"transform({idx}, i -> named_struct('ds', "
        f"dn - 2 * {sp_double_dot('sv', f'element_at({cvecs}, i)')} "
        f"+ element_at({cnorms}, i), 'i', i))"
    )
    rescored = (
        f"transform(filter(ds, s -> s.ds <= array_min(ds).ds "
        f"+ {_PQ_MARGIN!r}D), s -> named_struct('dist', "
        f"{sp_decimal_dot('sv', 'sv')} "
        f"- 2 * {sp_decimal_dot('sv', f'element_at({cvecs}, s.i)')} "
        f"+ element_at({cnorms}, s.i), "
        f"'cid', element_at({cids}, s.i)))"
    )
    pick = (
        f"element_at(transform(array(array_min({rescored})), best -> "
        f"named_struct('cid', best.cid, 'dist', best.dist)), 1)"
    )
    return F.expr(
        f"element_at(transform("
        f"array(slice(embedding, {m * PQ_SUB + 1}, {PQ_SUB})), sv -> "
        f"element_at(transform(array({sp_double_dot('sv', 'sv')}), dn -> "
        f"element_at(transform(array({dscored}), ds -> {pick}), 1)), 1)), 1)"
    )


@register(
    "ann_pq_codes",
    oracle=PQ_CODES_SQL,
    survey=["simsearch-pq", "quantization"],
    bench=True,
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (the compression half of IVF-PQ, the
    canonical web-scale ANN index): split each {DIM}-dim embedding into
    {PQ_M} subvectors, assign each to its nearest codeword in a per-
    subspace codebook (argmin L2, min-id tie-break), and report the
    {PQ_M}-byte code plus the total reconstruction error.

    Engine-exactness: dist^2 = |x|^2 - 2 x.c + |c|^2 from exact decimal
    folds; the per-vector error sum is decimal-cast before summing so it
    is associative; seeded codebooks (subvectors of the first {PQ_K}
    vectors) stand in for the k-means fit exactly as in ann_ivf_topk.

    Scale shape (VERDICT r6 item 2): the codebook is a frozen M x K
    model collected driver-side once (:func:`_pq_codebook`, the
    `_centroids` channel) and inlined as array literals; each
    subvector's argmin folds ROW-LOCALLY — phase 1 scores all {PQ_K}
    codewords with cheap double L2 folds, phase 2 re-scores only the
    near-minimum survivors with the exact decimal folds (same lossless
    margin as `_nearest_cid`) — so the whole encode is ONE projection:
    no codebook join, no (vec_id, m) or vec_id hash exchange anywhere;
    the only exchange is the round-robin rebalance that detaches the
    compute-bound encode's parallelism from the scan's split count
    (r12, pca_projection's rationale). PQ codes shrink the corpus
    ~{DIM * 4 // PQ_M}x, which is what lets a 100 TB index fit scan-
    speed storage."""
    # the encode is COMPUTE-bound (4 x 16 double L2 folds + decimal
    # rescore per row): rebalance the skinny rows first so its
    # parallelism doesn't depend on the scan's split count (r12; the
    # pca_projection rationale — sf0.1's single-split parquet otherwise
    # serialized the whole encode on one task; interleaved A/B measured
    # ~2.9 s -> ~1.9 s). One round-robin exchange of raw rows, moved
    # exactly once; at real scale the scan is already split and the
    # exchange is noise next to the per-row work it parallelizes. NOTE
    # this pays off only for decimal-fold-heavy projections — the same
    # rebalance measured NEGATIVE on the string/tokenize pipelines
    # (minhash, scrub, tfidf, NB), where the exchange serializes the
    # same bytes the single task would just process (OPTIMIZATION_r12).
    emb = rebalance(load(spark, sf_dir, "embeddings"))
    cbook = _pq_codebook(spark, sf_dir)
    bests = [_pq_best_rowlocal(cbook[m], m) for m in range(PQ_M)]
    err = bests[0]["dist"].cast("decimal(18,14)")
    for b in bests[1:]:
        err = err + b["dist"].cast("decimal(18,14)")
    return emb.select(
        "vec_id",
        *[b["cid"].cast("int").alias(f"code_{i}") for i, b in enumerate(bests)],
        dround(err.cast("double"), 8).alias("quant_err"),
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: LSH recall@k vs exact ground truth
# ---------------------------------------------------------------------------

_RECALL_K = 10
_RECALL_NQ = 10  # evaluate on query vectors vec_id 0..9

ANN_RECALL_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, bucket AS qb
  FROM b WHERE vec_id < {_RECALL_NQ}
),
scored AS (
  SELECT q.qid, b.vec_id, b.bucket, q.qb,
         FLOOR({sql_cosine('b.embedding', 'q.qv')} * 100000000 + 0.5)
           / 100000000 AS cosine
  FROM b CROSS JOIN q
),
truth AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY cosine DESC, vec_id) AS r
    FROM scored
  ) WHERE r <= {_RECALL_K}
),
cand AS (SELECT qid, vec_id, cosine FROM scored WHERE bucket = qb),
retrieved AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY cosine DESC, vec_id) AS r
    FROM cand
  ) WHERE r <= {_RECALL_K}
),
nc AS (SELECT qid, COUNT(*) AS n_candidates FROM cand GROUP BY qid),
hits AS (
  SELECT t.qid, COUNT(r.vec_id) AS n_hits
  FROM truth t LEFT JOIN retrieved r
    ON t.qid = r.qid AND t.vec_id = r.vec_id
  GROUP BY t.qid
)
SELECT h.qid, nc.n_candidates, h.n_hits,
       CAST(h.n_hits AS DOUBLE) / {_RECALL_K} AS recall
FROM hits h JOIN nc ON h.qid = nc.qid
"""


@register(
    "ann_recall_eval",
    oracle=ANN_RECALL_SQL,
    survey=["simsearch-eval", "recall", "window"],
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the hyperplane-LSH index against exact cosine ground
    truth, per query vector (vec_id 0..9) -- the evaluation loop every
    ANN deployment needs before trusting the approximate path.

    Scale shape: the exact side is the expensive one by design; in
    production it runs on a *sampled* query set exactly like this (10
    broadcast queries x corpus scan, one pass, per-query top-k via a
    qid-partitioned window -- parallel across queries, no global sort).
    The LSH side prunes to the query's bucket before scoring, so the
    candidate join is bucket-equi, not all-pairs. Both top-k cuts break
    cosine ties by vec_id on quantized scores, so the hit counts are
    engine-exact.
    """
    emb = load(spark, sf_dir, "embeddings")
    # per-row work is ~(NQ + bucket-planes) dim-wide decimal folds —
    # compute-bound, so rebalance first (pca_projection rationale);
    # per-side self-dots computed ONCE per row so each query pair costs
    # one fold, not the naive three (cosine_from_parts is bit-identical)
    b = emb.repartition(spark.sparkContext.defaultParallelism).select(
        "vec_id",
        "embedding",
        _bucket_col("embedding").alias("bucket"),
        decimal_dot("embedding", "embedding").alias("enorm"),
    )
    q = b.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qb"),
        F.col("enorm").alias("qnorm"),
    )
    scored = b.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        "bucket",
        "qb",
        dround(
            cosine_from_parts(decimal_dot("embedding", "qv"), "enorm", "qnorm"),
            8,
        ).alias("cosine"),
    )
    wq = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    truth = (
        scored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    cand = scored.filter(F.col("bucket") == F.col("qb"))
    retrieved = (
        cand.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= _RECALL_K)
        .select("qid", "vec_id")
    )
    nc = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_candidates"))
    # count matches per qid: left join truth->retrieved on (qid, vec_id)
    hits = (
        truth.alias("t")
        .join(
            retrieved.alias("r"),
            (F.col("t.qid") == F.col("r.qid"))
            & (F.col("t.vec_id") == F.col("r.vec_id")),
            "left",
        )
        .groupBy(F.col("t.qid").alias("qid"))
        .agg(F.count(F.col("r.vec_id")).alias("n_hits"))
    )
    return hits.join(nc, "qid").select(
        "qid",
        "n_candidates",
        "n_hits",
        (F.col("n_hits").cast("double") / _RECALL_K).alias("recall"),
    )


# ---------------------------------------------------------------------------
# RAG retrieval: ANN top-k joined back to document features
# ---------------------------------------------------------------------------

RAG_RETRIEVE_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
topk AS (
  SELECT vec_id,
         FLOOR({sql_cosine('e.embedding', 'q.qv')} * 100000000 + 0.5)
           / 100000000 AS cosine
  FROM embeddings e CROSS JOIN q
  ORDER BY cosine DESC, vec_id
  LIMIT 10
)
SELECT t.vec_id AS doc_id, t.cosine, d.lang, d.source, d.n_chars,
       LEN(string_split_regex(d.text, '\\s+')) AS n_tokens
FROM topk t JOIN documents d ON d.doc_id = t.vec_id
"""


@register(
    "rag_retrieve",
    oracle=RAG_RETRIEVE_SQL,
    survey=["rag", "simsearch-join", "composition"],
)
def rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval stage of a RAG pipeline: exact cosine top-10 for the
    query vector, joined back to the documents table for the context
    features a generator prompt-builder needs (language, source, size,
    token count). Exercises the cross-modal doc_id==vec_id join the
    corpus layout is designed for.

    Scale: the ANN cut happens BEFORE the document join, so the join's
    left side is k rows (broadcast); the documents side is never
    scanned beyond the pushed-down join keys at 100 TB when stored
    bucketed by doc_id."""
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
        .select("qv", decimal_dot("qv", "qv").alias("qnorm"))
    )
    cos = cosine_from_parts(
        decimal_dot("embedding", "qv"),
        decimal_dot("embedding", "embedding"),
        "qnorm",
    )
    topk = (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", dround(cos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )
    return F.broadcast(topk).join(
        docs, topk.vec_id == docs.doc_id
    ).select(
        F.col("doc_id"),
        "cosine",
        "lang",
        "source",
        "n_chars",
        F.size(F.split("text", r"\s+")).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training pairs)
# ---------------------------------------------------------------------------

_HN_N_ANCHORS = 8
_HN_TOPK = 5

HARD_NEGATIVES_SQL = f"""
WITH a AS (
  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS av
  FROM embeddings WHERE vec_id < {_HN_N_ANCHORS}
),
s AS (
  SELECT a.anchor_id, e.vec_id, e.label,
         FLOOR({sql_cosine('e.embedding', 'a.av')} * 100000000 + 0.5)
           / 100000000 AS cosine
  FROM embeddings e CROSS JOIN a
  WHERE e.label <> a.anchor_label
)
SELECT anchor_id, vec_id, label, cosine, rn
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY anchor_id ORDER BY cosine DESC, vec_id
  ) AS rn
  FROM s
)
WHERE rn <= {_HN_TOPK}
"""


@register(
    "hard_negative_mining",
    oracle=HARD_NEGATIVES_SQL,
    survey=["contrastive", "hard-negatives", "ann", "training-prep"],
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the
    top-5 most-cosine-similar vectors carrying a *different* label —
    the negatives that sit closest to the decision boundary, which is
    what embedding-model training loops (triplet / InfoNCE) sample.

    Scale shape: the anchor set is broadcast (vec_id < 8 here; in
    production the current training batch), scoring is one row-local
    decimal fold per (row, anchor), and per-anchor top-k runs as a
    rank window PARTITIONED BY anchor — parallel across anchors, never
    a global sort. The label-mismatch filter prunes before ranking. At
    100 TB the corpus side would first prune through the IVF/LSH bucket
    route (see ann_ivf_topk) so each anchor scores only its probed
    cells; the brute-force form here is the exactness baseline."""
    emb = load(spark, sf_dir, "embeddings")
    anchors = (
        emb.filter(F.col("vec_id") < _HN_N_ANCHORS)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").alias("av"),
        )
        .select(
            "anchor_id",
            "anchor_label",
            "av",
            decimal_dot("av", "av").alias("anorm"),
        )
    )
    cos = cosine_from_parts(
        decimal_dot("embedding", "av"),
        decimal_dot("embedding", "embedding"),
        "anorm",
    )
    scored = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "vec_id",
            "label",
            dround(cos, 8).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _HN_TOPK
    )


# ---------------------------------------------------------------------------
# PCA top component: exact moments + quantized power iteration + projection
# ---------------------------------------------------------------------------

_PCA_ITERS = 8


def _pca_oracle() -> str:
    centered = (
        "list_transform(list_zip(e.embedding, mus.ml), p -> p[1] - p[2])"
    )
    # integer-micro matvec: every product floor-quantized BEFORE the sum,
    # so the 64-term addition is associative (order-independent)
    w_expr = (
        "list_transform(range(64), i -> CAST(list_sum("
        "list_transform(range(64), j -> CAST(FLOOR("
        "cl.cl[i*64 + j + 1] * it.v[j + 1] * 1000000 + 0.5) AS BIGINT)"
        ")) AS BIGINT))"
    )
    m_expr = (
        f"list_max(list_transform({w_expr}, x -> abs(x)))"
    )
    step_v = (
        f"list_transform({w_expr}, x -> "
        f"FLOOR(CAST(x AS DOUBLE) / ({m_expr}) * 1000000000 + 0.5)"
        " / 1000000000)"
    )
    return f"""
WITH RECURSIVE dims AS (SELECT UNNEST(range(64)) AS i),
mu AS MATERIALIZED (
  SELECT d.i,
         CAST(SUM(CAST(CAST(e.embedding[d.i + 1] AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE)
           / COUNT(*) AS mu
  FROM embeddings e, dims d
  GROUP BY d.i
),
mus AS MATERIALIZED (SELECT LIST(mu ORDER BY i) AS ml FROM mu),
nrow AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
s2 AS MATERIALIZED (
  SELECT a.i, b.i AS j,
         CAST(SUM(CAST(CAST(e.embedding[a.i + 1] AS DOUBLE)
                       * CAST(e.embedding[b.i + 1] AS DOUBLE)
                       AS DECIMAL(38,14))) AS DOUBLE) AS s
  FROM embeddings e, dims a, dims b
  GROUP BY a.i, b.i
),
cov AS MATERIALIZED (
  SELECT s2.i, s2.j,
         s2.s - (nrow.n * mi.mu) * mj.mu AS c
  FROM s2, nrow
  JOIN mu mi ON mi.i = s2.i
  JOIN mu mj ON mj.i = s2.j
),
cl AS MATERIALIZED (SELECT LIST(c ORDER BY i * 64 + j) AS cl FROM cov),
it AS (
  SELECT 0 AS k, list_transform(range(64), x -> CAST(1.0 AS DOUBLE)) AS v
  UNION ALL
  SELECT it.k + 1, {step_v}
  FROM it, cl WHERE it.k < {_PCA_ITERS}
),
vraw AS (SELECT v FROM it WHERE k = {_PCA_ITERS}),
vfix AS (
  SELECT CASE
    WHEN v[list_position(list_transform(v, x -> abs(x)),
                         list_max(list_transform(v, x -> abs(x))))] < 0
    THEN list_transform(v, x -> -x) ELSE v END AS vf
  FROM vraw
)
SELECT e.vec_id, e.label,
       FLOOR({sql_decimal_dot(centered, 'vfix.vf')} * 100000000 + 0.5)
         / 100000000 AS pc1
FROM embeddings e, mus, vfix
"""


@register(
    "pca_projection",
    survey=["pca", "power-iteration", "embedding", "ml-prep"],
    bench=True,
)
def pca_projection(
    spark: SparkSession,
    sf_dir: str,
    cov_sample_fraction: float | None = None,
) -> DataFrame:
    """Top-principal-component projection of the embedding table — the
    whitening/decorrelation step embedding pipelines run before
    indexing or clustering. Three phases: (1) exact first/second
    moments (per-dim decimal mean; 64x64 second-moment matrix as
    decimal-exact sums of per-row outer products, map-side combinable);
    (2) 8 rounds of power iteration over the 64x64 covariance — run
    DRIVER-SIDE on the collected matrix (the sanctioned model channel,
    like K-means' KxD centroids: 4096 doubles, constant in table size)
    with every matvec product floor-quantized to integer micro-units
    before the sum so each step is associative and bit-identical to the
    oracle's recursive-CTE replay; (3) the sign-fixed component
    broadcasts back as a 64-double literal and the projection is one
    row-local exact decimal dot per embedding.

    Scale shape: the only corpus-sized work is the moment aggregation —
    dim^2 products per row reduced map-side, one exchange keyed on
    (i, j) (4096 groups). Iteration cost is O(dim^2) per round,
    independent of row count; projection is a stateless map. At larger
    dim, sample rows for the covariance (moments are means) or switch
    to randomized SVD — the channel shape is unchanged.

    ``cov_sample_fraction`` is that escape hatch: when set (0 < f <= 1),
    the dim^2 second-moment aggregation runs over a DETERMINISTIC
    hash-bucket sample of rows (xxhash64(vec_id) — reproducible across
    runs and engines, unlike rand()), cutting the per-row dim^2 explode
    cost by 1/f while the power iteration and sign fix are unchanged.
    The component direction is stable under sampling (covariance
    entries are means); the full-corpus exact mean is still used for
    centering so projections stay comparable. Default None = exact
    covariance — the oracle-checked path."""
    import math

    emb = load(spark, sf_dir, "embeddings")
    if cov_sample_fraction is not None:
        if not (0.0 < cov_sample_fraction <= 1.0):
            raise ValueError(
                "cov_sample_fraction must be in (0, 1], got "
                f"{cov_sample_fraction}"
            )
        cov_src = emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(100000))
            < int(cov_sample_fraction * 100000)
        )
    else:
        cov_src = emb
    # The moment pass is COMPUTE-bound (dim^2 decimal products per
    # row), so rebalance the input across the cluster before it: the
    # round-robin exchange moves each raw row exactly once (trivial
    # next to the per-row work it unlocks) and detaches the pass's
    # parallelism from the scan's split count — sf0.1's single-split
    # parquet otherwise serializes the whole dim^2 fold on one task
    # (the r6 sweep's 13 s wall; ~3.7 s rebalanced). Decimal sums are
    # associative-exact, so partitioning cannot change a bit.
    cov_src = cov_src.repartition(spark.sparkContext.defaultParallelism)
    ei = cov_src.select(
        "vec_id", "embedding", F.posexplode("embedding").alias("i", "xi")
    )
    def _mean_by_dim(src: DataFrame) -> list[float]:
        rows = (
            src.select(F.posexplode("embedding").alias("i", "xi"))
            .groupBy("i")
            .agg(
                (
                    F.sum(
                        F.col("xi").cast("double").cast("decimal(28,14)")
                    ).cast("double")
                    / F.count(F.lit(1))
                ).alias("mu")
            )
        )
        rows = model_channel(
            rows, 64, "per-dimension means: grouped by the 64 embedding "
            "dimensions, corpus-size-independent"
        )
        return [r["mu"] for r in sorted(rows, key=lambda r: r["i"])]

    # ONE explode (N x dim rows), the j dimension as 64 aggregate
    # columns instead of a second posexplode: the double-Generate shape
    # materialized N x dim^2 rows before the exchange (the r6 sweep's
    # 13 s wall at sf0.1); this computes the same exact decimal sums —
    # associative, so grouping shape cannot change a bit — over the
    # N x dim stream with map-side combine into dim groups x dim cols.
    # The first moment (mu) and the population count ride the SAME
    # aggregation as two extra columns (r12, guide §1.2: the mean pass
    # and the count() were separate corpus jobs — three scans + three
    # rebalance exchanges for moments one pass computes; the fused agg
    # folds the identical decimal sum / count expressions, so mu and n
    # are bit-for-bit the old values). n/mu/s all describe cov_src (the
    # sample when sampling) or c = s - n*mu_i*mu_j is biased.
    # r13: the 64 moment columns render as SQL text (one F.expr parse
    # each instead of ~8 Column-API operators x 64 columns ≈ 0.6 s of
    # driver gateway latency per invocation — the r12 flit discipline).
    # Same functions/casts/operand order, identical resolved trees;
    # final projections collect-equal to the Column build at sf0.1 and
    # oracle parity holds. Interleaved A/B: 2.04 -> 1.45 s median.
    s_rows = (
        ei.groupBy("i")
        .agg(
            F.expr(
                "CAST(SUM(CAST(CAST(xi AS DOUBLE) AS DECIMAL(28,14))) "
                "AS DOUBLE) / COUNT(1)"
            ).alias("mu"),
            F.expr("COUNT(1)").alias("cnt"),
            *[
                F.expr(
                    f"CAST(SUM(CAST(CAST(xi AS DOUBLE) "
                    f"* CAST(element_at(embedding, {j + 1}) AS DOUBLE) "
                    f"AS DECIMAL(38,14))) AS DOUBLE)"
                ).alias(f"s{j}")
                for j in range(64)
            ]
        )
    )
    s_rows = model_channel(
        s_rows, 64, "covariance moment rows: one per embedding "
        "dimension (64 x 64 scalars total), corpus-size-independent"
    )
    if not s_rows:
        raise ValueError(
            "cov_sample_fraction="
            f"{cov_sample_fraction} selected zero rows; raise the "
            "fraction (the hash-bucket sample is deterministic, so a "
            "rerun cannot help)"
        )
    mu = [
        r["mu"] for r in sorted(s_rows, key=lambda r: r["i"])
    ]
    # every per-dim explode count must agree (fixed 64-dim arrays —
    # make the invariant explicit instead of trusting s_rows[0] to be
    # representative; ADVICE r12: a null/short embedding would silently
    # desync n from the old cov_src.count() semantics)
    cnts = {r["cnt"] for r in s_rows}
    assert len(cnts) == 1, f"ragged embedding dims: per-dim counts {cnts}"
    n = s_rows[0]["cnt"]
    s = {
        (r["i"], j): r[f"s{j}"] for r in s_rows for j in range(64)
    }
    c = [
        [s[(i, j)] - (n * mu[i]) * mu[j] for j in range(64)]
        for i in range(64)
    ]
    v = [1.0] * 64
    for _ in range(_PCA_ITERS):
        w = [
            sum(
                int(math.floor(c[i][j] * v[j] * 1000000 + 0.5))
                for j in range(64)
            )
            for i in range(64)
        ]
        m = max(abs(x) for x in w)
        v = [
            math.floor(x / m * 1000000000 + 0.5) / 1000000000 for x in w
        ]
    absv = [abs(x) for x in v]
    if v[absv.index(max(absv))] < 0:
        v = [-x for x in v]

    # centering always uses the FULL-corpus exact mean so sampled and
    # exact runs project against the same origin
    if cov_sample_fraction is not None:
        mu = _mean_by_dim(emb)
    mu_lit = flit(list(mu))
    v_lit = flit(list(v))
    centered = F.zip_with("embedding", mu_lit, lambda a, b: a - b)
    return emb.select(
        "vec_id",
        "label",
        (
            F.floor(
                decimal_dot(centered, v_lit) * 100000000 + F.lit(0.5)
            )
            / 100000000
        ).alias("pc1"),
    )


from flights_etl_pipeline_spark.plans import registry as _registry  # noqa: E402

_registry.REGISTRY["pca_projection"] = _registry.QuerySpec(
    fn=_registry.REGISTRY["pca_projection"].fn,
    oracle=_pca_oracle(),
    survey=_registry.REGISTRY["pca_projection"].survey,
    bench=_registry.REGISTRY["pca_projection"].bench,
)


# ---------------------------------------------------------------------------
# IVF-PQ: probe-pruned candidates scored by PQ asymmetric distance (ADC)
# ---------------------------------------------------------------------------

_IVFPQ_RERANK = 50  # ADC shortlist size fed to the exact rerank

IVFPQ_SQL = f"""
WITH cents AS (
  SELECT vec_id AS ivf_cid, embedding AS cvec
  FROM embeddings WHERE vec_id < {K_CENTROIDS}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label, e.embedding, c.ivf_cid,
         {sql_cosine('e.embedding', 'c.cvec')} AS cs
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, label, embedding, ivf_cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, ivf_cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT ivf_cid FROM cents CROSS JOIN q
  ORDER BY {sql_cosine('cvec', 'qv')} DESC, ivf_cid
  LIMIT {N_PROBE}
),
cand AS (
  SELECT a.vec_id, a.label, a.embedding
  FROM assigned a JOIN probes p ON a.ivf_cid = p.ivf_cid
),
sub AS (
  SELECT vec_id, mm.m AS m,
         embedding[(mm.m * {PQ_SUB} + 1):(mm.m * {PQ_SUB} + {PQ_SUB})] AS sv
  FROM cand, {_PQ_M_SQL} mm
),
cb AS (
  SELECT vec_id AS cid, mm.m AS m,
         embedding[(mm.m * {PQ_SUB} + 1):(mm.m * {PQ_SUB} + {PQ_SUB})] AS cv
  FROM embeddings, {_PQ_M_SQL} mm
  WHERE vec_id < {PQ_K}
),
best AS (
  SELECT vec_id, m, cid FROM (
    SELECT s.vec_id, s.m, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY {_pq_dist_sql('s.sv', 'c.cv')}, c.cid) AS rn
    FROM sub s JOIN cb c ON s.m = c.m
  ) WHERE rn = 1
),
qsub AS (
  SELECT mm.m AS m,
         qv[(mm.m * {PQ_SUB} + 1):(mm.m * {PQ_SUB} + {PQ_SUB})] AS qsv
  FROM q, {_PQ_M_SQL} mm
),
adc AS (
  SELECT c.m, c.cid, {sql_decimal_dot('qs.qsv', 'c.cv')} AS d
  FROM cb c JOIN qsub qs ON c.m = qs.m
),
approx AS (
  SELECT b.vec_id,
         FLOOR(CAST(SUM(CAST(a.d AS DECIMAL(28,14))) AS DOUBLE)
               * 100000000 + 0.5) / 100000000 AS approx_dot
  FROM best b JOIN adc a ON b.m = a.m AND b.cid = a.cid
  GROUP BY b.vec_id
),
shortlist AS (
  SELECT vec_id, approx_dot FROM approx
  ORDER BY approx_dot DESC, vec_id
  LIMIT {_IVFPQ_RERANK}
)
SELECT c.vec_id, c.label, s.approx_dot,
       FLOOR({sql_cosine('c.embedding', 'q.qv')} * 100000000 + 0.5)
         / 100000000 AS cosine
FROM shortlist s
JOIN cand c ON s.vec_id = c.vec_id
CROSS JOIN q
ORDER BY cosine DESC, c.vec_id
LIMIT 10
"""


@register(
    "ann_ivfpq_topk",
    oracle=IVFPQ_SQL,
    survey=["simsearch-ivf", "simsearch-pq", "adc", "ann-composed"],
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search — the two halves composed into the canonical
    web-scale ANN read path (what a FAISS IVFx,PQy index executes):
    the coarse quantizer routes the query to {np} of {kc} inverted
    lists (probe pruning), candidates in those lists are scored by PQ
    ASYMMETRIC DISTANCE — the query builds one (m, codeword) lookup
    table of exact subvector dot products ({m} x {pk} entries,
    broadcast), and each candidate's score is the sum of {m} table
    lookups selected by its PQ code. No candidate's full vector is
    touched at query time: the scan reads {m} small ints per row
    (the ~{ratio}x compression that lets a 100 TB index sit on
    scan-speed storage).

    Engine-exactness: every dot is an exact decimal fold; the ADC sum
    aggregates DECIMAL(28,14) (associative) before one double cast;
    argmin/argmax tie-breaks are (value, id) — identical in both
    engines. Raw-vector PQ (not residual PQ) keeps the oracle
    mirrorable; swapping in residual encoding changes recall, not the
    plan shape.

    Scale shape (r7): coarse centroids, PQ codebook, ADC table, and
    probe list are all frozen-model literals (driver-side constants,
    the _probe_select/_pq_codebook channel), so probe + encode + ADC
    scoring fuse into ONE row-local scan-stage pass: assignment argmax
    -> probe filter -> per-subvector two-phase argmin -> ADC lookup
    sum -> TakeOrdered shortlist. The candidate scan is
    partition-pruned by ivf_cid at scale (corpus written
    partitioned/bucketed by cell, cf. ann_ivf_topk); the ONLY exchange
    in the whole query is the {rr}-row shortlist broadcast for the
    keyed rerank fetch."""
    emb = load(spark, sf_dir, "embeddings")
    cents_lit = _centroids(spark, sf_dir)
    cbook = _pq_codebook(spark, sf_dir)
    probe_cids, qvec, qnorm = _probe_select(spark, sf_dir, cents_lit)
    # driver-side ADC table (frozen-model work, the _probe_select
    # rationale): adc[m][cid] = exact dot(query subvector m, codeword),
    # computed with py_decimal_dot — the bit-exact twin of the oracle's
    # fold — so the in-plan lookups carry the very doubles the oracle's
    # `adc` CTE derives. The element_at lookup below indexes these
    # literals BY POSITION, which is only correct while the codebook's
    # cids are dense 0..PQ_K-1 (true for the seeded codebook: vec_id <
    # PQ_K); a trained/non-dense replacement must fail loudly here, not
    # silently fetch the wrong dot (ADVICE r7).
    for m in range(PQ_M):
        cids = [c for c, _cv, _cn in cbook[m]]
        if cids != list(range(PQ_K)):
            raise ValueError(
                f"ADC positional lookup needs dense codebook cids "
                f"0..{PQ_K - 1} for subvector {m}, got {cids}"
            )
    adc = [
        [
            py_decimal_dot(qvec[m * PQ_SUB:(m + 1) * PQ_SUB], cv)
            for _cid, cv, _cn in cbook[m]
        ]
        for m in range(PQ_M)
    ]
    bests = [_pq_best_rowlocal(cbook[m], m) for m in range(PQ_M)]
    adc_sum = None
    for m in range(PQ_M):
        term = F.element_at(
            F.lit(adc[m]), bests[m]["cid"].cast("int") + 1
        ).cast("decimal(28,14)")
        adc_sum = term if adc_sum is None else adc_sum + term
    approx_dot = (
        F.floor(adc_sum.cast("double") * 100000000 + F.lit(0.5)) / 100000000
    )
    # ONE scan-stage pass end-to-end: row-local coarse assignment ->
    # probe filter -> row-local PQ encode of the surviving candidates ->
    # row-local ADC sum -> TakeOrdered shortlist. Only the probed
    # nprobe/K of the corpus pays the encode (the filter sits below the
    # projection), and nothing exchanges before the shortlist heap.
    shortlist = (
        emb.select(
            "vec_id", "embedding", _nearest_cid(cents_lit).alias("ivf_cid")
        )
        .filter(F.col("ivf_cid").isin(probe_cids))
        .select("vec_id", approx_dot.alias("approx_dot"))
        .orderBy(F.col("approx_dot").desc(), "vec_id")
        .limit(_IVFPQ_RERANK)
    )
    qv = F.lit(qvec)
    exact = cosine_from_parts(
        decimal_dot("embedding", qv),
        decimal_dot("embedding", "embedding"),
        F.lit(qnorm),
    )
    # rerank joins the RAW table, not the candidate set: the shortlist
    # is already a subset of the probed candidates, so re-deriving
    # probe membership would only re-run the assignment for a second
    # full corpus pass (the _IVFPQ_RERANK-row fetch is a keyed
    # broadcast join)
    rerank_src = emb.select("vec_id", "label", "embedding")
    return (
        shortlist.join(rerank_src, "vec_id")
        .select(
            "vec_id", "label", "approx_dot", dround(exact, 8).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


ann_ivfpq_topk.__doc__ = ann_ivfpq_topk.__doc__.format(
    np=N_PROBE,
    kc=K_CENTROIDS,
    m=PQ_M,
    pk=PQ_K,
    rr=_IVFPQ_RERANK,
    ratio=DIM * 4 // PQ_M,
)


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 lexical leg + exact-cosine semantic leg, fused
# with Reciprocal Rank Fusion (RRF)
# ---------------------------------------------------------------------------

_RRF_K = 60  # standard RRF damping constant (Cormack et al.)
_HYBRID_LEG_K = 20  # per-leg candidate depth
_HYBRID_TOPK = 10  # fused result size

def _hybrid_rrf_sql() -> str:
    from flights_etl_pipeline_spark.plans.queries_text import BM25_SQL

    return f"""
WITH lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM ( {BM25_SQL} )
),
sem0 AS (
  SELECT vec_id AS doc_id,
         FLOOR({sql_cosine('e.embedding', 'q.qv')} * 100000000 + 0.5)
           / 100000000 AS cosine
  FROM embeddings e
  CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
  ORDER BY cosine DESC, doc_id
  LIMIT {_HYBRID_LEG_K}
),
sem AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank
  FROM sem0
),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.lex_rank, s.sem_rank,
         COALESCE(1000000 // ({_RRF_K} + l.lex_rank), 0)
           + COALESCE(1000000 // ({_RRF_K} + s.sem_rank), 0) AS rrf_micro
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, CAST(rrf_micro AS BIGINT) AS rrf_micro
FROM fused
ORDER BY rrf_micro DESC, doc_id
LIMIT {_HYBRID_TOPK}
"""


@register(
    "hybrid_retrieval_rrf",
    oracle=None,  # replaced immediately below once queries_text is importable
    survey=["rag", "hybrid-retrieval", "rrf", "bm25", "simsearch", "composition"],
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval with Reciprocal Rank Fusion:
    the BM25 top-20 (registered query ``bm25_scores``, composed as-is)
    and the exact-cosine top-20 for query vector 0 are each ranked,
    then fused with the standard RRF formula score = sum over legs of
    1/(K + rank), K=60 — the rank-only fusion every hybrid search
    deployment (lexical index + vector index) runs because it needs no
    score calibration between incomparable leg scales.

    Engine-exactness: RRF contributions are integer micro-units via
    integer division 1000000 DIV (60+rank) — no float division, so the
    fused score is exact on both engines at any scale.

    Scale shape: each leg ends in a TakeOrdered top-k cut (the lexical
    leg's aggregates are map-side combinable, the semantic leg is one
    broadcast-query scan), so the fusion full-outer join sees 2×k rows
    total — driver-trivial regardless of corpus size. The rank windows
    run over each leg's own k-row heap output (bounded by construction,
    sanctioned in tests/test_plans.py like orders_priority_sample); the
    corpus-sized passes are window-free.
    """
    from flights_etl_pipeline_spark.plans.queries_text import bm25_scores

    lex = (
        bm25_scores(spark, sf_dir)
        .withColumn(
            "lex_rank",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
            .cast("long"),
        )
        .select("doc_id", "lex_rank")
    )
    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
        .select("qv", decimal_dot("qv", "qv").alias("qnorm"))
    )
    cos = cosine_from_parts(
        decimal_dot("embedding", "qv"),
        decimal_dot("embedding", "embedding"),
        "qnorm",
    )
    sem = (
        emb.crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), dround(cos, 8).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(_HYBRID_LEG_K)
        .withColumn(
            "sem_rank",
            F.row_number()
            .over(Window.orderBy(F.col("cosine").desc(), F.col("doc_id")))
            .cast("long"),
        )
        .select("doc_id", "sem_rank")
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (
                F.coalesce(
                    F.expr(f"1000000 DIV ({_RRF_K} + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 DIV ({_RRF_K} + sem_rank)"), F.lit(0)
                )
            )
            .cast("long")
            .alias("rrf_micro"),
        )
    )
    return fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(_HYBRID_TOPK)


def _attach_hybrid_oracle() -> None:
    """BM25_SQL lives in queries_text; inject the composed oracle after
    both modules are imported (registry entries are frozen dataclasses,
    so re-register)."""
    from dataclasses import replace

    from flights_etl_pipeline_spark.plans.registry import REGISTRY

    spec = REGISTRY["hybrid_retrieval_rrf"]
    if spec.oracle is None:
        REGISTRY["hybrid_retrieval_rrf"] = replace(spec, oracle=_hybrid_rrf_sql())


_attach_hybrid_oracle()


# ---------------------------------------------------------------------------
# Batched exact top-k serving: two-pass threshold refinement (round 9)
# ---------------------------------------------------------------------------

_BATCH_Q = 8  # serve batch: query vectors vec_id 0..7 (frozen, like probes)
_BATCH_K = 5
_BATCH_BUCKETS = 10000  # cosine histogram granularity (1e-4 buckets)

ANN_BATCH_SERVE_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id < {_BATCH_Q}
),
scored AS (
  SELECT q.qid, e.vec_id,
         FLOOR({sql_cosine('e.embedding', 'q.qv')} * 100000000 + 0.5)
           / 100000000 AS cosine
  FROM embeddings e CROSS JOIN q
)
SELECT qid, vec_id, cosine
FROM scored
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY qid ORDER BY cosine DESC, vec_id
) <= {_BATCH_K}
"""


@register(
    "ann_batch_serve",
    oracle=ANN_BATCH_SERVE_SQL,
    survey=["simsearch-batch-serve", "two-pass-threshold", "scale-escalation"],
    bench=True,
)
def ann_batch_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _batch_serve_topk(spark, sf_dir, _BATCH_K)


ann_batch_serve.__doc__ = None  # set below from the helper's docstring


def _batch_serve_topk(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """EXACT cosine top-{k} for a BATCH of {q} queries in two corpus
    passes, with no corpus-wide sort, no per-query re-scan, and no
    corpus-wide exact-decimal fold — the serving shape for "answer this
    request batch against the whole index":

    Pass 1 (histogram): one scan scores every row against all {q}
    query vectors with the CHEAP double fold (one shared self-dot per
    row, then {q} pair-dots riding a single array literal), buckets
    each cosine at 1e-4, and aggregates (qid, bucket) counts —
    map-side combinable, and the driver channel is DOMAIN-bounded
    (≤ {q} x 20,001 rows at any corpus size, the
    exact_percentiles_two_pass discipline). The driver walks each
    qid's histogram from the top to the bucket where the running
    count reaches k.

    Pass 2 (refine): a second scan keeps only rows whose double score
    clears the chosen bucket's floor MINUS ONE FULL BUCKET — the
    double fold sits within ~1e-13 of the exact cosine (see
    functions.vectors.double_dot's two-phase contract), 9 orders of
    magnitude inside the 1e-4 slack, so the survivor set provably
    contains the exact top-k. Only the survivors (~k + same-bucket
    collisions per query, corpus-size-independent in non-degenerate
    score distributions) pay the exact decimal cosine, and the final
    per-qid rank window sorts survivor-sized partitions, never the
    corpus.

    The brute-force single-query baseline (`ann_bruteforce_topk`)
    TakeOrders the whole scored corpus per query; at Q queries that is
    Q scans or a Q x corpus sort. This shape bills one double-fold
    scan + one filtered scan for the entire batch, which is why
    serving tiers batch requests. Escalates like the IVF family:
    at 100 TB swap pass 1's full scan for the probed cell subset —
    the threshold machinery is unchanged.

    Oracle: cross join + QUALIFY row_number per qid over the exact
    rounded cosine — semantically the naive formulation, which the
    two-pass plan must reproduce bit-for-bit.
    """
    emb = load(spark, sf_dir, "embeddings")
    qrows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in model_channel(
            emb.filter(F.col("vec_id") < _BATCH_Q).select(
                "vec_id", "embedding"
            ),
            _BATCH_Q,
            "serve batch query vectors: vec_id < Q filter",
        )
    )
    qvecs = [v for _, v in qrows]
    qids = [int(i) for i, _ in qrows]
    # exact self-dots via the bit-exact oracle twin: the final cosine's
    # qnorm must equal what sql_cosine computes in DuckDB
    qnorms = [py_decimal_dot(v, v) for v in qvecs]
    qv_lit = flit(qvecs)  # ONE JVM-parsed literal (never per-element trees)
    qn_lit = flit(qnorms)
    qid_lit = flit(qids)

    dbl = emb.withColumn("enorm_d", double_dot("embedding", "embedding"))
    scores_d = F.transform(
        F.sequence(F.lit(0), F.lit(_BATCH_Q - 1)),
        lambda i: double_dot("embedding", F.element_at(qv_lit, i + 1))
        / F.sqrt(F.col("enorm_d") * F.element_at(qn_lit, i + 1)),
    )
    hist = (
        dbl.select(F.posexplode(scores_d).alias("qi", "sc"))
        .groupBy(
            "qi", F.floor(F.col("sc") * _BATCH_BUCKETS).alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # cosine in [-1, 1] -> bucket ids in [-B, B]: (2B + 1) per query
    hist = model_channel(
        hist,
        _BATCH_Q * (2 * _BATCH_BUCKETS + 1),
        "per-query cosine histogram: domain-bounded bucket counts, "
        "never corpus rows (the largest declared channel in the repo)",
    )
    by_q: dict[int, list[tuple[int, int]]] = {}
    for r in hist:
        by_q.setdefault(r["qi"], []).append((r["b"], r["n"]))
    thresholds = []
    for qi in range(_BATCH_Q):
        cum = 0
        floor_b = None
        for b, n in sorted(by_q.get(qi, []), reverse=True):
            cum += n
            floor_b = b
            if cum >= k:
                break
        if floor_b is None:
            raise ValueError(f"query {qi} scored no rows")
        # one full bucket of slack: covers both the double-fold error and
        # boundary wobble in the bucket assignment itself
        thresholds.append((floor_b - 1) / _BATCH_BUCKETS)
    thr_lit = flit(thresholds)

    surv = (
        dbl.select(
            "vec_id",
            "embedding",
            "enorm_d",
            F.posexplode(scores_d).alias("qi", "sc"),
        )
        .filter(F.col("sc") >= F.element_at(thr_lit, F.col("qi") + 1))
    )
    # exact rescore of survivors only: decimal pair dot + decimal
    # self-dot, IEEE sqrt/divide, 1e-8 result rounding — identical op
    # sequence to the oracle's sql_cosine
    exact_cos = cosine_from_parts(
        decimal_dot("embedding", F.element_at(qv_lit, F.col("qi") + 1)),
        decimal_dot("embedding", "embedding"),
        F.element_at(qn_lit, F.col("qi") + 1),
    )
    ranked = (
        surv.select(
            F.element_at(qid_lit, F.col("qi") + 1).cast("long").alias("qid"),
            "vec_id",
            (F.floor(exact_cos * 100000000 + 0.5) / 100000000).alias(
                "cosine"
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                # survivor-sized partitions (~k + same-bucket collisions
                # per qid), never the corpus — see docstring
                Window.partitionBy("qid").orderBy(
                    F.col("cosine").desc(), "vec_id"
                )
            ),
        )
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", "cosine")
    )
    return ranked


_BATCH_SERVE_DOC = _batch_serve_topk.__doc__
_batch_serve_topk.__doc__ = _BATCH_SERVE_DOC.format(k="k", q=_BATCH_Q)
ann_batch_serve.__doc__ = _BATCH_SERVE_DOC.format(k=_BATCH_K, q=_BATCH_Q)


# ---------------------------------------------------------------------------
# Two-stage rerank: vector retrieval -> lexical cross-scoring (round 11)
# ---------------------------------------------------------------------------

_RERANK_POOL = 20  # stage-1 candidates per query (exact cosine top-pool)
_RERANK_K = 5  # final picks per query after the cross-score
_RERANK_ALPHA = 0.7  # vector relevance weight
# Computed ONCE in Python double arithmetic and interpolated at full
# repr precision with an explicit DOUBLE cast on both engines — the
# _MMR_MU discipline (a 0.3 SQL literal lands one ulp away and a
# near-tie rank flip diverges the engines).
_RERANK_BETA = 1 - _RERANK_ALPHA

# Explicit whitespace class instead of \s (ADVICE r11): Java's \s
# includes vertical tab U+000B while RE2's (DuckDB) does not, so a
# document containing \x0B would tokenize differently across engines
# and could flip a near-tie rerank. The explicit class is identical
# under both regex dialects. (The pre-existing \s+ idiom elsewhere in
# the repo stays: the fixture vocabulary contains no \x0B, and editing
# 40+ driver-green queries would void their evidence for a latent
# cosmetic divergence; new queries should use this class.)
_WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"
_RERANK_NORM_SQL = (
    f"TRIM(LOWER(REGEXP_REPLACE(text, '{_WS_CLASS}+', ' ', 'g')))"
)

ANN_TWO_STAGE_RERANK_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id < {_BATCH_Q}
),
scored AS (
  SELECT q.qid, e.vec_id,
         FLOOR({sql_cosine('e.embedding', 'q.qv')} * 100000000 + 0.5)
           / 100000000 AS cosine
  FROM embeddings e CROSS JOIN q
),
pool AS (
  SELECT qid, vec_id, cosine FROM scored
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY cosine DESC, vec_id
  ) <= {_RERANK_POOL}
),
toks AS (
  SELECT doc_id,
         LIST_DISTINCT(string_split({_RERANK_NORM_SQL}, ' ')) AS t
  FROM documents
),
feat AS (
  SELECT p.qid, p.vec_id, p.cosine,
         FLOOR(CAST(LEN(LIST_INTERSECT(ct.t, qt.t)) AS DOUBLE)
               / LEN(LIST_DISTINCT(LIST_CONCAT(ct.t, qt.t)))
               * 100000000 + 0.5) / 100000000 AS lex_jaccard
  FROM pool p
  JOIN toks ct ON ct.doc_id = p.vec_id
  JOIN toks qt ON qt.doc_id = p.qid
  WHERE p.vec_id <> p.qid
)
SELECT qid, vec_id, cosine, lex_jaccard,
       FLOOR((CAST({_RERANK_ALPHA!r} AS DOUBLE) * cosine
              + CAST({_RERANK_BETA!r} AS DOUBLE) * lex_jaccard)
             * 100000000 + 0.5) / 100000000 AS rerank_score
FROM feat
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY qid ORDER BY rerank_score DESC, vec_id
) <= {_RERANK_K}
"""


@register(
    "ann_two_stage_rerank",
    oracle=ANN_TWO_STAGE_RERANK_SQL,
    survey=[
        "two-stage-rerank", "cross-scoring", "serving-composition",
        "hybrid-retrieval",
    ],
    bench=True,  # r12: promoted into the headline + _SF1_SPOT sets
)
def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval-then-rerank, the cross-encoder serving
    pattern: stage 1 retrieves each query's exact cosine top-{pool}
    candidate pool with the audited two-pass batch-serve machinery
    (`_batch_serve_topk` -- one double-fold histogram scan + one
    threshold-refined exact rescore, domain-bounded driver channels);
    stage 2 pays the EXPENSIVE cross-feature -- token-set Jaccard
    between the query document's text and each candidate's text, the
    stand-in for a cross-encoder forward pass -- only on the Q x
    {pool} pool, and blends it with the vector score
    ({alpha} * cosine + {beta} * jaccard) for the final top-{k}.
    Self-matches are excluded before reranking.

    Engine-exactness: stage 1 is bit-identical to the QUALIFY oracle
    (proven by ann_batch_serve); the Jaccard is integer set sizes and
    ONE IEEE divide, quantized at 1e-8; the blend multiplies
    1e-8-quantized doubles by repr-interpolated DOUBLE constants
    (shared-constant _MMR_MU discipline) and re-quantizes before the
    rank, so every comparison the window makes is on identical bits.

    Scale shape: stage 1 escalates like the serve path (swap the full
    scan for IVF-probed cells at 100 TB; thresholds unchanged); stage
    2's joins put the pool (Q x {pool} rows, corpus-size-INDEPENDENT)
    on the broadcast side of one documents scan, so the lexical
    cross-scoring never touches more than pool-many text pairs -- the
    entire reason serving tiers are two-stage. The final window
    partitions by qid over pool-sized groups."""
    pool = _batch_serve_topk(spark, sf_dir, _RERANK_POOL).filter(
        F.col("vec_id") != F.col("qid")
    )
    # _WS_CLASS, not \s: Java \s includes \x0B, RE2's does not
    norm = F.trim(F.lower(F.regexp_replace("text", _WS_CLASS + "+", " ")))
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split(norm, " ")).alias("t")
    )
    qtoks = toks.filter(F.col("doc_id") < _BATCH_Q).select(
        F.col("doc_id").alias("qdoc"), F.col("t").alias("qt")
    )
    cand = toks.join(
        F.broadcast(pool), toks["doc_id"] == pool["vec_id"]
    ).join(F.broadcast(qtoks), F.col("qid") == F.col("qdoc"))
    inter = F.size(F.array_intersect("t", "qt"))
    union = F.size(F.array_union("t", "qt"))
    feat = cand.select(
        "qid",
        "vec_id",
        "cosine",
        dround(inter.cast("double") / union, 8).alias("lex_jaccard"),
    )
    score = dround(
        F.lit(_RERANK_ALPHA) * F.col("cosine")
        + F.lit(_RERANK_BETA) * F.col("lex_jaccard"),
        8,
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("rerank_score").desc(), "vec_id"
    )
    return (
        feat.withColumn("rerank_score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RERANK_K)
        .select("qid", "vec_id", "cosine", "lex_jaccard", "rerank_score")
    )


ann_two_stage_rerank.__doc__ = ann_two_stage_rerank.__doc__.format(
    pool=_RERANK_POOL, k=_RERANK_K, alpha=_RERANK_ALPHA, beta=_RERANK_BETA
)


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (round 9)
# ---------------------------------------------------------------------------

_MMR_M = 30  # candidate pool (exact top-M by cosine to the query)
_MMR_K = 10  # diversified picks
_MMR_LAMBDA = 0.7  # relevance weight; _MMR_MU penalizes redundancy
# The redundancy weight is computed ONCE, in Python double arithmetic
# (1 - 0.7 = 0.30000000000000004), and interpolated into the oracle SQL
# at full repr precision with an explicit DOUBLE cast.  Re-deriving it
# inside SQL (e.g. a 0.3 decimal literal) lands one ulp away
# (0.29999999999999998...) and a near-tie argmax flip cascades through
# every later greedy pick (round-9 ADVICE, medium).
_MMR_MU = 1 - _MMR_LAMBDA
_MMR_Q8 = "FLOOR({expr} * 100000000 + 0.5) / 100000000"


def _mmr_candidates(emb: DataFrame) -> DataFrame:
    """LAZY candidate-pool plan for the MMR rerank: score every corpus
    vector against the broadcast query (exact cosine via the decimal
    fold) and keep the top-M as a TakeOrdered — the corpus-sized half
    of the serve path. Shared by ann_mmr_rerank (which collects it
    through model_channel) and the EXPLAINS plan audit (the query's own
    returned DF is driver-assembled selection output, so its explain
    shows only Scan ExistingRDD; this is the real distributed tree)."""
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
        .select("qv", decimal_dot("qv", "qv").alias("qnorm"))
    )
    cos = cosine_from_parts(
        decimal_dot("embedding", "qv"),
        decimal_dot("embedding", "embedding"),
        "qnorm",
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", "embedding", dround(cos, 8).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_M)
    )


def _mmr_sql() -> str:
    """Greedy MMR as {k} unrolled MATERIALIZED stages (kcore trick):
    each stage picks the argmax of 0.7*rel - 0.3*max-sim-to-selected
    from the remaining candidates. rel and pair sims are QUANTIZED at
    1e-8 before entering the MMR arithmetic, so both engines compare
    identical doubles (single multiply/subtract IEEE ops on identical
    inputs -> identical argmax, ties broken by vec_id)."""
    q8 = _MMR_Q8
    rel = q8.format(expr=sql_cosine("e.embedding", "q.qv"))
    sim = q8.format(expr=sql_cosine("c.embedding", "s.embedding"))
    parts = [
        f"""q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT vec_id, embedding, {rel} AS rel
  FROM embeddings e CROSS JOIN q
  ORDER BY rel DESC, vec_id LIMIT {_MMR_M}
),
sel1 AS MATERIALIZED (
  SELECT vec_id, embedding, rel, 1 AS rank, {_MMR_LAMBDA} * rel AS mmr
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1
),
acc1 AS MATERIALIZED (SELECT * FROM sel1)"""
    ]
    for t in range(2, _MMR_K + 1):
        parts.append(
            f"""sel{t} AS MATERIALIZED (
  SELECT vec_id, embedding, rel, {t} AS rank,
         {_MMR_LAMBDA} * rel - CAST({_MMR_MU!r} AS DOUBLE) * (
           SELECT MAX({sim}) FROM acc{t - 1} s) AS mmr
  FROM cand c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM acc{t - 1})
  ORDER BY mmr DESC, vec_id LIMIT 1
),
acc{t} AS MATERIALIZED (
  SELECT * FROM acc{t - 1} UNION ALL SELECT * FROM sel{t})"""
        )
    out_mmr = q8.format(expr="mmr")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(rank AS INT) AS rank, vec_id, rel AS relevance,
       {out_mmr} AS mmr_score
FROM acc{_MMR_K}
"""
    )


@register(
    "ann_mmr_rerank",
    oracle=_mmr_sql(),
    survey=["mmr", "diversified-retrieval", "rerank", "simsearch"],
)
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: the exact cosine top-{m}
    for query vec_id=0 is greedily re-ranked so each of the {k} picks
    maximizes 0.7*relevance - 0.3*max-similarity-to-already-picked --
    the standard redundancy-penalized serving rerank (a near-duplicate
    of an already-returned hit adds no user value, however relevant).

    Split exactly like a production serve path: the CORPUS-sized work
    (score every vector, keep top-{m}) is one distributed
    broadcast-join + TakeOrdered scan; the SELECTION over the {m}
    collected candidates is driver-side frozen-model work (the
    _probe_select precedent: O(M*K*dim) on M rows is serve-request
    arithmetic, not data work), using py_decimal_dot -- the bit-exact
    twin of the oracle's decimal fold. Relevance and pair sims are
    quantized at 1e-8 BEFORE the MMR arithmetic on both sides, so the
    greedy argmax compares identical doubles everywhere (the oracle
    runs the same schedule as {k} unrolled MATERIALIZED stages).

    Scale: candidate generation is the ann_bruteforce_topk plan (at
    100 TB swap in the IVF probe scan -- selection is unchanged);
    selection cost is independent of corpus size."""
    import math

    emb = load(spark, sf_dir, "embeddings")
    cand_rows = model_channel(
        _mmr_candidates(emb),
        _MMR_M,
        "MMR candidate pool: TakeOrdered top-M by relevance",
    )

    def _q8(x: float) -> float:
        return math.floor(x * 1e8 + 0.5) / 1e8

    # bit-exact rel/sim recompute (oracle-twin decimal fold), then the
    # same quantize the oracle applies before its MMR arithmetic
    vecs = {r["vec_id"]: list(r["embedding"]) for r in cand_rows}
    norms = {v: py_decimal_dot(vec, vec) for v, vec in vecs.items()}
    qrow = next(r for r in cand_rows if r["vec_id"] == 0) if 0 in vecs else None
    # the query vector is vec_id=0 (always its own top hit); fall back
    # to an explicit 1-row collect if the fixture ever drops it
    if qrow is None:
        qvec = list(
            model_channel(
                emb.filter(F.col("vec_id") == 0),
                1,
                "single query vector by primary key",
            )[0]["embedding"]
        )
    else:
        qvec = vecs[0]
    qn = py_decimal_dot(qvec, qvec)
    rel = {
        v: _q8(py_decimal_dot(vec, qvec) / math.sqrt(norms[v] * qn))
        for v, vec in vecs.items()
    }

    def sim(a: int, b: int) -> float:
        return _q8(
            py_decimal_dot(vecs[a], vecs[b])
            / math.sqrt(norms[a] * norms[b])
        )

    remaining = sorted(vecs)
    picked: list[tuple[int, int, float, float]] = []  # rank, vid, rel, mmr
    first = min(remaining, key=lambda v: (-rel[v], v))
    picked.append((1, first, rel[first], _MMR_LAMBDA * rel[first]))
    remaining.remove(first)
    while len(picked) < _MMR_K and remaining:
        scored = [
            (
                _MMR_LAMBDA * rel[v]
                - _MMR_MU
                * max(sim(v, p[1]) for p in picked),
                v,
            )
            for v in remaining
        ]
        best_mmr, best = min(scored, key=lambda t: (-t[0], t[1]))
        picked.append((len(picked) + 1, best, rel[best], best_mmr))
        remaining.remove(best)
    out = [
        (rank, vid, r, _q8(m)) for rank, vid, r, m in picked
    ]
    return spark.createDataFrame(
        out, "rank INT, vec_id LONG, relevance DOUBLE, mmr_score DOUBLE"
    )


ann_mmr_rerank.__doc__ = ann_mmr_rerank.__doc__.format(m=_MMR_M, k=_MMR_K)


# ---------------------------------------------------------------------------
# Binary sign quantization + Hamming-prefiltered exact rerank (round 10)
# ---------------------------------------------------------------------------

_BH_Q = 4  # query vectors: vec_id < 4
_BH_CAND = 200  # Hamming-threshold candidate budget per query
_BH_K = 10  # final exact top-k per query

def _sign_mask(d_hi: int, d_lo: int) -> F.Column:
    """MSB-first binary sign fold over ``embedding`` dims [d_lo, d_hi]
    (acc*2 + bit): dim d maps to bit (d-1) of the lo word / (d-33) of
    the hi word — the same mapping as the oracle's shift-left list
    sum, without a column-typed shift count. Shared by the Hamming
    tier and the cascade (r12)."""
    return F.aggregate(
        F.sequence(F.lit(d_hi), F.lit(d_lo), F.lit(-1)),
        F.lit(0).cast("long"),
        lambda acc, d: acc * 2
        + F.when(F.element_at("embedding", d) > 0, 1)
        .otherwise(0)
        .cast("long"),
    )


_BH_MASK_LO_SQL = (
    "CAST(LIST_SUM(LIST_TRANSFORM(range(0, 32), "
    "i -> CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i) "
    "ELSE 0::BIGINT END)) AS BIGINT)"
)
_BH_MASK_HI_SQL = (
    "CAST(LIST_SUM(LIST_TRANSFORM(range(32, 64), "
    "i -> CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << (i - 32)) "
    "ELSE 0::BIGINT END)) AS BIGINT)"
)

BINARY_HAMMING_SQL = f"""
WITH m AS (
  SELECT vec_id, embedding,
         {_BH_MASK_LO_SQL} AS w_lo,
         {_BH_MASK_HI_SQL} AS w_hi
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, w_lo AS qlo, w_hi AS qhi
  FROM m WHERE vec_id < {_BH_Q}
),
h AS (
  SELECT q.qid, m.vec_id,
         CAST(bit_count(xor(m.w_lo, q.qlo))
              + bit_count(xor(m.w_hi, q.qhi)) AS BIGINT) AS ham
  FROM m CROSS JOIN q
),
hist AS (SELECT qid, ham, COUNT(*) AS n FROM h GROUP BY qid, ham),
thr AS (
  SELECT qid, MIN(ham) AS hstar
  FROM (SELECT qid, ham,
               SUM(n) OVER (PARTITION BY qid ORDER BY ham) AS cum
        FROM hist)
  WHERE cum >= {_BH_CAND} GROUP BY qid
),
cand AS (
  SELECT h.qid, h.vec_id, h.ham
  FROM h LEFT JOIN thr ON h.qid = thr.qid
  WHERE thr.hstar IS NULL OR h.ham <= thr.hstar
),
rer AS (
  SELECT c.qid, c.vec_id, c.ham,
         FLOOR({sql_cosine('e.embedding', 'q.qv')} * 100000000 + 0.5)
           / 100000000 AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY c.qid
           ORDER BY FLOOR({sql_cosine('e.embedding', 'q.qv')}
                          * 100000000 + 0.5) DESC, c.vec_id) AS rank
  FROM cand c
  JOIN embeddings e ON c.vec_id = e.vec_id
  JOIN q ON c.qid = q.qid
)
SELECT qid, CAST(rank AS INT) AS rank, vec_id, ham, cosine
FROM rer WHERE rank <= {_BH_K}
"""


@register(
    "ann_binary_hamming_topk",
    oracle=BINARY_HAMMING_SQL,
    survey=["binary-quantization", "hamming", "ann", "simsearch"],
    bench=True,
)
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign quantization serving: each 64-dim embedding collapses
    to a 64-BIT sign mask (two packed longs), Hamming distance prunes
    the corpus to ~{cand} candidates per query, and only survivors pay
    the exact-cosine rerank -- the 32x-compression serving tier
    (binary codes + rescoring) that complements PQ (ann_pq_codes) and
    IVF: masks are 8 bytes/vector, and Hamming is two XOR+popcount
    instructions, the cheapest possible first-pass scan.

    The candidate cut is a THRESHOLD, not a per-query top-N heap: the
    Hamming domain is bounded (0..64), so a (qid x 65)-cell histogram
    + running sum finds the smallest h* with >= {cand} vectors at
    distance <= h*, and ALL ties at h* survive -- deterministic on
    both engines with no arbitrary cut inside a tie class (the
    ann_batch_serve two-pass discipline, with an exactly-bounded
    histogram instead of a quantile sketch).

    Scale shape: mask building is row-local (fused into the scan; at
    ingest it would be materialized once); the histogram aggregates
    onto the bounded (Q x 65) domain -- map-combinable, tiny exchange;
    thresholds broadcast back; the exact rerank touches only
    candidates. No corpus-sized sort, window, or shuffle anywhere
    except the bounded-key histogram."""
    emb = load(spark, sf_dir, "embeddings")
    # r13 (the ann_cascade_topk restructure, same rationale): the
    # histogram pass and the candidate pass each recomputed the
    # 2 x 64-element sign-mask folds; the masks now fold ONCE into a
    # persisted skinny decision table (~24 B/row — at 100 TB a
    # MEMORY_AND_DISK cache or a recompute, a config choice). The
    # rerank already attached `embedding` by a survivor join-back, so
    # only the fold dedup is new. Interleaved A/B at sf0.1:
    # 1.56 -> 1.35 s median; results bit-identical (collect-equality +
    # oracle parity).
    mt = emb.select(
        "vec_id",
        _sign_mask(32, 1).alias("w_lo"),
        _sign_mask(64, 33).alias("w_hi"),
    ).persist()
    q = emb.filter(F.col("vec_id") < _BH_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        _sign_mask(32, 1).alias("qlo"),
        _sign_mask(64, 33).alias("qhi"),
    )
    h = mt.crossJoin(F.broadcast(q.select("qid", "qlo", "qhi"))).select(
        "qid",
        "vec_id",
        (
            F.bit_count(F.expr("w_lo ^ qlo"))
            + F.bit_count(F.expr("w_hi ^ qhi"))
        )
        .cast("bigint")
        .alias("ham"),
    )
    hist = h.groupBy("qid", "ham").agg(F.count(F.lit(1)).alias("n"))
    wcum = Window.partitionBy("qid").orderBy("ham").rowsBetween(
        Window.unboundedPreceding, 0
    )
    thr = (
        hist.select("qid", "ham", F.sum("n").over(wcum).alias("cum"))
        .filter(F.col("cum") >= _BH_CAND)
        .groupBy("qid")
        .agg(F.min("ham").alias("hstar"))
    )
    cand = h.join(F.broadcast(thr), "qid", "left").filter(
        F.col("hstar").isNull() | (F.col("ham") <= F.col("hstar"))
    )
    qn = q.select(
        "qid", "qv", decimal_dot("qv", "qv").alias("qnorm")
    )
    cos = cosine_from_parts(
        decimal_dot("embedding", "qv"),
        decimal_dot("embedding", "embedding"),
        "qnorm",
    )
    rer = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(qn), "qid")
        .select("qid", "vec_id", "ham", dround(cos, 8).alias("cosine"))
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    out = (
        rer.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _BH_K)
        .select("qid", "rank", "vec_id", "ham", "cosine")
    )
    # k x Q rows: eager checkpoint releases the mask-table cache
    out = result_checkpoint(out)
    mt.unpersist()
    return out


ann_binary_hamming_topk.__doc__ = ann_binary_hamming_topk.__doc__.format(
    cand=_BH_CAND
)


# ---------------------------------------------------------------------------
# Cascaded three-tier ANN serve: Hamming -> IVF probes -> PQ-ADC -> exact
# (round 12)
# ---------------------------------------------------------------------------

_CSC_Q = 4  # query vectors: vec_id < 4 (each < K_CENTROIDS, so frozen)
_CSC_HAM = 400  # tier-0 Hamming candidate budget per query
_CSC_SHORTLIST = 50  # tier-2 ADC shortlist per query
_CSC_K = 10  # final exact top-k per query

ANN_CASCADE_SQL = f"""
WITH m AS (
  SELECT vec_id, embedding,
         {_BH_MASK_LO_SQL} AS w_lo,
         {_BH_MASK_HI_SQL} AS w_hi
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, w_lo AS qlo, w_hi AS qhi
  FROM m WHERE vec_id < {_CSC_Q}
),
h AS (
  SELECT q.qid, m.vec_id, m.embedding,
         CAST(bit_count(xor(m.w_lo, q.qlo))
              + bit_count(xor(m.w_hi, q.qhi)) AS BIGINT) AS ham
  FROM m CROSS JOIN q
),
hist AS (SELECT qid, ham, COUNT(*) AS n FROM h GROUP BY qid, ham),
thr AS (
  SELECT qid, MIN(ham) AS hstar
  FROM (SELECT qid, ham,
               SUM(n) OVER (PARTITION BY qid ORDER BY ham) AS cum
        FROM hist)
  WHERE cum >= {_CSC_HAM} GROUP BY qid
),
cand0 AS (
  SELECT h.qid, h.vec_id, h.embedding, h.ham
  FROM h LEFT JOIN thr ON h.qid = thr.qid
  WHERE thr.hstar IS NULL OR h.ham <= thr.hstar
),
cents AS (
  SELECT vec_id AS cid, embedding AS cvec
  FROM embeddings WHERE vec_id < {K_CENTROIDS}
),
assigned AS (
  SELECT qid, vec_id, embedding, ham, cid AS ivf_cid FROM (
    SELECT c0.qid, c0.vec_id, c0.embedding, c0.ham, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY c0.qid, c0.vec_id
             ORDER BY {sql_cosine('c0.embedding', 'c.cvec')} DESC, c.cid
           ) AS rn
    FROM cand0 c0 CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY {sql_cosine('c.cvec', 'q.qv')} DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= {N_PROBE}
),
cand AS (
  SELECT a.qid, a.vec_id, a.embedding, a.ham
  FROM assigned a JOIN probes p ON a.qid = p.qid AND a.ivf_cid = p.cid
),
sub AS (
  SELECT qid, vec_id, ham, mm.m AS m,
         embedding[(mm.m * {PQ_SUB} + 1):(mm.m * {PQ_SUB} + {PQ_SUB})] AS sv
  FROM cand, {_PQ_M_SQL} mm
),
cb AS (
  SELECT vec_id AS cid, mm.m AS m,
         embedding[(mm.m * {PQ_SUB} + 1):(mm.m * {PQ_SUB} + {PQ_SUB})] AS cv
  FROM embeddings, {_PQ_M_SQL} mm
  WHERE vec_id < {PQ_K}
),
best AS (
  SELECT qid, vec_id, ham, m, cid FROM (
    SELECT s.qid, s.vec_id, s.ham, s.m, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.qid, s.vec_id, s.m
             ORDER BY {_pq_dist_sql('s.sv', 'c.cv')}, c.cid) AS rn
    FROM sub s JOIN cb c ON s.m = c.m
  ) WHERE rn = 1
),
qsub AS (
  SELECT qid, mm.m AS m,
         qv[(mm.m * {PQ_SUB} + 1):(mm.m * {PQ_SUB} + {PQ_SUB})] AS qsv
  FROM q, {_PQ_M_SQL} mm
),
adc AS (
  SELECT qs.qid, c.m, c.cid, {sql_decimal_dot('qs.qsv', 'c.cv')} AS d
  FROM cb c JOIN qsub qs ON c.m = qs.m
),
approx AS (
  SELECT b.qid, b.vec_id, MIN(b.ham) AS ham,
         FLOOR(CAST(SUM(CAST(a.d AS DECIMAL(28,14))) AS DOUBLE)
               * 100000000 + 0.5) / 100000000 AS approx_dot
  FROM best b
  JOIN adc a ON a.qid = b.qid AND a.m = b.m AND a.cid = b.cid
  GROUP BY b.qid, b.vec_id
),
shortlist AS (
  SELECT qid, vec_id, ham, approx_dot FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY approx_dot DESC, vec_id) AS rn
    FROM approx
  ) WHERE rn <= {_CSC_SHORTLIST}
),
rer AS (
  SELECT s.qid, s.vec_id, s.ham, s.approx_dot,
         FLOOR({sql_cosine('e.embedding', 'q.qv')} * 100000000 + 0.5)
           / 100000000 AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY s.qid
           ORDER BY FLOOR({sql_cosine('e.embedding', 'q.qv')}
                          * 100000000 + 0.5) DESC, s.vec_id) AS rank
  FROM shortlist s
  JOIN embeddings e ON s.vec_id = e.vec_id
  JOIN q ON s.qid = q.qid
)
SELECT qid, CAST(rank AS INT) AS rank, vec_id, ham, approx_dot, cosine
FROM rer WHERE rank <= {_CSC_K}
"""


@register(
    "ann_cascade_topk",
    oracle=ANN_CASCADE_SQL,
    survey=[
        "ann-cascade", "binary-quantization", "simsearch-ivf",
        "simsearch-pq", "serving-composition",
    ],
    bench=True,  # r13: promoted into headline + _SF1_SPOT (VERDICT item 5)
)
def ann_cascade_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascaded three-tier ANN serve — the staged-escalation pattern a
    production vector store runs per request, composing the repo's
    three audited index tiers cheapest-first: tier 0 prunes the corpus
    with 64-bit sign masks and the exactly-bounded Hamming histogram
    cut (ann_binary_hamming_topk's machinery, budget {ham}/query);
    tier 1 keeps only survivors whose frozen IVF cell is among the
    query's {np} probed cells (ann_ivf_topk's row-local assignment);
    tier 2 scores survivors by PQ asymmetric distance — {m} table
    lookups per row against the query's frozen ADC table
    (ann_ivfpq_topk's encode) — and keeps the top-{sl} shortlist; only
    the shortlist pays the exact decimal-cosine rerank for the final
    top-{k}. Each tier's budget bounds the next tier's input, so the
    expensive math touches ~{sl} rows per query no matter the corpus.

    Engine-exactness: every tier reuses an already-audited exact
    construction — the shift-left mask fold, the bounded histogram
    threshold (ties all survive), the (cs DESC, cid) assignment
    argmax, the (dist, cid) PQ argmin, the DECIMAL(28,14) ADC sum with
    one double cast, and (value DESC, vec_id) ranks — so both engines
    walk bit-identical candidate sets through all four stages.

    Scale shape: masks, centroids, PQ codebook, probe lists, and the
    Q x {m} x {pk} ADC table are all frozen-model constants (the
    _centroids/_pq_codebook/_probe_select channels; queries are
    themselves centroids here, so no extra channel); at ingest the
    masks/cells/codes are materialized columns, making tiers 0-2 pure
    row-local scan work behind the ONE bounded (qid x 65) histogram
    exchange; the only other exchanges are the two qid-keyed
    pool-sized ranks (shortlist + final). Nothing corpus-sized ever
    sorts or shuffles.

    Reference parity: the reference has no vector serving at all; this
    completes the serving family begun by ann_batch_serve (r9),
    ann_binary_hamming_topk (r10), and ann_two_stage_rerank (r11)."""
    emb = load(spark, sf_dir, "embeddings")
    # r13 (guide §8, decide with small rows / move heavy rows once):
    # tier 0's two consumers (the histogram pass and the candidate
    # filter) used to EACH recompute the 2 x 64-element sign-mask folds
    # over the corpus and drag the embedding column through the
    # crossJoin. The masks are now computed ONCE into a skinny
    # persisted decision table (vec_id + two longs, ~24 B/row — the
    # lightweight proxy; at 100 TB a MEMORY_AND_DISK cache or a
    # recompute, a config choice, never a shuffle), both tier-0 passes
    # read that cache, and the heavy embedding column is attached by
    # broadcasting the BOUNDED tier-0 survivor set (~budget x queries
    # rows) against one corpus scan — the embedding is scanned, never
    # shuffled, and its fold work starts only above the Hamming cut.
    # Interleaved A/B at sf0.1: 2.94 -> 2.79 s median; results
    # bit-identical (collect-equality + oracle parity).
    mt = emb.select(
        "vec_id",
        _sign_mask(32, 1).alias("w_lo"),
        _sign_mask(64, 33).alias("w_hi"),
    ).persist()
    q = emb.filter(F.col("vec_id") < _CSC_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        _sign_mask(32, 1).alias("qlo"),
        _sign_mask(64, 33).alias("qhi"),
    )
    h = mt.crossJoin(F.broadcast(q.select("qid", "qlo", "qhi"))).select(
        "qid",
        "vec_id",
        (
            F.bit_count(F.expr("w_lo ^ qlo"))
            + F.bit_count(F.expr("w_hi ^ qhi"))
        )
        .cast("bigint")
        .alias("ham"),
    )
    hist = h.groupBy("qid", "ham").agg(F.count(F.lit(1)).alias("n"))
    wcum = Window.partitionBy("qid").orderBy("ham").rowsBetween(
        Window.unboundedPreceding, 0
    )
    thr = (
        hist.select("qid", "ham", F.sum("n").over(wcum).alias("cum"))
        .filter(F.col("cum") >= _CSC_HAM)
        .groupBy("qid")
        .agg(F.min("ham").alias("hstar"))
    )
    cand0 = (
        h.join(F.broadcast(thr), "qid", "left")
        .filter(F.col("hstar").isNull() | (F.col("ham") <= F.col("hstar")))
        .select("qid", "vec_id", "ham")
    )
    cand0 = F.broadcast(cand0).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    # frozen model: coarse centroids, PQ codebook, per-query probe
    # lists and ADC tables (the queries are centroids, so their exact
    # vectors already sit in the _centroids channel)
    cents_lit = _centroids(spark, sf_dir)
    cbook = _pq_codebook(spark, sf_dir)
    for mi in range(PQ_M):
        cids = [c for c, _cv, _cn in cbook[mi]]
        if cids != list(range(PQ_K)):
            raise ValueError(
                f"ADC positional lookup needs dense codebook cids "
                f"0..{PQ_K - 1} for subvector {mi}, got {cids}"
            )
    probes = [
        _probe_select(spark, sf_dir, cents_lit, q_vec_id=i)[0]
        for i in range(_CSC_Q)
    ]
    by_cid = {cid: vec for cid, vec, _n in cents_lit}
    adc = [
        [
            [
                py_decimal_dot(
                    by_cid[qid][mi * PQ_SUB:(mi + 1) * PQ_SUB], cv
                )
                for _cid, cv, _cn in cbook[mi]
            ]
            for mi in range(PQ_M)
        ]
        for qid in range(_CSC_Q)
    ]
    qid1 = F.col("qid").cast("int") + 1
    probed = cand0.withColumn("ivf_cid", _nearest_cid(cents_lit)).filter(
        F.array_contains(
            F.element_at(flit(probes), qid1), F.col("ivf_cid")
        )
    )
    bests = [_pq_best_rowlocal(cbook[mi], mi) for mi in range(PQ_M)]
    adc_sum = None
    for mi in range(PQ_M):
        table_m = flit([adc[qid][mi] for qid in range(_CSC_Q)])
        term = F.element_at(
            F.element_at(table_m, qid1), bests[mi]["cid"].cast("int") + 1
        ).cast("decimal(28,14)")
        adc_sum = term if adc_sum is None else adc_sum + term
    approx_dot = (
        F.floor(adc_sum.cast("double") * 100000000 + F.lit(0.5)) / 100000000
    )
    scored = probed.select(
        "qid", "vec_id", "embedding", "ham", approx_dot.alias("approx_dot")
    )
    ws = Window.partitionBy("qid").orderBy(
        F.col("approx_dot").desc(), "vec_id"
    )
    shortlist = (
        scored.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= _CSC_SHORTLIST)
        .drop("srn")
    )
    qn = q.select("qid", "qv", decimal_dot("qv", "qv").alias("qnorm"))
    exact = cosine_from_parts(
        decimal_dot("embedding", "qv"),
        decimal_dot("embedding", "embedding"),
        "qnorm",
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    out = (
        shortlist.join(F.broadcast(qn), "qid")
        .select(
            "qid", "vec_id", "ham", "approx_dot",
            dround(exact, 8).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _CSC_K)
        .select("qid", "rank", "vec_id", "ham", "approx_dot", "cosine")
    )
    # k x Q rows: eager checkpoint releases the mask-table cache
    # (the pagerank/tfidf discipline)
    out = result_checkpoint(out)
    mt.unpersist()
    return out


ann_cascade_topk.__doc__ = ann_cascade_topk.__doc__.format(
    ham=_CSC_HAM, np=N_PROBE, m=PQ_M, pk=PQ_K, sl=_CSC_SHORTLIST, k=_CSC_K
)


# ---------------------------------------------------------------------------
# NDCG@k of the LSH index vs exact ranking (round 10)
# ---------------------------------------------------------------------------

_NDCG_Q = 10**9  # per-position discounted-gain quantization

ANN_NDCG_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, bucket AS qb
  FROM b WHERE vec_id < {_RECALL_NQ}
),
scored AS (
  SELECT q.qid, b.vec_id, b.bucket, q.qb,
         GREATEST(FLOOR({sql_cosine('b.embedding', 'q.qv')}
                        * 100000000 + 0.5) / 100000000, 0.0) AS gain
  FROM b CROSS JOIN q
),
ideal AS (
  SELECT qid,
         CAST(SUM(CAST(FLOOR(gain / LOG2(r + 1.0) * {_NDCG_Q} + 0.5)
                       AS BIGINT)) AS BIGINT) AS idcg_q
  FROM (SELECT qid, gain,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY gain DESC, vec_id) AS r
        FROM scored)
  WHERE r <= {_RECALL_K} GROUP BY qid
),
retrieved AS (
  SELECT qid,
         CAST(SUM(CAST(FLOOR(gain / LOG2(r + 1.0) * {_NDCG_Q} + 0.5)
                       AS BIGINT)) AS BIGINT) AS dcg_q
  FROM (SELECT qid, gain,
               ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY gain DESC, vec_id) AS r
        FROM scored WHERE bucket = qb)
  WHERE r <= {_RECALL_K} GROUP BY qid
)
SELECT i.qid,
       FLOOR(CAST(COALESCE(r.dcg_q, 0) AS DOUBLE) / 1000 + 0.5) / 1000000
         AS dcg,
       FLOOR(CAST(i.idcg_q AS DOUBLE) / 1000 + 0.5) / 1000000 AS idcg,
       CASE WHEN i.idcg_q = 0 THEN NULL
            ELSE FLOOR(CAST(COALESCE(r.dcg_q, 0) AS DOUBLE) / i.idcg_q
                       * 1000000 + 0.5) / 1000000 END AS ndcg
FROM ideal i LEFT JOIN retrieved r ON i.qid = r.qid
"""


@register(
    "ann_ndcg_eval",
    oracle=ANN_NDCG_SQL,
    survey=["simsearch-eval", "ndcg", "ranking-quality"],
)
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{k} of the hyperplane-LSH index against the exact cosine
    ranking, per query vector -- the GRADED companion to
    ann_recall_eval: recall counts how many of the true top-{k} were
    found, NDCG also charges the index for returning them in the wrong
    ORDER and for padding with low-relevance hits (position-discounted
    by 1/log2(rank+1), gains clipped at 0).

    Engine-exactness: gains are 1e-8-quantized exact cosines; each
    position's discounted gain is one divide by log2(rank+1) quantized
    to integer 1e-9 units BEFORE the k-term sum (quantize-before-sum);
    NDCG is one integer-ratio divide.

    Scale shape: identical to ann_recall_eval -- one broadcast-query
    corpus scan scores both sides; the LSH side prunes to the query's
    bucket before ranking; all windows partition by qid."""
    emb = load(spark, sf_dir, "embeddings")
    b = emb.repartition(spark.sparkContext.defaultParallelism).select(
        "vec_id",
        "embedding",
        _bucket_col("embedding").alias("bucket"),
        decimal_dot("embedding", "embedding").alias("enorm"),
    )
    q = b.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qb"),
        F.col("enorm").alias("qnorm"),
    )
    scored = b.crossJoin(F.broadcast(q)).select(
        "qid",
        "vec_id",
        "bucket",
        "qb",
        F.greatest(
            dround(
                cosine_from_parts(
                    decimal_dot("embedding", "qv"), "enorm", "qnorm"
                ),
                8,
            ),
            F.lit(0.0),
        ).alias("gain"),
    )
    wq = Window.partitionBy("qid").orderBy(F.col("gain").desc(), "vec_id")
    term_q = (
        F.floor(
            F.col("gain") / F.log2(F.col("r") + 1.0) * _NDCG_Q + F.lit(0.5)
        ).cast("bigint")
    )
    ideal = (
        scored.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= _RECALL_K)
        .groupBy("qid")
        .agg(F.sum(term_q).cast("bigint").alias("idcg_q"))
    )
    retrieved = (
        scored.filter(F.col("bucket") == F.col("qb"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= _RECALL_K)
        .groupBy("qid")
        .agg(F.sum(term_q).cast("bigint").alias("dcg_q"))
    )
    dcg = F.coalesce(F.col("dcg_q"), F.lit(0)).cast("double")
    return ideal.join(retrieved, "qid", "left").select(
        "qid",
        (F.floor(dcg / 1000 + F.lit(0.5)) / 1000000).alias("dcg"),
        (
            F.floor(F.col("idcg_q").cast("double") / 1000 + F.lit(0.5))
            / 1000000
        ).alias("idcg"),
        F.when(F.col("idcg_q") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.floor(dcg / F.col("idcg_q") * 1000000 + F.lit(0.5)) / 1000000
        )
        .alias("ndcg"),
    )


ann_ndcg_eval.__doc__ = ann_ndcg_eval.__doc__.format(k=_RECALL_K)


# ---------------------------------------------------------------------------
# Embedding dimension health profile (round 10)
# ---------------------------------------------------------------------------

DIMS_PROFILE_SQL = """
WITH e AS (
  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, 65)) AS r(i)
),
s AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS s_micro,
         SUM(CAST(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT) AS HUGEINT)
             * CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS q_micro,
         MIN(x) AS mn, MAX(x) AS mx,
         CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM e GROUP BY dim
)
SELECT dim, n,
       FLOOR(CAST(s_micro AS DOUBLE) / n + 0.5) / 1000000 AS mean_val,
       FLOOR((CAST(q_micro AS DOUBLE) / n
              - (CAST(s_micro AS DOUBLE) / n)
                * (CAST(s_micro AS DOUBLE) / n))
             / 1000000 + 0.5) / 1000000 AS var_val,
       FLOOR(mn * 1000000 + 0.5) / 1000000 AS min_val,
       FLOOR(mx * 1000000 + 0.5) / 1000000 AS max_val,
       FLOOR(CAST(n_zero AS DOUBLE) / n * 1000000 + 0.5) / 1000000
         AS zero_share
FROM s
"""


@register(
    "embedding_dims_profile",
    oracle=DIMS_PROFILE_SQL,
    survey=["embedding-health", "dimension-profile", "index-prep"],
)
def embedding_dims_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health profile: mean/variance/min/max
    and exact-zero share for each of the 64 dimensions -- the audit an
    ANN index build runs first (a dead or near-constant dimension
    wastes a PQ subspace and skews hyperplane LSH; badly unbalanced
    scales argue for per-dim normalization before training the
    quantizer).

    Engine-exactness: values are quantized to integer 1e-6 micro-units
    at birth, so sums are exact (the square sum widens to
    DECIMAL(38)/HUGEINT -- 1e6-scale micro values square past int64 at
    corpus size); mean/var are the fixed q/n - (s/n)^2 sequence on the
    same exact-int-cast doubles.

    Scale shape: one posexplode -> one map-combinable aggregate onto
    the 64-dim bounded domain; nothing downstream scales with rows."""
    emb = load(spark, sf_dir, "embeddings")
    xm = F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5)).cast(
        "bigint"
    )
    e = emb.select(F.posexplode("embedding").alias("dim", "x"))
    s = e.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xm).cast("bigint").alias("s_micro"),
        F.sum(xm.cast("decimal(38,0)") * xm).alias("q_micro"),
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
    )
    mean_micro = F.col("s_micro").cast("double") / F.col("n")
    var_micro = (
        F.col("q_micro").cast("double") / F.col("n")
        - mean_micro * mean_micro
    )
    return s.select(
        "dim",
        "n",
        (F.floor(mean_micro + F.lit(0.5)) / 1000000).alias("mean_val"),
        (F.floor(var_micro / 1000000 + F.lit(0.5)) / 1000000).alias(
            "var_val"
        ),
        (F.floor(F.col("mn") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "min_val"
        ),
        (F.floor(F.col("mx") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "max_val"
        ),
        dround(F.col("n_zero").cast("double") / F.col("n"), 6).alias(
            "zero_share"
        ),
    )
