"""Deterministic cardinality sketches (KMV / k-minimum-values).

Spark's built-in ``approx_count_distinct`` (HyperLogLog++) and DuckDB's
``approx_count_distinct`` use different sketches, so their estimates can
never hash-match across engines. KMV (Bar-Yossef et al. 2002) is the
classic order-statistics estimator that CAN: with a shared deterministic
hash (the repo's 60-bit md5), "the k-th smallest distinct hash" is a
pure function of the input set, identical in any engine — so the driver's
value-hash oracle verifies the sketch itself, not just a tolerance band.

Estimator: with h_k the k-th smallest of the distinct hash values mapped
into [0, 2^60), D-hat = (k-1) * 2^60 / h_k; when a group has fewer than k
distinct hashes the sketch IS the exact set (estimate = its size).

Scale shape (10^10 rows): the shingle stream comes from
``dedup.shingle_hash60s``, three staged projections (tokens → shingles →
60-bit hashes), so each document is tokenized once rather than once per
shingle, then exploded. The per-group distinct aggregate is ONE
hash-partitioned exchange with map-side partial dedup (exactly the first
stage of an exact count-distinct), after which ``row_number() <= k`` with
a constant k compiles to WindowGroupLimit — every task keeps only its
local k smallest per group before the (tiny) final pass. For corpora
where even the distinct exchange is too hot, pre-filter ``h < 2^60 >> s``
first: a shuffle-free codegen filter that discards all but ~2^-s of rows
while provably preserving the k minima whenever the group has >= k
hashes below the threshold (the sketch only ever looks at small hashes).
The default s=0 keeps the oracle exact at test scale; the dial is the
production knob.

Float determinism: the estimate divides two exactly-representable
doubles (63*2^60 needs 6 mantissa bits; IEEE division is exactly
rounded, unlike libm log/pow) then floors to BIGINT — bit-identical in
both engines with no grid-boundary caveat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import shingle_hash60_expr, shingle_hash60s, shingles_expr
from .hashing import HASH_SPACE

KMV_K = 64


def _est_expr(k: int, n_col: str, kth_col: str) -> str:
    """CASE: NULL when the sketch saw nothing (a prefiltered-out group —
    no estimate exists, the caller still gets the group row), exact when
    the group fits in the sketch, else the KMV estimate
    floor((k-1) * 2^60 / h_k). Dialect-identical text."""
    return (
        f"CAST(CASE WHEN {n_col} = 0 THEN NULL "
        f"WHEN {n_col} < {k} THEN CAST({n_col} AS DOUBLE) "
        f"ELSE floor({float(k - 1)!r} * {float(HASH_SPACE)!r} "
        f"/ CAST({kth_col} AS DOUBLE)) END AS BIGINT)"
    )


def kmv_shingle_cardinality(
    docs: DataFrame,
    k: int = KMV_K,
    group_col: str = "lang",
    prefilter_shift: int = 0,
) -> DataFrame:
    """Per-group estimate of the number of DISTINCT 3-token shingles,
    with the exact count alongside (at 100 TB you would drop the exact
    column and the sketch is all you pay for). Returns
    (group, k_used, n_in_sketch, kth_min_hash, est_distinct,
    exact_distinct).

    ``prefilter_shift`` (the module docstring's ``s`` dial, the 10^10
    production knob) drops ``h >= 2^60 >> s`` with a shuffle-free codegen
    filter BEFORE the sketch's distinct exchange — only ~2^-s of the
    shingle stream is shuffled, and the k minima provably survive
    whenever the group has >= k distinct hashes below the threshold (the
    sketch only ever reads small hashes), leaving est_distinct
    bit-identical to s=0 (pinned in tests/test_sketches.py). Validity
    caveat: if a group has FEWER than k distinct hashes under the
    threshold, ``n_in_sketch < k`` makes the estimator take its
    exact-count branch over a truncated set and silently undercount —
    size s so that expected_distinct * 2^-s >> k (e.g. s <= log2(D/k) - 3).
    A group with NO hashes under the threshold still gets its row —
    the exact branch drives the join, so it surfaces with
    ``n_in_sketch = 0`` and NULL kth_min_hash/est_distinct instead of
    vanishing (groups must never silently disappear at scale).
    The exact_distinct companion column always uses the unfiltered
    stream; at production scale it is dropped and only the filtered
    exchange is paid. Default s=0 scans everything (exact parity at test
    scale)."""
    if not 0 <= prefilter_shift < 60:
        # >= 60 collapses the threshold 2^60 >> s to 1 or 0: the sketch
        # branch goes empty for EVERY group and the whole output is NULL
        # estimates — a misconfiguration, not an estimate
        raise ValueError(
            f"prefilter_shift must be in [0, 60), got {prefilter_shift}"
        )
    sh = shingle_hash60s(docs, group_col).select(
        group_col, F.explode(F.array_distinct("__h60")).alias("h")
    )
    d = sh.distinct()
    sk_src = (
        sh.filter(F.col("h") < F.lit(HASH_SPACE >> prefilter_shift)).distinct()
        if prefilter_shift else d
    )
    w = Window.partitionBy(group_col).orderBy("h")
    topk = sk_src.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    sketch = topk.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in_sketch"),
        F.max("h").cast("bigint").alias("kth_min_hash"),
    )
    exact = d.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    # exact drives a LEFT join: with prefilter_shift>0, a group whose
    # hashes all sit above the threshold has an EMPTY sketch branch — an
    # inner join would drop the whole group row (and its exact_distinct).
    # The join is NULL-SAFE (eqNullSafe / IS NOT DISTINCT FROM): a NULL
    # group key is a legitimate group (nullable group_col), and a plain
    # equi-join would never pair its exact row with its sketch row —
    # misreporting a populated sketch as empty (and silently dropping the
    # group entirely under the old inner join).
    sk = sketch.withColumnRenamed(group_col, "__g")
    return (
        exact.join(
            sk, F.col(group_col).eqNullSafe(F.col("__g")), "left"
        )
        .select(
            group_col,
            F.lit(k).cast("bigint").alias("k_used"),
            F.coalesce(F.col("n_in_sketch"), F.lit(0)).cast("bigint")
            .alias("n_in_sketch"),
            "kth_min_hash",
            F.expr(
                _est_expr(k, "coalesce(n_in_sketch, 0)", "kth_min_hash")
            ).alias("est_distinct"),
            "exact_distinct",
        )
    )


def sql_kmv_shingle_cardinality(
    table: str, k: int = KMV_K, group_col: str = "lang",
    prefilter_shift: int = 0,
) -> str:
    """DuckDB twin of kmv_shingle_cardinality (incl. the ``s`` dial:
    the sketch branch filters ``h < 2^60 >> s`` before ranking, the
    exact branch never does, and the exact branch LEFT-joins the sketch
    so fully-prefiltered groups surface with NULL estimate — same
    structure as the Spark plan)."""
    if not 0 <= prefilter_shift < 60:
        raise ValueError(
            f"prefilter_shift must be in [0, 60), got {prefilter_shift}"
        )
    hashes = shingle_hash60_expr(shingles_expr("text", "duckdb"), "duckdb")
    sk_filter = (
        f"WHERE h < {HASH_SPACE >> prefilter_shift}" if prefilter_shift
        else ""
    )
    return f"""
WITH sh AS (
  SELECT {group_col}, unnest({hashes}) AS h FROM {table}),
d AS (SELECT DISTINCT {group_col}, h FROM sh),
dsk AS (SELECT * FROM d {sk_filter}),
topk AS (
  SELECT * FROM (
    SELECT {group_col}, h,
           row_number() OVER (PARTITION BY {group_col} ORDER BY h) AS rn
    FROM dsk)
  WHERE rn <= {k}),
sketch AS (
  SELECT {group_col}, CAST(count(*) AS BIGINT) AS n_in_sketch,
         CAST(max(h) AS BIGINT) AS kth_min_hash
  FROM topk GROUP BY {group_col}),
exact AS (
  SELECT {group_col}, CAST(count(*) AS BIGINT) AS exact_distinct
  FROM d GROUP BY {group_col})
SELECT exact.{group_col}, CAST({k} AS BIGINT) AS k_used,
       CAST(coalesce(n_in_sketch, 0) AS BIGINT) AS n_in_sketch,
       kth_min_hash,
       {_est_expr(k, 'coalesce(n_in_sketch, 0)', 'kth_min_hash')}
         AS est_distinct,
       exact_distinct
FROM exact LEFT JOIN sketch
  ON exact.{group_col} IS NOT DISTINCT FROM sketch.{group_col}
"""
