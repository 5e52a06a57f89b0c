"""KMV cardinality sketch (functions/sketches.py).

Covers: the k-th-smallest statistic against a pure-Python mirror, the
estimator's relative-error band at k=64, exact fallback when a group has
fewer than k distinct hashes, and the WindowGroupLimit plan shape the
map-side top-k relies on at scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from language_diversity_common_crawler_spark.functions import sketches
from language_diversity_common_crawler_spark.functions.hashing import (
    HASH_SPACE,
    py_md5_60,
)

SF_DIR = "/root/testdata/sf0.001"


def _py_shingle_hashes(text: str) -> set[int]:
    import re

    toks = re.sub(r"\s+", " ", text.lower().strip(" ")).split(" ")
    if len(toks) < 3:
        return set()
    return {
        py_md5_60(" ".join(toks[i:i + 3])) for i in range(len(toks) - 2)
    }


def test_kmv_statistic_matches_python(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        r["lang"]: r
        for r in sketches.kmv_shingle_cardinality(docs).collect()
    }
    per_lang: dict[str, set[int]] = {}
    for r in docs.select("lang", "text").collect():
        per_lang.setdefault(r["lang"], set()).update(
            _py_shingle_hashes(r["text"])
        )
    assert set(got) == set(per_lang)
    for lang, hashes in per_lang.items():
        row = got[lang]
        assert row["exact_distinct"] == len(hashes)
        smallest = sorted(hashes)[:64]
        assert row["n_in_sketch"] == len(smallest)
        assert row["kth_min_hash"] == smallest[-1]
        if len(hashes) < 64:
            assert row["est_distinct"] == len(hashes), "exact fallback"
        else:
            # KMV with k=64: ~1/sqrt(k-2) relative error; allow 4 sigma
            err = abs(row["est_distinct"] - len(hashes)) / len(hashes)
            assert err < 0.55, (lang, row["est_distinct"], len(hashes))


def test_kmv_exact_fallback_small_group(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="only three tokens here now", lang="xx")]
    )
    [row] = sketches.kmv_shingle_cardinality(df).collect()
    assert row["n_in_sketch"] == row["exact_distinct"] == 3
    assert row["est_distinct"] == 3


def test_kmv_estimate_is_pure_function_of_statistic():
    # the CASE expression itself: estimate = floor((k-1)*2^60 / h_k)
    import math

    k, h_k = 64, HASH_SPACE // 1000  # pretend kth min at 1/1000 of space
    est = math.floor((k - 1) * float(HASH_SPACE) / float(h_k))
    assert abs(est - 63000) <= 1


def test_kmv_plans_window_group_limit(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        sketches.kmv_shingle_cardinality(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan


def test_kmv_prefilter_preserves_minima(spark):
    """The s dial (prefilter_shift): with every group holding >= k distinct
    hashes below 2^60 >> s, the threshold prefilter must leave the whole
    sketch row — n_in_sketch, kth_min_hash, est_distinct — bit-identical
    to s=0, while exact_distinct (unfiltered companion) is unchanged by
    construction. s=4 keeps 1/16 of the hash space; the documents corpus
    has thousands of distinct shingles per lang, so the k=8 minima all sit
    far below the threshold (asserted, not assumed)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    k = 8
    base = {
        r["lang"]: (r["n_in_sketch"], r["kth_min_hash"], r["est_distinct"],
                    r["exact_distinct"])
        for r in sketches.kmv_shingle_cardinality(docs, k=k).collect()
    }
    # precondition: the k-th minimum of every group is under the s=4
    # threshold, so the prefilter provably preserves all k minima
    thr = HASH_SPACE >> 4
    assert all(v[1] < thr for v in base.values()), base
    got = {
        r["lang"]: (r["n_in_sketch"], r["kth_min_hash"], r["est_distinct"],
                    r["exact_distinct"])
        for r in sketches.kmv_shingle_cardinality(
            docs, k=k, prefilter_shift=4
        ).collect()
    }
    assert got == base


def test_kmv_prefilter_is_pre_exchange_codegen_filter(spark):
    """The s>0 plan must place the threshold filter BEFORE the sketch's
    distinct exchange (that ordering is the whole point: only ~2^-s of
    the shingle stream is shuffled)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = sketches.kmv_shingle_cardinality(docs, k=8, prefilter_shift=4)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    thr = HASH_SPACE >> 4
    fpos = plan.find(str(thr))
    assert fpos != -1, plan
    # top-down print: the Generate (shingle explode) below the filter must
    # appear AFTER the threshold in the same subtree — i.e. the filter
    # sits between explode and aggregate, not above the aggregate
    agg_pos = plan.rfind("Aggregate", 0, fpos)
    gen_pos = plan.find("Generate", fpos)
    assert gen_pos != -1, plan
    # rfind returns -1 when NO Aggregate precedes the filter — that is
    # the regression this test exists to catch (filter hoisted above the
    # sketch aggregate), so it must fail, not trivially pass
    assert agg_pos != -1, plan[:2000]
    assert agg_pos < fpos < gen_pos, plan[:2000]


def test_kmv_prefiltered_out_groups_survive_with_null_estimate(spark):
    """Round-3 advice: a group whose hashes ALL sit at/above the prefilter
    threshold must NOT vanish — it surfaces with n_in_sketch = 0, NULL
    kth_min_hash/est_distinct, and its exact_distinct intact. s=59 makes
    the threshold 2 (2^60 >> 59), so every group's sketch branch is empty
    with probability ~1 — the extreme of the misconfigured-dial case. The
    DuckDB twin must do the identical thing (oracle parity)."""
    import duckdb

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = {
        r["lang"]: r["exact_distinct"]
        for r in sketches.kmv_shingle_cardinality(docs).collect()
    }
    rows = sketches.kmv_shingle_cardinality(docs, prefilter_shift=59).collect()
    got = {r["lang"]: r for r in rows}
    assert set(got) == set(exact), "groups vanished from the left join"
    for lang, r in got.items():
        assert r["n_in_sketch"] == 0
        assert r["kth_min_hash"] is None
        assert r["est_distinct"] is None
        assert r["exact_distinct"] == exact[lang]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    duck = {
        r[0]: r
        for r in con.execute(
            sketches.sql_kmv_shingle_cardinality(
                "documents", prefilter_shift=59
            )
        ).fetchall()
    }
    assert {
        lang: (r["k_used"], r["n_in_sketch"], r["kth_min_hash"],
               r["est_distinct"], r["exact_distinct"])
        for lang, r in got.items()
    } == {lang: tuple(r[1:]) for lang, r in duck.items()}


def test_kmv_null_group_key_survives_null_safe_join(spark):
    """A NULL group key is a legitimate group: the exact↔sketch join is
    null-safe in both engines, so the NULL group carries its REAL sketch
    (not a fake-empty one) and never vanishes."""
    import duckdb

    rows = [(0, "alpha beta gamma delta", None),
            (1, "epsilon zeta eta theta", None),
            (2, "one two three four", "en")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {r["lang"]: r for r in sketches.kmv_shingle_cardinality(df).collect()}
    assert set(got) == {None, "en"}
    assert got[None]["exact_distinct"] == 4  # 2 shingles per NULL doc
    assert got[None]["n_in_sketch"] == 4     # real sketch, not fake-empty
    assert got[None]["est_distinct"] == 4
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR,"
                " lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    duck = {
        r[0]: r for r in con.execute(
            sketches.sql_kmv_shingle_cardinality("documents")
        ).fetchall()
    }
    assert {lang: (r["n_in_sketch"], r["kth_min_hash"], r["est_distinct"],
                   r["exact_distinct"])
            for lang, r in got.items()} == \
        {lang: tuple(r[2:]) for lang, r in duck.items()}


def test_kmv_prefilter_validation(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError, match="prefilter_shift"):
        sketches.kmv_shingle_cardinality(docs, prefilter_shift=-1)


EDGE_ROWS = [
    (0, None, "en"),                          # NULL text
    (1, "", "en"),                            # empty text
    (2, "  \t \n  ", "en"),                   # whitespace only
    (3, "solo", "en"),                        # 1 token
    (4, "two words", "en"),                   # 2 tokens
    (5, "The quick  brown fox jumps", "en"),
    (6, "alpha beta gamma", None),            # NULL group key
    (7, None, None),
    (8, "  one two three four  ", None),
    (9, None, "nulls_only"),                  # group with no shingles
    (10, "x y", "short_only"),                # group with no shingles
    (11, "", "short_only"),
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR,"
                " lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", EDGE_ROWS)
    return con


@pytest.mark.parametrize("shift", [0, 4])
def test_kmv_edge_inputs_match_duckdb(spark, duck, shift):
    """NULL, empty, whitespace-only and 1-/2-token texts give no shingles
    in either engine: the staged tokens → shingles → hashes chain must
    surface the same groups (NULL group included, shingle-less groups
    absent) with the same counts and sketch as the DuckDB twin."""
    df = spark.createDataFrame(
        EDGE_ROWS, "doc_id bigint, text string, lang string"
    )
    got = {
        tuple(r)
        for r in sketches.kmv_shingle_cardinality(
            df, prefilter_shift=shift
        ).collect()
    }
    want = set(duck.execute(
        sketches.sql_kmv_shingle_cardinality(
            "documents", prefilter_shift=shift
        )
    ).fetchall())
    assert got == want
    assert {r[0] for r in got} == {"en", None}
    exact = {r[0]: r[-1] for r in got}
    assert exact == {"en": 3, None: 3}
