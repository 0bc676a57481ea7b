"""Direct tests for the shared curation stages (llm/curation.py), outside
the registry rows that compose them: the water-fill stage against the
plain-Python closed form, and the Bloom stage's no-false-negative
guarantee."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.catalog import load_table
from sparkksqldbbenchmark_spark.llm.curation import (
    bloom_flags,
    eval_split,
    waterfill,
)
from sparkksqldbbenchmark_spark.llm.hashing import spark_word_shingles
from tests.conftest import SF_DIR
from tests.test_round14_properties import waterfill_closed_form


@settings(
    max_examples=22,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=8))
@example([7])  # a single source
@example([5, 5, 5, 5])  # all tied
@example([0, 3, 3, 9, 9, 40])  # ties below and above the level
def test_waterfill_stage_matches_closed_form(spark, tots):
    totals = {f"s{i:02d}": t for i, t in enumerate(tots)}
    df = spark.createDataFrame(
        list(totals.items()), "source string, total_tokens long"
    )
    rows = waterfill(df).collect()
    want, lvl = waterfill_closed_form(totals, sum(totals.values()) // 2)
    assert {r["source"]: r["allocated_tokens"] for r in rows} == want
    assert {r["level"] for r in rows} == {lvl}
    for r in rows:
        assert r["saturated"] == (r["allocated_tokens"] == r["total_tokens"]
                                  and r["total_tokens"] <= lvl)


def test_bloom_stage_flags_every_contained_shingle(spark):
    """FN = 0: every probe shingle that is exactly in the build set is
    flagged (false positives are allowed, misses are not)."""
    docs = load_table(spark, SF_DIR, "documents")
    pool, eval_sh = eval_split(docs, 3)
    probe = pool.select(
        "doc_id", F.explode(F.expr(spark_word_shingles("text", 3))).alias("sh")
    )
    contained = probe.join(
        eval_sh.select(F.col("esh").alias("sh")), "sh", "left_semi"
    )
    flags = bloom_flags(eval_sh, probe, "sh")
    got = contained.distinct().join(flags, ["doc_id", "sh"]).select(
        F.count(F.lit(1)).alias("n"),
        F.sum(1 - F.col("bloom_hit")).alias("misses"),
    ).collect()[0]
    assert got["n"] > 0
    assert got["misses"] == 0
