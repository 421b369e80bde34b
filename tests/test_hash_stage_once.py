"""The band-join dedup family must run its upstream hash stage once per
input row, whatever join strategy the planner picks for the band
self-join.

An upstream ``mapInPandas`` counts every row it emits into an
accumulator, so a plan that recomputes the stage per consumer (per join
side, per broadcast build, per verification join) shows up as a
multiple of the document count. Each operator runs twice: with the band
join forced to a shuffle (``autoBroadcastJoinThreshold=-1``) and with
it forced to a broadcast (threshold above any side's size).
"""

from __future__ import annotations

import os

import pytest

from web_template_forensics_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash_near_dup_pairs,
)

# byte copy of the sf0.01 documents table (500 documents)
DOCS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "..", "perfbench", "corpus", "sf0.01", "documents.parquet",
)
JOIN_THRESHOLDS = {"shuffled": "-1", "broadcast": str(1 << 30)}


def _upstream_rows(spark, operator, threshold: str) -> tuple[int, int, str]:
    """(documents, rows the counting stage emitted, executed plan) for
    one run of ``operator`` with the given broadcast threshold."""
    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    raw = spark.read.parquet(DOCS).select("doc_id", "text")
    docs = raw.mapInPandas(count_rows, raw.schema)
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, threshold)
        df = operator(docs, "doc_id", "text")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return raw.count(), acc.value, plan


def _check_join_strategy(plan: str, strategy: str) -> None:
    """A precondition, not the invariant: raises RuntimeError (which the
    xfail below does not absorb) when the threshold did not force the
    requested band-join strategy."""
    if ("BroadcastHashJoin" in plan) != (strategy == "broadcast"):
        raise RuntimeError(f"band join is not {strategy}:\n{plan}")


@pytest.mark.parametrize("strategy", sorted(JOIN_THRESHOLDS))
def test_simhash_hash_stage_runs_once(spark, strategy):
    n_docs, emitted, plan = _upstream_rows(spark, simhash_near_dup_pairs, JOIN_THRESHOLDS[strategy])
    _check_join_strategy(plan, strategy)
    assert emitted == n_docs


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason=(
        "minhash_lsh_pairs runs its upstream stage twice: column pruning "
        "splits the repartitioned (_id, _sig, _sh) base into an (_id, _sig) "
        "exchange for the band join and an (_id, _sh) exchange for the "
        "verification joins, each over its own ArrowEvalPython "
        "minhash_and_shingles_udf. Moving the zero-shingle filter onto "
        "size(_sh) and packing the UDF output as one struct above the "
        "exchange both left it at 2x."
    ),
)
@pytest.mark.parametrize("strategy", sorted(JOIN_THRESHOLDS))
def test_minhash_hash_stage_runs_once(spark, strategy):
    n_docs, emitted, plan = _upstream_rows(spark, minhash_lsh_pairs, JOIN_THRESHOLDS[strategy])
    _check_join_strategy(plan, strategy)
    assert emitted == n_docs
