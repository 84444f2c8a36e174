"""Session-conf brackets and the pair-operator cache registry.

Every session-conf flip in the package goes through one bracket
(``operators.util._conf_bracket``): it sets a dict of confs, restores
the previous values on exit — unsetting confs that were absent — and
holds one re-entrant lock, so a streaming batch body can open further
brackets on its own thread.
"""

import sys
import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from sea_serpent_spark.operators.util import (
    FANOUT_CONF,
    micro_plan_confs,
    one_shot_take,
    scalar_action_confs,
)
from sea_serpent_spark.streaming.dedup import _batch_confs

AQE = "spark.sql.adaptive.enabled"
SHUF = "spark.sql.shuffle.partitions"
INITIAL_PARTS = "spark.sql.limit.initialNumPartitions"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_plan(spark):
    return (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )


def _snapshot(spark, keys):
    return {k: spark.conf.get(k, None) for k in keys}


def test_bracket_flips_aqe_outside_overlap(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    with scalar_action_confs(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert "AdaptiveSparkPlan" not in _physical(_shuffle_plan(spark))
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


_BRACKETS = {
    "scalar_action_confs": (
        lambda s: scalar_action_confs(s), {AQE: "false"},
    ),
    "micro_plan_confs": (
        lambda s: micro_plan_confs(s, parts=3), {AQE: "false", SHUF: "3"},
    ),
    "one_shot_take": (
        lambda s: one_shot_take(s, parts=5), {INITIAL_PARTS: "5"},
    ),
    "batch_confs": (
        lambda s: _batch_confs(s, 6),
        {AQE: "false", SHUF: "6", FANOUT_CONF: "6"},
    ),
}


@pytest.mark.parametrize("name", sorted(_BRACKETS))
def test_named_bracket_sets_and_restores(spark, name):
    make, inside = _BRACKETS[name]
    keys = [AQE, SHUF, INITIAL_PARTS, FANOUT_CONF]
    before = _snapshot(spark, keys)
    # the unset-when-absent case: neither conf is set on the session
    assert before[INITIAL_PARTS] is None
    assert before[FANOUT_CONF] is None
    with make(spark):
        for k, v in inside.items():
            assert spark.conf.get(k, None) == v
    assert _snapshot(spark, keys) == before


def test_batch_confs_without_parallelism_is_noop(spark):
    keys = [AQE, SHUF, FANOUT_CONF]
    before = _snapshot(spark, keys)
    with _batch_confs(spark, None):
        assert _snapshot(spark, keys) == before
    assert _snapshot(spark, keys) == before


@pytest.mark.parametrize("name", sorted(_BRACKETS))
def test_bracket_restores_when_body_raises(spark, name):
    make, _ = _BRACKETS[name]
    keys = [AQE, SHUF, INITIAL_PARTS, FANOUT_CONF]
    before = _snapshot(spark, keys)
    with pytest.raises(RuntimeError, match="boom"):
        with make(spark):
            raise RuntimeError("boom")
    assert _snapshot(spark, keys) == before


def test_nested_brackets_in_batch_body_do_not_deadlock(spark):
    """A sink batch body (``_batch_confs``) that runs a capped probe
    take (``one_shot_take``) and then a scalar aggregate
    (``scalar_action_confs``) re-enters the bracket lock on one
    thread; each inner exit restores the batch's values."""
    keys = [AQE, SHUF, INITIAL_PARTS, FANOUT_CONF]
    before = _snapshot(spark, keys)
    seen: dict = {}

    def _batch():
        with _batch_confs(spark, 4):
            with one_shot_take(spark, parts=7):
                seen["take"] = spark.conf.get(INITIAL_PARTS, None)
                with scalar_action_confs(spark):
                    seen["n"] = spark.range(10).count()
                    seen["aqe"] = spark.conf.get(AQE)
            seen["after_take"] = spark.conf.get(INITIAL_PARTS, None)
            seen["shuf"] = spark.conf.get(SHUF)

    t = threading.Thread(target=_batch, daemon=True)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "nested brackets deadlocked"
    assert seen == {
        "take": "7", "n": 10, "aqe": "false", "after_take": None,
        "shuf": "4",
    }
    assert _snapshot(spark, keys) == before


def test_default_scope_retire_still_works(spark):
    """A pair operator's entry retires the previous call's frames."""
    from sea_serpent_spark.operators.dedup import (
        _keep_cache,
        minhash_lsh_pairs,
        release_caches,
    )

    release_caches()
    dfx = _keep_cache(spark.range(10))
    assert dfx.storageLevel.useMemory
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    minhash_lsh_pairs(docs)
    assert not dfx.storageLevel.useMemory
    release_caches()


def test_release_caches_races_keep_cache(spark):
    """Four threads interleave ``_keep_cache`` and ``release_caches``
    over 200 materialized frames: no thread raises, and after a final
    sweep no persisted RDD is left behind."""
    from sea_serpent_spark.operators.dedup import (
        _keep_cache,
        release_caches,
    )

    jsc = spark.sparkContext._jsc
    release_caches()
    baseline = jsc.getPersistentRDDs().size()
    errors: list = []
    start = threading.Barrier(4)

    def _worker(w: int) -> None:
        try:
            start.wait(timeout=60)
            for i in range(50):
                lo = 1000 * (50 * w + i)  # distinct plans, no cache reuse
                dfx = spark.range(lo, lo + 3)
                # fill the cache BEFORE registering: a frame released
                # while its own first action builds the cache is leaked
                # by Spark itself (the release contract forbids it)
                dfx.persist(StorageLevel.MEMORY_AND_DISK).count()
                _keep_cache(dfx)
                if i % 2:
                    release_caches()
        except Exception as exc:  # noqa: BLE001 - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=_worker, args=(w,)) for w in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the registry updates finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    release_caches()
    assert errors == []
    assert jsc.getPersistentRDDs().size() <= baseline
