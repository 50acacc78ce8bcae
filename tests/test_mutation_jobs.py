"""Spark-job pin for the row-level mutation verbs: every verb × write mode
runs once against a 100-row table (v2 for the positional-delete modes, v3
for the deletion-vector modes, the others split between the two), and the
number of Spark jobs each call launches must equal the pinned count.  Job
counts do not depend on the host, so this catches a change that re-reads
a table, re-evaluates a source frame or adds a collect, where wall time
would only drift; one extra job in any call fails the test.

Adaptive execution is off while the calls run: with it on, every query
stage is its own job and the plan is revised as concurrent stages finish,
in whatever order they finish, so the same MERGE launched 14, 15 or 16
jobs from run to run.  Inputs come as single-partition frames so that
file counts, and with them job counts, do not follow the core count."""

from __future__ import annotations

import pytest

# (verb, mode) -> Spark jobs per call
CALLS = {
    "2": {
        ("delete_where", "copy-on-write"): 3,
        ("delete_where", "merge-on-read"): 1,
        ("delete_where", "merge-on-read-positional"): 2,
        ("update_where", "merge-on-read-positional"): 6,
        ("merge_into", "copy-on-write"): 7,
        ("delete_by_keys", "verify_hits=True"): 3,
    },
    "3": {
        ("delete_where", "merge-on-read-dv"): 2,
        ("update_where", "copy-on-write"): 5,
        ("update_where", "merge-on-read-dv"): 4,
        ("merge_into", "merge-on-read"): 10,
        ("delete_by_keys", "verify_hits=False"): 3,
    },
}


def _jobs(spark, group, fn):
    """Spark jobs ``fn`` launched, counted through its job group once the
    listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _one_partition(spark, rows, schema):
    # a local list splits into one partition per core
    return spark.createDataFrame(rows, schema).coalesce(1)


def _call(t, spark, verb, mode, i):
    """Run one verb × mode against the keys [10*i, 10*i + 5); a MERGE also
    inserts key 1000 + i."""
    lo, hi = 10 * i, 10 * i + 5
    cond = f"k >= {lo} AND k < {hi}"
    if verb == "delete_where":
        assert t.delete_where(cond, mode=mode) == 5
    elif verb == "update_where":
        assert t.update_where({"v": "'u'"}, cond, mode=mode) == 5
    elif verb == "merge_into":
        rows = [(k, "m") for k in range(lo, hi)] + [(1000 + i, "new")]
        src = _one_partition(spark, rows, "k int, v string")
        t.merge_into(src, "k", when_matched_update={"v": "s.v"}, mode=mode)
    else:
        verify = mode == "verify_hits=True"
        keys = _one_partition(spark, [(k,) for k in range(lo, hi)], "k int")
        assert t.delete_by_keys(keys, "k", verify_hits=verify) == 5


@pytest.mark.parametrize("fv", sorted(CALLS))
def test_mutation_job_counts_are_pinned(catalog, spark, fv):
    t = catalog.create_table(
        f"jobs_v{fv}",
        schema={"k": "int", "v": "string"},
        properties={"format-version": fv},
    )
    rows = [(k, "a") for k in range(100)]
    t.append(_one_partition(spark, rows, "k int, v string"))
    calls = list(CALLS[fv])
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = {
            c: _jobs(spark, f"mutation-jobs-v{fv}-{i}", lambda: _call(t, spark, *c, i))
            for i, c in enumerate(calls)
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert got == CALLS[fv]
    dead = {
        k
        for i, (verb, _) in enumerate(calls)
        if verb in ("delete_where", "delete_by_keys")
        for k in range(10 * i, 10 * i + 5)
    }
    born = {1000 + i for i, (verb, _) in enumerate(calls) if verb == "merge_into"}
    assert sorted(r["k"] for r in t.to_a()) == sorted((set(range(100)) - dead) | born)
