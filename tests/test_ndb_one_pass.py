"""ndb one-pass-per-operation tests: Spark jobs per table call, the
single bucket exchange of the upsert write, the fused merge_upsert
against a pure-Python model, and the per-version schema record."""

from __future__ import annotations

import datetime
import decimal
import json
import os
import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dbitool_spark.ndb import NdbTable

TABLE_SCHEMA = "k bigint, seq bigint, val bigint, payload string, total bigint"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dbitool_ndb1_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def spark_jobs(spark, group: str, fn) -> int:
    """Run fn() under Spark job group `group`; return how many Spark
    jobs it launched (the status tracker lists jobs by group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ndb_jobs_per_call_on_warm_table(spark, tmpdir):
    """Every table operation reads its inputs once and shuffles once:
    upsert and merge_upsert = the batch probe (cache stage, map
    stage, result) + one bucket exchange + the write, with no
    schema-inference job for the state read; replay = the scan
    alone; lookup evaluates its Python-backed probe exactly once."""
    t = NdbTable(spark, os.path.join(tmpdir, "t"), "k", n_buckets=8)
    t.upsert(
        spark.range(40_000).selectExpr(
            "id AS k", "id AS seq", "id AS val", "'x' AS payload", "id AS total"
        ),
        order_by="seq",
    )
    rnd = random.Random(7)
    sc = spark.sparkContext
    tag = f"ndb-jobs-{os.getpid()}-{id(t)}"
    for rep in range(2):  # the second round runs warm
        upd = spark.createDataFrame(
            [(rnd.randrange(40_000), i, i, "u", i) for i in range(2000)], TABLE_SCHEMA
        )
        merge = spark.createDataFrame(
            [(k, i, i, "m", 1) for i, k in enumerate(rnd.sample(range(40_000), 300))],
            TABLE_SCHEMA,
        )
        keys = rnd.sample(range(40_000), 16)
        evaluated = sc.accumulator(0)

        @F.udf("bigint")
        def counted(k):
            evaluated.add(1)
            return k

        probe = spark.createDataFrame([(k,) for k in keys], "k bigint").select(
            counted("k").alias("k")
        )
        got: list = []
        jobs = {
            "upsert": spark_jobs(
                spark, f"{tag}-u{rep}", lambda: t.upsert(upd, order_by="seq")
            ),
            "merge_upsert": spark_jobs(
                spark,
                f"{tag}-m{rep}",
                lambda: t.merge_upsert(merge, combine={"total": "sum", "seq": "max"}),
            ),
            "lookup": spark_jobs(
                spark,
                f"{tag}-l{rep}",
                lambda: got.extend(t.lookup(probe, how="left").collect()),
            ),
            "replay": spark_jobs(spark, f"{tag}-r{rep}", lambda: t.replay().collect()),
        }
        assert jobs == {"upsert": 5, "merge_upsert": 5, "lookup": 5, "replay": 1}, jobs
        assert sorted(r.k for r in got) == sorted(keys)
        assert evaluated.value == len(keys)  # the probe ran once
    # the lookup's probe cache is released by the next write
    t.upsert(spark.createDataFrame([(1, 0, 0, "z", 0)], TABLE_SCHEMA))
    assert t._held_probe is None


def _final_write_plan(spark, staging_marker: str) -> list[str]:
    """Final (adaptive) plan lines of the latest SQL execution that
    wrote into a staging dir matching `staging_marker`."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    descs = [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]
    plan = [d for d in descs if "InsertIntoHadoopFsRelationCommand" in d and staging_marker in d][-1]
    final = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return final.splitlines()


@pytest.mark.parametrize("fpb", [1, 2])
def test_ndb_pruned_upsert_has_one_exchange_above_union(spark, tmpdir, fpb):
    """The bucket is a pure function of the key, so the resolve
    window over (bucket, key) is satisfied by the bucket layout
    exchange: exactly one shuffle sits above the state+batch union,
    hash on the bucket (range on (bucket, key) with
    files_per_bucket=2)."""
    path = os.path.join(tmpdir, f"t{fpb}")
    t = NdbTable(spark, path, "k", n_buckets=8, files_per_bucket=fpb)
    t.upsert(spark.range(4000).selectExpr("id AS k", "id AS v"))
    t.upsert(spark.range(0, 4000, 7).selectExpr("id AS k", "id * 2 AS v"))
    lines = _final_write_plan(spark, os.path.join(path, ".stage-v1-"))
    exchanges = [i for i, ln in enumerate(lines) if "Exchange (" in ln]
    unions = [i for i, ln in enumerate(lines) if "Union (" in ln]
    assert len(exchanges) == 1 and len(unions) == 1, "\n".join(lines)
    assert exchanges[0] < unions[0]  # the exchange is above the union
    got = {r.k: r.v for r in t.replay().collect()}
    assert got == {k: (2 * k if k % 7 == 0 else k) for k in range(4000)}


RULES = {"n": "sum", "lo": "min", "hi": "max", "tag": "last", "origin": "first"}
MERGE_SCHEMA = "k bigint, n bigint, lo bigint, hi bigint, tag string, origin string"


def _model_merge(state: dict, rows: list) -> None:
    """Pure-Python combine rules; NULL is each rule's identity."""
    for k, *vals in rows:
        old = state.get(k)
        if old is None:
            state[k] = tuple(vals)
            continue
        out = []
        for rule, new, prev in zip(RULES.values(), vals, old):
            if new is None or prev is None:
                pick = prev if new is None else new
                if rule == "first":
                    pick = new if prev is None else prev
                out.append(pick)
            elif rule == "sum":
                out.append(prev + new)
            elif rule == "min":
                out.append(min(prev, new))
            elif rule == "max":
                out.append(max(prev, new))
            elif rule == "last":
                out.append(new)
            else:
                out.append(prev)
        state[k] = tuple(out)


def _maybe_null(rnd, v):
    return None if rnd.random() < 0.2 else v


@pytest.mark.parametrize("fpb", [1, 2])
def test_ndb_fused_merge_matches_python_model(spark, tmpdir, fpb):
    """Randomized merges (keys only in the state, only in the batch,
    in both; NULLs under every rule) and plain upserts in between
    equal a pure-Python fold of the five combine rules."""
    rnd = random.Random(fpb)
    t = NdbTable(spark, os.path.join(tmpdir, "t"), "k", n_buckets=4, files_per_bucket=fpb)
    state: dict = {}
    for step in range(5):
        keys = rnd.sample(range(300), 60)
        rows = [
            (
                k,
                _maybe_null(rnd, rnd.randrange(100)),
                _maybe_null(rnd, rnd.randrange(100)),
                _maybe_null(rnd, rnd.randrange(100)),
                _maybe_null(rnd, f"t{step}"),
                _maybe_null(rnd, f"o{step}"),
            )
            for k in keys
        ]
        t.merge_upsert(spark.createDataFrame(rows, MERGE_SCHEMA), combine=RULES)
        _model_merge(state, rows)
        if step == 2:  # a last-write-wins upsert between merges
            over = [(k, 1, 2, 3, "u", "u") for k in rnd.sample(sorted(state), 10)]
            t.upsert(spark.createDataFrame(over, MERGE_SCHEMA))
            state.update({r[0]: r[1:] for r in over})
        got = {r[0]: tuple(r[1:]) for r in t.replay().select("k", *RULES).collect()}
        assert got == state, step


def test_ndb_fused_merge_evolved_state_only_column(spark, tmpdir):
    """Evolved table: a column only the stored rows carry is NULL for
    every key the merge batch carries (the batch row replaces it) and
    keeps its value for stored keys the batch missed; a column only
    the batch carries folds against NULL."""
    t = NdbTable(spark, os.path.join(tmpdir, "t"), "k", n_buckets=2, evolve_schema=True)
    t.upsert(spark.createDataFrame([(1, 5, "a"), (2, 6, "b"), (3, 7, "c")], "k bigint, n bigint, old string"))
    t.merge_upsert(
        spark.createDataFrame([(1, 10, 100), (4, 1, 1)], "k bigint, n bigint, fresh bigint"),
        combine={"n": "sum", "fresh": "sum"},
    )
    got = {r.k: (r.n, r.old, r.fresh) for r in t.replay().collect()}
    assert got == {
        1: (15, None, 100),
        2: (6, "b", None),
        3: (7, "c", None),
        4: (1, None, 1),
    }


KEY_TYPES = {
    "bigint": [5, 17, 40, 91],
    "string": ["a", "bb", "k9", "zz"],
    "date": [datetime.date(2024, 1, d) for d in (1, 5, 9, 30)],
    "decimal(12,3)": [decimal.Decimal(f"{i}.125") for i in (1, 7, 12, 99)],
    "timestamp": [datetime.datetime(2024, 3, 1, h, 30) for h in (0, 5, 11, 23)],
}


def _assert_schema_recorded(spark, vdir):
    from pyspark.sql.types import StructType

    with open(os.path.join(vdir, "_schema.json")) as fh:
        recorded = StructType.fromJson(json.load(fh))
    assert recorded == spark.read.parquet(vdir).schema, vdir


@pytest.mark.parametrize("key_type", sorted(KEY_TYPES))
def test_ndb_version_schema_record_equals_inference(spark, tmpdir, key_type):
    """Every version written by upsert, merge_upsert, compact and the
    legacy flat layout (an empty first write) records the schema
    inference would return; a deleted record falls back to
    inference with identical results."""
    keys = KEY_TYPES[key_type]
    schema = f"k {key_type}, n bigint, tag string, xs array<int>"
    path = os.path.join(tmpdir, "t")
    t = NdbTable(spark, path, "k", n_buckets=2, files_per_bucket=2)

    def vdir():
        return t._current_dir()

    t.upsert(spark.createDataFrame([], schema))  # flat layout
    _assert_schema_recorded(spark, vdir())
    t.upsert(spark.createDataFrame([(k, i, "a", [i]) for i, k in enumerate(keys)], schema))
    _assert_schema_recorded(spark, vdir())  # flat -> bucket migration
    t.upsert(spark.createDataFrame([(keys[0], 9, "b", None)], schema))
    _assert_schema_recorded(spark, vdir())  # pruned, carries files
    t.merge_upsert(
        spark.createDataFrame([(keys[1], 1, None, [1]), (keys[3], 2, "m", [])], schema),
        combine={"n": "sum"},
    )
    _assert_schema_recorded(spark, vdir())
    assert t.compact(buckets=[0, 1]) == [0, 1]
    _assert_schema_recorded(spark, vdir())
    want = sorted(map(tuple, t.replay().collect()))
    os.unlink(os.path.join(vdir(), "_schema.json"))
    assert sorted(map(tuple, t.replay().collect())) == want
    t.upsert(spark.createDataFrame([(keys[2], 5, "c", [5])], schema))
    # files carried from a version without a record leave the next
    # version to inference; a version of only fresh files records
    carried = any(
        os.stat(os.path.join(dp, fn)).st_nlink > 1
        for dp, _, fns in os.walk(vdir())
        for fn in fns
        if not fn.startswith((".", "_"))
    )
    assert os.path.exists(os.path.join(vdir(), "_schema.json")) != carried
    assert len(t.replay().collect()) == len(keys)


def test_ndb_evolved_table_reads_merge_schema_not_record(spark, tmpdir):
    """Once the table evolves, versions carry mixed-schema files: no
    record is written and reads merge footers, older recorded
    versions included."""
    t = NdbTable(spark, os.path.join(tmpdir, "t"), "k", n_buckets=4,
                 evolve_schema=True, keep_versions=3)
    t.upsert(spark.createDataFrame([(i, i) for i in range(20)], "k bigint, a bigint"))
    assert os.path.exists(os.path.join(t._current_dir(), "_schema.json"))
    t.upsert(spark.createDataFrame([(1, 10, "x")], "k bigint, a bigint, b string"))
    assert not os.path.exists(os.path.join(t._current_dir(), "_schema.json"))
    got = {r.k: (r.a, r.b) for r in t.replay().collect()}
    assert got[1] == (10, "x") and got[2] == (2, None) and len(got) == 20
    assert {r.k: r.a for r in t.replay(as_of=0).collect()} == {i: i for i in range(20)}
