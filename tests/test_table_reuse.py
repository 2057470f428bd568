"""Table frames are loaded once and reused across requests: a warm
builder launches no Spark job, a rewritten file is read afresh, the
memo stays bounded, and a frame never crosses sessions."""

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_wrangler_spark import catalog
from data_wrangler_spark.catalog import TABLES, load_table
from data_wrangler_spark.registry import REGISTRY

# builders on the gateway's hot path, with the binds a request sends
_BUILDS = [
    ("q_topk", {}),
    ("q_sort_paginate", {}),
    ("q_child_list", {}),
    ("q_join_multi", {}),
    ("q_agg_groupby", {}),
    ("q_agg_count_distinct", {}),
    ("q_point_lookup", {"key": 7}),
    ("q_filter_fk", {"orderkey": 1}),
    ("q_describe", {}),
    ("q_describe", {"table": "events"}),
]


def _jobs_in(spark, fn) -> list[int]:
    """Spark job ids launched by ``fn()`` on this thread."""
    sc = spark.sparkContext
    group = f"reuse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name,params", _BUILDS, ids=[n + "".join(f"-{v}" for v in p.values()) for n, p in _BUILDS]
)
def test_warm_build_launches_no_job(spark, sf_dir, name, params):
    for t in TABLES:
        load_table(spark, sf_dir, t)
    jobs = _jobs_in(spark, lambda: REGISTRY[name].run(spark, sf_dir, **params))
    assert jobs == [], f"building {name} launched Spark jobs {jobs}"


def test_cold_load_infers_then_warm_load_reuses(spark, sf_dir, tmp_path):
    """The miss path is the one that pays the inference job; the hit
    returns the very same frame object."""
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet")
    first = []
    assert _jobs_in(spark, lambda: first.append(load_table(spark, str(tmp_path), "region")))
    assert _jobs_in(spark, lambda: load_table(spark, str(tmp_path), "region")) == []
    assert load_table(spark, str(tmp_path), "region") is first[0]


def test_rewritten_file_is_read_afresh(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    old = load_table(spark, str(tmp_path), "region")
    assert sorted(r.r_name for r in old.collect()) == ["A", "B"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_name": ["X", "Y", "Z"]}), path
    )
    new = load_table(spark, str(tmp_path), "region")
    assert new is not old
    assert sorted(r.r_name for r in new.collect()) == ["X", "Y", "Z"]


def test_memo_stays_within_its_bound(spark, sf_dir, tmp_path):
    src = os.path.join(sf_dir, "region.parquet")
    n_dirs = catalog._MEMO_MAX + 5
    for i in range(n_dirs):
        d = tmp_path / f"fx{i}"
        d.mkdir()
        os.link(src, d / "region.parquet")
        load_table(spark, str(d), "region")
        assert len(catalog._memo) <= catalog._MEMO_MAX
    # the most recent loads are still warm; the oldest was evicted
    assert _jobs_in(spark, lambda: load_table(spark, str(d), "region")) == []
    evicted = str(tmp_path / "fx0" / "region.parquet")
    assert all(key[1] != evicted for key in catalog._memo)


def test_frame_never_crosses_sessions(spark, sf_dir):
    other = spark.newSession()
    mine = load_table(spark, sf_dir, "nation")
    theirs = load_table(other, sf_dir, "nation")
    assert mine.sparkSession is spark
    assert theirs.sparkSession is other
    assert theirs is not mine
    assert load_table(other, sf_dir, "nation") is theirs


def test_entry_of_another_session_under_a_reused_id_is_not_returned(spark, sf_dir):
    """An id() can be recycled once a session object is gone; the hit
    path checks the frame's session object, not only the key."""
    other = spark.newSession()
    theirs = load_table(other, sf_dir, "part")
    path = os.path.abspath(os.path.join(sf_dir, "part.parquet"))
    key = (id(spark), path, catalog._stamp(path))
    with catalog._memo_lock:
        catalog._memo[key] = theirs
    got = load_table(spark, sf_dir, "part")
    assert got.sparkSession is spark and got is not theirs


def test_concurrent_loads_keep_the_memo_bounded_and_per_session(spark, sf_dir, tmp_path):
    """More threads than cores hit and evict the shared memo at once:
    no call fails, every frame belongs to the caller's session, and
    the memo never grows past its bound."""
    import random
    import sys
    import threading

    src = os.path.join(sf_dir, "nation.parquet")
    dirs = []
    for i in range(catalog._MEMO_MAX + 8):
        d = tmp_path / f"fx{i}"
        d.mkdir()
        os.link(src, d / "nation.parquet")
        dirs.append(str(d))
    errors: list[BaseException] = []
    sizes: list[int] = []

    def worker(seed: int) -> None:
        rng = random.Random(seed)
        try:
            for _ in range(12):
                df = load_table(spark, rng.choice(dirs), "nation")
                assert df.sparkSession is spark
                with catalog._memo_lock:
                    sizes.append(len(catalog._memo))
        except BaseException as e:  # reported below, from the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(10)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(sizes) == 120 and max(sizes) <= catalog._MEMO_MAX


def test_describe_answers_from_a_local_relation(spark, sf_dir):
    """q_describe's answer is driver-local data: collecting it runs no
    Spark job (a frame over a Python RDD would start a job and a
    Python worker)."""
    load_table(spark, sf_dir, "orders")
    df = REGISTRY["q_describe"].run(spark, sf_dir, table="orders")
    assert _jobs_in(spark, df.collect) == []
