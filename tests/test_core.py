"""Core engine semantics pinned to the reference's behavior:
pagination clamps (index.js:475-478), default page math
(index.js:434-436), identifier validation (lib/examiner.js:162-196),
FK child-list convention (index.js:575) — on the reference's own
foo/bar fixture and the driver tables."""

import pytest

from pyspark.sql import functions as F

from data_wrangler_spark.catalog import UnknownIdentifierError
from data_wrangler_spark.plans.pagination import clamp_perpage, paginate


def test_clamp_perpage_reference_bounds():
    assert clamp_perpage(0) == 1
    assert clamp_perpage(-5) == 1
    assert clamp_perpage(20) == 20
    assert clamp_perpage(1000) == 1000
    assert clamp_perpage(5000) == 1000  # index.js:475-478


def test_paginate_foobar_rank_sort(spark, foobar):
    """Reference fixture: bar sorted by rank is deterministic with
    the id tiebreaker (the upgrade over the reference's RDBMS-luck)."""
    _, bar = foobar
    assert [r.id for r in bar.orderBy("rank", "id").limit(2).collect()] == [4, 5]


def test_pages_partition_relation(engine):
    """Property: pages are disjoint and their union is the relation
    (requires the pk tiebreaker paginate() appends)."""
    seen = []
    page = 1
    while True:
        rows = engine.list_records("supplier", page=page, perpage=4).collect()
        if not rows:
            break
        seen.extend(r.s_suppkey for r in rows)
        page += 1
    all_keys = [
        r.s_suppkey for r in engine.catalog.table("supplier").collect()
    ]
    assert sorted(seen) == sorted(all_keys)
    assert len(seen) == len(set(seen)), "pages overlap"


def test_unknown_table_rejected(engine):
    with pytest.raises(UnknownIdentifierError):
        engine.list_records("no_such_table")
    with pytest.raises(UnknownIdentifierError):
        engine.list_records("customer; drop table foo")


def test_unknown_column_rejected(engine):
    with pytest.raises(UnknownIdentifierError):
        engine.list_records("customer", sortby="nope")


def test_dynamic_select_validates_identifiers(spark, sf_dir):
    from data_wrangler_spark import REGISTRY

    with pytest.raises(UnknownIdentifierError):
        REGISTRY["q_dynamic_select"].run(spark, sf_dir, table="bad_table")
    with pytest.raises(UnknownIdentifierError):
        REGISTRY["q_dynamic_select"].run(spark, sf_dir, where_col="p_size OR 1=1")


def test_point_lookup_single_row(spark, sf_dir):
    from data_wrangler_spark import REGISTRY

    rows = REGISTRY["q_point_lookup"].run(spark, sf_dir).collect()
    assert len(rows) == 1


def test_child_list_convention(spark, sf_dir):
    """FK convention: children carry exactly the parent's key."""
    from data_wrangler_spark import REGISTRY

    rows = REGISTRY["q_child_list"].run(spark, sf_dir, parent_id=3).collect()
    assert all(r.s_nationkey == 3 for r in rows)


def test_inner_join_fixture_shape(spark, foobar):
    """The reference's ticketAnswers join shape on its own fixture."""
    foo, bar = foobar
    j = (
        foo.alias("t")
        .join(bar.alias("a"), F.col("t.id") == F.col("a.foo_id"))
        .filter(F.col("t.id") == 1)
        .select(F.col("t.id").alias("ticket_id"), F.col("a.id").alias("answer_id"), "a.rank")
    )
    rows = j.collect()
    assert sorted(r.answer_id for r in rows) == [4, 5]  # bar rows with foo_id=1
    assert all(r.ticket_id == 1 for r in rows)


def test_engine_explain_shows_physical_plan(spark, sf_dir):
    from data_wrangler_spark import Engine

    plan = Engine(spark, sf_dir).explain("q_filter_eq")
    assert "PushedFilters" in plan and "Scan parquet" in plan


def test_describe_matches_spliced_oracle_for_every_table(spark, sf_dir):
    """q_describe bound to each catalog table answers what its
    registered oracle answers with the bind spliced in; the default
    bind keeps its exact answer."""
    from data_wrangler_spark.catalog import TABLES
    from data_wrangler_spark.registry import REGISTRY
    from tools.verify_local import duck_con

    spec = REGISTRY["q_describe"]
    con = duck_con(sf_dir)
    for t in TABLES:
        got = [tuple(r) for r in spec.run(spark, sf_dir, table=t).collect()]
        oracle = spec.oracle.replace("DESCRIBE customer", f"DESCRIBE {t}")
        assert got == con.execute(oracle).fetchall(), t
    assert [tuple(r) for r in spec.run(spark, sf_dir).collect()] == [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ]
