"""Plan hygiene, pinned: the scan-level properties PLANS.md asserts in
prose — column pruning (ReadSchema), predicate pushdown (PushedFilters),
and whole-stage codegen around the JVM-side key extraction — checked on
the real physical plans so a regression in any operator's plan shape fails
a test instead of silently re-reading 16 columns at 100 TB."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _read_schema_of(plan: str, marker: str) -> str:
    """ReadSchema line of the scan chunk whose Location contains marker."""
    for chunk in plan.split("\n\n"):
        if marker in chunk and "ReadSchema" in chunk:
            return next(
                line for line in chunk.splitlines() if "ReadSchema" in line
            )
    raise AssertionError(f"no scan matching {marker!r} with ReadSchema in:\n{plan}")


def test_forest_build_prunes_to_key_columns(spark):
    """The build reads ONLY the key-spec columns — 2 of lineitem's 16."""
    from sparkfuse.forest import build_forest
    from sparkfuse.keys import extract_keys

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    build = build_forest(
        extract_keys(lineitem, "l_orderkey", "l_linenumber"), shard_bits=2
    )
    rs = _read_schema_of(_explain(build), "lineitem.parquet")
    assert "l_orderkey" in rs and "l_linenumber" in rs
    for other in ("l_quantity", "l_comment", "l_shipdate", "l_partkey"):
        assert other not in rs, rs


def test_forest_build_one_exchange_one_partition_per_shard(spark):
    """The shard build plans ONE shuffle Exchange, which the grouping reuses,
    and every shard lands in its own reduce partition: AQE coalescing (on in
    this Spark session) must not fold the shards into one task, where their
    kernels would run one after another."""
    import re

    from sparkfuse.forest import build_forest
    from sparkfuse.keys import extract_keys

    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    build = build_forest(
        extract_keys(lineitem, "l_orderkey", "l_linenumber"), shard_bits=2
    )
    plan = _explain(build)
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1, plan
    rows = build.select("shard", F.spark_partition_id().alias("pid")).collect()
    assert sorted(r["shard"] for r in rows) == [0, 1, 2, 3]
    assert all(r["pid"] == r["shard"] for r in rows), rows


def test_membership_prescreen_pushes_dimension_filter_to_scan(spark):
    """In the xor8_members shape, the mktsegment predicate reaches the
    customer scan as a pushed filter, and the orders scan reads only the
    two columns the query needs."""
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    q = orders.join(
        building.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_semi"
    ).select("o_orderkey")
    plan = _explain(q)
    cust_chunk = next(
        c for c in plan.split("\n\n") if "customer.parquet" in c
    )
    assert "PushedFilters" in cust_chunk
    assert "c_mktsegment" in cust_chunk.split("PushedFilters")[1].splitlines()[0]
    rs = _read_schema_of(plan, "orders.parquet")
    assert "o_orderkey" in rs and "o_custkey" in rs
    assert "o_totalprice" not in rs and "o_comment" not in rs


def test_key_extraction_runs_inside_wholestage_codegen(spark):
    """xxhash64 key extraction + shard derivation compile into a
    WholeStageCodegen span over the scan — no interpreted projection, no
    Python, before the one shuffle."""
    from sparkfuse.keys import extract_keys, shard_column

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    keys = extract_keys(lineitem, "l_orderkey", "l_linenumber").withColumn(
        "shard", shard_column("key", 4)
    )
    plan = _explain(keys, "simple")
    # simple mode marks codegen stages with '*(n)' — the projection over
    # the scan must carry the marker, and no Python evaluator may appear
    assert "*(1) Project" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_text_stats_prune_documents_scan(spark):
    """token_stats reads (doc_id, text) — nothing else — off documents."""
    from sparkfuse.textops import token_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    stats = token_stats(docs, "doc_id", "text")
    rs = _read_schema_of(_explain(stats), "documents.parquet")
    assert "doc_id" in rs and "text" in rs


def test_transcript_dedup_scan_prunes_to_text(spark, tmp_path):
    """The text-spec transcript filter build reads ONLY the text column of
    the 6-column transcript table."""
    from sparkfuse.keys import dedup_keys
    from sparkfuse.synth import synth_transcripts
    from sparkfuse.transcripts import transcript_key

    src = str(tmp_path / "tr")
    synth_transcripts(spark, 2_000).write.parquet(src)
    tr = spark.read.parquet(src)
    keys = dedup_keys(tr.select(transcript_key("text").alias("key")))
    rs = _read_schema_of(_explain(keys), "/tr]")
    assert "text" in rs
    for other in ("conv_id", "turn_idx", "role", "tool", "ts"):
        assert other not in rs, rs
