"""CdcPipeline builder tests: lane selection, custom transform hook,
reconstruction wiring, and publish envelope."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdk_dynamodb_cdc_spark import CdcPipeline
from cdk_dynamodb_cdc_spark.sources.fixtures import cdc_fixture_df


def test_batch_events_with_transform_hook(spark):
    records = cdc_fixture_df(spark)
    pipe = CdcPipeline(
        transform=lambda df: df.filter(F.col("operation") == "INSERT")
    )
    ops = {r.operation for r in pipe.events(records).collect()}
    assert ops == {"INSERT"}


def test_presign_and_transform_apply_in_both_lanes(spark, tmp_path):
    """presign_secret and the functionPath-style transform must shape
    the output identically whether the pipeline runs as a batch or as
    a checkpointed stream."""
    from cdk_dynamodb_cdc_spark.operators.claim_check import validate_claim_url
    from cdk_dynamodb_cdc_spark.streaming import read_cdc_stream

    pipe = CdcPipeline(
        claim_check_base=str(tmp_path / "store") + "/",
        presign_secret="k3y",
        transform=lambda df: df.withColumn("tenant", F.lit("t0")),
    )

    records = cdc_fixture_df(spark)
    batch = pipe.events(records)
    batch_signed = batch.filter(F.col("images_url").isNotNull())
    assert batch_signed.count() > 0
    assert batch_signed.filter(
        ~validate_claim_url(F.col("images_url"), "k3y")
    ).count() == 0
    assert {r.tenant for r in batch.collect()} == {"t0"}

    src = tmp_path / "src"
    src.mkdir()
    rows = [r.asDict() for r in records.collect()]
    with open(src / "b.json", "w") as fh:
        for r in rows:
            r["ts"] = r["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f+0000")
            fh.write(json.dumps(r) + "\n")
    sink = str(tmp_path / "sink")
    q = pipe.run_stream(
        read_cdc_stream(spark, str(src), starting_position="trim_horizon"),
        sink_path=sink,
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(sink)
    assert {r.tenant for r in streamed.collect()} == {"t0"}
    s_signed = streamed.filter(F.col("images_url").isNotNull())
    assert s_signed.count() == batch_signed.count()
    assert s_signed.filter(
        ~validate_claim_url(F.col("images_url"), "k3y")
    ).count() == 0


def test_pk_filter_applies_in_both_lanes(spark):
    records = cdc_fixture_df(spark)
    dynamic = CdcPipeline(pk_filters=["ORDER#*"])
    typed = CdcPipeline(
        pk_filters=["ORDER#*"],
        item_schema=T.StructType(
            [
                T.StructField("total", T.DoubleType()),
                T.StructField("name", T.StringType()),
                T.StructField("n", T.DoubleType()),
            ]
        ),
    )
    dyn_pks = {r.pk for r in dynamic.events(records).collect()}
    typ_pks = {r.pk for r in typed.events(records).collect()}
    assert dyn_pks and all(pk.startswith("ORDER#") for pk in dyn_pks)
    assert typ_pks and all(pk.startswith("ORDER#") for pk in typ_pks)


def test_reconstruction_wired_into_batch_lane(spark):
    rows = [
        ("r1", 1, None, "INSERT", "K", "S", None, json.dumps({"v": {"N": "1"}}), 64),
        ("r2", 2, None, "MODIFY", "K", "S", None, json.dumps({"v": {"N": "2"}}), 64),
    ]
    records = spark.createDataFrame(
        rows,
        "event_id string, seq long, ts timestamp, operation string, "
        "pk string, sk string, old_image string, new_image string, size_bytes long",
    )
    pipe = CdcPipeline(reconstruct_missing_old=True)
    by_id = {r.event_id: r for r in pipe.events(records).collect()}
    assert json.loads(by_id["r2"].before) == {"v": 1}
    assert json.loads(by_id["r2"].after) == {"v": 2}


def test_published_envelope(spark):
    records = cdc_fixture_df(spark)
    pipe = CdcPipeline(event_source="acme")
    rows = pipe.published(records).collect()
    assert {r.source for r in rows} == {"acme"}
    assert {r.detail_type for r in rows} == {"dynamo.item.changed"}
    detail = json.loads(rows[0].detail)
    assert "attributesChanged" in detail and "operation" in detail


def test_source_format_round_trips(spark, tmp_path):
    """§2B file sources: the engine's tables survive CSV, JSON, and ORC
    round trips with schema-preserving reads (header/schema options for
    the text formats), so corpus ingestion is not parquet-bound."""
    from cdk_dynamodb_cdc_spark.sources.tables import load_table

    li = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")  # limit is re-executed
        .limit(500)                             # per action: pin the subset
    )
    want = {
        (r.l_orderkey, r.l_linenumber, float(r.l_quantity), r.l_returnflag)
        for r in li.collect()
    }
    schema = li.schema

    p = str(tmp_path / "csv")
    li.write.option("header", True).csv(p)
    got_csv = spark.read.option("header", True).schema(schema).csv(p)

    q = str(tmp_path / "json")
    li.write.json(q)
    got_json = spark.read.schema(schema).json(q)

    o = str(tmp_path / "orc")
    li.write.orc(o)
    got_orc = spark.read.orc(o)

    for got in (got_csv, got_json, got_orc):
        assert got.schema == schema
        rows = {
            (r.l_orderkey, r.l_linenumber, float(r.l_quantity), r.l_returnflag)
            for r in got.collect()
        }
        assert rows == want


def test_pipeline_infer_schema_lane_matches_dynamic(spark):
    """CdcPipeline(item_schema="infer"): the drift-profile inference
    feeds the typed lane and reproduces the dynamic lane's events."""
    import datetime

    from cdk_dynamodb_cdc_spark.api import CdcPipeline

    old = '{"a":{"N":"1"},"name":{"S":"x"}}'
    new = '{"a":{"N":"2"},"name":{"S":"x"},"fresh":{"BOOL":true}}'
    records = spark.createDataFrame(
        [
            ("e1", 1, datetime.datetime(2024, 1, 1), "MODIFY",
             "PK#1", "SK", old, new, 64),
            ("e2", 2, datetime.datetime(2024, 1, 1, 0, 1), "MODIFY",
             "PK#1", "SK", new, new, 64),  # no-op
        ],
        "event_id string, seq long, ts timestamp, operation string, "
        "pk string, sk string, old_image string, new_image string, "
        "size_bytes long",
    )
    dyn = CdcPipeline().events(records)
    inf = CdcPipeline(item_schema="infer").events(records)
    d = {r.event_id: sorted(r.attributes_changed) for r in dyn.collect()}
    i = {r.event_id: sorted(r.attributes_changed) for r in inf.collect()}
    assert d == i == {"e1": ["a", "fresh"]}


def test_observation_metrics_piggyback_single_pass(spark):
    """Pipeline observability via DataFrame.observe(): acceptance
    counters ride the SAME job as the filter — no second scan, no
    extra action — and report exact integers. The 100-TB shape for
    'how many rows did this quality gate drop': a counter on the one
    pass you were already running."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, "x" * (10 + i % 50), i % 3) for i in range(300)],
        "doc_id long, text string, src long",
    )
    obs = Observation("gate")
    gated = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_in"),
        F.sum(
            (F.length("text") >= 30).cast("long")
        ).alias("n_pass"),
        F.sum(F.length("text")).alias("chars_in"),
    ).filter(F.length("text") >= 30)
    survivors = gated.count()  # the ONE action; metrics ride along
    got = obs.get
    assert got["n_in"] == 300
    assert got["n_pass"] == survivors
    expected_pass = sum(1 for i in range(300) if 10 + i % 50 >= 30)
    assert survivors == expected_pass
    assert got["chars_in"] == sum(10 + i % 50 for i in range(300))


def test_quarantine_uses_configured_claim_check(spark):
    """Dead letters carry `images_url` from the pipeline's own
    claim-check base and threshold, like its events do."""
    from cdk_dynamodb_cdc_spark.schemas import CDC_RECORD_SCHEMA

    good = json.dumps({"v": {"S": "x"}})
    records = spark.createDataFrame(
        [
            # oversized for the configured threshold, small for the default
            ("ev-bad-big", 1, None, "MODIFY", "P#1", "S", "{not json", good, 5000),
            ("ev-bad-small", 2, None, "MODIFY", "P#2", "S", "{not json", good, 100),
            ("ev-ok-big", 3, None, "INSERT", "P#3", "S", None, good, 5000),
        ],
        schema=CDC_RECORD_SCHEMA,
    )
    pipe = CdcPipeline(
        claim_check_base="s3://side-store/images/", claim_check_threshold=1000
    )
    dead = {r.event_id: r for r in pipe.quarantine(records).collect()}
    assert set(dead) == {"ev-bad-big", "ev-bad-small"}
    assert dead["ev-bad-big"].images_url == "s3://side-store/images/ev-bad-big.json"
    assert dead["ev-bad-small"].images_url is None
    events = {r.event_id: r for r in pipe.events(records).collect()}
    assert events["ev-ok-big"].images_url == "s3://side-store/images/ev-ok-big.json"


def test_quarantine_sees_reconstructed_old_images(spark):
    """With reconstruction on, a record whose reconstructed old image is
    malformed dead-letters: every input record is an event or a dead
    letter, never both and never neither."""
    from cdk_dynamodb_cdc_spark.schemas import CDC_RECORD_SCHEMA

    records = spark.createDataFrame(
        [
            ("e1", 1, None, "INSERT", "P#1", "S", None, "{not json", 100),
            ("e2", 2, None, "MODIFY", "P#1", "S", None,
             json.dumps({"v": {"S": "a"}}), 100),
            ("e3", 3, None, "MODIFY", "P#1", "S", None,
             json.dumps({"v": {"S": "b"}}), 100),
        ],
        schema=CDC_RECORD_SCHEMA,
    )
    pipe = CdcPipeline(reconstruct_missing_old=True)
    events = sorted(r.event_id for r in pipe.events(records).collect())
    dead = sorted(r.event_id for r in pipe.quarantine(records).collect())
    assert events == ["e3"]
    assert dead == ["e1", "e2"]
    assert sorted(events + dead) == ["e1", "e2", "e3"]
