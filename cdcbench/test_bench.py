"""Tests of the benchmark's generator and reconciliation (no Spark
session): run with ``python3 -m pytest cdcbench -q`` from the
repository root.

The engine's own pure-Python diff stands in for the dynamic lane here,
so the generator's expected results are checked against an independent
computation, and the checks are shown to catch a dropped event and an
altered path.
"""

from __future__ import annotations

import json

import pytest

import checks
import gen
from cdk_dynamodb_cdc_spark.functions.diff import compare_images
from cdk_dynamodb_cdc_spark.functions.dynamo import unmarshall


def _reference_lane(records):
    """(event rows, quarantined) the dynamic lane must produce."""
    rows, quarantined = [], 0
    for event_id, _, _, op, _, _, old, new, size in records:
        if event_id is None or op is None or (old is None and new is None):
            continue  # null guards
        try:
            new_img = unmarshall(json.loads(new)) if new is not None else None
            old_img = unmarshall(json.loads(old)) if old is not None else None
        except ValueError:
            quarantined += 1
            continue
        paths, _, _ = compare_images(new_img, old_img)
        if op == "MODIFY" and not paths:
            continue  # no-op
        url = "x" if size >= gen.CLAIM_CHECK_THRESHOLD else None
        rows.append((event_id, paths, url, op))
    return rows, quarantined


@pytest.mark.parametrize("typed", [False, True])
def test_same_seed_gives_same_bytes(typed):
    a, ea = gen.generate(7, 800, typed=typed)
    b, eb = gen.generate(7, 800, typed=typed)
    c, _ = gen.generate(8, 800, typed=typed)
    assert gen.to_json_lines(a) == gen.to_json_lines(b)
    assert ea == eb
    assert gen.to_json_lines(a) != gen.to_json_lines(c)


def test_prefix_of_a_longer_run_is_the_shorter_run():
    short, _ = gen.generate(3, 300)
    long, _ = gen.generate(3, 900)
    assert long[:300] == short


@pytest.mark.parametrize("seed,typed", [(1, False), (2, False), (3, True)])
def test_expected_results_match_reference_diff(seed, typed):
    records, exp = gen.generate(seed, 2000, typed=typed)
    rows, quarantined = _reference_lane(records)
    events = checks.summarize_events(rows)
    assert checks.reconcile_batch(exp, events, quarantined) == []
    assert checks.reconcile_stream(exp, events, exp.side_store_rows) == []


def test_class_shares():
    _, exp = gen.generate(5, 5000)
    n = exp.records_in
    assert 0.07 < exp.noop_dropped / n < 0.13
    assert exp.guard_dropped == n // 331
    assert exp.malformed == n // 199 or exp.malformed == n // 199 + 1
    assert 0.015 < exp.side_store_rows / n <= 0.02
    assert exp.by_operation["INSERT"] and exp.by_operation["REMOVE"]


def test_typed_variant_stays_in_domain():
    records, exp = gen.generate(4, 2000, typed=True)
    assert exp.malformed == 0
    names = {f.name for f in gen.ITEM_SCHEMA.fields}
    for r in records:
        for image in (r[6], r[7]):
            if image is not None:
                doc = json.loads(image)
                assert set(doc) <= names
                assert all("NULL" not in av for av in doc.values())


@pytest.fixture(scope="module")
def dynamic_run():
    records, exp = gen.generate(11, 1500)
    rows, quarantined = _reference_lane(records)
    return exp, rows, quarantined


def test_reconcile_fails_when_one_event_is_dropped(dynamic_run):
    exp, rows, quarantined = dynamic_run
    events = checks.summarize_events(rows[:-1])
    problems = checks.reconcile_batch(exp, events, quarantined)
    assert any(p.startswith("events:") for p in problems)
    assert any(p.startswith("events_by_operation:") for p in problems)
    assert any(p.startswith("checksum:") for p in problems)
    assert checks.reconcile_stream(exp, events, exp.side_store_rows)


def test_reconcile_fails_when_one_path_is_altered(dynamic_run):
    exp, rows, quarantined = dynamic_run
    altered = list(rows)
    event_id, paths, url, op = altered[len(altered) // 2]
    altered[len(altered) // 2] = (event_id, paths[:-1] + [paths[-1] + "x"], url, op)
    problems = checks.reconcile_batch(
        exp, checks.summarize_events(altered), quarantined
    )
    assert [p.split(":")[0] for p in problems] == ["checksum"]


def test_reconcile_fails_on_lost_dead_letter_or_side_store_row(dynamic_run):
    exp, rows, quarantined = dynamic_run
    events = checks.summarize_events(rows)
    assert checks.reconcile_batch(exp, events, quarantined - 1)
    assert checks.reconcile_stream(exp, events, exp.side_store_rows - 1)
    assert checks.unaccounted(exp, exp.events) == exp.malformed
