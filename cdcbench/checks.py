"""Reconciliation of engine output against the generator's expected
results. Pure Python: the workloads collect the few columns needed
(event id, changed paths, claim-check pointer, operation) and pass them
here."""

from __future__ import annotations

from gen import Expected, checksum


def summarize_events(rows) -> dict:
    """``rows``: (event_id, attributes_changed, images_url, operation)."""
    rows = list(rows)
    by_op: dict = {}
    for *_, op in rows:
        by_op[op] = by_op.get(op, 0) + 1
    return {
        "events": len(rows),
        "events_by_operation": by_op,
        "checksum": checksum((eid, paths or []) for eid, paths, *_ in rows),
        "claim_checked": sum(1 for _, _, url, _ in rows if url is not None),
    }


def _expected_events(exp: Expected) -> dict:
    return {"events": exp.events, "events_by_operation": exp.events_by_operation,
            "checksum": exp.checksum, "claim_checked": exp.claim_checked}


def _compare(want: dict, got: dict) -> list[str]:
    return [
        f"{k}: expected {want[k]}, got {got.get(k)}"
        for k in want
        if got.get(k) != want[k]
    ]


def reconcile_batch(exp: Expected, events: dict, quarantined: int | None) -> list[str]:
    """Mismatches of one batch-lane result (empty when correct).

    ``quarantined`` is None on the typed lane, which has no dead-letter
    output; its input holds no malformed records."""
    problems = _compare(_expected_events(exp), events)
    dead = 0 if quarantined is None else quarantined
    if quarantined is not None and quarantined != exp.malformed:
        problems.append(f"quarantined: expected {exp.malformed}, got {quarantined}")
    accounted = events["events"] + dead + exp.noop_dropped + exp.guard_dropped
    if accounted != exp.records_in:
        problems.append(
            f"events + quarantined + no-op + guard = {accounted}, "
            f"records in = {exp.records_in}"
        )
    return problems


def reconcile_stream(exp: Expected, events: dict, side_store_rows: int) -> list[str]:
    """Mismatches of one streaming drain: the sink holds exactly the
    expected events and the side store every oversized record."""
    problems = _compare(_expected_events(exp), events)
    if side_store_rows != exp.side_store_rows:
        problems.append(
            f"side-store rows: expected {exp.side_store_rows}, got {side_store_rows}"
        )
    return problems


def unaccounted(exp: Expected, events_out: int) -> int:
    """Records that are neither an event nor an expected drop."""
    return exp.records_in - events_out - exp.noop_dropped - exp.guard_dropped
