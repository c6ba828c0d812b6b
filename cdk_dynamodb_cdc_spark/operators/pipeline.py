"""The CDC change-event pipeline (reference operators A3-A11, SURVEY.md §2A).

Batch-first: :func:`cdc_change_events` is a pure ``DataFrame -> DataFrame``
transform, so the identical code runs under ``spark.read`` (oracle-testable)
and inside a Structured Streaming micro-batch (``streaming/stream.py``).

Stage map to the reference (``/root/reference/lib/lambda/dynamo-stream-handler.ts``):

  null-guards (:92-97)          -> declarative ``filter`` (A4)
  unmarshall (:101-110)         -> Arrow-vectorized pandas UDF, fused with
  compareJSON (:29-87,112-116)  -> the diff into ONE Python exchange (A5+A6)
  per-record try/catch (:20-26) -> ``error`` from the guarded parse; dead
                                   letters from a parse-only pass (A3)
  event construction (:118-125) -> ``select`` (A8)
  no-op MODIFY drop (:126-128)  -> ``filter`` on array size (A7)
  conditional images (:134-138) -> ``when``/``otherwise`` (A9)
  claim check (:139-166)        -> size split + side write (A10, claim_check.py)

Scale notes: the only Python in the plan is one fused pandas UDF over the
two image columns (unavoidable for dynamic schemas — the diff is defined
over arbitrary nested JSON). Everything before it (pk filters, null
guards, column pruning) is Catalyst-visible and pushes into the source
scan, so at 100 TB filtered records never reach Python. The UDF is
embarrassingly parallel and partition-local: no shuffle anywhere in this
pipeline — output partitioning == source partitioning.
Dead letters come from their own parse-only ``mapInPandas``
(:func:`quarantine`): no diff, no serialization, and only the failing
rows travel back to the JVM.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdk_dynamodb_cdc_spark.functions.diff import compare_images
from cdk_dynamodb_cdc_spark.functions.dynamo import dumps_canonical, unmarshall
from cdk_dynamodb_cdc_spark.operators.claim_check import claim_check_columns
from cdk_dynamodb_cdc_spark.schemas import CLAIM_CHECK_THRESHOLD

_DIFF_COLS = "attributes_changed array<string>, before string, after string, " \
    "u_pk string, u_sk string, u_new_image string, u_old_image string, error string"


def pk_filter(df: DataFrame, pk_filters: list[str] | None) -> DataFrame:
    """Source-level pk predicate (A2, ``dynamo.ts:157-191``).

    Exact value, or a single trailing-``*`` prefix pattern. Expressed as a
    plain Column predicate so Catalyst pushes it into the parquet scan
    (StringStartsWith / EqualTo reach ``PushedFilters``).
    """
    if not pk_filters:
        return df
    conds: list[Column] = []
    for f in pk_filters:
        stars = f.count("*")
        if stars == 0:
            conds.append(F.col("pk") == F.lit(f))
        elif stars == 1 and f.endswith("*"):
            conds.append(F.col("pk").startswith(f[:-1]))
        else:
            raise ValueError(
                f"pk filter {f!r}: only exact match or single trailing '*' "
                "prefix supported (mirrors dynamo.ts:168-176)"
            )
    pred = conds[0]
    for c in conds[1:]:
        pred = pred | c
    return df.filter(pred)


def null_guards(df: DataFrame) -> DataFrame:
    """Drop records missing operation / event_id / payload (A4, :92-97).

    Deliberate deviation: the reference only bails when the
    ``record.dynamodb`` envelope itself is missing (:96-97) and would
    still publish an event with empty before/after for an image-less
    record. This engine's record schema has no envelope column, so
    "both images null" stands in for "no payload" and such records are
    dropped — stricter than the reference, by design (an event with no
    images, no diff, and no keys carries no information downstream).
    """
    has_payload = F.col("new_image").isNotNull() | F.col("old_image").isNotNull()
    return df.filter(
        F.col("operation").isNotNull() & F.col("event_id").isNotNull() & has_payload
    )


def _parse_record(new_raw, old_raw, keys_raw, pk, sk) -> tuple:
    """``json.loads`` + unmarshall of one record's images and keys, as
    ``(new_img, old_img, pk, sk)``: the only per-record step that can
    fail on its input, so it alone decides which records dead-letter."""
    new_img = unmarshall(json.loads(new_raw)) if new_raw is not None else None
    old_img = unmarshall(json.loads(old_raw)) if old_raw is not None else None
    if keys_raw is not None:
        keys = unmarshall(json.loads(keys_raw)) or {}
        pk, sk = keys.get("pk"), keys.get("sk")
    return new_img, old_img, pk, sk


def _error_text(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def _diff_record(new_raw, old_raw, keys_raw, pk, sk) -> tuple:
    """unmarshall + diff + key extraction for one record; errors isolate.

    Only the parse is guarded: ``compare_images`` and ``dumps_canonical``
    are total on what it returns (unmarshall and ``json.loads`` recurse
    deeper than either), so events and dead letters split the same
    records as :func:`_dead_letter_batches` does."""
    try:
        new_img, old_img, pk, sk = _parse_record(new_raw, old_raw, keys_raw, pk, sk)
    except Exception as exc:  # row-level fault isolation (A3, :20-26)
        return (None, None, None, None, None, None, None, _error_text(exc))
    changed, before, after = compare_images(new_img, old_img)
    return (
        changed,
        dumps_canonical(before),
        dumps_canonical(after),
        pk,
        sk,
        dumps_canonical(new_img) if new_img is not None else None,
        dumps_canonical(old_img) if old_img is not None else None,
        None,
    )


# Record columns both mappers read, and those they pass through.
_READ = ["new_image", "old_image", "keys_json", "pk", "sk"]
_PASS = ["event_id", "seq", "ts", "operation", "size_bytes"]


def _col_or_none(pdf: pd.DataFrame, name: str) -> list:
    if name in pdf.columns:
        return [None if pd.isna(v) else v for v in pdf[name]]
    return [None] * len(pdf)


def _rows(pdf: pd.DataFrame) -> Iterator[tuple]:
    """``_parse_record``/``_diff_record`` arguments, one tuple per row."""
    return zip(*(_col_or_none(pdf, c) for c in _READ))


def _diff_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [
        "attributes_changed", "before", "after",
        "u_pk", "u_sk", "u_new_image", "u_old_image", "error",
    ]
    for pdf in batches:
        out = pd.DataFrame(
            [_diff_record(*r) for r in _rows(pdf)], columns=cols, index=pdf.index
        )
        yield pd.concat([pdf[_PASS], out], axis=1)


def _parse_error(new_raw, old_raw, keys_raw, pk, sk) -> str | None:
    """:func:`_diff_record`'s ``error`` alone. Called like it, from a
    comprehension, so the parse runs at the same stack depth and a
    record at the recursion limit fails in both passes or in neither."""
    try:
        _parse_record(new_raw, old_raw, keys_raw, pk, sk)
    except Exception as exc:  # row-level fault isolation (A3, :20-26)
        return _error_text(exc)
    return None


def _dead_letter_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The rows whose parse fails, as ``_PASS`` + ``error``; no diff."""
    for pdf in batches:
        errors = pd.Series([_parse_error(*r) for r in _rows(pdf)], index=pdf.index)
        bad = errors.notna()
        if bad.any():
            yield pdf.loc[bad, _PASS].assign(error=errors[bad])


def _map_records(src: DataFrame, fn, out_schema: str) -> DataFrame:
    """One ``mapInPandas`` of ``fn`` over the columns the mappers read;
    its output is ``_PASS`` followed by ``out_schema``."""
    inp = src.select(*[c for c in _PASS + _READ if c in src.columns])
    keep = ", ".join(f"{c} {inp.schema[c].dataType.simpleString()}" for c in _PASS)
    return inp.mapInPandas(fn, schema=f"{keep}, {out_schema}")


def cdc_change_events(
    records: DataFrame,
    *,
    pk_filters: list[str] | None = None,
    claim_check_base: str | None = None,
    claim_check_threshold: int = CLAIM_CHECK_THRESHOLD,
) -> DataFrame:
    """Full record->event transform. Input: CDC_RECORD_SCHEMA (+ optional
    ``keys_json``). Output: CHANGE_EVENT_SCHEMA; records that fail to
    parse are dropped (:func:`quarantine` returns them), no-op MODIFYs
    dropped; large payloads carry an ``images_url`` pointer instead of
    inlined images (side write is the caller's job via :mod:`claim_check`
    — this stage only computes columns).
    """
    src = null_guards(pk_filter(records, pk_filters))
    diffed = _map_records(src, _diff_batches, _DIFF_COLS)

    # A7: drop MODIFYs whose diff is empty (:126-128)
    noop = (F.col("operation") == "MODIFY") & (F.size("attributes_changed") == 0)
    ok = diffed.filter(F.col("error").isNull() & ~F.coalesce(noop, F.lit(False)))

    small, images_url = claim_check_columns(claim_check_threshold, claim_check_base)
    return ok.select(
        F.col("event_id"),
        F.col("seq"),
        F.col("ts"),
        F.col("operation"),
        F.col("u_pk").alias("pk"),
        F.col("u_sk").alias("sk"),
        F.col("attributes_changed"),
        F.col("before"),
        F.col("after"),
        # A9 (:134-138): new image inlined when small; old image only for
        # small REMOVEs; neither when claim-checked.
        F.when(small, F.col("u_new_image")).alias("new_image"),
        F.when(small & (F.col("operation") == "REMOVE"), F.col("u_old_image"))
        .alias("old_image"),
        images_url.alias("images_url"),
    )


def quarantine(
    records: DataFrame,
    *,
    pk_filters: list[str] | None = None,
    claim_check_base: str | None = None,
    claim_check_threshold: int = CLAIM_CHECK_THRESHOLD,
) -> DataFrame:
    """The dead-letter side of A3: the records :func:`cdc_change_events`
    drops because their parse raised, in its column layout plus
    ``error``. A parse-only pass: no diff runs and no image is
    serialized, so the diff and image columns are NULL."""
    src = null_guards(pk_filter(records, pk_filters))
    dead = _map_records(src, _dead_letter_batches, "error string")
    _, images_url = claim_check_columns(claim_check_threshold, claim_check_base)
    null = F.lit(None).cast("string")
    return dead.select(
        "event_id",
        "seq",
        "ts",
        "operation",
        null.alias("pk"),
        null.alias("sk"),
        F.lit(None).cast("array<string>").alias("attributes_changed"),
        null.alias("before"),
        null.alias("after"),
        null.alias("new_image"),
        null.alias("old_image"),
        images_url.alias("images_url"),
        "error",
    )


def publish(events: DataFrame, event_source: str) -> DataFrame:
    """A11 (:168-177): wrap each change event in the published envelope.

    ``detail`` is the JSON document a downstream consumer receives; routing
    is then a plain filter on ``source`` / ``detail_type`` (A12).
    """
    detail = F.to_json(
        F.struct(
            F.col("after"),
            F.col("attributes_changed").alias("attributesChanged"),
            F.col("before"),
            F.col("images_url").alias("imagesUrl"),
            F.col("new_image").alias("newImage"),
            F.col("old_image").alias("oldImage"),
            F.col("operation"),
            F.col("pk"),
            F.col("sk"),
        )
    )
    return events.select(
        F.lit(event_source).alias("source"),
        F.lit("dynamo.item.changed").alias("detail_type"),
        detail.alias("detail"),
    )


def route(published: DataFrame, source: str, detail_type: str) -> DataFrame:
    """A12 (cdk-dynamodb-cdc-stack.ts:32-38): pattern-match subscription."""
    return published.filter(
        (F.col("source") == source) & (F.col("detail_type") == detail_type)
    )
