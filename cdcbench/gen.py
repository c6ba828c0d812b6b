"""Seeded generator of DynamoDB change-stream records, with the results
the engine must produce for them.

Every record belongs to exactly one class, decided when it is made:

* event      -- the engine must emit one change event for it;
* noop       -- a MODIFY whose images differ only in representation
                (set order, number spelling, map key order); dropped;
* guard      -- missing event_id / operation / both images; dropped by
                the null guards before any parsing;
* malformed  -- wire JSON that does not parse, or an AttributeValue the
                codec rejects; a dead letter on the dynamic lane.

The expected ``attributes_changed`` of an event is the union of the
paths each applied mutation touches (one mutation per top-level
attribute, so the paths never overlap). Nothing here calls the engine.

The typed variant (``typed=True``) stays inside the domain of
:data:`ITEM_SCHEMA`: no NULL values, no type flips, no out-of-range
numbers and no malformed records, because ``operators/typed_diff.py``
reads NULL as absent and a tag that does not match the declared type
as NULL.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import random
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import types as T

CLAIM_CHECK_THRESHOLD = 64 * 1024  # schemas.CLAIM_CHECK_THRESHOLD
DOC_CHARS = 40_000  # a MODIFY of a large item (two images) exceeds the threshold
LARGE_MODIFIES = 8

_TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
_CITIES = ["nyc", "sf", "zürich", "東京", "", "são paulo", "oslo"]
_WORDS = ["alpha", "beta", "gamma", "δέλτα", "epsilon", "", "ζ", "eta"]

# Declared schema of the typed workload: every attribute the in-domain
# generator can emit, with the set attributes tagged for canonical
# (sorted) comparison.
ITEM_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("count", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("active", T.BooleanType()),
        T.StructField(
            "address",
            T.StructType(
                [
                    T.StructField("city", T.StringType()),
                    T.StructField("zip", T.StringType()),
                    T.StructField("unit", T.StringType()),
                    T.StructField(
                        "geo",
                        T.StructType(
                            [
                                T.StructField("lat", T.DoubleType()),
                                T.StructField("lon", T.DoubleType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "tags", T.ArrayType(T.StringType()), metadata={"dynamo_type": "SS"}
        ),
        T.StructField(
            "scores", T.ArrayType(T.DoubleType()), metadata={"dynamo_type": "NS"}
        ),
        T.StructField("history", T.ArrayType(T.StringType())),
        T.StructField("promo", T.StringType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("src", T.StringType()),
                    T.StructField("rev", T.LongType()),
                ]
            ),
        ),
        T.StructField("doc", T.StringType()),
    ]
)


@dataclass
class Expected:
    """What the engine must report for one generated record set."""

    records_in: int = 0
    by_operation: dict = field(default_factory=dict)
    events: int = 0
    events_by_operation: dict = field(default_factory=dict)
    noop_dropped: int = 0
    guard_dropped: int = 0
    malformed: int = 0
    claim_checked: int = 0  # events whose images are offloaded
    side_store_rows: int = 0  # every record at or over the threshold
    checksum: int = 0


def event_digest(event_id: str, paths) -> int:
    """One event's contribution to the order-insensitive checksum."""
    text = event_id + "\x1f" + "\x1e".join(sorted(paths))
    return int.from_bytes(
        hashlib.blake2b(text.encode(), digest_size=8).digest(), "big"
    )


def checksum(pairs) -> int:
    """Sum mod 2**64 of :func:`event_digest` over (event_id, paths)."""
    total = 0
    for event_id, paths in pairs:
        total = (total + event_digest(event_id, paths)) % (1 << 64)
    return total


# -- logical values ----------------------------------------------------------
# A node is (tag, payload): ("S", str), ("N", Decimal), ("BOOL", bool),
# ("NULL", None), ("SS", tuple[str]), ("NS", tuple[Decimal]),
# ("L", tuple[node]), ("M", dict[str, node]). Rendering picks a fresh
# spelling each time, so unchanged attributes still differ in bytes.


class _Renderer:
    def __init__(self, rng: random.Random, typed: bool):
        self.rng = rng
        self.typed = typed

    def number(self, d: Decimal, plain: bool) -> str:
        if plain:
            return str(d)
        rng = self.rng
        if d == d.to_integral_value():
            i = int(d)
            forms = [str(i), f"{i}.0"]
            if i == 0 and not self.typed:
                forms.append("-0")
            if i != 0 and i % 10 == 0:
                forms.append(f"{i // 10}e1")
        else:
            forms = [str(d), f"{d}0", f"{d.scaleb(-1)}e1"]
        return rng.choice(forms)

    def wire(self, node, plain_numbers: bool = False):
        tag, val = node
        if tag == "S":
            return {"S": val}
        if tag == "N":
            return {"N": self.number(val, plain_numbers)}
        if tag == "BOOL":
            return {"BOOL": val}
        if tag == "NULL":
            return {"NULL": True}
        if tag == "SS":
            members = list(val)
            self.rng.shuffle(members)
            return {"SS": members}
        if tag == "NS":
            members = [self.number(d, False) for d in val]
            self.rng.shuffle(members)
            return {"NS": members}
        if tag == "L":
            return {"L": [self.wire(v) for v in val]}
        if tag == "M":
            return {"M": self.image(val)}
        raise ValueError(tag)

    def image(self, item: dict) -> dict:
        keys = list(item)
        self.rng.shuffle(keys)
        # integral attributes declared LongType must stay plain on the
        # typed lane: a cast of "1e1" to bigint fails under ANSI mode
        plain = {"count", "rev"} if self.typed else set()
        return {k: self.wire(item[k], k in plain) for k in keys}


def _dec(rng: random.Random, lo: int, hi: int, places: int) -> Decimal:
    return Decimal(rng.randint(lo, hi)).scaleb(-places)


class _Generator:
    def __init__(self, seed: int, typed: bool):
        self.rng = random.Random(seed)
        self.typed = typed
        self.render = _Renderer(self.rng, typed)
        self.uniq = 0

    def _token(self, prefix: str) -> str:
        self.uniq += 1
        return f"{prefix}{self.uniq}"

    def new_item(self, large: bool) -> dict:
        rng = self.rng
        item = {
            "name": ("S", f"{rng.choice(_WORDS)}-{self._token('n')}"),
            "count": ("N", Decimal(rng.randint(0, 50) * 10)),
            "price": ("N", _dec(rng, 1, 99_999, 2)),
            "active": ("BOOL", rng.random() < 0.5),
            "address": ("M", {
                "city": ("S", rng.choice(_CITIES)),
                "zip": ("S", f"{rng.randint(0, 99_999):05d}"),
                "geo": ("M", {
                    "lat": ("N", _dec(rng, -9000, 9000, 2)),
                    "lon": ("N", _dec(rng, -18000, 18000, 2)),
                }),
            }),
            "tags": ("SS", tuple(self._token("t") for _ in range(3))),
            "scores": ("NS", tuple(sorted(
                {Decimal(rng.randint(0, 40) * 5).scaleb(-1) for _ in range(4)}
            ))),
            "history": ("L", tuple(("S", self._token("h")) for _ in range(2))),
        }
        if not self.typed:
            item["big"] = ("N", Decimal(rng.randint(10**24, 10**25 - 1)))
            item["code"] = ("S", str(rng.randint(0, 999)))
            item["note"] = ("NULL", None)
            item["history"] = ("L", (
                ("S", self._token("h")),
                ("N", Decimal(rng.randint(0, 9))),
                ("M", {"k": ("S", self._token("m"))}),
            ))
        if large:
            block = "".join(rng.choices("abcdefghijklmnopqrstuvwxyz ", k=1000))
            item["doc"] = ("S", (block * (DOC_CHARS // 1000 + 1))[:DOC_CHARS])
        return item

    # Each mutation changes one top-level attribute and returns the
    # paths the engine must report for it.
    def mutate(self, item: dict, attr: str) -> list[str]:
        rng = self.rng
        tag, val = item.get(attr, (None, None))
        if attr == "name":
            item[attr] = ("S", f"{rng.choice(_WORDS)}-{self._token('n')}")
        elif attr == "count":
            item[attr] = ("N", val + 10)
        elif attr == "price":
            item[attr] = ("N", val + _dec(rng, 1, 999, 2))
        elif attr == "active":
            item[attr] = ("BOOL", not val)
        elif attr == "big":
            item[attr] = ("N", val + 1)  # last-digit change, exact lane only
        elif attr == "code":  # type flip S <-> N, same digits
            item[attr] = ("N", Decimal(val)) if tag == "S" else ("S", str(val))
        elif attr == "note":  # NULL <-> S
            item[attr] = ("S", self._token("note")) if tag == "NULL" else ("NULL", None)
        elif attr == "address":
            addr = dict(val)
            kind = rng.choice(["city", "geo", "unit"])
            if kind == "city":
                addr["city"] = ("S", self._token("c"))
                item[attr] = ("M", addr)
                return ["address", "address.city"]
            if kind == "geo":
                geo = dict(addr["geo"][1])
                geo["lat"] = ("N", geo["lat"][1] + Decimal("0.25"))
                addr["geo"] = ("M", geo)
                item[attr] = ("M", addr)
                return ["address", "address.geo", "address.geo.lat"]
            if "unit" in addr:
                del addr["unit"]
            else:
                addr["unit"] = ("S", self._token("u"))
            item[attr] = ("M", addr)
            return ["address", "address.unit"]
        elif attr == "tags":
            members = list(val)
            if len(members) > 4 and rng.random() < 0.5:
                members.pop(rng.randrange(len(members)))
            else:
                members.append(self._token("t"))
            item[attr] = ("SS", tuple(members))
        elif attr == "scores":
            # members start below 21, so a token-derived one is new
            item[attr] = ("NS", val + (Decimal(1000 + self.uniq),))
            self.uniq += 1
        elif attr == "history":
            elems = list(val)[-4:]
            elems.append(("S", self._token("h")))
            item[attr] = ("L", tuple(elems))
        elif attr in ("promo", "meta"):  # optional: add or remove
            if attr in item:
                del item[attr]
            elif attr == "promo":
                item[attr] = ("S", self._token("p"))
            else:
                item[attr] = ("M", {"src": ("S", rng.choice(_WORDS)),
                                    "rev": ("N", Decimal(rng.randint(1, 99)))})
        else:
            raise ValueError(attr)
        return [attr]

    def mutable_attrs(self) -> list[str]:
        attrs = ["name", "count", "price", "active", "address", "tags",
                 "scores", "history", "promo", "meta"]
        if not self.typed:
            attrs += ["big", "code", "note"]
        return attrs

    def corrupt(self, text: str) -> str:
        rng = self.rng
        doc = json.loads(text)
        kind = rng.randrange(3)
        if kind == 0:
            return text[: len(text) // 2]  # truncated JSON
        victim = rng.choice(sorted(doc))
        doc[victim] = {"Q": "1"} if kind == 1 else {"S": "a", "N": "1"}
        return json.dumps(doc, ensure_ascii=False)


def _size(pk: str, sk: str, old: str | None, new: str | None) -> int:
    return sum(len(s.encode()) for s in (pk, sk, old or "", new or ""))


def generate(seed: int, n_records: int, *, typed: bool = False):
    """``(records, expected)`` for ``n_records`` CDC records.

    ``records`` are tuples in CDC_RECORD_SCHEMA column order; the
    stream position of a record is its index. About 10% of records are
    representation-only MODIFYs; 2% belong to items with a large
    document, whose MODIFYs exceed the claim-check threshold; 0.5% are
    malformed (dynamic variant only) and 0.3% fail the null guards.
    """
    g = _Generator(seed, typed)
    rng = g.rng
    exp = Expected()
    records: list[tuple] = []
    active: list[dict] = []  # live items: {pk, sk, item, wire, left}
    large = None  # the live large item
    next_item = 0

    def emit(event_id, op, pk, sk, old, new, cls, paths=()):
        seq = len(records)
        ts = _TS0 + datetime.timedelta(seconds=seq)
        size = _size(pk, sk, old, new)
        records.append((event_id, seq, ts, op, pk, sk, old, new, size))
        exp.records_in += 1
        exp.by_operation[str(op)] = exp.by_operation.get(str(op), 0) + 1
        if size >= CLAIM_CHECK_THRESHOLD:
            exp.side_store_rows += 1
        if cls == "event":
            exp.events += 1
            exp.events_by_operation[op] = exp.events_by_operation.get(op, 0) + 1
            exp.checksum = (exp.checksum + event_digest(event_id, paths)) % (1 << 64)
            if size >= CLAIM_CHECK_THRESHOLD:
                exp.claim_checked += 1
        elif cls == "noop":
            exp.noop_dropped += 1
        elif cls == "guard":
            exp.guard_dropped += 1
        else:
            exp.malformed += 1

    def dumps(image: dict) -> str:
        return json.dumps(image, ensure_ascii=False)

    while len(records) < n_records:
        eid = f"ev-{seed}-{len(records):07d}"
        # Class shares are fixed by position, not drawn, so that every
        # seed gives the same mix and only the contents vary.
        if len(records) % 331 == 330:
            kind = rng.randrange(3)
            pk, sk = f"GUARD#{len(records)}", "X"
            img = dumps({"name": {"S": "guard"}})
            if kind == 0:
                emit(None, "MODIFY", pk, sk, img, img, "guard")
            elif kind == 1:
                emit(eid, None, pk, sk, img, img, "guard")
            else:
                emit(eid, "MODIFY", pk, sk, None, None, "guard")
            continue
        def new_state(large: bool) -> dict:
            nonlocal next_item
            next_item += 1
            return {
                "pk": f"ITEM#{seed}-{next_item:06d}",
                "sk": rng.choice(["PROFILE", "ORDER", "STATE"]),
                "item": g.new_item(large),
                "wire": None,
                # MODIFYs before the REMOVE
                "left": LARGE_MODIFIES if large else rng.randint(3, 14),
            }

        # Every 50th record comes from the one live large item, so 2% of
        # records carry its document.
        large_turn = len(records) % 50 == 25
        if large_turn:
            large = large or new_state(True)
            st = large
        else:
            while len(active) < 64:
                active.append(new_state(False))
            slot = rng.randrange(len(active))
            st = active[slot]
        pk, sk, item = st["pk"], st["sk"], st["item"]
        malformed = not typed and len(records) % 199 == 100
        if st["wire"] is None:
            op, old, paths = "INSERT", None, list(item)
        elif st["left"] == 0:
            op, old, paths = "REMOVE", st["wire"], list(item)
        else:
            op, old = "MODIFY", st["wire"]
            paths = []
            if rng.random() >= 0.13:
                attrs = g.mutable_attrs()
                for attr in rng.sample(attrs, rng.randint(1, 3)):
                    paths += g.mutate(item, attr)
            st["left"] -= 1
        new = dumps(g.render.image(item)) if op != "REMOVE" else None
        st["wire"] = new
        if op == "REMOVE":
            if large_turn:
                large = None
            else:
                active.pop(slot)
        if malformed:
            if new is not None:
                new = g.corrupt(new)
            else:
                old = g.corrupt(old)
            emit(eid, op, pk, sk, old, new, "malformed")
        else:
            emit(eid, op, pk, sk, old, new, "event" if paths else "noop", paths)
    return records, exp


def to_json_lines(records, **extra) -> bytes:
    """JSON-lines encoding of ``records`` in CDC_RECORD_SCHEMA order, the
    shape the engine's stream source reads; ``extra`` fields are added
    to every line."""
    names = ("event_id", "seq", "ts", "operation", "pk", "sk",
             "old_image", "new_image", "size_bytes")
    out = []
    for rec in records:
        row = dict(zip(names, rec))
        row["ts"] = rec[2].strftime("%Y-%m-%dT%H:%M:%SZ")
        row.update(extra)
        out.append(json.dumps(row, ensure_ascii=False))
    return ("\n".join(out) + "\n").encode()
