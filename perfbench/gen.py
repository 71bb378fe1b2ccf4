"""Seeded input generator for the backfill workloads.

Pure Python + numpy in one process; it never touches Spark.  For a seed it
writes the wire JSONL the ``run`` stage consumes (one change per line, lines
in block order, ``block_num`` as the last member), the GraphQL schema, and
``expected.json``: the event count, the stop block, per entity the count
and a digest of the version rows (id and block range) from a sequential
replay of the reference state machine (ref csvprocessor/processor.go:237-307)
and, when a chain id is set, a digest of the ``poi2$`` rows (block range and
digest) from a scalar ``stablehash.poi.ProofOfIndexing`` chain.

Sizes are fixed per workload, so every seed produces the same number of
events, ids, versions and bundles; the seed moves ids, blocks and values.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os

import numpy as np

OP_CREATE, OP_UPDATE, OP_DELETE = 1, 2, 3

BUNDLE_SIZE = 1000

MUTABLE_SDL = """
type Position @entity {
  id: ID!
  owner: String!
  qty: BigInt!
  price: BigDecimal!
  payload: Bytes!
  active: Boolean!
  txCount: Int!
  tags: [String!]
  note: String
}
"""

# graph-node-shaped index set for backfill_mutable: the protected GiST whose
# name carries ``block_range_excl`` plus one btree per attribute
MUTABLE_INDEXES = [
    'CREATE INDEX position_block_range_excl ON "{s}"."position" '
    "USING gist (id, block_range)",
    'CREATE INDEX attr_0_owner ON "{s}"."position" USING btree (owner)',
    'CREATE INDEX attr_1_qty ON "{s}"."position" USING btree (qty)',
    'CREATE INDEX attr_2_price ON "{s}"."position" USING btree (price)',
    'CREATE INDEX attr_3_payload ON "{s}"."position" USING btree (payload)',
    'CREATE INDEX attr_4_active ON "{s}"."position" USING btree (active)',
    'CREATE INDEX attr_5_tx_count ON "{s}"."position" USING btree (tx_count)',
    'CREATE INDEX attr_6_tags ON "{s}"."position" USING gin (tags)',
    'CREATE INDEX attr_7_note ON "{s}"."position" USING btree (note)',
]

WIDE_IMMUTABLE = ["Transfer", "Swap", "Mint", "Burn", "Approval", "Sync"]
WIDE_MUTABLE = ["Pool", "Token"]

WIDE_SDL = "".join(
    f"""
type {name} @entity(immutable: true) {{
  id: ID!
  sender: String!
  amount: BigInt!
  logIndex: Int!
}}
"""
    for name in WIDE_IMMUTABLE
) + "".join(
    f"""
type {name} @entity {{
  id: ID!
  owner: String!
  balance: BigDecimal!
  active: Boolean!
}}
"""
    for name in WIDE_MUTABLE
)

# owner strings exercise CSV quoting (comma, double quote, apostrophe); tags
# exercise array-element escaping of ``,`` and ``\\`` -- a ``"`` inside an
# element would make the array literal malformed (the renderer escapes only
# those two, like the reference's writer.go:188-203)
_OWNERS = ["alice", "bob", "o'brien", 'say "hi"', "x,y", "carol", "dave", "erin"]
_TAGS = ["red", "green", "blue", "a,b", "back\\slash", "long-tag-name"]


def _typed(value) -> dict:
    return {"Typed": value}


def _field(name: str, typed: dict) -> dict:
    return {"name": name, "new_value": {"Typed": typed}}


def _line(entity: str, id_: str, op: int, fields: list[dict], block: int) -> str:
    return json.dumps(
        {
            "entity_change": {
                "entity": entity,
                "id": id_,
                "operation": op,
                "fields": fields,
            },
            "block_num": int(block),
        }
    )


def _position_value(rng: np.random.Generator, name: str) -> dict:
    if name == "owner":
        return {"String_": _OWNERS[int(rng.integers(len(_OWNERS)))]}
    if name == "qty":
        # up to ~1e24: wider than int64, so BigInt rendering is exercised
        hi, lo = rng.integers(0, 10**6), rng.integers(0, 10**18)
        return {"Bigint": str(int(hi) * 10**18 + int(lo))}
    if name == "price":
        sign = "-" if rng.random() < 0.1 else ""
        return {"Bigdecimal": f"{sign}{int(rng.integers(0, 10**6))}.{int(rng.integers(0, 10**4)):04d}"}
    if name == "payload":
        raw = rng.integers(0, 256, int(rng.integers(1, 17)), dtype=np.uint8).tobytes()
        return {"Bytes": base64.b64encode(raw).decode()}
    if name == "active":
        return {"Boolean": bool(rng.random() < 0.5)}
    if name == "txCount":
        return {"Int32": int(rng.integers(-(2**31), 2**31))}
    if name == "tags":
        k = int(rng.integers(0, 4))
        return {"Array": {"value": [
            _typed({"String_": _TAGS[int(rng.integers(len(_TAGS)))]}) for _ in range(k)
        ]}}
    if name == "note":
        return {"String_": f"note {int(rng.integers(0, 10**6))}"}
    raise KeyError(name)


_POSITION_REQUIRED = ["owner", "qty", "price", "payload", "active", "txCount", "tags"]
_POSITION_UPDATABLE = _POSITION_REQUIRED + ["note"]


def _events_mutable(rng: np.random.Generator, n_ids: int, stop_block: int):
    """Every id: CREATE, then 2-3 partial UPDATEs, 15% then DELETEd; each
    id's events sit on strictly increasing blocks."""
    n_updates = np.full(n_ids, 2)
    n_updates[rng.permutation(n_ids)[: n_ids // 2]] = 3
    deleted = np.zeros(n_ids, dtype=bool)
    deleted[rng.permutation(n_ids)[: round(n_ids * 0.15)]] = True
    n_steps = 1 + n_updates + deleted
    gaps = rng.integers(1, max(2, stop_block // 16), size=(n_ids, 4))
    span = gaps.sum(axis=1)
    first = (rng.random(n_ids) * (stop_block - span - 1)).astype(np.int64)
    events = []  # (block, tiebreak, entity, id, op, fields)
    tiebreak = rng.random(int(n_steps.sum()))
    t = 0
    for i in range(n_ids):
        id_ = f"0x{i:06x}{int(rng.integers(0, 2**32)):08x}"
        block = int(first[i])
        fields = [_field(n, _position_value(rng, n)) for n in _POSITION_REQUIRED]
        if rng.random() < 0.5:
            fields.append(_field("note", _position_value(rng, "note")))
        events.append((block, tiebreak[t], "Position", id_, OP_CREATE, fields))
        t += 1
        for u in range(int(n_updates[i])):
            block += int(gaps[i, u])
            names = rng.choice(_POSITION_UPDATABLE, size=int(rng.integers(1, 4)), replace=False)
            fields = [_field(str(n), _position_value(rng, str(n))) for n in names]
            events.append((block, tiebreak[t], "Position", id_, OP_UPDATE, fields))
            t += 1
        if deleted[i]:
            block += int(gaps[i, 3])
            events.append((block, tiebreak[t], "Position", id_, OP_DELETE, []))
            t += 1
    return events


def _events_wide(rng: np.random.Generator, n_events: int, stop_block: int):
    """Six immutable entities take the bulk; two mutable ones get creates and
    rare (10%) single-field updates."""
    events = []
    n_mut_ids = n_events // 20  # per mutable entity
    n_imm = n_events - len(WIDE_MUTABLE) * (n_mut_ids + n_mut_ids // 10)
    tiebreak = iter(rng.random(n_events))
    per_imm = np.bincount(rng.integers(0, len(WIDE_IMMUTABLE), n_imm), minlength=len(WIDE_IMMUTABLE))
    for name, n in zip(WIDE_IMMUTABLE, per_imm):
        blocks = rng.integers(0, stop_block, int(n))
        amounts = rng.integers(0, 10**12, int(n))
        for j in range(int(n)):
            fields = [
                _field("sender", {"String_": _OWNERS[j % len(_OWNERS)]}),
                _field("amount", {"Bigint": str(int(amounts[j]))}),
                _field("logIndex", {"Int32": j % 512}),
            ]
            events.append((int(blocks[j]), next(tiebreak), name, f"{name[:2].lower()}-{j}", OP_CREATE, fields))
    for name in WIDE_MUTABLE:
        created = rng.integers(0, stop_block - stop_block // 4, n_mut_ids)
        for j in range(n_mut_ids):
            fields = [
                _field("owner", {"String_": _OWNERS[j % len(_OWNERS)]}),
                _field("balance", {"Bigdecimal": f"{int(rng.integers(0, 10**6))}.{j % 100:02d}"}),
                _field("active", {"Boolean": bool(j % 3)}),
            ]
            events.append((int(created[j]), next(tiebreak), name, f"{name.lower()}-{j}", OP_CREATE, fields))
        for j in rng.permutation(n_mut_ids)[: n_mut_ids // 10]:
            block = int(created[j]) + int(rng.integers(1, stop_block // 4))
            fields = [_field("active", {"Boolean": bool(rng.random() < 0.5)})]
            events.append((block, next(tiebreak), name, f"{name.lower()}-{j}", OP_UPDATE, fields))
    return events


def replay_versions(events) -> dict[str, list[tuple[str, str, str]]]:
    """Version rows per entity, as (id, first block, end block or "" while
    open), from a sequential replay of the reference state machine:
    CREATE/UPDATE on a live id closes its version and opens a new one,
    DELETE closes it, and every still-open version is flushed at the end of
    the log.  Immutable entities write one row per CREATE."""
    state: dict[tuple[str, str], int] = {}
    out: dict[str, list] = {}
    for block, _, entity, id_, op, _fields in events:
        key = (entity, id_)
        if op in (OP_CREATE, OP_UPDATE):
            if key in state:
                out.setdefault(entity, []).append((id_, str(state[key]), str(block)))
            state[key] = block
        elif op == OP_DELETE and key in state:
            out.setdefault(entity, []).append((id_, str(state.pop(key)), str(block)))
    for (entity, id_), lo in state.items():
        out.setdefault(entity, []).append((id_, str(lo), ""))
    return out


def rows_digest(rows) -> str:
    """Order-free digest of rows given as tuples of strings."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(("\t".join(row) + "\n").encode())
    return h.hexdigest()


def scalar_poi_rows(events) -> list[tuple[str, str, str]]:
    """``poi2$`` rows, as (first block, end block or "" for the open one,
    digest hex), of the reference-shaped sequential POI chain: one
    ``ProofOfIndexing`` per block over its events in wire order,
    ``pause(prev)`` chaining (ref sinker/sinker.go:232-269); each block's
    digest holds until the next block with events."""
    from substreams_sink_graph_load_spark.stablehash.poi import ProofOfIndexing

    prev = None
    chain = []
    i = 0
    while i < len(events):
        block = events[i][0]
        poi = ProofOfIndexing(block)
        while i < len(events) and events[i][0] == block:
            _, _, entity, id_, op, fields = events[i]
            if op == OP_DELETE:
                poi.remove_entity(entity, id_)
            else:
                poi.set_entity(entity, id_, fields)
            i += 1
        prev = poi.pause(prev)
        chain.append((block, prev.hex()))
    ends = [str(b) for b, _ in chain[1:]] + [""]
    return [(str(b), end, d) for (b, d), end in zip(chain, ends)]


def generate(kind: str, seed: int, out_dir: str, size: dict) -> dict:
    """Write ``wire.jsonl``, ``schema.graphql`` and ``expected.json`` for a
    backfill workload into ``out_dir``; return the expected record."""
    rng = np.random.default_rng(seed)
    stop_block = size["bundles"] * BUNDLE_SIZE
    if kind == "mutable":
        events = _events_mutable(rng, size["ids"], stop_block)
        sdl, chain_id = MUTABLE_SDL, "perfbench-chain"
    else:
        events = _events_wide(rng, size["events"], stop_block)
        sdl, chain_id = WIDE_SDL, None
    events.sort(key=lambda e: (e[0], e[1]))
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "wire.jsonl"), "w") as fh:
        for block, _, entity, id_, op, fields in events:
            fh.write(_line(entity, id_, op, fields, block) + "\n")
    with open(os.path.join(out_dir, "schema.graphql"), "w") as fh:
        fh.write(sdl)
    from substreams_sink_graph_load_spark.schema.normalize import normalize_field

    versions = replay_versions(events)
    expected = {
        "events": len(events),
        "stop_block": stop_block,
        "bundle_size": BUNDLE_SIZE,
        "chain_id": chain_id,
        "versions": {normalize_field(e): len(rows) for e, rows in versions.items()},
        "version_digests": {normalize_field(e): rows_digest(rows) for e, rows in versions.items()},
        "poi_digest": rows_digest(scalar_poi_rows(events)) if chain_id else None,
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
    return expected
