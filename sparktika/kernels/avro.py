"""Avro object-container kernel — metadata-first, from scratch.

Data-lake crawls are full of ``.avro`` container files; Tika 1.20 has
no Avro parser, so this goes beyond reference parity (the CAB/XPS
posture) using only the PUBLIC Apache Avro 1.x specification
("Object Container Files"):

- magic ``Obj\\x01``;
- file metadata as an Avro map: zigzag-varint block count (a negative
  count is followed by a byte size), then (string key, bytes value)
  pairs, a zero count ends the map — keys ``avro.schema`` (JSON) and
  ``avro.codec``;
- a 16-byte sync marker, then data blocks: varint record count,
  varint byte size, payload, sync marker (verified — a mismatch stops
  the walk at the last good block).

Record payloads are NEVER decoded — the kernel reports the schema and
exact record/block counts from the framing alone, which is what a
corpus inventory needs and is O(blocks) regardless of codec.

Text contract (extract_avro_meta oracle): ``record {name}`` then one
``field {name} : {type}`` line per top-level field (union types join
with ``|``); non-record schemas render one ``schema {type}`` line.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from .errors import KernelError, check_deadline

_MAGIC = b"Obj\x01"
_MAX_META_PAIRS = 256
_MAX_BLOCKS = 1_000_000
_MAX_SCHEMA_BYTES = 1 << 20


def is_avro(data: bytes) -> bool:
    return len(data) >= 4 + 16 + 2 and data.startswith(_MAGIC)


@dataclass
class AvroResult:
    schema_json: str
    codec: str
    n_records: int = 0
    n_blocks: int = 0
    truncated_tail: bool = False
    meta: dict[str, str] = field(default_factory=dict)

    def render_text(self) -> str:
        lines: list[str] = []
        try:
            sch = json.loads(self.schema_json)
        except (ValueError, RecursionError):
            return "schema (unparsed)\n"

        def type_name(t) -> str:
            if isinstance(t, str):
                return t
            if isinstance(t, list):
                return "|".join(type_name(x) for x in t[:8])
            if isinstance(t, dict):
                tt = t.get("type", "?")
                if tt in ("record", "enum", "fixed"):
                    return str(t.get("name", tt))
                if tt == "array":
                    return f"array<{type_name(t.get('items', '?'))}>"
                if tt == "map":
                    return f"map<{type_name(t.get('values', '?'))}>"
                return str(tt)
            return "?"

        if isinstance(sch, dict) and sch.get("type") == "record":
            lines.append(f"record {sch.get('name', '?')}")
            for f in sch.get("fields", [])[:512]:
                if isinstance(f, dict):
                    lines.append(f"field {f.get('name', '?')} : "
                                 f"{type_name(f.get('type', '?'))}")
        else:
            lines.append(f"schema {type_name(sch)}")
        return "".join(ln + "\n" for ln in lines)


class _Reader:
    def __init__(self, data: bytes):
        self.d = data
        self.p = 4

    def varint(self) -> int:
        """Avro zigzag-encoded long."""
        shift = 0
        acc = 0
        while True:
            if self.p >= len(self.d):
                raise KernelError("avro: truncated varint")
            b = self.d[self.p]
            self.p += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 63:
                raise KernelError("avro: varint too long")
        return (acc >> 1) ^ -(acc & 1)

    def take(self, n: int) -> bytes:
        if n < 0 or self.p + n > len(self.d):
            raise KernelError("avro: read past EOF")
        b = self.d[self.p:self.p + n]
        self.p += n
        return b


def parse_avro(data: bytes, deadline: float | None = None) -> AvroResult:
    if not is_avro(data):
        raise KernelError("avro: bad magic")
    r = _Reader(data)
    meta: dict[str, str] = {}
    pairs = 0
    while True:
        check_deadline(deadline, "avro metadata")
        count = r.varint()
        if count == 0:
            break
        if count < 0:
            r.varint()                 # byte size of the block: unused
            count = -count
        for _ in range(count):
            pairs += 1
            if pairs > _MAX_META_PAIRS:
                raise KernelError("avro: metadata pair cap")
            klen = r.varint()
            if klen < 0 or klen > _MAX_SCHEMA_BYTES:
                raise KernelError("avro: bad metadata key length")
            key = r.take(klen).decode("utf-8", "replace")
            vlen = r.varint()
            if vlen < 0 or vlen > _MAX_SCHEMA_BYTES:
                raise KernelError("avro: bad metadata value length")
            val = r.take(vlen)
            meta[key] = val.decode("utf-8", "replace")
    sync = r.take(16)
    res = AvroResult(schema_json=meta.get("avro.schema", ""),
                     codec=meta.get("avro.codec", "null"), meta=meta)
    while r.p < len(r.d):
        check_deadline(deadline, "avro block walk")
        res.n_blocks += 1
        if res.n_blocks > _MAX_BLOCKS:
            raise KernelError("avro: block cap")
        try:
            n = r.varint()
            size = r.varint()
            if n < 0 or size < 0:
                raise KernelError("avro: negative block framing")
            r.take(size)
            if r.take(16) != sync:
                raise KernelError("avro: sync marker mismatch")
        except KernelError:
            # truncated/corrupt tail: keep the good prefix's counts
            res.n_blocks -= 1
            res.truncated_tail = True
            break
        res.n_records += n
    return res


# -- builder (synth corpus + tests) --------------------------------------


def _zigzag(v: int) -> bytes:
    u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_string(s: str) -> bytes:
    b = s.encode()
    return _zigzag(len(b)) + b


def build_avro(schema: dict, rows: list[tuple[int, str]],
               rows_per_block: int = 2) -> bytes:
    """Valid null-codec container; rows are (long, string) records
    binary-encoded per the spec."""
    sync = bytes(range(16))
    schema_b = json.dumps(schema, separators=(",", ":")).encode()
    out = bytearray(_MAGIC)
    out += _zigzag(2)
    out += _avro_string("avro.schema") + _zigzag(len(schema_b)) + schema_b
    out += _avro_string("avro.codec") + _zigzag(4) + b"null"
    out += _zigzag(0)
    out += sync
    for i in range(0, len(rows), rows_per_block):
        block = rows[i:i + rows_per_block]
        payload = b"".join(_zigzag(n) + _avro_string(s) for n, s in block)
        out += _zigzag(len(block)) + _zigzag(len(payload)) + payload + sync
    return bytes(out)
