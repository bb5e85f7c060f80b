"""BitTorrent metainfo (.torrent) kernel — from scratch.

Crawls surface .torrent files constantly; Tika 1.20 has no bencode
parser (beyond-parity, the CAB/XPS posture). Built from the PUBLIC
bencode grammar (BEP-3): ``i<int>e`` integers, ``<len>:<bytes>``
strings, ``l...e`` lists, ``d...e`` dicts (keys are byte strings in
sorted order). Metainfo keys read here: ``announce``,
``announce-list``, ``comment``, ``created by``, ``creation date``,
``info`` (``name``, ``piece length``, single-file ``length`` or
multi-file ``files`` [{``length``, ``path``}]). The ``pieces`` hash
blob is measured, never decoded.

Text contract (extract_torrent_meta oracle): ``name`` line, one
``file {path} ({length} bytes)`` line per file in list order (single-
file torrents render their name), then ``announce {url}``. Bomb
posture: value-count + depth caps bound crafted nesting; every read
is bounds-checked; a torrent is rejected unless the top level is a
dict containing an ``info`` dict (consistency-gated detection — the
``d8:announce`` prefix is just ASCII).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .errors import KernelError, check_deadline


_MAX_VALUES = 100_000
_MAX_DEPTH = 32
_MAX_STR = 64 << 20


@dataclass
class TorrentResult:
    name: str | None = None
    announce: str | None = None
    comment: str | None = None
    created_by: str | None = None
    piece_length: int = 0
    pieces_bytes: int = 0
    files: list[tuple[str, int]] = field(default_factory=list)
    total_length: int = 0

    def render_text(self) -> str:
        lines: list[str] = []
        if self.name:
            lines.append(self.name)
        for path, ln in self.files[:1000]:
            lines.append(f"file {path} ({ln} bytes)")
        if self.announce:
            lines.append(f"announce {self.announce}")
        return "".join(ln + "\n" for ln in lines)


class _Bdecoder:
    def __init__(self, data: bytes, deadline: float | None):
        self.d = data
        self.p = 0
        self.deadline = deadline
        self.count = 0

    def value(self, depth: int = 0):
        self.count += 1
        if self.count > _MAX_VALUES:
            raise KernelError("torrent: value cap exceeded")
        if (self.count & 0x3FF) == 0:
            check_deadline(self.deadline, "bencode walk")
        if depth > _MAX_DEPTH:
            raise KernelError("torrent: nesting cap exceeded")
        if self.p >= len(self.d):
            raise KernelError("torrent: truncated value")
        c = self.d[self.p]
        if c == 0x69:                            # 'i'
            end = self.d.find(b"e", self.p + 1, self.p + 32)
            if end < 0:
                raise KernelError("torrent: unterminated integer")
            try:
                v = int(self.d[self.p + 1:end])
            except ValueError:
                raise KernelError("torrent: bad integer")
            self.p = end + 1
            return v
        if c == 0x6C:                            # 'l'
            self.p += 1
            out = []
            while self._peek() != 0x65:
                out.append(self.value(depth + 1))
            self.p += 1
            return out
        if c == 0x64:                            # 'd'
            self.p += 1
            out = {}
            while self._peek() != 0x65:
                k = self.value(depth + 1)
                if not isinstance(k, bytes):
                    raise KernelError("torrent: non-string dict key")
                out[k] = self.value(depth + 1)
            self.p += 1
            return out
        if 0x30 <= c <= 0x39:                    # string
            colon = self.d.find(b":", self.p, self.p + 20)
            if colon < 0:
                raise KernelError("torrent: unterminated string length")
            n = int(self.d[self.p:colon])
            if n < 0 or n > _MAX_STR or colon + 1 + n > len(self.d):
                raise KernelError("torrent: string past EOF")
            self.p = colon + 1 + n
            return self.d[colon + 1:self.p]
        raise KernelError(f"torrent: bad bencode byte {c:#x}")

    def _peek(self) -> int:
        if self.p >= len(self.d):
            raise KernelError("torrent: truncated container")
        return self.d[self.p]


def _text(v, limit: int = 2048) -> str | None:
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")[:limit]
    return None


def is_torrent(data: bytes) -> bool:
    """Consistency-gated: bencode dict at offset 0 whose top level
    holds an ``info`` dict (cheap scan of the head only refuses fast;
    the full decode happens in parse)."""
    if len(data) < 16 or data[0] != 0x64:
        return False
    head = data[:4096]
    return b"4:info" in head or b"8:announce" in head[:64]


def parse_torrent(data: bytes,
                  deadline: float | None = None) -> TorrentResult:
    if len(data) < 16 or data[0] != 0x64:
        raise KernelError("torrent: not a bencoded dict")
    dec = _Bdecoder(data, deadline)
    top = dec.value()
    if not isinstance(top, dict):
        raise KernelError("torrent: top level is not a dict")
    info = top.get(b"info")
    if not isinstance(info, dict):
        raise KernelError("torrent: no info dict (not a metainfo file)")
    res = TorrentResult(
        name=_text(info.get(b"name")),
        announce=_text(top.get(b"announce")),
        comment=_text(top.get(b"comment")),
        created_by=_text(top.get(b"created by")),
        piece_length=info.get(b"piece length", 0)
        if isinstance(info.get(b"piece length"), int) else 0,
        pieces_bytes=len(info.get(b"pieces", b""))
        if isinstance(info.get(b"pieces"), bytes) else 0)
    files = info.get(b"files")
    if isinstance(files, list):
        for f in files[:10_000]:
            if not isinstance(f, dict):
                continue
            path = f.get(b"path")
            parts = [p.decode("utf-8", "replace") for p in path
                     if isinstance(p, bytes)] if isinstance(path, list) \
                else []
            ln = f.get(b"length", 0)
            ln = ln if isinstance(ln, int) and ln >= 0 else 0
            res.files.append(("/".join(parts) or "?", ln))
            res.total_length += ln
    else:
        ln = info.get(b"length", 0)
        ln = ln if isinstance(ln, int) and ln >= 0 else 0
        if res.name:
            res.files.append((res.name, ln))
        res.total_length = ln
    return res


# -- builder (synth corpus + tests) --------------------------------------


def bencode(v) -> bytes:
    if isinstance(v, int):
        return b"i%de" % v
    if isinstance(v, bytes):
        return b"%d:%s" % (len(v), v)
    if isinstance(v, str):
        return bencode(v.encode())
    if isinstance(v, list):
        return b"l" + b"".join(bencode(x) for x in v) + b"e"
    if isinstance(v, dict):
        items = sorted((k if isinstance(k, bytes) else k.encode(), x)
                       for k, x in v.items())
        return b"d" + b"".join(bencode(k) + bencode(x)
                               for k, x in items) + b"e"
    raise ValueError(type(v))


def build_torrent(name: str, announce: str,
                  files: list[tuple[str, int]] | None = None,
                  length: int = 0) -> bytes:
    info = {"name": name, "piece length": 262144,
            "pieces": b"\x00" * 20}
    if files is None:
        info["length"] = length
    else:
        info["files"] = [{"length": ln, "path": p.split("/")}
                         for p, ln in files]
    return bencode({"announce": announce, "info": info,
                    "created by": "sparktika-synth"})
