"""gRPC `logs.v1.LogService/BatchWrite` messages and handler (SURVEY.md §2.11).

Reference wire surface: proto/log.proto:6-21 (LogEntry with string ts,
map<string,string> attrs; BatchWriteRequest{entries}; BatchWriteResponse
{written}) served by internal/service/service.go:21-47, which parses ts
with the RFC3339Nano -> RFC3339 -> now() fallback, enqueues, and replies
with the ACCEPTED count before anything is persisted.

This module reproduces that surface without generated code or external
dependencies:

- a hand-written protobuf WIRE CODEC for exactly these three messages
  (proto3 encoding is varint tags + length-delimited fields; the map
  field is the standard repeated {1:key, 2:value} entry message);
- `LogServiceHandler`: transport-agnostic bytes->bytes BatchWrite that
  delegates to any submit callable (`LogsTable.ingest_batch` for the
  synchronous path, `IngestStream.submit_many` for the micro-batched
  path — both return the accepted count, matching service.go:45-46).
  The ts fallback itself lives in the normalize step
  (functions/timeparse.py), exactly where the reference parses it at
  the service boundary;
- `METHOD_PATH`, the HTTP/2 :path the handler is served on.

The transport is native `application/grpc` over h2c
(api/http2_transport.py), as in the reference (cmd/server/main.go:74-88).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

# ---------------------------------------------------------------------------
# protobuf wire codec (proto3) for log.proto's three messages
# ---------------------------------------------------------------------------

_WT_VARINT = 0
_WT_LEN = 2


def _encode_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _tag(field_no: int, wire_type: int) -> bytes:
    return _encode_varint((field_no << 3) | wire_type)


def _len_field(field_no: int, payload: bytes) -> bytes:
    return _tag(field_no, _WT_LEN) + _encode_varint(len(payload)) + payload


def _str_field(field_no: int, s: str | None) -> bytes:
    # proto3 default-value elision: empty strings are not serialized
    if not s:
        return b""
    return _len_field(field_no, s.encode("utf-8"))


def encode_log_entry(entry: Mapping) -> bytes:
    """LogEntry (proto/log.proto:6-14). attrs is the canonical proto3
    map encoding: repeated entry messages {1: key, 2: value}."""
    out = bytearray()
    out += _str_field(1, entry.get("ts"))
    out += _str_field(2, entry.get("service"))
    out += _str_field(3, entry.get("level"))
    out += _str_field(4, entry.get("msg"))
    for k, v in (entry.get("attrs") or {}).items():
        out += _len_field(5, _str_field(1, k) + _str_field(2, v))
    out += _str_field(6, entry.get("trace_id"))
    out += _str_field(7, entry.get("span_id"))
    return bytes(out)


def _skip_field(buf: bytes, pos: int, wire_type: int) -> int:
    if wire_type == _WT_VARINT:
        _, pos = _decode_varint(buf, pos)
    elif wire_type == 1:  # fixed64
        pos += 8
    elif wire_type == _WT_LEN:
        ln, pos = _decode_varint(buf, pos)
        pos += ln
    elif wire_type == 5:  # fixed32
        pos += 4
    else:
        raise ValueError(f"unsupported wire type {wire_type}")
    return pos


# LogEntry string fields by their one-byte tag (field_no << 3 | LEN)
_ENTRY_STR_TAGS = {0x0A: "ts", 0x12: "service", 0x1A: "level", 0x22: "msg",
                   0x32: "trace_id", 0x3A: "span_id"}
_ATTRS_TAG = 0x2A  # field 5, LEN: one map entry {1: key, 2: value}


def _decode_log_entry(buf: bytes, pos: int, end: int) -> dict:
    """LogEntry in buf[pos:end]. BatchWrite decodes hundreds of these
    on the ack path, so one-byte varints (every tag here and every
    length under 128) are read inline instead of through
    _decode_varint."""
    entry = {
        "ts": "", "service": "", "level": "", "msg": "",
        "attrs": {}, "trace_id": "", "span_id": "",
    }
    attrs = entry["attrs"]
    while pos < end:
        key = buf[pos]
        if key < 0x80:
            pos += 1
        else:
            key, pos = _decode_varint(buf, pos)
        if key & 7 != _WT_LEN:
            pos = _skip_field(buf, pos, key & 7)
            continue
        ln = buf[pos]
        if ln < 0x80:
            pos += 1
        else:
            ln, pos = _decode_varint(buf, pos)
        stop = pos + ln
        if stop > end:  # a malformed length never reads the next entry
            stop = end
        name = _ENTRY_STR_TAGS.get(key)
        if name is not None:
            entry[name] = buf[pos:stop].decode("utf-8")
        elif key == _ATTRS_TAG:
            k, v = "", ""
            while pos < stop:
                mkey = buf[pos]
                if mkey < 0x80:
                    pos += 1
                else:
                    mkey, pos = _decode_varint(buf, pos)
                mln = buf[pos]
                if mln < 0x80:
                    pos += 1
                else:
                    mln, pos = _decode_varint(buf, pos)
                s = buf[pos:min(pos + mln, stop)].decode("utf-8")
                pos += mln
                if mkey >> 3 == 1:
                    k = s
                else:
                    v = s
            attrs[k] = v
        pos = stop
    return entry


def encode_batch_write_request(entries: list[Mapping]) -> bytes:
    return b"".join(_len_field(1, encode_log_entry(e)) for e in entries)


def decode_batch_write_request(buf: bytes) -> list[dict]:
    entries = []
    pos, end = 0, len(buf)
    while pos < end:
        key, pos = _decode_varint(buf, pos)
        if key >> 3 == 1 and key & 7 == _WT_LEN:
            ln, pos = _decode_varint(buf, pos)
            entries.append(_decode_log_entry(buf, pos, pos + ln))
            pos += ln
        else:
            pos = _skip_field(buf, pos, key & 7)
    if pos > end:  # a truncated request is rejected, not half-submitted
        raise ValueError("field runs past the end of the request")
    return entries


def encode_batch_write_response(written: int) -> bytes:
    if written == 0:
        return b""  # proto3 default elision
    return _tag(1, _WT_VARINT) + _encode_varint(written)


def decode_batch_write_response(buf: bytes) -> int:
    pos = 0
    while pos < len(buf):
        key, pos = _decode_varint(buf, pos)
        if key >> 3 == 1 and key & 7 == _WT_VARINT:
            val, pos = _decode_varint(buf, pos)
            return val
        pos = _skip_field(buf, pos, key & 7)
    return 0


# ---------------------------------------------------------------------------
# service handler (transport-agnostic)
# ---------------------------------------------------------------------------

METHOD_PATH = "/logs.v1.LogService/BatchWrite"  # log.proto:19-21


class LogServiceHandler:
    """BatchWrite semantics over any submit callable.

    submit: (rows) -> accepted count. Use LogsTable.ingest_batch for
    the write-through path or IngestStream.submit_many for the
    micro-batched path; both reply with the ACCEPTED count before
    persistence (service.go:45-46 contract). The RFC3339[Nano]->now()
    ts fallback (service.go:27-34) is applied by normalize_ingest in
    the write path, so malformed timestamps pass through here intact.
    """

    def __init__(self, submit: Callable[[list[dict]], int]):
        self._submit = submit

    def batch_write(self, request_bytes: bytes) -> bytes:
        entries = decode_batch_write_request(request_bytes)
        written = self._submit(entries) if entries else 0
        return encode_batch_write_response(written)


# ---------------------------------------------------------------------------
# round-trip sanity hook (used by tests; keeps the codec honest against
# a reference vector captured from protobuf's canonical encoder)
# ---------------------------------------------------------------------------

def canonical_example() -> tuple[list[dict], bytes]:
    """The README.md:83-85 canonical row as a wire-level test vector.
    The byte string was hand-assembled per the proto3 spec (field
    tags in ascending order, map entry as {1,2} submessage)."""
    entries = [
        {
            "ts": "2025-09-01T20:05:00Z",
            "service": "orders",
            "level": "WARN",
            "msg": "order pending",
            "attrs": {"user": "jane.smith"},
            "trace_id": "trace-124",
            "span_id": "span-458",
        }
    ]
    return entries, encode_batch_write_request(entries)

