"""The columnar BatchWrite decoder against the scalar spec.

`decode_batch_write_columns` reads only the canonical proto3 layout
and defers (returns None) on anything else; `decode_batch_write_request`
is the spec. A seeded fuzz corpus checks that whenever the kernel
answers, its table equals the spec's rows, and that the ack-path
decoder fails on exactly the bodies the spec fails on.
"""

from __future__ import annotations

import os
import random

import pytest

from clickhouse_observability_spark.api import grpc_transport as G
from clickhouse_observability_spark.schema import ingest_table

_ALPHABET = "abcXYZ09 -_/:.π✓€😀\x00"
_FIELDS = ("ts", "service", "level", "msg", "trace_id", "span_id")


def _text(rng: random.Random, long: bool = False) -> str:
    n = rng.choice((0, 1, 3, 10, 40)) if not long else rng.choice((127, 128, 200, 5000))
    return "".join(rng.choices(_ALPHABET, k=n))


def _entry(rng: random.Random, long: bool = False) -> dict:
    e = {f: _text(rng, long and rng.random() < 0.3) for f in _FIELDS}
    e["attrs"] = {_text(rng, long and rng.random() < 0.2): _text(rng, long and rng.random() < 0.2)
                  for _ in range(rng.choice((0, 1, 2, 3)))}
    return e


def _ld(field_no: int, payload: bytes) -> bytes:
    return G._len_field(field_no, payload)


def _s(field_no: int, value: bytes) -> bytes:
    return _ld(field_no, value) if value else b""


def _raw_entry(fields: list[tuple[int, bytes]]) -> bytes:
    return _ld(1, b"".join(_ld(f, v) for f, v in fields))


def _valid(rng):
    return G.encode_batch_write_request([_entry(rng) for _ in range(rng.randrange(0, 6))])


def _multibyte(rng):
    # lengths of 128..16383 take two bytes; 16384+ takes three (deferred);
    # a non-minimal two-byte length (0x85 0x00 = 5) decodes the same
    entries = [_entry(rng, long=True) for _ in range(rng.randrange(1, 4))]
    body = G.encode_batch_write_request(entries)
    if rng.random() < 0.3:
        inner = G.encode_log_entry({"msg": "hello"})
        body += b"\x0a" + bytes([0x80 | len(inner), 0x00]) + inner
    if rng.random() < 0.1:
        body += _raw_entry([(4, b"m" * 17000)])
    return body


def _unknown_fields(rng):
    inner = G.encode_log_entry(_entry(rng))
    extra = rng.choice((
        b"\x40\x07",                      # field 8 varint
        b"\x45\x01\x02\x03\x04",          # field 8 fixed32
        b"\x41" + b"\x01" * 8,            # field 8 fixed64
        _ld(9, b"unknown"),               # field 9 LEN
        _ld(0, b"zero"),                  # field 0
        b"\x20\x01",                      # field 4 (msg) as a varint
        b"\x80\x01\x02",                  # two-byte tag, field 16 LEN-less
        b"\x92\x01\x01x",                 # two-byte tag for field 18 LEN
        b"\x0b",                          # wire type 3
    ))
    at = rng.randrange(0, 3)
    if at == 0:  # inside the entry
        cut = rng.choice([0, len(inner)])
        inner = inner[:cut] + extra + inner[cut:]
        return _ld(1, inner) + _valid(rng)
    if at == 1:  # at the top level
        return _valid(rng) + extra + _ld(1, inner)
    return _ld(1, inner) + extra


def _odd_attrs(rng):
    k, v = _text(rng).encode(), _text(rng).encode()
    payload = rng.choice((
        _s(2, v) + _s(1, k),                      # value before key
        _ld(1, k) + _ld(1, b"k2") + _s(2, v),     # key twice
        _ld(1, k) + _ld(2, v) + _ld(2, b"v2"),    # value twice
        _ld(2, v),                                # value only
        _ld(1, k),                                # key only
        b"",                                      # empty map entry
        b"\x08\x01",                              # varint field 1
        _ld(1, k) + _ld(3, b"x") + _ld(2, v),     # unknown map field
        _ld(1, k) + b"\x12\x09" + v[:2],          # value past the entry
    ))
    fields = [(4, b"m")] + [(5, payload)]
    if rng.random() < 0.5:
        fields.append((5, _ld(1, b"dup") + _ld(2, b"a")))
        fields.append((5, _ld(1, b"dup") + _ld(2, b"b")))  # duplicate key
    rng.shuffle(fields)
    return _valid(rng) + _raw_entry(fields)


def _dup_fields(rng):
    f = rng.choice((1, 2, 3, 4, 6, 7))
    fields = [(f, b"first"), (4, b"m"), (f, b"second")]
    if rng.random() < 0.5:
        fields = [(7, b"s"), (1, b"t"), (4, b"m")]  # out of order, no repeat
    return _raw_entry(fields) + _valid(rng)


_BAD_UTF8 = (b"\xff", b"\xc0\x80", b"\xed\xa0\x80", b"\xf4\x90\x80\x80",
             b"ab\xe2\x82", b"\x80", b"\xf8\x88\x80\x80\x80")


def _invalid_utf8(rng):
    bad = rng.choice(_BAD_UTF8)
    where = rng.choice(("field", "key", "value"))
    if where == "field":
        fields = [(rng.choice((1, 2, 3, 4, 6, 7)), bad)]
    elif where == "key":
        fields = [(5, _ld(1, bad) + _ld(2, b"v"))]
    else:
        fields = [(5, _ld(1, b"k") + _ld(2, bad))]
    return _valid(rng) + _raw_entry(fields) + _valid(rng)


def _mutated(rng):
    body = bytearray(_valid(rng) or b"\x0a\x00")
    for _ in range(rng.randrange(1, 4)):
        i = rng.randrange(len(body))
        body[i] = rng.choice((rng.randrange(256), body[i] ^ (1 << rng.randrange(8))))
    return bytes(body)


def _truncated(rng):
    body = _valid(rng) or G.canonical_example()[1]
    return body[:rng.randrange(len(body))]


_KINDS = {
    "valid": _valid, "multibyte": _multibyte, "unknown_fields": _unknown_fields,
    "odd_attrs": _odd_attrs, "dup_fields": _dup_fields,
    "invalid_utf8": _invalid_utf8, "mutated": _mutated, "truncated": _truncated,
}


def _spec(body: bytes):
    try:
        return G.decode_batch_write_request(body), None
    except Exception as exc:  # noqa: BLE001 - any failure is a rejection
        return None, exc


def test_kernel_matches_spec_on_fuzz_corpus():
    rng = random.Random(20251020)
    stats = {k: {"n": 0, "kernel": 0, "spec_fails": 0} for k in _KINDS}
    for i in range(12_000):
        kind = list(_KINDS)[i % len(_KINDS)]
        body = _KINDS[kind](rng)
        rows, err = _spec(body)
        table = G.decode_batch_write_columns(body)
        s = stats[kind]
        s["n"] += 1
        s["spec_fails"] += err is not None
        if table is not None:
            s["kernel"] += 1
            assert err is None, (kind, body, err)
            assert table.equals(ingest_table(rows)), (kind, body)
        if err is None:
            assert G.decode_batch_write_table(body).equals(ingest_table(rows)), (kind, body)
        else:
            with pytest.raises(type(err)):
                G.decode_batch_write_table(body)
    assert sum(s["n"] for s in stats.values()) >= 10_000
    # the kernel answers every canonical body and the corpus reaches
    # both sides of every deferral rule
    assert stats["valid"]["kernel"] == stats["valid"]["n"]
    assert 0 < stats["multibyte"]["kernel"] < stats["multibyte"]["n"]
    for kind in ("odd_attrs", "dup_fields"):
        assert 0 < stats[kind]["kernel"] < stats[kind]["n"], (kind, stats[kind])
    assert stats["invalid_utf8"]["kernel"] == 0
    assert stats["invalid_utf8"]["spec_fails"] == stats["invalid_utf8"]["n"]
    for kind in ("unknown_fields", "mutated", "truncated"):
        assert stats[kind]["spec_fails"] > 0, (kind, stats[kind])


def test_kernel_answers_canonical_bodies():
    entries, wire = G.canonical_example()
    table = G.decode_batch_write_columns(wire)
    assert table is not None and table.equals(ingest_table(entries))
    assert G.decode_batch_write_columns(b"").num_rows == 0
    # an empty entry, and empty map keys / values (proto3 elides them)
    body = G.encode_batch_write_request(
        [{}, {"attrs": {"": "v", "k": "", "k2": "x"}, "msg": "m" * 300}])
    assert G.decode_batch_write_columns(body).to_pylist() == [
        {"ts": "", "service": "", "level": "", "msg": "", "attrs": [],
         "trace_id": "", "span_id": ""},
        {"ts": "", "service": "", "level": "", "msg": "m" * 300,
         "attrs": [("", "v"), ("k", ""), ("k2", "x")], "trace_id": "", "span_id": ""},
    ]


def test_kernel_defers_repeated_map_key():
    body = _raw_entry([(5, _ld(1, b"k") + _ld(2, b"a")),
                             (5, _ld(1, b"k") + _ld(2, b"b"))])
    assert G.decode_batch_write_columns(body) is None
    assert G.decode_batch_write_table(body).to_pylist()[0]["attrs"] == [("k", "b")]


def test_kernel_defers_a_wide_entry():
    """One round per field position of the widest entry: an entry past
    _MAX_ROUNDS fields and attrs goes to the spec, whole batch and all."""
    wide = {"msg": "m", "attrs": {f"k{i}": f"v{i}" for i in range(G._MAX_ROUNDS)}}
    rng = random.Random(7)
    entries = [_entry(rng) for _ in range(20)] + [wide]
    body = G.encode_batch_write_request(entries)
    assert G.decode_batch_write_columns(body) is None
    assert G.decode_batch_write_table(body).equals(
        ingest_table(G.decode_batch_write_request(body)))
    # one attr fewer fits: msg + 31 attrs is 32 rounds
    del wide["attrs"][f"k{G._MAX_ROUNDS - 1}"]
    body = G.encode_batch_write_request(entries)
    assert G.decode_batch_write_columns(body).equals(
        ingest_table(G.decode_batch_write_request(body)))


# ---------------------------------------------------------------------------
# the UTF-8 contract at the ack: invalid text is rejected, not stored
# ---------------------------------------------------------------------------

_INVALID_ENTRIES = {
    "msg": [(4, b"\xff")],
    "attrs_key": [(5, _ld(1, b"\xff") + _ld(2, b"v"))],
    "attrs_value": [(5, _ld(1, b"k") + _ld(2, b"\xff"))],
}


@pytest.mark.parametrize("where", sorted(_INVALID_ENTRIES))
@pytest.mark.parametrize("path", ["kernel", "spec"])
def test_batch_write_rejects_invalid_utf8(where, path):
    """grpc-status 13, nothing submitted, server still serving: through
    the kernel's Arrow validation (canonical body) and through the
    spec (a body with an unknown field, which the kernel defers)."""
    from clickhouse_observability_spark.api import http2_transport as H

    fields = list(_INVALID_ENTRIES[where])
    if path == "spec":
        fields.append((9, b"unknown"))
    body = G.canonical_example()[1] + _raw_entry(fields)
    assert G.decode_batch_write_columns(body) is None
    submitted = []
    handler = G.LogServiceHandler(lambda t: submitted.append(t) or t.num_rows)
    stop, port = H.serve_grpc_http2(handler, port=0)
    try:
        resp, status, msg = H.grpc_http2_call("127.0.0.1", port, G.METHOD_PATH, body)
        assert (resp, status) == (b"", 13)
        assert "utf-8" in msg
        assert submitted == []
        entries, _ = G.canonical_example()
        assert H.batch_write_http2("127.0.0.1", port, entries) == 1
        assert len(submitted) == 1
    finally:
        stop()


# ---------------------------------------------------------------------------
# rows the ingest schema cannot hold fail at submit_many
# ---------------------------------------------------------------------------

_GOOD = {"ts": "2025-09-01T10:00:00Z", "service": "orders", "level": "INFO",
         "msg": "m", "attrs": {"user": "u"}, "trace_id": "t", "span_id": "s"}


@pytest.mark.parametrize("bad", [
    {"msg": 5},
    {"ts": 1.5},
    {"attrs": "user=u"},
    {"attrs": {"user": 7}},
    {"attrs": ["user"]},
])
def test_submit_many_rejects_rows_off_the_schema(spark, tmp_path, bad):
    from clickhouse_observability_spark.sources.writer import LogsTable
    from clickhouse_observability_spark.streaming.batcher import IngestStream

    table = LogsTable(spark, str(tmp_path / "logs"))
    s = IngestStream(spark, table, str(tmp_path / "in"), str(tmp_path / "ck"),
                     flush_size=1)
    with pytest.raises(ValueError, match="ingest schema"):
        s.submit_many([_GOOD, {**_GOOD, **bad}])
    assert os.listdir(s.inbox_dir) == []
    assert s.submit_many([_GOOD]) == 1
    assert [f for f in os.listdir(s.inbox_dir) if f.endswith(".parquet")]


def test_ingest_table_rejects_a_table_in_another_schema():
    import pyarrow as pa

    good = ingest_table([_GOOD])
    assert ingest_table(good) is good
    with pytest.raises(ValueError, match="ingest schema"):
        ingest_table(pa.table({"msg": ["m"]}))
