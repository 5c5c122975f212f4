"""gRPC BatchWrite transport tests (SURVEY.md §2.11; proto/log.proto:19-21).

Codec round-trips + a live h2c e2e: HTTP/2 client -> framed protobuf
-> handler -> parquet logs table -> visible to query_logs.
"""

from __future__ import annotations

import datetime as dt
import threading

import pytest

from clickhouse_observability_spark.api import grpc_transport as G


# ---------------------------------------------------------------------------
# codec
# ---------------------------------------------------------------------------

def test_codec_round_trip_canonical_row():
    entries, wire = G.canonical_example()
    assert G.decode_batch_write_request(wire) == entries


def test_codec_round_trip_edge_cases():
    entries = [
        {"ts": "", "service": "", "level": "", "msg": "",
         "attrs": {}, "trace_id": "", "span_id": ""},
        {"ts": "not-a-time", "service": "s" * 300, "level": "INFO",
         "msg": "π unicode ✓", "attrs": {"a": "1", "b": "2", "": "empty-key"},
         "trace_id": "t", "span_id": ""},
    ]
    got = G.decode_batch_write_request(G.encode_batch_write_request(entries))
    assert got == entries


def test_codec_multibyte_lengths_and_overlong_field():
    # a 200-byte msg and a 150-byte attr value take two-byte length
    # varints; a string length running past its entry's end stops at
    # that end instead of reading into the next entry
    entries = [{"ts": "", "service": "", "level": "", "msg": "m" * 200,
                "attrs": {"k": "v" * 150}, "trace_id": "", "span_id": ""}]
    assert G.decode_batch_write_request(G.encode_batch_write_request(entries)) == entries
    overlong = b"\x0a\x04" + b"\x0a\x05ab" + G._len_field(1, G.encode_log_entry({"ts": "t2"}))
    got = G.decode_batch_write_request(overlong)
    assert [e["ts"] for e in got] == ["ab", "t2"]


@pytest.mark.parametrize("n", [0, 1, 127, 128, 300, 2**32, 2**63 - 1])
def test_response_varint_round_trip(n):
    assert G.decode_batch_write_response(G.encode_batch_write_response(n)) == n


def test_proto3_default_elision():
    # empty strings / empty response serialize to zero bytes
    assert G.encode_log_entry({"ts": "", "attrs": {}}) == b""
    assert G.encode_batch_write_response(0) == b""


def test_wire_bytes_match_proto3_spec():
    # hand-check one entry against the proto3 encoding rules:
    # field 1 (ts) tag = 0x0A, length-prefixed utf-8
    wire = G.encode_log_entry({"ts": "Z", "attrs": {}})
    assert wire == b"\x0a\x01Z"
    # map field 5 entry: tag 0x2A, submessage {1: "k", 2: "v"}
    wire = G.encode_log_entry({"attrs": {"k": "v"}})
    assert wire == b"\x2a\x06\x0a\x01k\x12\x01v"
    # response field 1 varint: tag 0x08
    assert G.encode_batch_write_response(5) == b"\x08\x05"


# ---------------------------------------------------------------------------
# property-based codec round-trip (hypothesis)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _text = st.text(max_size=40)
    _entry = st.fixed_dictionaries(
        {
            "ts": _text,
            "service": _text,
            "level": _text,
            "msg": _text,
            "attrs": st.dictionaries(
                st.text(min_size=1, max_size=10), _text, max_size=4
            ),
            "trace_id": _text,
            "span_id": _text,
        }
    )

    @given(st.lists(_entry, max_size=8))
    @settings(max_examples=200, deadline=None)
    def test_codec_round_trip_property(entries):
        got = G.decode_batch_write_request(G.encode_batch_write_request(entries))
        assert got == entries
except ImportError:  # pragma: no cover - hypothesis always in container
    pass


# ---------------------------------------------------------------------------
# server reflection (reference main.go:79-81)
# ---------------------------------------------------------------------------

def _reflection_call(port: int, request_bytes: bytes) -> bytes:
    from clickhouse_observability_spark.api import grpc_reflection as R
    from clickhouse_observability_spark.api import http2_transport as H

    resp, status, _ = H.grpc_http2_call(
        "127.0.0.1", port, R.REFLECTION_METHOD_PATH, request_bytes
    )
    assert status == 0
    return resp


def test_reflection_list_services(grpc_h2):
    from clickhouse_observability_spark.api import grpc_reflection as R

    _, port = grpc_h2
    # ServerReflectionRequest{list_services: ""} = field 7, empty str
    resp = _reflection_call(port, G._len_field(7, b""))
    # list_services_response arm (field 6) with both service names
    key, pos = G._decode_varint(resp, 0)
    assert key >> 3 == 6
    assert R.SERVICE_FULL.encode() in resp
    assert R.REFLECTION_SERVICE_FULL.encode() in resp


def test_reflection_file_containing_symbol(grpc_h2):
    from clickhouse_observability_spark.api import grpc_reflection as R

    _, port = grpc_h2
    req = G._str_field(4, R.SERVICE_FULL)  # file_containing_symbol
    resp = _reflection_call(port, req)
    key, pos = G._decode_varint(resp, 0)
    assert key >> 3 == 4  # file_descriptor_response arm
    ln, pos = G._decode_varint(resp, pos)
    fdr = resp[pos:pos + ln]
    # FileDescriptorResponse{1: repeated bytes} -> our descriptor
    k2, p2 = G._decode_varint(fdr, 0)
    assert k2 >> 3 == 1
    l2, p2 = G._decode_varint(fdr, p2)
    assert fdr[p2:p2 + l2] == R.FILE_DESCRIPTOR


def test_reflection_unknown_symbol_not_found(grpc_h2):
    _, port = grpc_h2
    resp = _reflection_call(port, G._str_field(4, "nope.Nope"))
    key, _ = G._decode_varint(resp, 0)
    assert key >> 3 == 7  # error_response arm


def test_file_descriptor_decodes():
    # the hand-encoded FileDescriptorProto is self-consistent: walk it
    # with the wire decoder and check name/package/service/method and
    # all seven LogEntry fields are present where descriptor.proto
    # says they live
    from clickhouse_observability_spark.api import grpc_reflection as R

    buf = R.FILE_DESCRIPTOR
    fields = {}
    pos = 0
    while pos < len(buf):
        key, pos = G._decode_varint(buf, pos)
        fno, wt = key >> 3, key & 7
        assert wt == 2
        ln, pos = G._decode_varint(buf, pos)
        fields.setdefault(fno, []).append(buf[pos:pos + ln])
        pos += ln
    assert fields[1] == [b"logs/v1/log.proto"]
    assert fields[2] == [b"logs.v1"]
    assert fields[12] == [b"proto3"]
    assert len(fields[4]) == 3  # LogEntry, BatchWriteRequest, BatchWriteResponse
    names = b"".join(fields[4])
    for n in (b"LogEntry", b"AttrsEntry", b"BatchWriteRequest",
              b"BatchWriteResponse", b"ts", b"attrs", b"span_id"):
        assert n in names
    assert b"LogService" in fields[6][0] and b"BatchWrite" in fields[6][0]


def test_file_descriptor_parses_with_protobuf_if_available():
    # strongest check: a stock protobuf runtime accepts the bytes
    pytest.importorskip("google.protobuf")
    from google.protobuf import descriptor_pb2

    from clickhouse_observability_spark.api import grpc_reflection as R

    fdp = descriptor_pb2.FileDescriptorProto()
    fdp.ParseFromString(R.FILE_DESCRIPTOR)
    assert fdp.name == R.FILE_NAME and fdp.package == "logs.v1"
    assert [m.name for m in fdp.message_type] == [
        "LogEntry", "BatchWriteRequest", "BatchWriteResponse"]
    log_entry = fdp.message_type[0]
    assert [f.name for f in log_entry.field] == [
        "ts", "service", "level", "msg", "attrs", "trace_id", "span_id"]
    assert log_entry.nested_type[0].options.map_entry
    assert fdp.service[0].method[0].name == "BatchWrite"


# ---------------------------------------------------------------------------
# native HTTP/2 (h2c) gRPC — hand-rolled RFC 7540/7541 transport
# ---------------------------------------------------------------------------

def test_hpack_huffman_matches_rfc7541_vectors():
    """The Appendix B code table, pinned by the RFC's own Appendix C
    request/response examples — encoder and decoder both bit-exact."""
    from clickhouse_observability_spark.api import http2_transport as H

    vectors = {
        b"www.example.com": "f1e3c2e5f23a6ba0ab90f4ff",            # C.4.1
        b"no-cache": "a8eb10649cbf",                                # C.4.2
        b"custom-key": "25a849e95ba97d7f",                          # C.4.3
        b"custom-value": "25a849e95bb8e8b4bf",                      # C.4.3
        b"302": "6402",                                             # C.6.1
        b"private": "aec3771a4b",                                   # C.6.1
        b"Mon, 21 Oct 2013 20:13:21 GMT":
            "d07abe941054d444a8200595040b8166e082a62d1bff",         # C.6.1
        b"https://www.example.com": "9d29ad171863c78f0b97c8e9ae82ae43d3",
        b"307": "640eff",                                           # C.6.2
        b"gzip": "9bd9ab",                                          # C.6.3
        b"foo=ASDJKHQKBZXOQWEOPIUAXQWEOIU; max-age=3600; version=1":
            "94e7821dd7f2e6c7b335dfdfcd5b3960d5af27087f3672c1ab27"
            "0fb5291f9587316065c003ed4ee5b1063d5007",               # C.6.3
    }
    for raw, hexexp in vectors.items():
        assert H.huffman_encode(raw).hex() == hexexp, raw
        assert H.huffman_decode(bytes.fromhex(hexexp)) == raw


def test_hpack_decoder_rfc7541_c3_request_sequence():
    """RFC 7541 C.3: three requests on one connection WITH incremental
    indexing — exercises the dynamic table across header blocks."""
    from clickhouse_observability_spark.api import http2_transport as H

    dec = H.HpackDecoder()
    first = bytes.fromhex("828684410f7777772e6578616d706c652e636f6d")
    assert dec.decode(first) == [
        (":method", "GET"), (":scheme", "http"), (":path", "/"),
        (":authority", "www.example.com"),
    ]
    second = bytes.fromhex("828684be58086e6f2d6361636865")
    assert dec.decode(second) == [
        (":method", "GET"), (":scheme", "http"), (":path", "/"),
        (":authority", "www.example.com"), ("cache-control", "no-cache"),
    ]
    third = bytes.fromhex(
        "828785bf400a637573746f6d2d6b65790c637573746f6d2d76616c7565"
    )
    assert dec.decode(third) == [
        (":method", "GET"), (":scheme", "https"), (":path", "/index.html"),
        (":authority", "www.example.com"), ("custom-key", "custom-value"),
    ]


def test_hpack_decoder_rfc7541_c4_huffman_request_sequence():
    """RFC 7541 C.4: the same three requests with Huffman-coded
    literals — the encoding a stock gRPC client actually sends."""
    from clickhouse_observability_spark.api import http2_transport as H

    dec = H.HpackDecoder()
    first = bytes.fromhex("828684418cf1e3c2e5f23a6ba0ab90f4ff")
    assert dec.decode(first)[-1] == (":authority", "www.example.com")
    second = bytes.fromhex("828684be5886a8eb10649cbf")
    assert dec.decode(second)[-1] == ("cache-control", "no-cache")
    third = bytes.fromhex(
        "828785bf408825a849e95ba97d7f8925a849e95bb8e8b4bf"
    )
    assert dec.decode(third)[-1] == ("custom-key", "custom-value")


def test_hpack_encoder_decoder_round_trip():
    from clickhouse_observability_spark.api import http2_transport as H

    headers = [
        (":method", "POST"), (":path", "/logs.v1.LogService/BatchWrite"),
        ("content-type", "application/grpc"), ("x-custom", "π ✓ value"),
    ]
    for huffman in (False, True):
        enc = H.HpackEncoder(huffman=huffman).encode(headers)
        assert H.HpackDecoder().decode(enc) == headers


@pytest.fixture()
def grpc_h2(spark, tmp_path):
    from clickhouse_observability_spark.api import http2_transport as H
    from clickhouse_observability_spark.sources.writer import LogsTable

    table = LogsTable(spark, str(tmp_path / "logs"))
    handler = G.LogServiceHandler(table.ingest_batch)
    stop, port = H.serve_grpc_http2(handler, port=0)
    try:
        yield table, port
    finally:
        stop()


def test_grpc_http2_end_to_end(spark, grpc_h2):
    """A genuine HTTP/2 exchange: preface, SETTINGS, HPACK headers,
    DATA, trailers — canonical row lands queryable in parquet."""
    from clickhouse_observability_spark.api import http2_transport as H
    from clickhouse_observability_spark.operators.query_logs import query_logs

    table, port = grpc_h2
    entries, _ = G.canonical_example()
    written = H.batch_write_http2("127.0.0.1", port, entries)
    assert written == 1
    got = query_logs(
        table.read(), "orders",
        dt.datetime(2025, 9, 1), dt.datetime(2025, 9, 2),
        level="WARN", user="jane.smith",
    ).collect()
    assert len(got) == 1 and got[0]["msg"] == "order pending"


# The three ``test_grpc_web_*`` tests keep the names they had when a
# gRPC-Web server also served BatchWrite; they now run over h2c.

def test_grpc_web_end_to_end(spark, grpc_h2):
    """A malformed ts falls back to ingest time (ST6): the row is
    accepted and stored with a recent timestamp, not dropped."""
    from clickhouse_observability_spark.api import http2_transport as H

    table, port = grpc_h2
    entries, _ = G.canonical_example()
    entries = entries + [
        {"ts": "bad-timestamp", "service": "orders", "level": "ERROR",
         "msg": "boom", "attrs": {}, "trace_id": "t2", "span_id": "s2"},
    ]
    written = H.batch_write_http2("127.0.0.1", port, entries)
    assert written == 2  # accepted count (service.go:45-46)
    df = table.read()
    assert df.count() == 2
    # service.go:27-34
    bad = df.filter(df.msg == "boom").collect()
    assert len(bad) == 1
    assert bad[0]["ts"].year >= 2026


def test_grpc_web_empty_batch(grpc_h2):
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_h2
    assert H.batch_write_http2("127.0.0.1", port, []) == 0


def test_grpc_web_unknown_method_unimplemented(grpc_h2):
    """gRPC paths are case-sensitive and name the package: a BatchWrite
    body sent to a near-miss path gets UNIMPLEMENTED."""
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_h2
    _, wire = G.canonical_example()
    for path in ("/logs.v1.LogService/batchwrite",
                 "/logs.v2.LogService/BatchWrite"):
        resp, status, _ = H.grpc_http2_call("127.0.0.1", port, path, wire)
        assert status == 12 and resp == b""


def test_grpc_http2_huffman_request_headers(grpc_h2):
    """The server's HPACK decoder handles Huffman-coded request
    headers (what stock clients emit when shorter)."""
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_h2
    entries, _ = G.canonical_example()
    assert H.batch_write_http2("127.0.0.1", port, entries, huffman=True) == 1


def test_grpc_http2_sequential_streams_one_connection(grpc_h2):
    """Two unary calls over separate connections + empty batch."""
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_h2
    entries, _ = G.canonical_example()
    assert H.batch_write_http2("127.0.0.1", port, entries) == 1
    assert H.batch_write_http2("127.0.0.1", port, []) == 0


def test_grpc_http2_unknown_method_unimplemented(grpc_h2):
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_h2
    resp, status, msg = H.grpc_http2_call(
        "127.0.0.1", port, "/logs.v1.LogService/Nope", b""
    )
    assert status == 12 and resp == b""


def test_grpc_http2_malformed_request_internal():
    """A BatchWriteRequest that does not decode gets grpc-status 13
    (INTERNAL, what grpc-go returns when it cannot unmarshal a
    request), submits nothing, and leaves the server serving."""
    from clickhouse_observability_spark.api import http2_transport as H

    submitted = []
    handler = G.LogServiceHandler(lambda rows: submitted.append(rows) or len(rows))
    stop, port = H.serve_grpc_http2(handler, port=0)
    try:
        # field 1 with wire type 3; field 1 with a length past the end
        for body, reason in ((b"\x0b", "wire type 3"), (b"\x0a\x05ab", "past the end")):
            resp, status, msg = H.grpc_http2_call("127.0.0.1", port, G.METHOD_PATH, body)
            assert (resp, status) == (b"", 13)
            assert reason in msg
        assert submitted == []
        entries, _ = G.canonical_example()
        assert H.batch_write_http2("127.0.0.1", port, entries) == 1
        assert len(submitted) == 1
    finally:
        stop()


def test_grpc_http2_reflection_list_services(grpc_h2):
    """Server reflection's list_services arm over h2c, on the :path a
    stock client (grpcurl) sends."""
    from clickhouse_observability_spark.api import grpc_reflection as R
    from clickhouse_observability_spark.api import http2_transport as H

    _, port = grpc_h2
    # ListServices request: field 7 (list_services) = ""
    req = b"\x3a\x00"
    resp, status, _ = H.grpc_http2_call(
        "127.0.0.1", port,
        "/grpc.reflection.v1alpha.ServerReflection/ServerReflectionInfo", req
    )
    assert status == 0
    assert b"logs.v1.LogService" in resp
    assert R.REFLECTION_SERVICE_FULL.encode() in resp


def test_grpc_http2_accepted_connection_sets_nodelay(grpc_h2, monkeypatch):
    """Accepted h2c sockets disable Nagle, so a reply is not held back
    until the client's delayed ACK."""
    import socket

    from clickhouse_observability_spark.api import http2_transport as H

    seen = []
    run = H._Conn.run

    def recording_run(self):
        seen.append(self.sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))
        run(self)

    monkeypatch.setattr(H._Conn, "run", recording_run)
    _, port = grpc_h2
    assert H.batch_write_http2("127.0.0.1", port, []) == 0
    assert seen == [1]


def _big_batch(n=400):
    """A BatchWrite whose request body exceeds the 65,535-byte initial
    HTTP/2 flow-control window."""
    entries = [
        {"ts": "2025-09-01T10:00:00Z", "service": "orders", "level": "INFO",
         "msg": f"{i:04d}" + "x" * 200, "attrs": {"user": f"u{i}"},
         "trace_id": f"t{i}", "span_id": f"s{i}"}
        for i in range(n)
    ]
    assert len(G.encode_batch_write_request(entries)) > 65535
    return entries


def test_grpc_http2_batch_write_beyond_initial_window(grpc_h2):
    """The client spends the default initial window, waits, and the
    server's larger window (SETTINGS + connection WINDOW_UPDATE) lets
    the rest of the body through."""
    from clickhouse_observability_spark.api import http2_transport as H

    table, port = grpc_h2
    assert H.batch_write_http2("127.0.0.1", port, _big_batch()) == 400
    assert table.read().count() == 400


def test_grpc_http2_server_refills_spent_window(grpc_h2, monkeypatch):
    """A body several times the server's receive window goes through
    only if the server hands read bytes back with WINDOW_UPDATE."""
    from clickhouse_observability_spark.api import http2_transport as H

    monkeypatch.setattr(H, "RECV_WINDOW", 1 << 17)
    table, port = grpc_h2
    entries = _big_batch(1500)
    assert len(G.encode_batch_write_request(entries)) > 2 * H.RECV_WINDOW
    assert H.batch_write_http2("127.0.0.1", port, entries) == 1500
    assert table.read().count() == 1500


def test_grpc_http2_client_respects_peer_flow_control():
    """Against a peer that refills its window only once it is spent,
    the in-repo client never sends DATA beyond the window or the
    default 16,384-byte max frame size (RFC 7540 §6.9, §4.2)."""
    import socket
    import struct

    from clickhouse_observability_spark.api import http2_transport as H

    srv = socket.create_server(("127.0.0.1", 0))
    frames, overruns = [], []

    def peer():
        conn, _ = srv.accept()
        with conn:
            H._read_exact(conn, len(H.PREFACE))
            conn.sendall(H.pack_frame(H.FT_SETTINGS, 0, 0, b""))
            window, body = H.INITIAL_WINDOW, b""
            while True:
                ftype, flags, sid, payload = H.read_frame(conn)
                if ftype != H.FT_DATA:
                    continue
                frames.append(len(payload))
                if len(payload) > min(window, H.DEFAULT_MAX_FRAME):
                    overruns.append(len(payload))
                window -= len(payload)
                body += payload
                if flags & H.FLAG_END_STREAM:
                    break
                if window <= 0:
                    inc = struct.pack(">I", H.INITIAL_WINDOW)
                    conn.sendall(H.pack_frame(H.FT_WINDOW_UPDATE, 0, 0, inc)
                                 + H.pack_frame(H.FT_WINDOW_UPDATE, 0, sid, inc))
                    window = H.INITIAL_WINDOW
            rows = G.decode_batch_write_request(H._grpc_unframe(body)[0])
            reply = G.encode_batch_write_response(len(rows))
            H._Conn(conn, None)._send_response(sid, H._grpc_frame(reply), 0, "")

    t = threading.Thread(target=peer, daemon=True)
    t.start()
    try:
        port = srv.getsockname()[1]
        assert H.batch_write_http2("127.0.0.1", port, _big_batch()) == 400
        t.join(10)
        assert not t.is_alive()
    finally:
        srv.close()
    assert not overruns
    assert len(frames) > 4  # the body crossed at least one refill


# Raw bytes of a stock-client-shaped h2c BatchWrite session, checked
# in verbatim. The layout is what a stock gRPC client (the grpc-go
# family) actually puts on the wire per the public gRPC
# PROTOCOL-HTTP2 doc and RFC 7540/7541, byte-for-byte exercising
# features the in-repo client (batch_write_http2) does NOT emit: a
# non-empty SETTINGS frame (ENABLE_PUSH=0, INITIAL_WINDOW_SIZE,
# MAX_FRAME_SIZE), a connection-level WINDOW_UPDATE, a PING that
# expects an ACK, an unsolicited SETTINGS ACK, and HPACK request
# headers mixing static-table references with Huffman-coded literals
# under INCREMENTAL indexing (dynamic-table inserts) — including
# te:trailers, a grpc-go user-agent, and grpc-accept-encoding. The
# DATA payload is the canonical BatchWrite row whose proto3 bytes
# are pinned against the spec in test_wire_bytes_match_proto3_spec.
# (No stock client binary exists in this container; the bytes were
# assembled once from the public specs and are replayed VERBATIM —
# the server never sees in-repo client code in this test.)
GOLDEN_H2C_SESSION = bytes.fromhex(
    "505249202a20485454502f322e300d0a0d0a534d0d0a0d0a0000120400000000"
    "0000020000000000040000ffff000500004000000004080000000000000f0001"
    "0000080600000000000102030405060708000000040100000000000068010400"
    "000001838644966283cc85fb857ce79b716cee62158ba34927e561925f4186a0"
    "e41d139d095f8b1d75d0620d263d4c4d65647a8a9acac8b4c7602bb6fae04082"
    "497f864d833505b11f408e9acac8b0c842d6958b510f21aa9b913485a9264faf"
    "a5242cb40d25fa526f66af000063000100000001000000005e0a5c0a14323032"
    "352d30392d30315432303a30353a30305a12066f72646572731a045741524e22"
    "0d6f726465722070656e64696e672a120a0475736572120a6a616e652e736d69"
    "7468320974726163652d3132343a087370616e2d343538"
)


def test_grpc_http2_golden_stock_client_transcript(spark, grpc_h2):
    """Replay the golden session raw over a plain socket — no in-repo
    HTTP/2 client involved on the send side — and assert the full
    server conversation: PING ACK with the same opaque data, 200
    response headers, a BatchWriteResponse{written=1} DATA body,
    grpc-status 0 trailers, and the row landed queryable."""
    import socket
    import struct

    from clickhouse_observability_spark.api import http2_transport as H
    from clickhouse_observability_spark.operators.query_logs import query_logs

    table, port = grpc_h2
    s = socket.create_connection(("127.0.0.1", port), timeout=10)
    try:
        s.sendall(GOLDEN_H2C_SESSION)
        dec = H.HpackDecoder()
        headers, body, ping_ack = [], b"", None
        while True:
            ftype, flags, sid, payload = H.read_frame(s)
            if ftype == H.FT_PING and flags & H.FLAG_ACK:
                ping_ack = payload
            elif ftype == H.FT_HEADERS:
                headers.extend(dec.decode(payload))
                if flags & H.FLAG_END_STREAM:
                    break
            elif ftype == H.FT_DATA:
                body += payload
    finally:
        s.close()
    assert ping_ack == bytes(range(1, 9))
    hd = dict(headers)
    assert hd[":status"] == "200"
    assert hd["content-type"] == "application/grpc"
    assert hd["grpc-status"] == "0"
    # length-prefixed BatchWriteResponse: field 1 varint written=1
    assert body == b"\x00\x00\x00\x00\x02\x08\x01"
    got = query_logs(
        table.read(), "orders",
        dt.datetime(2025, 9, 1), dt.datetime(2025, 9, 2),
        level="WARN", user="jane.smith",
    ).collect()
    assert len(got) == 1 and got[0]["msg"] == "order pending"
