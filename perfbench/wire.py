"""The benchmark's own client side of the server's public wire surface.

- proto3 encoding of `logs.v1.BatchWriteRequest` (proto/log.proto:
  LogEntry{1 ts, 2 service, 3 level, 4 msg, 5 map attrs, 6 trace_id,
  7 span_id}; BatchWriteResponse{1 written});
- a minimal h2c (HTTP/2 prior knowledge, RFC 7540) unary gRPC client
  with send-side flow control and a literal/indexed HPACK decoder
  (RFC 7541, no Huffman — it fails loudly if the peer uses it);
- plain HTTP/1.1 GETs for the JSON routes.

Nothing here imports the program: the load stays the same whatever
the program's transport code does.
"""

from __future__ import annotations

import http.client
import json
import socket
import struct


class WireError(Exception):
    pass


# -- protobuf (proto3 wire format) ---------------------------------------

def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ld(field: int, payload: bytes) -> bytes:
    return _varint(field << 3 | 2) + _varint(len(payload)) + payload


def _s(field: int, value: str | None) -> bytes:
    return _ld(field, value.encode()) if value else b""


def encode_entry(e: dict) -> bytes:
    out = bytearray()
    out += _s(1, e.get("ts"))
    out += _s(2, e.get("service"))
    out += _s(3, e.get("level"))
    out += _s(4, e.get("msg"))
    for k, v in (e.get("attrs") or {}).items():
        out += _ld(5, _s(1, k) + _s(2, v))
    out += _s(6, e.get("trace_id"))
    out += _s(7, e.get("span_id"))
    return bytes(out)


def encode_batch_write(entries: list[dict]) -> bytes:
    return b"".join(_ld(1, encode_entry(e)) for e in entries)


def decode_written(buf: bytes) -> int:
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        if key == (1 << 3 | 0):
            val, _ = _read_varint(buf, pos)
            return val
        wt = key & 7
        if wt == 0:
            _, pos = _read_varint(buf, pos)
        elif wt == 2:
            ln, pos = _read_varint(buf, pos)
            pos += ln
        else:
            raise WireError(f"unexpected wire type {wt}")
    return 0  # proto3 elides a zero count


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    val = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


# -- HPACK (decode side: indexed + literal representations) -------------

_STATIC = [
    (":authority", ""), (":method", "GET"), (":method", "POST"), (":path", "/"),
    (":path", "/index.html"), (":scheme", "http"), (":scheme", "https"),
    (":status", "200"), (":status", "204"), (":status", "206"), (":status", "304"),
    (":status", "400"), (":status", "404"), (":status", "500"),
    ("accept-charset", ""), ("accept-encoding", "gzip, deflate"),
    ("accept-language", ""), ("accept-ranges", ""), ("accept", ""),
    ("access-control-allow-origin", ""), ("age", ""), ("allow", ""),
    ("authorization", ""), ("cache-control", ""), ("content-disposition", ""),
    ("content-encoding", ""), ("content-language", ""), ("content-length", ""),
    ("content-location", ""), ("content-range", ""), ("content-type", ""),
    ("cookie", ""), ("date", ""), ("etag", ""), ("expect", ""), ("expires", ""),
    ("from", ""), ("host", ""), ("if-match", ""), ("if-modified-since", ""),
    ("if-none-match", ""), ("if-range", ""), ("if-unmodified-since", ""),
    ("last-modified", ""), ("link", ""), ("location", ""), ("max-forwards", ""),
    ("proxy-authenticate", ""), ("proxy-authorization", ""), ("range", ""),
    ("referer", ""), ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""), ("via", ""),
    ("www-authenticate", ""),
]


def _hp_int(buf: bytes, pos: int, bits: int) -> tuple[int, int]:
    mask = (1 << bits) - 1
    val = buf[pos] & mask
    pos += 1
    if val < mask:
        return val, pos
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        val += (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return val, pos


def _hp_str(buf: bytes, pos: int) -> tuple[str, int]:
    if buf[pos] & 0x80:
        raise WireError("HPACK Huffman strings are not supported by this client")
    ln, pos = _hp_int(buf, pos, 7)
    return buf[pos:pos + ln].decode(), pos + ln


class HpackDecoder:
    def __init__(self):
        self.dynamic: list[tuple[str, str]] = []

    def _entry(self, idx: int) -> tuple[str, str]:
        if 1 <= idx <= len(_STATIC):
            return _STATIC[idx - 1]
        d = idx - len(_STATIC) - 1
        if 0 <= d < len(self.dynamic):
            return self.dynamic[d]
        raise WireError(f"HPACK index {idx} out of range")

    def decode(self, block: bytes) -> list[tuple[str, str]]:
        out, pos = [], 0
        while pos < len(block):
            b = block[pos]
            if b & 0x80:  # indexed field
                idx, pos = _hp_int(block, pos, 7)
                out.append(self._entry(idx))
                continue
            if b & 0xE0 == 0x20:  # dynamic table size update
                _, pos = _hp_int(block, pos, 5)
                continue
            indexing = b & 0xC0 == 0x40
            idx, pos = _hp_int(block, pos, 6 if indexing else 4)
            if idx:
                name = self._entry(idx)[0]
            else:
                name, pos = _hp_str(block, pos)
            value, pos = _hp_str(block, pos)
            if indexing:
                self.dynamic.insert(0, (name, value))
            out.append((name, value))
        return out


def _hp_literal(name: str, value: str) -> bytes:
    """Literal header field without indexing, new name, raw strings."""
    out = bytearray(b"\x00")
    for s in (name.encode(), value.encode()):
        if len(s) < 127:
            out.append(len(s))
        else:  # 7-bit prefix integer continuation
            out.append(127)
            n = len(s) - 127
            while n >= 128:
                out.append(n & 0x7F | 0x80)
                n >>= 7
            out.append(n)
        out += s
    return bytes(out)


# -- HTTP/2 framing -------------------------------------------------------

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"
DATA, HEADERS, RST_STREAM, SETTINGS, PING, GOAWAY, WINDOW_UPDATE, CONTINUATION = (
    0x0, 0x1, 0x3, 0x4, 0x6, 0x7, 0x8, 0x9)
END_STREAM, END_HEADERS, PADDED, PRIORITY, ACK = 0x1, 0x4, 0x8, 0x20, 0x1
MAX_FRAME = 16384
INITIAL_WINDOW = 65535


def _frame(ftype: int, flags: int, sid: int, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload))[1:] + bytes([ftype, flags])
            + struct.pack(">I", sid) + payload)


class H2Channel:
    """One h2c connection carrying sequential unary gRPC calls."""

    def __init__(self, host: str, port: int, timeout: float = 30.0):
        self.host, self.port = host, port
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rfile = self.sock.makefile("rb")
        self.decoder = HpackDecoder()
        self.next_sid = 1
        self.conn_window = INITIAL_WINDOW
        self.stream_initial = INITIAL_WINDOW
        self.stream_window = 0
        self.sock.sendall(PREFACE + _frame(SETTINGS, 0, 0, b""))

    def close(self) -> None:
        try:
            self.sock.sendall(_frame(GOAWAY, 0, 0, struct.pack(">II", 0, 0)))
        except OSError:
            pass
        self.rfile.close()
        self.sock.close()

    def _read(self) -> tuple[int, int, int, bytes]:
        head = self.rfile.read(9)
        if len(head) < 9:
            raise WireError("h2c peer closed the connection")
        length = int.from_bytes(head[:3], "big")
        payload = self.rfile.read(length) if length else b""
        if len(payload) < length:
            raise WireError("h2c peer closed mid-frame")
        return head[3], head[4], int.from_bytes(head[5:9], "big") & 0x7FFFFFFF, payload

    def _control(self, ftype: int, flags: int, sid: int, payload: bytes) -> None:
        if ftype == SETTINGS and not flags & ACK:
            for i in range(0, len(payload), 6):
                ident, value = struct.unpack(">HI", payload[i:i + 6])
                if ident == 0x4:  # SETTINGS_INITIAL_WINDOW_SIZE
                    self.stream_window += value - self.stream_initial
                    self.stream_initial = value
            self.sock.sendall(_frame(SETTINGS, ACK, 0, b""))
        elif ftype == PING and not flags & ACK:
            self.sock.sendall(_frame(PING, ACK, 0, payload))
        elif ftype == WINDOW_UPDATE:
            inc = struct.unpack(">I", payload)[0] & 0x7FFFFFFF
            if sid == 0:
                self.conn_window += inc
            elif sid == self.next_sid - 2:
                self.stream_window += inc
        elif ftype == GOAWAY:
            raise WireError("h2c peer sent GOAWAY")

    def unary(self, path: str, message: bytes) -> tuple[bytes, int, str]:
        sid = self.next_sid
        self.next_sid += 2
        self.stream_window = self.stream_initial
        block = b"".join(_hp_literal(n, v) for n, v in (
            (":method", "POST"), (":scheme", "http"), (":path", path),
            (":authority", f"{self.host}:{self.port}"),
            ("content-type", "application/grpc"), ("te", "trailers")))
        self.sock.sendall(_frame(HEADERS, END_HEADERS, sid, block))
        body = b"\x00" + struct.pack(">I", len(message)) + message
        pos = 0
        while pos < len(body):
            room = min(MAX_FRAME, self.conn_window, self.stream_window)
            if room <= 0:
                self._control(*self._read())
                continue
            chunk = body[pos:pos + room]
            pos += len(chunk)
            self.conn_window -= len(chunk)
            self.stream_window -= len(chunk)
            self.sock.sendall(_frame(DATA, END_STREAM if pos >= len(body) else 0,
                                     sid, chunk))
        resp, status, msg, hblock = b"", None, "", b""
        while True:
            ftype, flags, fsid, payload = self._read()
            if fsid != sid or ftype not in (DATA, HEADERS, CONTINUATION, RST_STREAM):
                self._control(ftype, flags, fsid, payload)
                continue
            if ftype == RST_STREAM:
                raise WireError("h2c stream reset by peer")
            if flags & PADDED and ftype != CONTINUATION:
                payload = payload[1:len(payload) - payload[0]]
            if ftype == DATA:
                resp += payload
                if payload:
                    inc = struct.pack(">I", len(payload))
                    self.sock.sendall(_frame(WINDOW_UPDATE, 0, 0, inc))
            else:
                if ftype == HEADERS and flags & PRIORITY:
                    payload = payload[5:]
                hblock += payload
                if flags & END_HEADERS:
                    for name, value in self.decoder.decode(hblock):
                        if name == "grpc-status":
                            status = int(value)
                        elif name == "grpc-message":
                            msg = value
                    hblock = b""
            if flags & END_STREAM and ftype != CONTINUATION:
                break
        if status is None:
            raise WireError("gRPC reply without grpc-status")
        if len(resp) >= 5:
            ln = struct.unpack(">I", resp[1:5])[0]
            resp = resp[5:5 + ln]
        return resp, status, msg


BATCH_WRITE = "/logs.v1.LogService/BatchWrite"


def batch_write(channel: H2Channel, request: bytes) -> int:
    """BatchWrite of an encoded request (`encode_batch_write`) over h2c;
    returns the server's accepted count."""
    resp, status, msg = channel.unary(BATCH_WRITE, request)
    if status != 0:
        raise WireError(f"grpc-status {status}: {msg}")
    return decode_written(resp)


# -- HTTP/1.1 JSON routes ---------------------------------------------------

def http_get(host: str, port: int, url: str, timeout: float = 60.0):
    """GET `url`; returns (status, decoded JSON body or raw text)."""
    conn = http.client.HTTPConnection(host, port, timeout=timeout)
    try:
        conn.request("GET", url)
        resp = conn.getresponse()
        raw = resp.read()
    finally:
        conn.close()
    ctype = resp.getheader("Content-Type", "")
    body = json.loads(raw) if ctype.startswith("application/json") else raw.decode()
    return resp.status, body
