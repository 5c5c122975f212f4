"""gRPC server reflection for the LogService transport.

The reference registers grpc server reflection alongside LogService
(cmd/server/main.go:79-81), so grpcurl can list services and fetch
descriptors. This module reproduces that surface with the same
zero-dependency approach as the transport codec: the
`grpc.reflection.v1alpha.ServerReflection/ServerReflectionInfo`
method is implemented as a bytes->bytes handler, and the
FileDescriptorProto for log.proto (proto/log.proto:1-21) is
HAND-ENCODED per the public descriptor.proto schema — no protobuf
library needed to serve it, and any stock protobuf client can parse
it back.

Supported request arms: `list_services` (grpcurl's `list`),
`file_containing_symbol` and `file_by_filename` (grpcurl's
`describe`/call path). Everything else answers the standard
UNIMPLEMENTED error_response arm.
"""

from __future__ import annotations

from clickhouse_observability_spark.api.grpc_transport import (
    _decode_varint,
    _len_field,
    _skip_field,
    _str_field,
    _tag,
    _encode_varint,
    _WT_LEN,
    _WT_VARINT,
)

REFLECTION_METHOD_PATH = (
    "/grpc.reflection.v1alpha.ServerReflection/ServerReflectionInfo"
)

FILE_NAME = "logs/v1/log.proto"
PACKAGE = "logs.v1"
SERVICE_FULL = "logs.v1.LogService"
REFLECTION_SERVICE_FULL = "grpc.reflection.v1alpha.ServerReflection"


def _varint_field(field_no: int, n: int) -> bytes:
    return _tag(field_no, _WT_VARINT) + _encode_varint(n)


# -- FieldDescriptorProto (descriptor.proto) --------------------------------
# fields: 1 name, 3 number, 4 label, 5 type, 6 type_name
_LABEL_OPTIONAL = 1
_LABEL_REPEATED = 3
_TYPE_UINT64 = 4
_TYPE_STRING = 9
_TYPE_MESSAGE = 11


def _field(name: str, number: int, ftype: int, label: int = _LABEL_OPTIONAL,
           type_name: str | None = None) -> bytes:
    out = _str_field(1, name) + _varint_field(3, number)
    out += _varint_field(4, label) + _varint_field(5, ftype)
    if type_name:
        out += _str_field(6, type_name)
    return out


def _message(name: str, fields: list[bytes], nested: list[bytes] = (),
             map_entry: bool = False) -> bytes:
    # DescriptorProto: 1 name, 2 field, 3 nested_type, 7 options
    out = _str_field(1, name)
    for f in fields:
        out += _len_field(2, f)
    for n in nested:
        out += _len_field(3, n)
    if map_entry:  # MessageOptions.map_entry = field 7 bool
        out += _len_field(7, _varint_field(7, 1))
    return out


def _file_descriptor_proto() -> bytes:
    """FileDescriptorProto for proto/log.proto, field for field."""
    attrs_entry = _message(
        "AttrsEntry",
        [
            _field("key", 1, _TYPE_STRING),
            _field("value", 2, _TYPE_STRING),
        ],
        map_entry=True,
    )
    log_entry = _message(
        "LogEntry",
        [
            _field("ts", 1, _TYPE_STRING),
            _field("service", 2, _TYPE_STRING),
            _field("level", 3, _TYPE_STRING),
            _field("msg", 4, _TYPE_STRING),
            _field("attrs", 5, _TYPE_MESSAGE, _LABEL_REPEATED,
                   f".{PACKAGE}.LogEntry.AttrsEntry"),
            _field("trace_id", 6, _TYPE_STRING),
            _field("span_id", 7, _TYPE_STRING),
        ],
        nested=[attrs_entry],
    )
    req = _message(
        "BatchWriteRequest",
        [_field("entries", 1, _TYPE_MESSAGE, _LABEL_REPEATED,
                f".{PACKAGE}.LogEntry")],
    )
    resp = _message(
        "BatchWriteResponse",
        [_field("written", 1, _TYPE_UINT64)],
    )
    # MethodDescriptorProto: 1 name, 2 input_type, 3 output_type
    method = (
        _str_field(1, "BatchWrite")
        + _str_field(2, f".{PACKAGE}.BatchWriteRequest")
        + _str_field(3, f".{PACKAGE}.BatchWriteResponse")
    )
    # ServiceDescriptorProto: 1 name, 2 method
    service = _str_field(1, "LogService") + _len_field(2, method)
    # FileDescriptorProto: 1 name, 2 package, 4 message_type,
    # 6 service, 12 syntax
    out = _str_field(1, FILE_NAME) + _str_field(2, PACKAGE)
    for m in (log_entry, req, resp):
        out += _len_field(4, m)
    out += _len_field(6, service)
    out += _str_field(12, "proto3")
    return out


FILE_DESCRIPTOR = _file_descriptor_proto()

# Symbols that resolve to the log.proto descriptor.
_SYMBOLS = {
    SERVICE_FULL,
    f"{SERVICE_FULL}.BatchWrite",
    f"{PACKAGE}.LogEntry",
    f"{PACKAGE}.BatchWriteRequest",
    f"{PACKAGE}.BatchWriteResponse",
}


def _decode_reflection_request(buf: bytes) -> tuple[str, str]:
    """-> (arm, payload): which oneof arm of ServerReflectionRequest
    (3 file_by_filename, 4 file_containing_symbol, 7 list_services;
    anything else -> ('other', ''))."""
    arms = {3: "file_by_filename", 4: "file_containing_symbol", 7: "list_services"}
    pos = 0
    arm, val = "other", ""
    while pos < len(buf):
        key, pos = _decode_varint(buf, pos)
        field_no, wt = key >> 3, key & 7
        if wt == _WT_LEN:
            ln, pos = _decode_varint(buf, pos)
            if field_no in arms:
                arm = arms[field_no]
                val = buf[pos:pos + ln].decode("utf-8")
            elif field_no in (5, 6):
                arm = "other"
            pos += ln
        else:
            pos = _skip_field(buf, pos, wt)
    return arm, val


def _error_response(code: int, message: str) -> bytes:
    # ErrorResponse: 1 error_code (int32), 2 error_message
    return _varint_field(1, code) + _str_field(2, message)


def handle_reflection(request_bytes: bytes) -> bytes:
    """One ServerReflectionRequest -> one ServerReflectionResponse.

    The reflection RPC is bidi-streaming; each request message gets an
    independent response message, so a unary-style transport (one
    request frame -> one response frame) serves grpcurl's usage."""
    arm, val = _decode_reflection_request(request_bytes)
    if arm == "list_services":
        # ListServiceResponse: repeated ServiceResponse service = 1
        # (ServiceResponse: 1 name)
        lsr = b"".join(
            _len_field(1, _str_field(1, s))
            for s in (SERVICE_FULL, REFLECTION_SERVICE_FULL)
        )
        return _len_field(6, lsr)  # list_services_response arm
    if arm == "file_containing_symbol" and val in _SYMBOLS:
        fdr = _len_field(1, FILE_DESCRIPTOR)  # repeated bytes fd_proto
        return _len_field(4, fdr)  # file_descriptor_response arm
    if arm == "file_by_filename" and val == FILE_NAME:
        return _len_field(4, _len_field(1, FILE_DESCRIPTOR))
    if arm in ("file_containing_symbol", "file_by_filename"):
        return _len_field(7, _error_response(5, f"not found: {val}"))  # NOT_FOUND
    return _len_field(7, _error_response(12, "unimplemented reflection arm"))
