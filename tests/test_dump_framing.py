"""Byte identity of the catch-up path: the dump server's packet stream
equals one ``_write_packet`` per kept event, the replica's chunked
receive equals a packet-by-packet parse, the TABLE_MAP memo decodes a
re-mapped table id like a fresh parse, and ``spool_segments`` writes the
same segment files as a frame-by-frame append."""

from __future__ import annotations

import io
import os
import random
import struct

import pytest

from polardbx_cdc_spark import binlog_wire as W
from polardbx_cdc_spark import dump_server as DS
from polardbx_cdc_spark import mysql_dump as M

SID = bytes(range(16))
EOF = b"\xfe\x00\x00\x02\x00"


def _frames(body: bytes) -> list[bytes]:
    out, off = [], 0
    while off + W.HEADER_LEN <= len(body):
        elen = struct.unpack_from("<I", body, off + 9)[0]
        out.append(body[off : off + elen])
        off += elen
    return out


def _file_frames(path: str) -> list[bytes]:
    with open(path, "rb") as fh:
        return _frames(fh.read()[4:])


def _reference(frames: list[bytes], none: bool = False) -> bytes:
    """The stream framed one ``_write_packet`` per event, then EOF."""
    ref, seq = io.BytesIO(), 1
    for f in frames:
        if none:
            f = M._strip_frame_crc(f)
        seq = M._write_packet(ref, seq, b"\x00" + f)
    M._write_packet(ref, seq, EOF)
    return ref.getvalue()


def _raw_dump(srv, command: bytes) -> bytes:
    """Every byte the server sends after auth, until it closes."""
    import socket

    with socket.create_connection(srv.address, timeout=30) as sock:
        rf, wf = M._handshake(sock, b"replica")
        M._write_packet(wf, 0, command)
        return rf.read()


def _dump_cmd(file_name: str, pos: int = 4) -> bytes:
    return (bytes([M.COM_BINLOG_DUMP]) + struct.pack("<IHI", pos, 0x01, 99)
            + file_name.encode())


def _gtid_cmd(executed) -> bytes:
    data = M.encode_gtid_set(executed)
    return (bytes([M.COM_BINLOG_DUMP_GTID]) + struct.pack("<HI", 0x05, 99)
            + struct.pack("<IQI", 0, 4, len(data)) + data)


TD = W.TableDef("d", "t", [(W.TYPE_LONGLONG, None), (W.TYPE_VARCHAR, 256)])


def _txn(gno: int, vals) -> list[bytes]:
    """One GCN+SEQUENCE-carried, GTID-framed transaction, as frames."""
    return [
        W.encode_gcn(1000 + gno),
        W.encode_sequence(4, gno),
        W.encode_gtid(SID, gno),
        W.encode_query("d", "BEGIN"),
        W.encode_table_map(3, TD),
        W.encode_rows_event(W.WRITE_ROWS_EVENT, 3, TD, vals),
        W.encode_xid(gno),
    ]


@pytest.fixture()
def chain(tmp_path):
    """Two GTID-framed files; the first has a >16 MB event mid-file."""
    wire = str(tmp_path / "wire")
    os.makedirs(wire)
    big_td = W.TableDef("d", "blobs", [(W.TYPE_BLOB, 4)])
    big = bytes(range(256)) * 70_000  # ~17.9 MB blob
    f1 = [W.encode_previous_gtids({})]
    f1 += _txn(1, [[1, "a"], [2, "b"]]) + _txn(2, [[3, "c"]])
    f1 += [W.encode_gtid(SID, 3), W.encode_query("d", "BEGIN"),
           W.encode_table_map(4, big_td),
           W.encode_rows_event(W.WRITE_ROWS_EVENT, 4, big_td, [[big]]),
           W.encode_xid(3)]
    f1 += _txn(4, [[4, "d"]])
    W.write_binlog_file(wire + "/binlog.000001", [b"".join(f1)],
                        next_file="binlog.000002")
    f2 = [W.encode_previous_gtids({SID: [(1, 5)]})]
    for gno in range(5, 50):  # past 256 packets: the seq byte wraps
        f2 += _txn(gno, [[gno, "x" * gno]])
    W.write_binlog_file(wire + "/binlog.000002", [b"".join(f2)])
    return wire


def _gtid_groups(frames: list[bytes], skip: set[int]) -> list[bytes]:
    """Kept frames when the gnos in *skip* are executed: a group is the
    GTID plus the GCN/SEQUENCE carriers just before it, through its XID."""
    out, held, dropping = [], [], False
    for f in frames:
        tc = f[4]
        if tc in (W.GCN_EVENT, W.SEQUENCE_EVENT):
            held.append(f)
            continue
        if tc == W.GTID_LOG_EVENT:
            dropping = struct.unpack_from("<q", f, 36)[0] in skip
        if not dropping:
            out += held + [f]
        held = []
        if tc == W.XID_EVENT:
            dropping = False
    return out


@pytest.mark.parametrize("batch", [300, M._FRAME_BATCH])
@pytest.mark.parametrize("checksum", ["CRC32", "NONE"])
def test_dump_stream_matches_per_event_framing(chain, checksum, batch,
                                               monkeypatch):
    """COM_BINLOG_DUMP, from the chain head and from mid-file, and
    COM_BINLOG_DUMP_GTID with an empty set and with a set that skips
    groups (carriers included): the server's bytes equal the stream
    framed one _write_packet per event, the >16 MB event split alike,
    whether a file goes out in one write or in many."""
    monkeypatch.setattr(M, "_FRAME_BATCH", batch)
    f1 = _file_frames(chain + "/binlog.000001")
    f2 = _file_frames(chain + "/binlog.000002")
    none = checksum == "NONE"
    mid = 4 + sum(len(f) for f in f1[:5])
    with M.MySQLDumpServer(chain, binlog_checksum=checksum) as srv:
        assert (_raw_dump(srv, _dump_cmd("binlog.000001"))
                == _reference(f1 + f2, none))
        assert (_raw_dump(srv, _dump_cmd("binlog.000001", mid))
                == _reference(f1[5:] + f2, none))
        assert _raw_dump(srv, _gtid_cmd({})) == _reference(f1 + f2, none)
        skip = {SID: [(1, 2), (3, 4), (6, 8)]}
        kept = _gtid_groups(f1 + f2, {1, 3, 6, 7})
        assert len(kept) < len(f1 + f2)
        assert _raw_dump(srv, _gtid_cmd(skip)) == _reference(kept, none)
        # the client's relay log is the kept frames, heads stripped
        relay = M.binlog_dump_gtid_fetch(*srv.address, skip)
        assert relay == b"".join(
            M._strip_frame_crc(f) if none else f for f in kept)
        assert srv.handler_errors == []


# -- replica receive ---------------------------------------------------------

def _old_collect(stream: bytes) -> bytes:
    """The packet-by-packet parse the chunked receive replaces."""
    rf, out = io.BytesIO(stream), bytearray()
    while True:
        pkt = M._read_packet(rf)
        if pkt is None or (pkt[1][:1] == b"\xfe" and len(pkt[1]) < 9):
            return bytes(out)
        out += pkt[1][1:]


class _Trickle(io.RawIOBase):
    """A reader whose every readinto1 returns a few random bytes."""

    def __init__(self, data: bytes, rng: random.Random, most: int):
        self._data, self._pos, self._rng, self._most = data, 0, rng, most

    def readinto1(self, b) -> int:
        n = min(len(b), self._rng.randint(1, self._most),
                len(self._data) - self._pos)
        b[:n] = self._data[self._pos : self._pos + n]
        self._pos += n
        return n


def _stream(payloads: list[bytes], tail: bytes = EOF) -> bytes:
    out, seq = io.BytesIO(), 1
    for p in payloads:
        seq = M._write_packet(out, seq, b"\x00" + p)
    if tail:
        M._write_packet(out, seq, tail)
    return out.getvalue()


@pytest.fixture()
def small_chunk(monkeypatch):
    monkeypatch.setattr(M, "_RECV_CHUNK", 64)


def test_receive_packets_straddle_chunks(small_chunk):
    """Packets straddling chunk and read boundaries, larger than the
    chunk buffer, or empty-bodied all parse like the per-packet loop."""
    rng = random.Random(5)
    payloads = [bytes(rng.randrange(256) for _ in range(rng.choice(
        [0, 1, 3, 4, 9, 63, 64, 65, 200, 1000]))) for _ in range(300)]
    stream = _stream(payloads)
    for most in (1, 3, 7, 64, 4096):
        got = M._collect_event_packets(_Trickle(stream, rng, most))
        assert got == b"".join(payloads) == _old_collect(stream)


@pytest.mark.parametrize("size", [M._MAX_PACKET - 1, M._MAX_PACKET + 5,
                                  2 * M._MAX_PACKET - 1])
def test_receive_reassembles_continuation_packets(size):
    """A payload of 0xFFFFFF bytes or more arrives as continuation
    packets (an exact multiple ends with an empty one) and reassembles
    whole, between two small events."""
    big = bytes(range(256)) * (size // 256) + b"\x07" * (size % 256)
    stream = _stream([b"head", big, b"tail"])
    assert M._collect_event_packets(io.BytesIO(stream)) == b"head" + big + b"tail"


def test_receive_err_mid_stream_raises(small_chunk):
    err = b"\xff" + struct.pack("<H", 1236) + b"#HY000" + b"binlog purged"
    stream = _stream([b"a" * 100, b"b" * 10], tail=err)
    with pytest.raises(ValueError, match="server error: binlog purged"):
        M._collect_event_packets(_Trickle(stream, random.Random(1), 7))


def test_receive_close_before_eof_keeps_whole_events_only(small_chunk):
    """A stream cut anywhere before EOF — inside a head, an OK byte, a
    payload or a continuation chain — returns only the whole events."""
    payloads = [b"x" * n for n in (10, 70, 1, 130, 5)]
    stream = _stream(payloads, tail=b"")
    ends, at = [], 0
    for p in payloads:
        at += 5 + len(p)
        ends.append(at)
    for cut in range(len(stream) + 1):
        whole = sum(1 for e in ends if e <= cut)
        got = M._collect_event_packets(_Trickle(stream[:cut],
                                                random.Random(cut), 9))
        assert got == b"".join(payloads[:whole])
    big = _stream([b"ok", b"z" * M._MAX_PACKET], tail=b"")
    torn = big[: len(big) - 2]  # the last continuation packet cut short
    assert M._collect_event_packets(io.BytesIO(torn)) == b"ok"


def test_receive_rejects_chain_past_max_allowed_packet(monkeypatch):
    monkeypatch.setattr(M, "_MAX_ALLOWED_PACKET", M._MAX_PACKET + 10)
    stream = _stream([b"y" * (M._MAX_PACKET + 20)])
    with pytest.raises(ValueError, match="max_allowed_packet"):
        M._collect_event_packets(io.BytesIO(stream))


# -- TABLE_MAP memo ----------------------------------------------------------

def test_decode_remapped_table_id_with_different_columns():
    """Table id 3 is mapped to one layout, re-mapped to another, then
    back: each ROWS event decodes under the map just before it, and the
    repeated map's event owns fresh copies of its fields."""
    a = W.TableDef("d", "a", [(W.TYPE_LONGLONG, None), (W.TYPE_VARCHAR, 64)],
                   col_names=["id", "name"], pk=[0])
    b = W.TableDef("d", "b", [(W.TYPE_VARCHAR, 64), (W.TYPE_LONG, None),
                              (W.TYPE_LONGLONG, None)], unsigned={1})
    buf = b"".join([
        W.encode_table_map(3, a),
        W.encode_rows_event(W.WRITE_ROWS_EVENT, 3, a, [[1, "one"]]),
        W.encode_table_map(3, b),
        W.encode_rows_event(W.WRITE_ROWS_EVENT, 3, b, [["two", 4294967295, -2]]),
        W.encode_table_map(3, a),
        W.encode_rows_event(W.DELETE_ROWS_EVENT, 3, a, [[1, "one"]]),
        W.encode_table_map(5, a),  # same layout, another table id
        W.encode_rows_event(W.WRITE_ROWS_EVENT, 5, a, [[2, "two"]]),
    ])
    evs = W.decode_events(buf)
    maps = [e for e in evs if e["type"] == W.TABLE_MAP_EVENT]
    assert [m["tbl"] for m in maps] == ["a", "b", "a", "a"]
    assert [m["table_id"] for m in maps] == [3, 3, 3, 5]
    assert maps[1]["unsigned"] == {1} and maps[0]["unsigned"] == set()
    rows = [(e["tbl"], e["rows"]) for e in evs if "rows" in e]
    assert rows == [("a", [[1, "one"]]), ("b", [["two", 4294967295, -2]]),
                    ("a", [[1, "one"]]), ("a", [[2, "two"]])]
    first, again = maps[0], maps[2]
    assert first == again
    for k in ("types", "unsigned", "col_names", "pk_columns"):
        assert first[k] is not again[k]
    again["col_names"].append("junk")
    assert evs[5]["col_names"] == ["id", "name"]


# -- spool -------------------------------------------------------------------

def _old_spool(blob: bytes, seg_limit: int) -> list[bytes]:
    """The frame-by-frame segment append spool_segments replaces."""
    segs, seg, last_fde = [], bytearray(), None
    for _off, tc, frame in DS._walk_events(blob):
        if seg and len(seg) >= seg_limit and tc in (
            W.TABLE_MAP_EVENT, W.QUERY_EVENT, W.GTID_LOG_EVENT,
            W.FORMAT_DESCRIPTION_EVENT,
        ):
            segs.append(bytes(seg))
            seg = bytearray()
        if tc == W.FORMAT_DESCRIPTION_EVENT:
            last_fde = bytes(frame)
        elif not seg and last_fde is not None:
            seg += last_fde
        seg += frame
    if seg:
        segs.append(bytes(seg))
    return segs


@pytest.mark.parametrize("none", [False, True])
def test_spool_segments_match_frame_by_frame_append(tmp_path, none):
    """A multi-file relay log (an FDE per file) longer than seg_limit,
    CRC32 and NONE-stripped, with a torn tail: the segment files equal a
    frame-by-frame append."""
    frames = []
    for gno in range(1, 60):
        if gno % 20 == 1:
            frames += [W.encode_fde(), W.encode_previous_gtids({})]
        frames += _txn(gno, [[gno, "v" * (gno % 7)]] * (1 + gno % 3))
    if none:
        frames = [M._strip_frame_crc(f) for f in frames]
    blob = b"".join(frames) + frames[5][:9]
    for seg_limit in (0, 700, 4096, 1 << 20):
        spool = str(tmp_path / f"spool_{seg_limit}")
        n = DS.spool_segments(blob, spool, seg_limit=seg_limit)
        want = _old_spool(blob, seg_limit)
        got = [open(os.path.join(spool, f"segment_{i:06d}.bin"), "rb").read()
               for i in range(n)]
        assert sorted(os.listdir(spool)) == [
            f"segment_{i:06d}.bin" for i in range(n)]
        assert got == want
    assert DS.spool_segments(b"", str(tmp_path / "empty")) == 0
