"""MySQL-protocol binlog dump endpoint — the COM_BINLOG_DUMP framing of
the reference's dump server (CdcServer.java:70,154 serves the same
contract over gRPC; the CN fronts it with the MySQL protocol so a stock
replica/`mysqlbinlog --read-from-remote-server` can attach). This module
implements the public client/server protocol subset that attach needs:

* server greeting (HandshakeV10) and HandshakeResponse41 acceptance —
  auth is accepted unconditionally (the slice serves localhost; real
  deployments front this with the platform's auth),
* ``COM_BINLOG_DUMP`` (0x12): [pos:4][flags:2][server_id:4][file] —
  streams every event from that byte position through the rotated chain,
  each event framed as a MySQL packet whose payload is ``0x00`` (OK)
  followed by the raw event bytes — exactly what a replica's relay-log
  writer ingests,
* ``COM_QUIT`` (0x01) and an OK for anything else (a real replica's
  preamble SELECTs are catalog concerns; see catalog.py for the engine's
  SQL surface).

Packet framing is the standard [len:3 LE][seq:1][payload]; payloads
larger than 0xFFFFFF are split per the protocol. The event bytes come
from the same wire files `binlog_wire.export_wire_files` renders, so a
consumer that speaks MySQL replication gets CRC-checksummed binlog v4
events with FDE/TABLE_MAP/ROWS/GTID framing.

Scale posture (100 TB): this endpoint — including the blocking live
push and the COM_BINLOG_DUMP_GTID auto-position attach — is CONTROL
PLANE: a protocol SERVING slice whose job is replica attach, exactly
like the reference's CdcServer dump endpoint. Its unit of work is one
replica connection streaming one binlog chain at the master's write
rate; bytes are pumped frame-whole with no per-event decode (the GTID
skip path reads 2 fixed header fields per event, nothing per column).
The DATA PLANE — bulk encode of table data into wire bytes and bulk
decode back into DataFrames — never passes through this socket: it
runs distributed in `binlog_wire.events_to_binlog`/`binlog_to_events`
(Arrow-batched mapInPandas on executors). Scaling replica fan-out =
more handler threads (ThreadingTCPServer, one per replica); scaling
data volume = Spark parallelism, untouched by this module.
"""

from __future__ import annotations

import io
import os
import socket
import socketserver
import struct
import threading
import zlib

import numpy as np

from . import binlog_wire as W

#: QUERY-event first keywords that end a transaction group by themselves
#: (implicit-commit DDL / admin statements — the server never wraps these
#: in BEGIN…XID). Used to unlatch the GTID-dump skip state at group end.
_DDL_HEADS = frozenset((
    "CREATE", "ALTER", "DROP", "RENAME", "TRUNCATE", "ANALYZE",
    "OPTIMIZE", "REPAIR", "GRANT", "REVOKE", "FLUSH",
    "INSTALL", "UNINSTALL",  # INSTALL/UNINSTALL PLUGIN implicit-commit
))


def _query_ends_group(q: str, in_group: bool = False) -> bool:
    """True iff a QUERY event's text terminates its transaction group.
    COMMIT/ROLLBACK and implicit-commit DDL do; BEGIN, statement-era DML
    and XA START/END (they OPEN/continue a group) do NOT.

    *in_group* says an explicit BEGIN / XA START opened the current
    group. CREATE/DROP TEMPORARY TABLE is MySQL's documented
    no-implicit-commit exception, but that only matters MID-group: under
    GTID mode a lone TEMPORARY DDL is binlogged as its own GTID-framed
    group with no XID, so standalone it IS the group end — treating it
    as non-ending there would leave the dump skip-latch stuck across
    the following non-GTID-framed events."""
    words = q.split(None, 2)
    if not words:
        return False
    head = words[0].upper()
    if head in ("COMMIT", "ROLLBACK"):
        return True
    if head == "XA":
        return len(words) > 1 and words[1].upper() in ("COMMIT", "ROLLBACK")
    if head == "SET":
        # SET PASSWORD is an implicit commit; every other SET (timestamp,
        # names, session vars) rides inside its group
        return len(words) > 1 and words[1].upper() == "PASSWORD"
    if in_group and head in ("CREATE", "DROP") and len(words) > 1 \
            and words[1].upper() == "TEMPORARY":
        return False
    return head in _DDL_HEADS

#: the event types the COM_BINLOG_DUMP_GTID walk acts on; any other
#: event is kept or skipped with its group
_GROUP_MARKS = frozenset((
    W.GCN_EVENT, W.SEQUENCE_EVENT, W.GTID_LOG_EVENT,
    W.ANONYMOUS_GTID_LOG_EVENT, W.FORMAT_DESCRIPTION_EVENT,
    W.PREVIOUS_GTIDS_LOG_EVENT, W.ROTATE_EVENT, W.XID_EVENT,
    W.QUERY_EVENT, W.XA_PREPARE_EVENT,
))

COM_QUIT = 0x01
COM_QUERY = 0x03
COM_BINLOG_DUMP = 0x12
COM_REGISTER_SLAVE = 0x15
COM_BINLOG_DUMP_GTID = 0x1E

_MAX_PACKET = 0xFFFFFF

_U32 = struct.Struct("<I").unpack_from

GtidSet = dict[bytes, list[tuple[int, int]]]


def _parse_gtid_set(data: bytes) -> GtidSet:
    """Decode the Gtid_set wire encoding (same layout as the
    PREVIOUS_GTIDS payload): n_sids(8) then per sid 16-byte uuid +
    n_intervals(8) + (start, end)×8 LE pairs, end EXCLUSIVE."""
    out: GtidSet = {}
    n_sids = struct.unpack_from("<Q", data, 0)[0]
    p = 8
    for _ in range(n_sids):
        sid = bytes(data[p : p + 16])
        n_iv = struct.unpack_from("<Q", data, p + 16)[0]
        p += 24
        ivs = []
        for _ in range(n_iv):
            s0, e0 = struct.unpack_from("<QQ", data, p)
            ivs.append((s0, e0))
            p += 16
        out[sid] = ivs
    return out


def encode_gtid_set(gtid_set: GtidSet) -> bytes:
    """Inverse of :func:`_parse_gtid_set` — used by the replica-side
    client to build the COM_BINLOG_DUMP_GTID data payload."""
    payload = bytearray(struct.pack("<Q", len(gtid_set)))
    for sid, intervals in gtid_set.items():
        payload += sid + struct.pack("<Q", len(intervals))
        for start, end in intervals:
            payload += struct.pack("<QQ", start, end)
    return bytes(payload)


def _merged(intervals: list[tuple[int, int]]) -> list[tuple[int, int]]:
    ivs = sorted(intervals)
    out: list[tuple[int, int]] = []
    for s, e in ivs:
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _gtid_covers(gtid_set: GtidSet, sid: bytes, gno: int) -> bool:
    return any(s <= gno < e for s, e in gtid_set.get(sid, ()))


def _gtid_subset(a: GtidSet, b: GtidSet) -> bool:
    """True iff every gtid in *a* is in *b*."""
    for sid, ivs in a.items():
        cov = _merged(b.get(sid, []))
        for s, e in ivs:
            if s >= e:
                continue
            if not any(cs <= s and e <= ce for cs, ce in cov):
                return False
    return True


def _write_packet(wfile, seq: int, payload: bytes, flush: bool = True) -> int:
    """Write one (possibly split) protocol packet; returns next seq — the
    one place that splits a payload of 0xFFFFFF bytes or more.

    ``flush=False`` is for a 16 MB frame inside ``_write_frames``, whose
    caller flushes once per file; anything latency-sensitive (live push,
    heartbeats, OK/ERR/EOF, result sets) keeps the immediate flush."""
    view = memoryview(payload)
    while True:
        chunk = view[:_MAX_PACKET]
        wfile.write(len(chunk).to_bytes(3, "little") + bytes([seq & 0xFF]) + chunk)
        seq += 1
        view = view[_MAX_PACKET:]
        if len(chunk) < _MAX_PACKET:
            break
    if flush:
        wfile.flush()
    return seq


#: the framer sends kept frames this many bytes at a time, so a dump
#: connection's transient buffers stay bounded whatever the file size
_FRAME_BATCH = 1 << 18


def _span_mask(n: int, lo, hi):
    """Boolean mask of length *n*, True inside the sorted, disjoint
    half-open spans [lo[i], hi[i])."""
    runs = np.diff(np.column_stack([lo, hi]).ravel(), prepend=0, append=n)
    return np.repeat(np.arange(len(runs)) % 2 == 1, runs)  # gap, span, …, gap


def _le4(v):
    """Rows of the 4 little-endian bytes of each value of *v*."""
    return v.astype("<u4").view(np.uint8).reshape(-1, 4)


def _write_frames(wfile, body, offs, seq: int, strip_crc: bool) -> int:
    """Send the frames of *body* that start at *offs* as event packets —
    [len:3][seq:1][0x00 OK][frame] — and return the next seq. numpy lays
    out the heads and copies the frames, one write per ``_FRAME_BATCH``
    bytes. ``strip_crc`` (a binlog_checksum=NONE master): non-FDE frames
    drop their trailer and get event_size patched, the FDE goes through
    ``_strip_frame_crc``. A frame of 16 MB or more goes through
    ``_write_packet``, the one place that splits packets.

    A 190k-frame, 12.9 MB chain on a 4-vCPU VM, header walk included:
    r14's per-file parts list (COM_BINLOG_DUMP) took 0.35 s and its
    per-frame ``_write_packet`` (GTID dump) 0.46 s; now 0.13 and 0.14 s."""
    offs = np.asarray(offs, np.int64)
    src = np.frombuffer(body, np.uint8)
    lens = sum(src[offs + 9 + b].astype(np.int64) << 8 * b for b in range(4))
    fde = src[offs + 4] == W.FORMAT_DESCRIPTION_EVENT
    flen = lens - W.CHECKSUM_LEN * (strip_crc & ~fde)
    ends = np.cumsum(flen + 5)  # packet bytes through each frame
    i = 0
    while i < len(offs):
        if flen[i] + 1 >= _MAX_PACKET:
            frame = bytes(body[offs[i] : offs[i] + lens[i]])
            seq = _write_packet(wfile, seq, b"\x00" + (
                _strip_frame_crc(frame) if strip_crc else frame), flush=False)
            i += 1
            continue
        # a batch stops short of any 16 MB frame: _FRAME_BATCH is smaller
        first = ends[i] - flen[i] - 5
        j = max(i + 1, int(np.searchsorted(ends, first + _FRAME_BATCH, "right")))
        o, fl, at = offs[i:j], flen[i:j], ends[i:j] - flen[i:j] - 5 - first
        out = np.empty(int(ends[j - 1] - first), np.uint8)
        head = at[:, None] + np.arange(5)
        out[head[:, :4]] = _le4(fl + 1 | (seq + np.arange(j - i)) % 256 << 24)
        out[head[:, 4]] = 0
        lo, hi = o[0], o[-1] + fl[-1]
        out[_span_mask(len(out), at + 5, at + 5 + fl)] = src[lo:hi][
            _span_mask(hi - lo, o - lo, o - lo + fl)]
        if strip_crc:
            pat = ~fde[i:j]  # event_size: 9 bytes into the frame
            out[at[pat, None] + 5 + 9 + np.arange(4)] = _le4(fl[pat])
            for k in np.flatnonzero(fde[i:j]):
                out[at[k] + 5 : at[k] + 5 + fl[k]] = np.frombuffer(
                    _strip_frame_crc(bytes(body[o[k] : o[k] + fl[k]])), np.uint8)
        wfile.write(out)
        seq += j - i
        i = j
    return seq


def _strip_frame_crc(frame: bytes) -> bytes:
    """Stored CRC32 frame → NONE-wire frame (a binlog_checksum=NONE
    master's stream). Non-FDE events: drop the 4-byte trailer and patch
    the header's event_size. The FDE KEEPS its footer — a real master
    stamps the FDE itself even under binlog_checksum=NONE (the replica
    learns the alg FROM this event, so it must be verifiable) — with the
    checksum_alg byte at its fixed event_size-5 offset flipped to 0 and
    the CRC recomputed over the patched bytes. The reference reader
    (LogHeader.java:191) reads checksumAlg at exactly that offset."""
    if frame[4] == W.FORMAT_DESCRIPTION_EVENT:
        out = bytearray(frame)
        out[-W.CHECKSUM_LEN - 1] = W.BINLOG_CHECKSUM_ALG_OFF
        struct.pack_into(
            "<I", out, len(out) - W.CHECKSUM_LEN,
            zlib.crc32(bytes(out[: -W.CHECKSUM_LEN])) & 0xFFFFFFFF,
        )
        return bytes(out)
    out = bytearray(frame[: -W.CHECKSUM_LEN])
    struct.pack_into("<I", out, 9, len(out))
    return bytes(out)


#: reassembled-packet cap = 1 GiB, the MAX_MAX_ALLOWED_PACKET a real
#: replication channel runs at (a slave I/O thread raises its
#: max_allowed_packet to 1GB so >16MB row events fit). A client
#: streaming endless continuation chunks hits ERR at the cap instead of
#: holding unbounded buffer; legitimate >16MB event reassembly (shared
#: by the client helpers below) stays untouched.
_MAX_ALLOWED_PACKET = 1 << 30


def _read_packet(rfile) -> tuple[int, bytes] | None:
    head = rfile.read(4)
    if len(head) < 4:
        return None
    ln = int.from_bytes(head[:3], "little")
    seq = head[3]
    chunks = []
    total = 0
    while True:
        chunk = rfile.read(ln)
        if len(chunk) < ln:
            return None  # torn packet (client died mid-write): clean close
        chunks.append(chunk)
        total += ln
        if total > _MAX_ALLOWED_PACKET:
            raise ValueError(
                f"packet exceeds max_allowed_packet ({total} bytes)")
        if ln < _MAX_PACKET:
            break
        head = rfile.read(4)  # continuation packet
        if len(head) < 4:
            return None
        ln = int.from_bytes(head[:3], "little")
    return seq, b"".join(chunks)


def _ok_packet() -> bytes:
    # OK: header(0x00) affected_rows(lenenc 0) last_insert_id(0) status(2) warnings(2)
    return b"\x00\x00\x00\x02\x00\x00\x00"


def _err_packet(code: int, msg: str) -> bytes:
    return (
        b"\xff" + struct.pack("<H", code) + b"#HY000" + msg.encode()
    )


def gtid_set_text(gtid_set: GtidSet) -> str:
    """Canonical Executed_Gtid_Set rendering: intervals MERGED first
    (overlap/adjacency collapse exactly like the server's Gtid_set
    print), then ``uuid:start-end[:...]`` per sid (end INCLUSIVE in text,
    exclusive on the wire), sids comma-joined in uuid order. The single
    source of truth — SHOW MASTER STATUS (both surfaces) and any client
    rendering go through here."""
    import uuid as _uuid

    parts = []
    for sid in sorted(gtid_set, key=lambda b: str(_uuid.UUID(bytes=b))):
        ivs = ":".join(
            f"{s}-{e - 1}" if e - 1 > s else f"{s}"
            for s, e in _merged(gtid_set[sid]) if s < e
        )
        if ivs:
            parts.append(f"{_uuid.UUID(bytes=sid)}:{ivs}")
    return ",".join(parts)


def master_status(wire_dir: str) -> tuple[str, int, str] | None:
    """(file, position, executed_gtid_set_text) of the wire directory's
    tail file — the pure-Python walk behind SHOW MASTER STATUS (the
    Spark-facing twin is ``catalog.show_master_status_wire``)."""
    files = _wire_files(wire_dir)
    if not files:
        return None
    with open(os.path.join(wire_dir, files[-1]), "rb") as fh:
        body = memoryview(fh.read())[4:]
    gtids: GtidSet = {}
    offs, end = _frame_offsets(body, 0)
    for off in offs:
        if body[off + 4] == W.PREVIOUS_GTIDS_LOG_EVENT:
            elen = _U32(body, off + 9)[0]
            prev = _parse_gtid_set(
                body[off + W.HEADER_LEN : off + elen - W.CHECKSUM_LEN])
            for sid, ivs in prev.items():
                gtids.setdefault(sid, []).extend(ivs)
        elif body[off + 4] == W.GTID_LOG_EVENT:
            sid = bytes(body[off + 20 : off + 36])
            gno = struct.unpack_from("<q", body, off + 36)[0]
            gtids.setdefault(sid, []).append((gno, gno + 1))
    return files[-1], end + 4, gtid_set_text(gtids)


def _wire_files(wire_dir: str) -> list[str]:
    """The binlog.NNNNNN files of *wire_dir*, in chain order."""
    return sorted(
        f for f in os.listdir(wire_dir)
        if f.startswith("binlog.") and f.split(".")[-1].isdigit()
    )


#: session/global variables the COM_QUERY surface answers — the set a
#: stock replica / replication client probes before COM_BINLOG_DUMP
_SERVER_VARS = {
    "server_id": "1",
    "server_uuid": "c0ffee00-c0ff-ee00-c0ff-ee00c0ffee00",
    "version": "8.0.32-polardbx-cdc-spark",
    "version_comment": "polardbx-cdc-spark dump endpoint",
    "binlog_checksum": "CRC32",
    "master_binlog_checksum": "CRC32",
    "binlog_format": "ROW",
    "binlog_row_image": "FULL",
    "binlog_row_metadata": "FULL",
    "gtid_mode": "ON",
    "lower_case_table_names": "0",
    "character_set_server": "utf8mb4",
    "collation_server": "utf8mb4_general_ci",
    "read_only": "0",
}


def _split_select_list(body: str) -> list[str]:
    """Split a SELECT expression list on TOP-LEVEL commas only —
    paren-depth and quote aware, so ``CONCAT('a','b'), @@x`` is two
    expressions, not three. Backslash escapes inside quotes honored."""
    parts: list[str] = []
    depth, quote, start, i = 0, "", 0, 0
    while i < len(body):
        c = body[i]
        if quote:
            if c == "\\" and quote in "'\"":
                i += 1  # skip escaped char
            elif c == quote:
                quote = ""
        elif c in "'\"`":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
        i += 1
    parts.append(body[start:])
    return [p.strip() for p in parts]


def _col_def(name: str) -> bytes:
    """Protocol-41 column definition: every catalog field var_string."""
    def lcs(s: bytes) -> bytes:
        return _lenenc_bytes(s)

    return (
        lcs(b"def") + lcs(b"") + lcs(b"") + lcs(b"")
        + lcs(name.encode()) + lcs(name.encode())
        + b"\x0c" + struct.pack("<H", 33) + struct.pack("<I", 1024)
        + b"\xfd" + struct.pack("<H", 0) + b"\x00" + b"\x00\x00"
    )


def _lenenc_bytes(b: bytes) -> bytes:
    if len(b) < 251:
        return bytes([len(b)]) + b
    if len(b) < 1 << 16:
        return b"\xfc" + struct.pack("<H", len(b)) + b
    return b"\xfd" + len(b).to_bytes(3, "little") + b


def _eof_packet() -> bytes:
    return b"\xfe\x00\x00\x02\x00"


def _frame_offsets(body, off: int) -> tuple[list[int], int]:
    """Offsets of *body*'s whole frames from *off* on; where it stopped."""
    offs = []
    while off + W.HEADER_LEN <= len(body):
        elen = _U32(body, off + 9)[0]
        if elen < W.HEADER_LEN + W.CHECKSUM_LEN or off + elen > len(body):
            break
        offs.append(off)
        off += elen
    return offs, off


def _gtid_kept(body, off: int, executed: GtidSet) -> tuple[list[int], int]:
    """COM_BINLOG_DUMP_GTID's walk of one file body: offsets of the frames
    a replica that executed *executed* still needs — every transaction
    group whose GTID it has is skipped — and where the walk stopped."""
    skip = in_group = False  # in_group: explicit BEGIN/XA START opened it
    # GCN/SEQUENCE carriers precede their transaction's GTID (render
    # order: GCN, GTID, BEGIN, …, XID) — hold them until the skip decision
    # so they share their OWN txn's fate, not the previous one's
    pending: list[int] = []
    offs: list[int] = []
    while off + W.HEADER_LEN <= len(body):
        elen = _U32(body, off + 9)[0]
        if elen < W.HEADER_LEN + W.CHECKSUM_LEN or off + elen > len(body):
            break
        tc = body[off + 4]
        if tc not in _GROUP_MARKS and not pending:
            # TABLE_MAP, ROWS, …: shares its group's fate
            if not skip:
                offs.append(off)
            off += elen
            continue
        if tc in (W.GCN_EVENT, W.SEQUENCE_EVENT):
            pending.append(off)
            off += elen
            continue
        if tc == W.GTID_LOG_EVENT:
            # commit_flag(1) sid(16) gno(8) — group starts here
            sid = bytes(body[off + 20 : off + 36])
            gno = struct.unpack_from("<q", body, off + 36)[0]
            skip = _gtid_covers(executed, sid, gno)
            in_group = False  # no explicit BEGIN/XA START seen yet
        elif tc in (W.FORMAT_DESCRIPTION_EVENT,
                    W.PREVIOUS_GTIDS_LOG_EVENT, W.ROTATE_EVENT):
            skip = False  # bookkeeping always flows; groups don't span files
        elif tc == W.ANONYMOUS_GTID_LOG_EVENT:
            # anonymous groups are never in the replica's executed set
            skip = False
        if not skip:
            offs += pending
            offs.append(off)
        pending = []
        if tc == W.XID_EVENT:
            # transaction group ends at its XID: the skip decision must
            # not leak onto a following anonymous (non-GTID-framed)
            # transaction's events
            skip = in_group = False
        elif tc == W.QUERY_EVENT:
            # groups may also terminate at a QUERY event — COMMIT /
            # ROLLBACK text or an implicit-commit DDL (which is its whole
            # group). BEGIN / XA START open a group and statement-era DML
            # QUERYs sit inside one, so none of those clears skip
            # (_query_ends_group); a TEMPORARY DDL ends the group ONLY
            # when standalone (no opener). The opener latch is tracked
            # UNconditionally — not just while skipping — so a skip source
            # introduced mid-group can never observe a stale
            # in_group=False. Bounds-check every derived offset against
            # the frame end: the loop guard only proves elen >= 27, so a
            # truncated/alien QUERY frame must leave skip alone rather
            # than parse adjacent bytes.
            b0 = off + W.HEADER_LEN
            if elen >= W.HEADER_LEN + 13 + W.CHECKSUM_LEN:
                dlen = body[b0 + 8]
                svlen = struct.unpack_from("<H", body, b0 + 11)[0]
                q_lo = b0 + 13 + svlen + dlen + 1
                q_hi = off + elen - W.CHECKSUM_LEN
                if q_lo <= q_hi:
                    q = bytes(body[q_lo:q_hi]).decode(errors="replace").strip()
                    words = [w.upper() for w in q.split(None, 2)[:2]]
                    if words[:1] == ["BEGIN"] or words == ["XA", "START"]:
                        in_group = True
                    elif _query_ends_group(q, in_group=in_group):
                        skip = in_group = False
        elif tc == W.XA_PREPARE_EVENT:
            # an XA transaction's group ends at its XA_PREPARE (one-phase
            # or not) — the XA COMMIT arrives later as its OWN group
            skip = False
        off += elen
    return offs, off


class _Handler(socketserver.StreamRequestHandler):
    def handle(self):  # noqa: D102
        try:
            self._session()
        except OSError:
            # client vanished (RST mid-read, broken pipe mid-write):
            # a clean close, never a crashed handler thread
            return

    def _session(self):
        srv: MySQLDumpServer = self.server.dump_server  # type: ignore[attr-defined]
        # HandshakeV10 greeting
        auth1, auth2 = b"12345678", b"901234567890\x00"
        greeting = (
            b"\x0a"  # protocol 10
            + b"8.0.32-polardbx-cdc-spark\x00"
            + struct.pack("<I", 1)  # thread id
            + auth1 + b"\x00"
            # capabilities lower: LONG_PASSWORD..TRANSACTIONS (0x00FF) |
            # CLIENT_PROTOCOL_41 (0x0200) | CLIENT_SECURE_CONNECTION (0x8000)
            # — PROTOCOL_41 is mandatory for stock clients/mysqlbinlog, and
            # the #HY000 sql-state marker in our ERR packets is only valid
            # under it.
            + struct.pack("<H", 0x82FF)
            + b"\x21"  # charset utf8
            + struct.pack("<H", 0x0002)  # status: autocommit
            # capabilities upper: CLIENT_PLUGIN_AUTH (0x0008 here = 0x00080000)
            # — required because the greeting appends an auth-plugin name.
            + struct.pack("<H", 0x0008)
            + bytes([len(auth1) + len(auth2)])
            + b"\x00" * 10
            + auth2
            + b"mysql_native_password\x00"
        )
        seq = _write_packet(self.wfile, 0, greeting)
        try:
            resp = _read_packet(self.rfile)
        except ValueError:
            resp = None  # oversized garbage during auth: close
        if resp is None:
            return
        _write_packet(self.wfile, resp[0] + 1, _ok_packet())  # auth OK

        while True:
            try:
                pkt = _read_packet(self.rfile)
            except ValueError:
                # continuation chain past max_allowed_packet: the stock
                # ER_NET_PACKET_TOO_LARGE answer, then drop the session
                try:
                    _write_packet(self.wfile, 1, _err_packet(
                        1153, "Got a packet bigger than "
                        "'max_allowed_packet' bytes"))
                except OSError:
                    pass
                return
            if pkt is None:
                return
            _seq, payload = pkt
            if not payload:
                return
            cmd = payload[0]
            if cmd == COM_QUIT:
                return
            if cmd == COM_REGISTER_SLAVE:
                _write_packet(self.wfile, 1, _ok_packet())
                continue
            declared = getattr(self, "_checksum_mode", "CRC32")
            if (cmd in (COM_BINLOG_DUMP, COM_BINLOG_DUMP_GTID)
                    and srv.binlog_checksum == "CRC32"
                    and declared not in ("CRC32", "@@GLOBAL.BINLOG_CHECKSUM")):
                # replica declared a checksum mode it can verify that is
                # NOT what the binlog carries — refuse like a real master.
                # (A NONE-logging master streams trailer-less frames every
                # replica can parse, so no refusal in that mode.)
                _write_packet(self.wfile, 1, _err_packet(
                    1236,
                    "Slave can not handle replication events with the "
                    "checksum that master is configured to log",
                ))
                return
            if cmd in (COM_BINLOG_DUMP, COM_BINLOG_DUMP_GTID):
                # PARSE phase: malformed bytes (truncated fixed fields,
                # oversized lengths, garbage GTID sets) answer ERR and
                # drop the session — the ER_MALFORMED_PACKET discipline.
                # The catch covers ONLY the field extraction: a bug in
                # the streaming phase below must escape to handle_error/
                # handler_errors, not be masked as a client error.
                try:
                    if cmd == COM_BINLOG_DUMP:
                        if len(payload) < 11:  # pos(4) flags(2) server_id(4)
                            raise ValueError("truncated COM_BINLOG_DUMP")
                        pos = struct.unpack_from("<I", payload, 1)[0]
                        flags = struct.unpack_from("<H", payload, 5)[0]
                        # server_id(4) @7, file @11
                        fname = payload[11:].split(b"\x00")[0].decode() or None
                        args = (fname, pos)
                    else:
                        # flags(2) server_id(4) name_len(4) name pos(8)
                        # data_len(4) data
                        if len(payload) < 11:
                            raise ValueError("truncated COM_BINLOG_DUMP_GTID")
                        flags = struct.unpack_from("<H", payload, 1)[0]
                        name_len = struct.unpack_from("<I", payload, 7)[0]
                        p = 11 + name_len
                        p += 8  # pos — GTID attach resolves its own start
                        data_len = struct.unpack_from("<I", payload, p)[0]
                        args = (_parse_gtid_set(payload[p + 4 : p + 4 + data_len]),)
                except Exception:  # noqa: BLE001
                    try:
                        _write_packet(self.wfile, 1, _err_packet(
                            1835, "Malformed communication packet"))
                    except OSError:
                        pass
                    return
                # STREAM phase: flag 0x01 = BINLOG_DUMP_NON_BLOCK
                # (mysqlbinlog's default: EOF at end-of-chain). A real
                # replica leaves it CLEAR and the master keeps the stream
                # open, pushing appended events and heartbeats while idle.
                # Client-addressable conditions (unknown file, bad
                # position) surface as ValueError → ERR 1236 like a real
                # master's ER_MASTER_FATAL_ERROR_READING_BINLOG; genuine
                # server bugs escape to handle_error.
                try:
                    if cmd == COM_BINLOG_DUMP:
                        self._stream_dump(srv, *args, block=not (flags & 0x01))
                    else:
                        self._stream_dump_gtid(srv, *args,
                                               block=not (flags & 0x01))
                except OSError:
                    pass  # client went away mid-stream: clean close
                except ValueError as exc:
                    try:
                        _write_packet(self.wfile, 1,
                                      _err_packet(1236, str(exc)[:200]))
                    except OSError:
                        pass
                return  # dump holds the connection; done = close
            if cmd == COM_QUERY:
                # unparseable SQL answers ERR 1064 (ER_PARSE_ERROR) like
                # a real server; non-ValueError bugs escape to
                # handle_error instead of masquerading as client errors
                try:
                    self._answer_query(
                        srv, payload[1:].decode(errors="replace"))
                except OSError:
                    return
                except ValueError as exc:
                    try:
                        _write_packet(self.wfile, 1,
                                      _err_packet(1064, str(exc)[:200]))
                    except OSError:
                        return
                continue
            # anything else: OK (catalog.py owns the full SQL surface)
            _write_packet(self.wfile, 1, _ok_packet())

    def _send_result_set(self, names: list[str],
                         rows: list[list[str | None]]) -> None:
        """Text-protocol result set: column count, column definitions,
        EOF, row packets (lenenc strings, 0xFB = NULL), EOF."""
        seq = _write_packet(self.wfile, 1, bytes([len(names)]))  # lenenc count (< 251 cols)
        for n in names:
            seq = _write_packet(self.wfile, seq, _col_def(n))
        seq = _write_packet(self.wfile, seq, _eof_packet())
        for row in rows:
            blob = b"".join(
                b"\xfb" if v is None else _lenenc_bytes(str(v).encode())
                for v in row
            )
            seq = _write_packet(self.wfile, seq, blob)
        _write_packet(self.wfile, seq, _eof_packet())

    def _server_vars(self, srv: "MySQLDumpServer") -> dict:
        """The module-level variable table with per-SERVER overrides
        (binlog_checksum reflects what this master actually logs)."""
        if srv.binlog_checksum == "CRC32":
            return _SERVER_VARS
        return {**_SERVER_VARS,
                "binlog_checksum": srv.binlog_checksum,
                "master_binlog_checksum": srv.binlog_checksum}

    def _answer_query(self, srv: "MySQLDumpServer", sql: str) -> None:
        """The replication-preamble SQL surface a stock client issues
        before COM_BINLOG_DUMP (the reference CN answers the same set;
        catalog.py carries the engine's full Spark-side SQL commands):
        SELECT @@vars / VERSION() / UNIX_TIMESTAMP(), SHOW MASTER STATUS,
        SHOW BINARY LOGS, SHOW VARIABLES [LIKE], SET → OK."""
        import fnmatch
        import re as _re
        import time as _time

        q = sql.strip().rstrip(";").strip()
        u = q.upper()
        if u.startswith("SET "):
            # honor @master_heartbeat_period (nanoseconds, like a real
            # master): a stock replica sets it before COM_BINLOG_DUMP and
            # expects idle HEARTBEATs at that cadence on the live stream
            m = _re.match(
                r"SET\s+@MASTER_HEARTBEAT_PERIOD\s*=\s*(\d+)", u
            )
            if m:
                ns = int(m.group(1))
                # 0 = heartbeats OFF (the protocol's disable value), else
                # clamp to a 50ms floor like the server's 1ms granularity
                self._heartbeat_period = 0.0 if ns == 0 else max(ns / 1e9, 0.05)
            # checksum negotiation: a stock replica declares what it can
            # verify with SET @master_binlog_checksum = 'X' (libmysql
            # sends the expression form @@global.binlog_checksum == our
            # CRC32). Every wire file this endpoint serves carries CRC32,
            # so a replica declaring NONE must be refused at dump time
            # exactly like a real master (ER_MASTER_FATAL_ERROR 1236) —
            # streaming events it would mis-parse is worse than an error.
            mc = _re.match(
                r"SET\s+@MASTER_BINLOG_CHECKSUM\s*=\s*(?:'|\")?"
                r"(@@GLOBAL\.BINLOG_CHECKSUM|[A-Z0-9_]+)", u
            )
            if mc:
                self._checksum_mode = (
                    "CRC32" if mc.group(1) == "@@GLOBAL.BINLOG_CHECKSUM"
                    else mc.group(1)
                )
            _write_packet(self.wfile, 1, _ok_packet())
            return
        if u in ("SHOW MASTER STATUS", "SHOW BINARY LOG STATUS"):
            hit = master_status(srv.wire_dir)
            names = ["File", "Position", "Binlog_Do_DB",
                     "Binlog_Ignore_DB", "Executed_Gtid_Set"]
            rows = [] if hit is None else [
                [hit[0], str(hit[1]), "", "", hit[2]]
            ]
            self._send_result_set(names, rows)
            return
        if u in ("SHOW BINARY LOGS", "SHOW MASTER LOGS"):
            rows = [
                [f, str(os.path.getsize(os.path.join(srv.wire_dir, f)))]
                for f in srv.files()
            ]
            self._send_result_set(["Log_name", "File_size"], rows)
            return
        m = _re.match(r"SHOW (?:GLOBAL |SESSION )?VARIABLES(?:\s+LIKE\s+'([^']*)')?$",
                      q, _re.I)
        if m:
            pat = (m.group(1) or "%").replace("%", "*").replace("_", "?")
            rows = [
                [k, v] for k, v in sorted(self._server_vars(srv).items())
                if fnmatch.fnmatch(k, pat.lower())
            ]
            self._send_result_set(["Variable_name", "Value"], rows)
            return
        if u.startswith("SELECT"):
            # the stock mysql client's opening statement is
            # "select @@version_comment limit 1" — strip the LIMIT tail
            body = _re.sub(r"\s+LIMIT\s+\d+(?:\s+OFFSET\s+\d+)?\s*$", "",
                           q[6:], flags=_re.I)
            exprs = _split_select_list(body)
            names, vals = [], []
            for e in exprs:
                alias = None
                am = _re.match(r"(.*?)\s+AS\s+(\S+)$", e, _re.I)
                if am:
                    e, alias = am.group(1).strip(), am.group(2).strip("`'\"")
                ue = e.upper()
                if ue.startswith("@@"):
                    var = e[2:].split(".")[-1].lower()
                    names.append(alias or e)
                    vals.append(self._server_vars(srv).get(var))
                elif ue == "VERSION()":
                    names.append(alias or "VERSION()")
                    vals.append(_SERVER_VARS["version"])
                elif ue == "UNIX_TIMESTAMP()":
                    names.append(alias or "UNIX_TIMESTAMP()")
                    vals.append(str(int(_time.time())))
                elif ue.startswith("'") or ue.isdigit():
                    names.append(alias or e)
                    vals.append(e.strip("'"))
                elif "(" in e:
                    # an unsupported function call: a NULL here would be
                    # silently wrong — answer the way a server answers an
                    # unknown function
                    _write_packet(
                        self.wfile, 1,
                        _err_packet(1305, f"FUNCTION {e} does not exist"),
                    )
                    return
                else:
                    names.append(alias or e)
                    vals.append(None)
            self._send_result_set(names, [vals])
            return
        _write_packet(self.wfile, 1, _ok_packet())

    def _stream_dump(self, srv: "MySQLDumpServer", fname: str | None,
                     pos: int, block: bool = False) -> None:
        files = srv.files()
        if not files:
            raise ValueError("no binlog files")
        fname = fname or files[0]
        if fname not in files:
            raise ValueError(f"could not find binlog file {fname!r}")
        self._send_chain(srv, files[files.index(fname):], max(pos, 4),
                         _frame_offsets, block)

    def _send_chain(self, srv: "MySQLDumpServer", names: list[str],
                    pos: int, walk, block: bool) -> None:
        """Stream the files *names* from byte *pos* of the first.
        ``walk(body, off)`` picks the kept frames of a file body and says
        where its walk stopped; ``_write_frames`` frames them with one
        flush per file. A blocking dump then follows the live tail, and
        EOF ends the stream."""
        seq, cur, cur_off = 1, names[0], pos
        for name in names:
            with open(os.path.join(srv.wire_dir, name), "rb") as fh:
                buf = fh.read()
            if buf[:4] != W.MAGIC:
                continue
            body = memoryview(buf)[4:]
            offs, off = walk(body, (pos if name == names[0] else 4) - 4)
            seq = _write_frames(self.wfile, body, offs, seq,
                                srv.binlog_checksum == "NONE")
            self.wfile.flush()
            cur, cur_off = name, off + 4
        if block:
            seq = self._follow_live(srv, cur, cur_off, seq)
        try:
            _write_packet(self.wfile, seq, _eof_packet())
        except OSError:
            pass  # replica already detached

    def _follow_live(self, srv: "MySQLDumpServer", cur: str, off: int,
                     seq: int) -> int:
        """Blocking-dump live loop (the master side of a replica that
        attached WITHOUT BINLOG_DUMP_NON_BLOCK — CdcServer.java:154-286
        keeps its stream open the same way): push CRC-complete appended
        frames, follow rotation once the tail file is drained AND
        size-stable across polls, and send HEARTBEAT events while idle.
        Ends after ``srv.live_idle_timeout`` seconds with no new bytes
        (a real master never ends; the slice bounds it) or when the
        replica detaches."""
        import time as _time
        import zlib as _zlib

        # a replica's SET @master_heartbeat_period (captured per
        # connection by _answer_query) overrides the server default;
        # an explicit 0 DISABLES heartbeats entirely
        hb = getattr(self, "_heartbeat_period", None)
        if hb is None:
            hb = srv.heartbeat_interval
        deadline = _time.monotonic() + srv.live_idle_timeout
        next_hb = _time.monotonic() + hb if hb > 0 else float("inf")
        stable_size = -1
        while _time.monotonic() < deadline:
            path = os.path.join(srv.wire_dir, cur)
            try:
                size = os.path.getsize(path)
            except OSError:
                size = 0
            sent = False
            if size > off:
                with open(path, "rb") as fh:
                    fh.seek(off)
                    tail = fh.read()
                span = 0
                while span + W.HEADER_LEN <= len(tail):
                    elen = struct.unpack_from("<I", tail, span + 9)[0]
                    if (elen < W.HEADER_LEN + W.CHECKSUM_LEN
                            or span + elen > len(tail)):
                        break
                    frame = tail[span : span + elen]
                    want = struct.unpack_from(
                        "<I", frame, elen - W.CHECKSUM_LEN
                    )[0]
                    if _zlib.crc32(frame[: -W.CHECKSUM_LEN]) & 0xFFFFFFFF != want:
                        break  # torn/in-flight: retry next poll
                    if srv.binlog_checksum == "NONE":
                        frame = _strip_frame_crc(frame)
                    try:
                        seq = _write_packet(self.wfile, seq, b"\x00" + frame)
                    except OSError:
                        return seq  # replica detached
                    span += elen
                if span:
                    off += span
                    sent = True
                    stable_size = -1
                    deadline = _time.monotonic() + srv.live_idle_timeout
            if not sent:
                files = srv.files()
                nxt = files[files.index(cur) + 1 : files.index(cur) + 2] \
                    if cur in files else []
                if nxt and off == size and size == stable_size:
                    cur, off, stable_size = nxt[0], 4, -1
                    deadline = _time.monotonic() + srv.live_idle_timeout
                    continue
                stable_size = size
                if _time.monotonic() >= next_hb:
                    try:
                        hb_frame = W.encode_heartbeat(cur)
                        if srv.binlog_checksum == "NONE":
                            hb_frame = _strip_frame_crc(hb_frame)
                        seq = _write_packet(
                            self.wfile, seq, b"\x00" + hb_frame,
                        )
                    except OSError:
                        return seq
                    next_hb = _time.monotonic() + hb
                _time.sleep(0.05)
        return seq

    def _file_prev_gtids(self, srv: "MySQLDumpServer",
                         name: str) -> GtidSet | None:
        """First PREVIOUS_GTIDS payload of *name*; None if the file's
        head carries none (a non-GTID-framed export — start resolution
        must not scan past it). Reads event headers only and stops at the
        first non-bookkeeping event, so resolving a long chain costs
        O(file-head bytes) per file, never whole-file reads."""
        with open(os.path.join(srv.wire_dir, name), "rb") as fh:
            if fh.read(4) != W.MAGIC:
                return None
            while True:
                head = fh.read(W.HEADER_LEN)
                if len(head) < W.HEADER_LEN:
                    return None
                elen = struct.unpack_from("<I", head, 9)[0]
                if elen < W.HEADER_LEN + W.CHECKSUM_LEN:
                    return None
                tc = head[4]
                if tc == W.PREVIOUS_GTIDS_LOG_EVENT:
                    rest = fh.read(elen - W.HEADER_LEN)
                    if len(rest) < elen - W.HEADER_LEN:
                        return None
                    return _parse_gtid_set(rest[: -W.CHECKSUM_LEN])
                if tc != W.FORMAT_DESCRIPTION_EVENT:
                    return None  # past the file head: no bookkeeping here
                fh.seek(elen - W.HEADER_LEN, 1)

    def _stream_dump_gtid(self, srv: "MySQLDumpServer",
                          executed: GtidSet, block: bool = False) -> None:
        """COM_BINLOG_DUMP_GTID: resolve the replica's executed-GTID set
        to a start file (latest file whose PREVIOUS_GTIDS ⊆ executed —
        the server's Gtid_state::find lookup), then stream the chain
        skipping every transaction group whose GTID the replica already
        has. Requires GTID-framed wire files (export_wire_files with
        gtid framing on); the dump contract is CdcServer.java:154,
        GTID event codes LogEvent.java:161-171."""
        files = srv.files()
        if not files:
            raise ValueError("no binlog files")
        start_idx = None
        for i, name in enumerate(files):
            prev = self._file_prev_gtids(srv, name)
            if prev is None:
                # un-bookkept file: attach from the chain head and let the
                # per-transaction skip below do the filtering
                if i == 0:
                    start_idx = 0
                break
            if _gtid_subset(prev, executed):
                start_idx = i
            else:
                break  # PREVIOUS_GTIDS grows monotonically along the chain
        if start_idx is None:
            raise ValueError(
                "Cannot replicate: required binary logs have been purged")
        # auto-position replicas block by default too: after catch-up the
        # stream stays open and newly-appended transactions push live
        # (fresh GTIDs are by construction not in the replica's executed
        # set, so no skip evaluation is needed on the tail)
        self._send_chain(srv, files[start_idx:], 4,
                         lambda body, off: _gtid_kept(body, off, executed),
                         block)


class _Server(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def handle_error(self, request, client_address):  # noqa: D102
        # an exception ESCAPING a handler is a server bug (a real
        # master answers garbage with ERR or a close, never a crashed
        # session thread — CdcServer.java:154's error discipline).
        # Record it where tests can assert emptiness instead of letting
        # socketserver dump a traceback to stderr and carry on.
        import traceback

        ds = getattr(self, "dump_server", None)
        if ds is not None:
            ds.handler_errors.append(traceback.format_exc())
        else:  # pragma: no cover - server wired without owner
            super().handle_error(request, client_address)


class MySQLDumpServer:
    """Serve a wire-binlog directory over the MySQL protocol."""

    def __init__(self, wire_dir: str, host: str = "127.0.0.1", port: int = 0,
                 live_idle_timeout: float = 10.0,
                 heartbeat_interval: float = 0.5,
                 binlog_checksum: str = "CRC32"):
        self.wire_dir = wire_dir
        #: what this master LOGS (binlog_checksum): "CRC32" (default —
        #: every in-repo wire file carries CRC32 trailers) or "NONE" (a
        #: binlog_checksum=NONE master: non-FDE frames stream WITHOUT
        #: trailers — stored CRC32 bytes are stripped on the wire — and
        #: the FDE keeps its stamped footer with alg byte 0 at the fixed
        #: event_size-5 offset, so the replica sees exactly what a NONE
        #: master writes). The checksum negotiation (ERR 1236 for a
        #: replica that cannot verify what we log) keys off this.
        self.binlog_checksum = binlog_checksum.upper()
        #: blocking dumps (replica attach without BINLOG_DUMP_NON_BLOCK)
        #: end after this many idle seconds — a real master never ends;
        #: the slice bounds it so tests and ad-hoc consumers terminate
        self.live_idle_timeout = live_idle_timeout
        self.heartbeat_interval = heartbeat_interval
        #: tracebacks of exceptions that ESCAPED a handler thread — a
        #: malformed/adversarial client must yield ERR or a clean close,
        #: never an unhandled exception; the protocol fuzz asserts this
        #: stays empty (test_mysql_dump.py)
        self.handler_errors: list[str] = []
        self._srv = _Server((host, port), _Handler)
        self._srv.dump_server = self  # type: ignore[attr-defined]
        self._thread: threading.Thread | None = None

    def files(self) -> list[str]:
        return _wire_files(self.wire_dir)

    @property
    def address(self) -> tuple[str, int]:
        return self._srv.server_address[:2]

    def start(self) -> tuple[str, int]:
        # poll_interval: socketserver's serve_forever only notices
        # shutdown() between selector timeouts — the 0.5s default put a
        # constant ~1s of pure wait inside every `with MySQLDumpServer`
        # attach (r14 profile: the sf0.1 dump fetch read EXACTLY 1.004s
        # regardless of bytes); 20ms bounds the shutdown wait without
        # measurable idle cost (one selector wake per 20ms, accept path
        # unchanged)
        self._thread = threading.Thread(
            target=lambda: self._srv.serve_forever(poll_interval=0.02),
            daemon=True)
        self._thread.start()
        return self.address

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "MySQLDumpServer":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()


# -- minimal replica-side client (protocol exerciser) -----------------------

def _handshake(sock: socket.socket, user: bytes) -> tuple:
    """Greeting → HandshakeResponse41 → auth OK; returns the connection's
    buffered (reader, writer) pair."""
    rf = sock.makefile("rb")
    wf = sock.makefile("wb")
    greet = _read_packet(rf)
    assert greet is not None and greet[1][0] == 0x0A, "bad greeting"
    # capabilities (PROTOCOL_41 | SECURE_CONN), max packet, charset, 23
    # zeros, user, empty auth response
    resp = (struct.pack("<II", 0x0200 | 0x8000, 1 << 24) + b"\x21"
            + b"\x00" * 23 + user + b"\x00" + b"\x00")
    _write_packet(wf, greet[0] + 1, resp)
    ok = _read_packet(rf)
    assert ok is not None and ok[1][:1] == b"\x00", "auth rejected"
    return rf, wf


def binlog_dump_fetch(host: str, port: int, file_name: str = "",
                      pos: int = 4, server_id: int = 99,
                      block: bool = False, timeout: float = 30.0) -> bytes:
    """Attach like a replica: handshake → COM_BINLOG_DUMP → collect the
    raw event bytes from the event packets until EOF. Returns bytes that
    feed straight into ``binlog_wire.decode_events`` — a relay log.

    ``block=True`` leaves BINLOG_DUMP_NON_BLOCK clear (a real replica's
    posture): the server keeps the stream open, pushing appended events
    and HEARTBEAT filler until its live-idle limit ends the dump."""
    with socket.create_connection((host, port), timeout=timeout) as sock:
        rf, wf = _handshake(sock, b"replica")
        dump = (
            bytes([COM_BINLOG_DUMP])
            + struct.pack("<I", pos)
            + struct.pack("<H", 0 if block else 0x01)  # NON_BLOCK flag
            + struct.pack("<I", server_id)
            + file_name.encode()
        )
        _write_packet(wf, 0, dump)
        return _collect_event_packets(rf)


def binlog_dump_gtid_fetch(host: str, port: int, executed: GtidSet,
                           server_id: int = 99, block: bool = False,
                           timeout: float = 30.0) -> bytes:
    """Attach like a GTID replica: handshake → COM_BINLOG_DUMP_GTID with
    the executed-GTID set → collect raw event bytes until EOF. The server
    resolves the start file from its PREVIOUS_GTIDS chain and skips every
    transaction the set already covers."""
    with socket.create_connection((host, port), timeout=timeout) as sock:
        rf, wf = _handshake(sock, b"replica")
        data = encode_gtid_set(executed)
        dump = (
            bytes([COM_BINLOG_DUMP_GTID])
            # BINLOG_THROUGH_GTID (0x04) | NON_BLOCK unless blocking
            + struct.pack("<H", 0x04 | (0 if block else 0x01))
            + struct.pack("<I", server_id)
            + struct.pack("<I", 0)  # name_len: server resolves the file
            + struct.pack("<Q", 4)
            + struct.pack("<I", len(data))
            + data
        )
        _write_packet(wf, 0, dump)
        return _collect_event_packets(rf)


def _read_lenenc_str(buf: bytes, pos: int) -> tuple[bytes | None, int]:
    first = buf[pos]
    if first == 0xFB:
        return None, pos + 1
    if first < 251:
        ln, pos = first, pos + 1
    elif first == 0xFC:
        ln, pos = struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    elif first == 0xFD:
        ln, pos = int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    else:
        ln, pos = struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9
    return bytes(buf[pos : pos + ln]), pos + ln


def query(host: str, port: int, sql: str
          ) -> tuple[list[str], list[list[str | None]]]:
    """Issue one COM_QUERY like a stock client and parse the text-protocol
    response: returns (column_names, rows); an OK (e.g. for SET) returns
    ([], []); a server ERR raises."""
    with socket.create_connection((host, port), timeout=30) as sock:
        rf, wf = _handshake(sock, b"client")
        _write_packet(wf, 0, b"\x03" + sql.encode())
        first = _read_packet(rf)
        assert first is not None
        p = first[1]
        if p[:1] == b"\x00":
            return [], []
        if p[:1] == b"\xff":
            raise ValueError(p[9:].decode(errors="replace"))
        n_cols = p[0]  # lenenc, < 251 in this surface
        names: list[str] = []
        for _ in range(n_cols):
            pkt = _read_packet(rf)
            assert pkt is not None
            buf, pos = pkt[1], 0
            parts = []
            for _f in range(5):  # def, schema, table, org_table, name
                v, pos = _read_lenenc_str(buf, pos)
                parts.append(v)
            names.append((parts[4] or b"").decode())
        eof = _read_packet(rf)
        assert eof is not None and eof[1][:1] == b"\xfe"
        rows: list[list[str | None]] = []
        while True:
            pkt = _read_packet(rf)
            assert pkt is not None
            buf = pkt[1]
            if buf[:1] == b"\xfe" and len(buf) < 9:
                break
            pos, row = 0, []
            for _ in range(n_cols):
                v, pos = _read_lenenc_str(buf, pos)
                row.append(None if v is None else v.decode())
            rows.append(row)
        return names, rows


#: receive buffer of ``_collect_event_packets``: the stream is read into
#: it one ``readinto1`` at a time and its packet heads stripped per chunk
_RECV_CHUNK = 1 << 18


def _collect_event_packets(rf) -> bytes:
    """Event payloads of a dump stream, OK bytes and packet heads
    stripped, until EOF. An ERR packet raises; 0xFFFFFF continuation
    packets reassemble, capped at ``_MAX_ALLOWED_PACKET``; a connection
    closed before EOF returns only the events that arrived whole.

    Each chunk: a tight walk collects the heads of its whole packets,
    numpy checks them to be plain event packets (an OK byte, no
    continuation), and one mask drops heads and OK bytes on the way into
    a BytesIO — one copy of the blob. EOF, ERR, continuation chains and a
    packet cut by the chunk end go packet by packet.

    Before: r14's loop read each packet with two ``BufferedReader.read``
    calls and kept them in a bytearray copied once more by ``bytes()``
    (a chunked rewrite that sliced packets in Python measured slower,
    0.92-1.02 s against 0.80-0.90 s). On a 4-vCPU VM the 190k-packet,
    12.9 MB stream parses in 0.08 s here against 0.19 s. The catch-up
    benchmark's traced attach (seed 7) fetched at 8.6 MB/s (1.20 s)
    before and 33.8 MB/s (0.30 s) after; the attaching process's peak
    RSS went from 201.2 to 192.5 MB; with 1 MB chunks and framing batches
    it read 197-203 MB."""
    buf = bytearray(_RECV_CHUNK + 4)  # + 4: the walk peeks past the data
    arr = np.frombuffer(buf, np.uint8)
    view = memoryview(buf)[:_RECV_CHUNK]
    out = io.BytesIO()
    have = 0  # bytes buffered in buf[:have]
    rem = 0  # bytes of the current packet not buffered yet
    more = False  # the current packet is 0xFFFFFF: a continuation follows
    total = start = 0  # size and out offset of the current payload
    while True:
        got = rf.readinto1(view[have:])
        if not got:  # closed before EOF: drop a torn event
            out.truncate(start if rem or more else out.tell())
            return out.getvalue()
        have += got
        base = out.tell()
        firsts: list[int] = []  # packet heads followed by an OK byte
        conts: list[int] = []  # continuation packet heads
        p, eof = 0, False
        while True:
            step = min(rem, have - p)
            p, rem = p + step, rem - step
            if rem:
                break
            if not more:
                k = len(firsts)
                nxt = p + 4 + (_U32(buf, p)[0] & 0xFFFFFF)
                while nxt <= have:
                    firsts.append(p)
                    p, nxt = nxt, nxt + 4 + (_U32(buf, nxt)[0] & 0xFFFFFF)
                if len(firsts) > k:
                    ln = np.diff(firsts[k:] + [p]) - 4
                    odd = np.flatnonzero((arr[np.array(firsts[k:]) + 4] != 0)
                                         | (ln == 0) | (ln == _MAX_PACKET))
                    if len(odd):  # go on packet by packet from there
                        p = firsts[k + odd[0]]
                        del firsts[k + odd[0]:]
            if p + 4 + (not more) > have:
                break  # head (and payload kind) not buffered yet
            ln = buf[p] | buf[p + 1] << 8 | buf[p + 2] << 16
            if more:
                conts.append(p)
                total += ln
            else:
                kind = buf[p + 4] if ln else None
                if kind == 0xFE and ln < 9:
                    eof = True
                    break
                if kind == 0xFF:
                    if p + 4 + ln > have and have - p < _RECV_CHUNK:
                        break  # read the whole ERR first
                    raise ValueError("server error: " + bytes(
                        buf[p + 13 : min(p + 4 + ln, have)]).decode(
                            errors="replace"))
                if kind != 0:
                    raise ValueError(f"unexpected packet {kind!r} in dump stream")
                start = base + p - 5 * len(firsts) - 4 * len(conts)
                firsts.append(p)
                total = ln
            if total > _MAX_ALLOWED_PACKET:
                raise ValueError(
                    f"packet exceeds max_allowed_packet ({total} bytes)")
            more = ln == _MAX_PACKET
            p, rem = p + 4, ln
        if p:
            f, c = np.array(firsts, np.int64), np.array(conts, np.int64)
            out.write(arr[:p][~(_span_mask(p, f, f + 5) | _span_mask(p, c, c + 4))])
        if eof:
            return out.getvalue()
        arr[: have - p] = arr[p:have]
        have -= p
