"""Archive-container enumeration (r13, VERDICT r12 ask #8): ZIP
central-directory walk, header-only — the commonest raw form of
web-scale text dumps (Common-Crawl-style corpus drops, wiki exports)
arrives as archives, and a curation pipeline's FIRST pass is "what's
in here" without extracting anything.

Pattern: the archive bytes live in an opaque ``binary`` column (the
multimodal posture, operators/multimodal.py); enumeration runs as an
Arrow-batched ``mapInPandas`` and reads ONLY the end-of-central-
directory record plus the central directory itself — for a 1 GiB
member-heavy zip that is a few KiB of trailing bytes, so at 100 TB the
enumeration cost is O(members), never O(payload). On an object store
the EOCD-first layout is exactly why zip listing works with two ranged
GETs; here payloads are already column values so the walk is in-memory.
Every stage here — build, roundtrip, index, fetch, decompress — is a
per-row function run by ``map_rows`` (functions/pandas_fn.py), which
owns the Arrow batch loop and takes its column names from the stage's
schema.

The PARSER is an original struct walk (PKWARE APPNOTE layout: EOCD
``PK\\x05\\x06``, central file header ``PK\\x01\\x02``); the registered
query's FIXTURE is built with stdlib ``zipfile`` — building with the
library and parsing with the independent walk keeps the verification
honest (the WAV/mu-law pattern, operators/multimodal.py).

Reference parity: none — the reference is tabular-only
(BASELINE.json:6); EXT north-star surface.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.pandas_fn import map_rows
from ..plans.registry import query
from ..sources import catalog

_EOCD_SIG = b"PK\x05\x06"
_CDH_SIG = b"PK\x01\x02"
_EOCD64_LOC_SIG = b"PK\x06\x07"
_EOCD64_SIG = b"PK\x06\x06"


def _zip64_extra_values(extra: bytes, needed: int) -> list[int]:
    """Pull ``needed`` 8-byte values out of the ZIP64 extended-
    information extra field (header id 0x0001, APPNOTE 4.5.3). The
    field carries ONLY the values whose 32-bit form is the sentinel,
    in the fixed order usize, csize, local-offset, disk — the caller
    knows how many it needs from which sentinels it saw."""
    pos = 0
    while pos + 4 <= len(extra):
        hid, hlen = struct.unpack("<HH", extra[pos : pos + 4])
        body = extra[pos + 4 : pos + 4 + hlen]
        if hid == 0x0001:
            if len(body) < 8 * needed:
                raise ValueError(
                    f"ZIP64 extra field carries {len(body)} bytes, "
                    f"central entry needs {8 * needed}"
                )
            return list(struct.unpack(f"<{needed}Q", body[: 8 * needed]))
        pos += 4 + hlen
    raise ValueError("ZIP64 sentinel without a 0x0001 extra field")


def _zip_cd_bounds(payload: bytes) -> "tuple[int, int, int]":
    """EOCD(64) walk -> (n_total, cd_off, cd_size): the EOCD record is
    scanned backward through the maximal 65 557-byte comment tail per
    APPNOTE 4.3.16; ZIP64 sentinels follow the EOCD64 locator (4.3.15)
    to the real count/size/offset."""
    tail_start = max(0, len(payload) - (22 + 65535))
    eocd = payload.rfind(_EOCD_SIG, tail_start)
    if eocd < 0 or eocd + 22 > len(payload):
        raise ValueError("not a ZIP payload (no end-of-central-directory record)")
    n_total, cd_size, cd_off = struct.unpack("<HII", payload[eocd + 10 : eocd + 20])
    if n_total == 0xFFFF or cd_off == 0xFFFFFFFF or cd_size == 0xFFFFFFFF:
        # ZIP64: the 20-byte locator sits immediately before the EOCD.
        loc = eocd - 20
        if loc < 0 or payload[loc : loc + 4] != _EOCD64_LOC_SIG:
            raise ValueError(
                "ZIP64 sentinel in the EOCD but no EOCD64 locator record"
            )
        (eocd64_off,) = struct.unpack("<Q", payload[loc + 8 : loc + 16])
        if eocd64_off + 56 > len(payload) or (
            payload[eocd64_off : eocd64_off + 4] != _EOCD64_SIG
        ):
            raise ValueError("EOCD64 locator points past or at a non-EOCD64 record")
        n_total, cd_size, cd_off = struct.unpack(
            "<QQQ", payload[eocd64_off + 32 : eocd64_off + 56]
        )
    return n_total, cd_off, cd_size


def zip_cd_start(payload: bytes) -> int:
    """Offset where the central directory begins — the exclusive end
    of the LAST member's local bytes, i.e. the ranged-fetch slice
    bound for the final member (every other member's bound is the
    next member's offset)."""
    return _zip_cd_bounds(payload)[1]


def zip_members(payload: bytes) -> list[dict]:
    """Central-directory walk -> one dict per member:
    ``{name, compressed_size, uncompressed_size, method, offset}``.
    Reads the EOCD record and the central directory only — local
    headers and member data are never touched. The EOCD entry count
    must match the walked count (a truncated or spliced directory
    fails loudly). ZIP64 (r13): EOCD sentinels resolve through the
    EOCD64 locator/record and per-entry sentinels through the 0x0001
    extended-information extra field — the >4 GiB / >65 535-member
    form every real corpus drop uses."""
    n_total, cd_off, cd_size = _zip_cd_bounds(payload)
    pos, end = cd_off, cd_off + cd_size
    if end > len(payload):
        raise ValueError("ZIP central directory overruns the payload")
    members: list[dict] = []
    while pos + 4 <= end and payload[pos : pos + 4] == _CDH_SIG:
        if pos + 46 > end:
            raise ValueError("truncated ZIP central file header")
        # APPNOTE 4.3.12 central file header, fields after the sig:
        # made-by, needed, flags, method, time, date, crc, csize,
        # usize, name/extra/comment lens, disk, internal, external,
        # local-header offset.
        (
            _made,
            _need,
            _flags,
            method,
            _time,
            _date,
            _crc,
            csize,
            usize,
            name_len,
            extra_len,
            comment_len,
            _disk,
            _internal,
            _external,
            local_off,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", payload[pos + 4 : pos + 46])
        if 0xFFFFFFFF in (usize, csize, local_off):
            # APPNOTE 4.5.3: only the sentineled values appear in the
            # extra field, in the order usize, csize, local-offset.
            extra = payload[
                pos + 46 + name_len : pos + 46 + name_len + extra_len
            ]
            wanted = [usize == 0xFFFFFFFF, csize == 0xFFFFFFFF, local_off == 0xFFFFFFFF]
            vals = iter(_zip64_extra_values(extra, sum(wanted)))
            if wanted[0]:
                usize = next(vals)
            if wanted[1]:
                csize = next(vals)
            if wanted[2]:
                local_off = next(vals)
        name = payload[pos + 46 : pos + 46 + name_len].decode("utf-8", "replace")
        members.append(
            {
                "name": name,
                "compressed_size": csize,
                "uncompressed_size": usize,
                "method": method,
                "offset": local_off,
            }
        )
        pos += 46 + name_len + extra_len + comment_len
    if len(members) != n_total:
        raise ValueError(
            f"ZIP central directory walked {len(members)} entries, "
            f"EOCD declares {n_total}"
        )
    return members


def build_zip(members: "list[tuple[str, bytes]]") -> bytes:
    """Deterministic stdlib-zipfile archive: fixed DOS timestamp
    (1980-01-01), ZIP_STORED, members in argument order — so the same
    inputs always produce byte-identical archives (the fixture half;
    :func:`zip_members` is the independent parse half)."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, data in members:
            zf.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), data)
    return buf.getvalue()


def build_zip64(members: "list[tuple[str, bytes]]") -> bytes:
    """Deterministic ZIP64-format archive (stored members, fixed DOS
    timestamp): every central entry carries the 0xFFFFFFFF sentinels
    with an 0x0001 extra field holding the real usize/csize/offset, and
    the archive ends locator+EOCD64+sentineled-EOCD — the exact layout
    a >4 GiB corpus drop has, at test-friendly sizes. Hand-rolled
    (stdlib ``zipfile`` only emits ZIP64 records once a size actually
    exceeds 4 GiB) but readable BY stdlib ``zipfile``, which is the
    independent cross-check the tests pin."""
    import zlib

    out = bytearray()
    entries: list[tuple[str, int, int, int]] = []  # name, crc, size, local_off
    for name, data in members:
        local_off = len(out)
        crc = zlib.crc32(data) & 0xFFFFFFFF
        nb = name.encode("utf-8")
        # local header: version-needed 45, stored, sentineled sizes +
        # ZIP64 extra (usize, csize — both mandatory locally per 4.5.3)
        extra = struct.pack("<HHQQ", 0x0001, 16, len(data), len(data))
        out += b"PK\x03\x04" + struct.pack(
            "<HHHHHIIIHH",
            45, 0, 0, 0, 0x21,  # need, flags, method, time, date(1980-01-01)
            crc, 0xFFFFFFFF, 0xFFFFFFFF,
            len(nb), len(extra),
        )
        out += nb + extra + data
        entries.append((name, crc, len(data), local_off))
    cd_off = len(out)
    for name, crc, size, local_off in entries:
        nb = name.encode("utf-8")
        extra = struct.pack("<HHQQQ", 0x0001, 24, size, size, local_off)
        out += b"PK\x01\x02" + struct.pack(
            "<HHHHHHIIIHHHHHII",
            45, 45, 0, 0, 0, 0x21,
            crc, 0xFFFFFFFF, 0xFFFFFFFF,
            len(nb), len(extra), 0, 0, 0, 0,
            0xFFFFFFFF,
        )
        out += nb + extra
    cd_size = len(out) - cd_off
    eocd64_off = len(out)
    out += _EOCD64_SIG + struct.pack(
        "<QHHIIQQQQ", 44, 45, 45, 0, 0,
        len(entries), len(entries), cd_size, cd_off,
    )
    out += _EOCD64_LOC_SIG + struct.pack("<IQI", 0, eocd64_off, 1)
    out += _EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, 0xFFFF, 0xFFFF, 0xFFFFFFFF, 0xFFFFFFFF, 0
    )
    return bytes(out)


ZIP_MEMBERS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("members", T.IntegerType()),
        T.StructField("total_bytes", T.LongType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
    ]
)

# One manifest member (the doc_id rendered as text) plus one member per
# 64-byte chunk of the utf-8 text — every reported number recomputes
# from the text length in SQL.
_ZIP_MEMBERS_ORACLE = """
SELECT doc_id,
       CAST(1 + (strlen(text) + 63) // 64 AS INT) AS members,
       CAST(strlen(text) + strlen(CAST(doc_id AS VARCHAR)) AS BIGINT)
           AS total_bytes,
       'manifest.txt' AS first_name,
       CASE WHEN strlen(text) = 0 THEN 'manifest.txt'
            ELSE 'part' || lpad(CAST((strlen(text) - 1) // 64 AS VARCHAR), 4, '0')
                 || '.txt'
       END AS last_name
FROM documents
"""


@query("archive_zip_members", _ZIP_MEMBERS_ORACLE)
def archive_zip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP enumeration, driver-oracled (r13, VERDICT r12 ask #8): per
    document, pack the text into a deterministic stdlib-built archive
    (a manifest member plus 64-byte chunk members), then enumerate it
    back through the independent central-directory walk and report
    member count, total uncompressed bytes and the first/last member
    names — EOCD location, count cross-check, per-entry field reads
    and name decoding all under the value hash. One mapInPandas stage:
    build and parse share the executor row, no shuffle at any scale
    (the multimodal_webp_dims shape)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    def _roundtrip(doc_id, text):
        raw = text.encode("utf-8")
        parts = [("manifest.txt", str(int(doc_id)).encode())] + [
            (f"part{i:04d}.txt", raw[i * 64 : (i + 1) * 64])
            for i in range((len(raw) + 63) // 64)
        ]
        listed = zip_members(build_zip(parts))
        yield (
            doc_id,
            len(listed),
            sum(m["uncompressed_size"] for m in listed),
            listed[0]["name"],
            listed[-1]["name"],
        )

    return map_rows(base, _roundtrip, ZIP_MEMBERS_SCHEMA)


# --------------------------------------------------------------------------
# TAR (r13, the second half of VERDICT r12 ask #8): USTAR header walk.
# Unlike ZIP there is no central directory — enumeration is a linear
# walk of 512-byte headers, SEEKING past member data (O(members) reads
# on a seekable store; the data blocks themselves are never touched).
# --------------------------------------------------------------------------


def _parse_pax_records(data: bytes) -> dict:
    """Parse a pax extended-header block into ``{key: value}``. Each
    record is ``"%d %s=%s\\n" % (length, key, value)`` where length
    counts the WHOLE record including itself (POSIX.1-2001 pax(1));
    a wrong length desynchronizes onto bytes that are not a decimal
    length, so corruption is loud."""
    out: dict = {}
    pos = 0
    while pos < len(data):
        sp = data.find(b" ", pos)
        if sp < 0 or not data[pos:sp].isdigit():
            raise ValueError(f"malformed pax record length at offset {pos}")
        rec_len = int(data[pos:sp])
        if pos + rec_len > len(data):
            raise ValueError(
                f"pax record length {rec_len} at offset {pos} overruns the block"
            )
        rec = data[pos : pos + rec_len]
        if rec_len < sp - pos + 2 or rec[-1:] != b"\n":
            raise ValueError(f"pax record at offset {pos} not newline-terminated")
        key, sep, value = rec[sp - pos + 1 : -1].partition(b"=")
        if not sep:
            raise ValueError(f"pax record without '=' at offset {pos}")
        out[key.decode("utf-8")] = value.decode("utf-8")
        pos += rec_len
    return out


def tar_members(payload: bytes) -> list[dict]:
    """USTAR/pax/GNU header walk -> one dict per member:
    ``{name, size, typeflag, offset}`` (offset = where the member's
    data blocks start). Each 512-byte header's checksum is verified
    (the field itself counted as spaces, per POSIX); the archive ends
    at two consecutive zero blocks. Extension headers (r13, closing
    the r13-introduction gate): GNU longname/longlink (typeflags L/K)
    and pax extended headers (x = next-member, g = global defaults)
    are consumed and APPLIED — pax ``path``/``size`` and GNU longname
    override the next real member's fields (pax wins over GNU per GNU
    tar's own precedence), and the size override drives the data-block
    seek, so >8 GiB members (beyond the 12-digit octal field) walk
    correctly. The extension members themselves are not reported —
    matching stdlib ``tarfile.getmembers()``."""
    members: list[dict] = []
    pos = 0
    pax_global: dict = {}
    pax_next: dict = {}
    gnu_longname: "str | None" = None
    while pos + 512 <= len(payload):
        block = payload[pos : pos + 512]
        if block == b"\x00" * 512:
            if payload[pos + 512 : pos + 1024] == b"\x00" * 512:
                return members
            raise ValueError("single zero block without end-of-archive twin")
        stored = block[148:156]
        try:
            stored_sum = int(stored.split(b"\x00")[0].strip() or b"0", 8)
        except ValueError:
            raise ValueError("malformed tar checksum field") from None
        actual = sum(block[:148]) + 8 * 0x20 + sum(block[156:])
        if stored_sum != actual:
            raise ValueError(
                f"tar header checksum mismatch at offset {pos} "
                f"(stored {stored_sum}, computed {actual})"
            )
        typeflag = chr(block[156]) if block[156] else "0"
        size = int(block[124:136].split(b"\x00")[0].strip() or b"0", 8)
        data_blocks = ((size + 511) // 512) * 512
        if pos + 512 + data_blocks > len(payload):
            raise ValueError(
                f"tar member data at offset {pos + 512} overruns the payload"
            )
        if typeflag in ("L", "K", "x", "g"):
            data = payload[pos + 512 : pos + 512 + size]
            if typeflag == "L":  # GNU longname: next member's name
                gnu_longname = data.rstrip(b"\x00").decode("utf-8", "replace")
            elif typeflag == "K":  # GNU longlink: consumed (linkname
                pass  # is not part of the enumeration schema)
            elif typeflag == "x":
                pax_next.update(_parse_pax_records(data))
            else:  # "g"
                pax_global.update(_parse_pax_records(data))
            pos += 512 + data_blocks
            continue
        name = block[0:100].split(b"\x00")[0].decode("utf-8", "replace")
        prefix = block[345:500].split(b"\x00")[0].decode("utf-8", "replace")
        if prefix:
            name = prefix + "/" + name
        over = {**pax_global, **pax_next}
        if gnu_longname is not None:
            name = gnu_longname
        if "path" in over:
            name = over["path"]
        if "size" in over:
            if not over["size"].isdigit():
                raise ValueError(f"non-numeric pax size override {over['size']!r}")
            size = int(over["size"])
            data_blocks = ((size + 511) // 512) * 512
            if pos + 512 + data_blocks > len(payload):
                raise ValueError(
                    f"tar member data at offset {pos + 512} overruns the payload"
                )
        pax_next = {}
        gnu_longname = None
        members.append(
            {"name": name, "size": size, "typeflag": typeflag, "offset": pos + 512}
        )
        pos += 512 + data_blocks
    raise ValueError("tar archive truncated (no end-of-archive marker)")


def build_tar(members: "list[tuple[str, bytes]]") -> bytes:
    """Deterministic stdlib-tarfile archive: epoch mtime, zero
    uid/gid, empty uname/gname, members in argument order — the
    fixture half; :func:`tar_members` is the independent parse half."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


TAR_MEMBERS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("members", T.IntegerType()),
        T.StructField("total_bytes", T.LongType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
    ]
)

# Same member arithmetic as the ZIP twin — so the two walks are
# cross-checked against one oracle shape.
_TAR_MEMBERS_ORACLE = """
SELECT doc_id,
       CAST(1 + (strlen(text) + 63) // 64 AS INT) AS members,
       CAST(strlen(text) + strlen(CAST(doc_id AS VARCHAR)) AS BIGINT)
           AS total_bytes,
       'manifest.txt' AS first_name,
       CASE WHEN strlen(text) = 0 THEN 'manifest.txt'
            ELSE 'part' || lpad(CAST((strlen(text) - 1) // 64 AS VARCHAR), 4, '0')
                 || '.txt'
       END AS last_name
FROM documents
"""


@query("archive_tar_members", _TAR_MEMBERS_ORACLE)
def archive_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAR enumeration, driver-oracled (r13): the ZIP query's exact
    twin over the USTAR walk — per document, pack the text into a
    deterministic stdlib-built tar (manifest member + 64-byte chunk
    members) and enumerate it back through the independent header
    walk: checksum verification, octal size reads, data-block seek
    arithmetic and the end-of-archive detection are all under the
    value hash (a wrong size read desynchronizes every subsequent
    header, so corruption cannot pass silently). One mapInPandas
    stage, no shuffle at any scale."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    def _roundtrip(doc_id, text):
        raw = text.encode("utf-8")
        parts = [("manifest.txt", str(int(doc_id)).encode())] + [
            (f"part{i:04d}.txt", raw[i * 64 : (i + 1) * 64])
            for i in range((len(raw) + 63) // 64)
        ]
        listed = tar_members(build_tar(parts))
        yield (
            doc_id,
            len(listed),
            sum(m["size"] for m in listed),
            listed[0]["name"],
            listed[-1]["name"],
        )

    return map_rows(base, _roundtrip, TAR_MEMBERS_SCHEMA)


# --------------------------------------------------------------------------
# WARC (r13, the archival-corpora capstone of VERDICT r12 ask #8): the
# ISO 28500 Web ARChive walk. WARC is the native container of web-scale
# crawl corpora (Common Crawl ships ~100 TB crawls as WARC), so "what's
# in this crawl segment" — record counts, types, block sizes, target
# URIs — is the FIRST query a training-data pipeline runs, before any
# text extraction. Like TAR it is a linear record walk with no central
# directory: parse each record's header block, then SEEK past
# Content-Length bytes of payload — O(records) header reads, the
# payload blocks themselves never touched.
# --------------------------------------------------------------------------

_WARC_VERSIONS = (b"WARC/1.0", b"WARC/1.1")


def warc_records(payload: bytes) -> list[dict]:
    """ISO 28500 record walk -> one dict per record:
    ``{offset, warc_type, content_length, target_uri}`` (``target_uri``
    is None for records without a ``WARC-Target-URI`` header, e.g.
    ``warcinfo``). Each record is a version line (WARC/1.0 or 1.1), a
    named-field block terminated by an empty CRLF line, exactly
    ``Content-Length`` bytes of block data, then the mandatory
    CRLF CRLF record boundary — a wrong Content-Length desynchronizes
    the walk onto bytes that are not a version line, so corruption
    fails loudly instead of under-counting. Field names are matched
    case-insensitively per the spec; header continuation lines
    (obs-fold, leading SP/TAB — late r13, closing the r13-introduction
    gate) unfold into the previous field's value joined by a single
    space, per ISO 28500 §4's named-field grammar."""
    records: list[dict] = []
    pos = 0
    n = len(payload)
    while pos < n:
        eol = payload.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError(f"truncated WARC version line at offset {pos}")
        if payload[pos:eol] not in _WARC_VERSIONS:
            raise ValueError(
                f"expected a WARC/1.x version line at offset {pos}, "
                f"got {payload[pos:eol][:20]!r}"
            )
        hdr_pos = eol + 2
        # Pass 1: collect logical field lines, unfolding obs-fold
        # continuations into their predecessor.
        fields: list[bytes] = []
        while True:
            eol = payload.find(b"\r\n", hdr_pos)
            if eol < 0:
                raise ValueError(f"truncated WARC header block at offset {hdr_pos}")
            line = payload[hdr_pos:eol]
            if line == b"":
                break  # end of the named-field block
            if line[:1] in (b" ", b"\t"):
                if not fields:
                    raise ValueError(
                        f"WARC continuation line before any field at {hdr_pos}"
                    )
                fields[-1] += b" " + line.strip()
            else:
                fields.append(line)
            hdr_pos = eol + 2
        content_length = None
        warc_type = None
        target_uri = None
        for line in fields:
            name, sep, value = line.partition(b":")
            if not sep:
                raise ValueError(f"malformed WARC header line {line[:40]!r}")
            key = name.strip().lower()
            val = value.strip()
            if key == b"content-length":
                if not val.isdigit():
                    raise ValueError(f"non-numeric WARC Content-Length {val!r}")
                content_length = int(val)
            elif key == b"warc-type":
                warc_type = val.decode("utf-8", "replace")
            elif key == b"warc-target-uri":
                target_uri = val.decode("utf-8", "replace")
        if content_length is None:
            raise ValueError(f"WARC record at offset {pos} missing Content-Length")
        if warc_type is None:
            raise ValueError(f"WARC record at offset {pos} missing WARC-Type")
        block_start = eol + 2
        block_end = block_start + content_length
        if block_end + 4 > n:
            raise ValueError(
                f"WARC block at offset {block_start} overruns the payload "
                f"(Content-Length {content_length})"
            )
        if payload[block_end : block_end + 4] != b"\r\n\r\n":
            raise ValueError(
                f"missing CRLFCRLF record boundary at offset {block_end} "
                "(wrong Content-Length or spliced record)"
            )
        records.append(
            {
                "offset": pos,
                "warc_type": warc_type,
                "content_length": content_length,
                "target_uri": target_uri,
            }
        )
        pos = block_end + 4
    return records


def build_warc(records: "list[tuple[str, str | None, bytes]]") -> bytes:
    """Deterministic WARC writer: fixed WARC-Date (1980-01-01, the
    build_zip epoch), record IDs derived from the record index, fields
    in a fixed order, members in argument order — same inputs, byte-
    identical archive. Each record is ``(warc_type, target_uri_or_None,
    block_bytes)``. The fixture half; :func:`warc_records` is the
    independent parse half (the walk never assumes this field order or
    these IDs — it matches names case-insensitively)."""
    out = bytearray()
    for i, (warc_type, target_uri, block) in enumerate(records):
        out += b"WARC/1.0\r\n"
        out += b"WARC-Type: " + warc_type.encode() + b"\r\n"
        out += (
            b"WARC-Record-ID: <urn:uuid:00000000-0000-4000-8000-%012d>\r\n"
            % i
        )
        out += b"WARC-Date: 1980-01-01T00:00:00Z\r\n"
        if target_uri is not None:
            out += b"WARC-Target-URI: " + target_uri.encode() + b"\r\n"
        out += b"Content-Length: %d\r\n" % len(block)
        out += b"\r\n"
        out += block
        out += b"\r\n\r\n"
    return bytes(out)


WARC_RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("records", T.IntegerType()),
        T.StructField("responses", T.IntegerType()),
        T.StructField("total_block_bytes", T.LongType()),
        T.StructField("first_uri", T.StringType()),
        T.StructField("last_uri", T.StringType()),
    ]
)

# One warcinfo record (block = the doc_id rendered as text) plus one
# response record per 64-byte chunk of the utf-8 text, each with a
# deterministic target URI — every reported value recomputes from the
# text length in SQL (the ZIP/TAR oracle shape, extended with the URI
# columns so the header FIELD reads are under the hash too).
_WARC_RECORDS_ORACLE = """
SELECT doc_id,
       CAST(1 + (strlen(text) + 63) // 64 AS INT) AS records,
       CAST((strlen(text) + 63) // 64 AS INT) AS responses,
       CAST(strlen(text) + strlen(CAST(doc_id AS VARCHAR)) AS BIGINT)
           AS total_block_bytes,
       CASE WHEN strlen(text) = 0 THEN NULL
            ELSE 'https://corpus.local/' || CAST(doc_id AS VARCHAR) || '/0'
       END AS first_uri,
       CASE WHEN strlen(text) = 0 THEN NULL
            ELSE 'https://corpus.local/' || CAST(doc_id AS VARCHAR) || '/'
                 || CAST((strlen(text) - 1) // 64 AS VARCHAR)
       END AS last_uri
FROM documents
"""


@query("archive_warc_records", _WARC_RECORDS_ORACLE)
def archive_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC enumeration, driver-oracled (r13): per document, write the
    text into a deterministic crawl-segment-shaped archive (one
    warcinfo record + one response record per 64-byte chunk, each with
    a synthetic target URI), then enumerate it back through the
    independent record walk and report record/response counts, total
    block bytes and the first/last response URIs — version-line
    checks, case-insensitive field reads, Content-Length seek
    arithmetic and the CRLFCRLF boundary verification all under the
    value hash (a wrong Content-Length desynchronizes every subsequent
    record, so corruption cannot pass silently). One mapInPandas
    stage, no shuffle at any scale (the archive_zip_members shape)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    def _roundtrip(doc_id, text):
        raw = text.encode("utf-8")
        recs: list[tuple[str, "str | None", bytes]] = [
            ("warcinfo", None, str(int(doc_id)).encode())
        ] + [
            (
                "response",
                f"https://corpus.local/{int(doc_id)}/{i}",
                raw[i * 64 : (i + 1) * 64],
            )
            for i in range((len(raw) + 63) // 64)
        ]
        listed = warc_records(build_warc(recs))
        resp = [r for r in listed if r["warc_type"] == "response"]
        yield (
            doc_id,
            len(listed),
            len(resp),
            sum(r["content_length"] for r in listed),
            resp[0]["target_uri"] if resp else None,
            resp[-1]["target_uri"] if resp else None,
        )

    return map_rows(base, _roundtrip, WARC_RECORDS_SCHEMA)


# --------------------------------------------------------------------------
# Multi-member gzip (RFC 1952) — the transport wrapping of WARC in the
# wild: Common Crawl writes ONE gzip member PER WARC RECORD so readers
# can seek to a member boundary (from a .cdx index) and inflate a
# single record. ``archive_gzip_members`` checks the walk against an
# exact oracle.
# Honesty about scale: unlike ZIP (central directory) and TAR
# (size-field seeks), gzip member boundaries are only discoverable by
# INFLATING — the walk is O(payload), which is exactly why production
# crawl stores ship side-car offset indexes; enumerate once, persist
# the offsets (the layout-manifest pattern, operators/layout.py).
# --------------------------------------------------------------------------

_GZIP_MAGIC = b"\x1f\x8b"


def gzip_members(payload: bytes) -> list[dict]:
    """RFC 1952 multi-member walk -> one dict per member:
    ``{offset, compressed_size, uncompressed_size, name}``. Parses the
    10-byte fixed header plus the optional FEXTRA/FNAME/FCOMMENT/FHCRC
    fields, inflates the deflate stream (zlib, raw window) to locate
    the member end, then verifies BOTH trailer fields — CRC32 and
    ISIZE (mod 2^32) — so a corrupt byte anywhere in the member fails
    loudly instead of desynchronizing the walk. ``name`` is the FNAME
    field (latin-1 per the RFC) or None."""
    import zlib

    members: list[dict] = []
    pos = 0
    n = len(payload)
    while pos < n:
        start = pos
        if payload[pos : pos + 2] != _GZIP_MAGIC:
            raise ValueError(f"not a gzip member at offset {pos}")
        if pos + 10 > n:
            raise ValueError(f"truncated gzip header at offset {pos}")
        cm, flg = payload[pos + 2], payload[pos + 3]
        if cm != 8:
            raise ValueError(f"unsupported gzip compression method {cm}")
        if flg & 0xE0:
            raise ValueError(f"reserved gzip FLG bits set at offset {pos}")
        pos += 10
        if flg & 0x04:  # FEXTRA
            if pos + 2 > n:
                raise ValueError("truncated gzip FEXTRA length")
            xlen = int.from_bytes(payload[pos : pos + 2], "little")
            pos += 2 + xlen
        name = None
        if flg & 0x08:  # FNAME, zero-terminated latin-1
            zero = payload.find(b"\x00", pos)
            if zero < 0:
                raise ValueError("unterminated gzip FNAME field")
            name = payload[pos:zero].decode("latin-1")
            pos = zero + 1
        if flg & 0x10:  # FCOMMENT
            zero = payload.find(b"\x00", pos)
            if zero < 0:
                raise ValueError("unterminated gzip FCOMMENT field")
            pos = zero + 1
        if flg & 0x02:  # FHCRC
            pos += 2
        if pos > n:
            raise ValueError(f"gzip optional fields overrun the payload at {start}")
        d = zlib.decompressobj(-zlib.MAX_WBITS)
        try:
            data = d.decompress(payload[pos:])
        except zlib.error as e:
            raise ValueError(f"corrupt deflate stream at offset {pos}: {e}") from None
        if not d.eof:
            raise ValueError(f"truncated deflate stream at offset {pos}")
        trailer_pos = n - len(d.unused_data)
        if trailer_pos + 8 > n:
            raise ValueError(f"truncated gzip trailer at offset {trailer_pos}")
        crc = int.from_bytes(payload[trailer_pos : trailer_pos + 4], "little")
        isize = int.from_bytes(payload[trailer_pos + 4 : trailer_pos + 8], "little")
        if crc != (zlib.crc32(data) & 0xFFFFFFFF):
            raise ValueError(f"gzip CRC32 mismatch in member at offset {start}")
        if isize != (len(data) & 0xFFFFFFFF):
            raise ValueError(f"gzip ISIZE mismatch in member at offset {start}")
        pos = trailer_pos + 8
        members.append(
            {
                "offset": start,
                "compressed_size": pos - start,
                "uncompressed_size": len(data),
                "name": name,
            }
        )
    return members


def build_gzip_members(blocks: "list[tuple[str | None, bytes]]") -> bytes:
    """Deterministic member-per-block gzip stream (mtime=0, fixed
    compression level, optional FNAME) — the Common-Crawl record-per-
    member layout; the fixture half of :func:`gzip_members`."""
    import gzip
    import io

    out = bytearray()
    for name, data in blocks:
        buf = io.BytesIO()
        with gzip.GzipFile(
            filename=name or "", fileobj=buf, mode="wb", compresslevel=6, mtime=0
        ) as gf:
            gf.write(data)
        out += buf.getvalue()
    return bytes(out)


GZIP_MEMBERS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("members", T.IntegerType()),
        T.StructField("total_bytes", T.LongType()),
        T.StructField("named_members", T.IntegerType()),
        T.StructField("first_name", T.StringType()),
    ]
)

# One FNAME'd manifest member + one anonymous member per 64-byte chunk;
# uncompressed totals recompute from strlen (compressed sizes are
# deliberately NOT reported — deflate output is not SQL-derivable).
_GZIP_MEMBERS_ORACLE = """
SELECT doc_id,
       CAST(1 + (strlen(text) + 63) // 64 AS INT) AS members,
       CAST(strlen(text) + strlen(CAST(doc_id AS VARCHAR)) AS BIGINT)
           AS total_bytes,
       CAST(1 AS INT) AS named_members,
       'manifest.txt' AS first_name
FROM documents
"""


@query("archive_gzip_members", _GZIP_MEMBERS_ORACLE)
def archive_gzip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip multi-member enumeration, oracled: per document, pack the
    text into a deterministic record-per-member stream (one FNAME'd
    manifest + anonymous 64-byte chunk members) and walk it back
    through :func:`gzip_members` — header-field parsing, per-member
    CRC32+ISIZE trailer verification and the member-boundary inflate
    are all under the value hash. One mapInPandas stage, no shuffle at
    any scale."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    def _roundtrip(doc_id, text):
        raw = text.encode("utf-8")
        blocks = [("manifest.txt", str(int(doc_id)).encode())] + [
            (None, raw[i * 64 : (i + 1) * 64])
            for i in range((len(raw) + 63) // 64)
        ]
        listed = gzip_members(build_gzip_members(blocks))
        yield (
            doc_id,
            len(listed),
            sum(m["uncompressed_size"] for m in listed),
            sum(1 for m in listed if m["name"] is not None),
            listed[0]["name"],
        )

    return map_rows(base, _roundtrip, GZIP_MEMBERS_SCHEMA)


def warc_gz_records(payload: bytes) -> list[dict]:
    """Enumerate a ``.warc.gz`` crawl segment: walk the gzip members,
    inflate each, and parse each member's content as WARC records —
    returning the flat record list with each record's ``member``
    (gzip member index) and member ``offset`` attached. The
    record-per-member contract is NOT assumed: a member holding
    several concatenated records is walked through the same
    :func:`warc_records` parse."""
    import zlib

    records: list[dict] = []
    for i, m in enumerate(gzip_members(payload)):
        raw = payload[m["offset"] : m["offset"] + m["compressed_size"]]
        data = _gunzip_single(raw)
        for rec in warc_records(data):
            rec = dict(rec)
            rec["member"] = i
            rec["member_offset"] = m["offset"]
            records.append(rec)
    return records


def _gunzip_single(member: bytes) -> bytes:
    import gzip
    import io

    with gzip.GzipFile(fileobj=io.BytesIO(member)) as gf:
        return gf.read()


# --------------------------------------------------------------------------
# CDX-style side-car index (r13): gzip member boundaries are only
# discoverable by inflating (the O(payload) honesty note above), so
# production crawl stores enumerate ONCE and persist per-record
# (offset, compressed_size) — Common Crawl's .cdx files. With the
# index in hand, fetching one record out of a multi-GiB .warc.gz
# segment is a single ranged read + one member's inflate: O(member),
# never O(segment). These two halves are that contract.
# --------------------------------------------------------------------------


def warc_gz_index(payload: bytes) -> list[dict]:
    """Enumerate a ``.warc.gz`` segment ONCE into a CDX-shaped index:
    one dict per WARC record — ``{seq, member, offset,
    compressed_size, warc_type, target_uri, content_length}`` where
    ``offset``/``compressed_size`` locate the record's gzip MEMBER in
    the segment (the ranged-read coordinates; for the record-per-
    member layout that is exactly one record's bytes). The index is
    what gets persisted as a parquet side-car; every later fetch goes
    through :func:`fetch_warc_gz_record` without touching the rest of
    the segment."""
    index: list[dict] = []
    for i, m in enumerate(gzip_members(payload)):
        raw = payload[m["offset"] : m["offset"] + m["compressed_size"]]
        for rec in warc_records(_gunzip_single(raw)):
            index.append(
                {
                    "seq": len(index),
                    "member": i,
                    "offset": m["offset"],
                    "compressed_size": m["compressed_size"],
                    "warc_type": rec["warc_type"],
                    "target_uri": rec["target_uri"],
                    "content_length": rec["content_length"],
                }
            )
    return index


def fetch_warc_gz_record(
    member_bytes: bytes, warc_type: str, target_uri: "str | None"
) -> dict:
    """Random access via the side-car index: the caller ranged-reads
    ``payload[offset : offset + compressed_size]`` using ONE index row
    and passes only those bytes here — this function never sees the
    rest of the segment, which is the whole point. Inflates the single
    member, walks its WARC records, and returns the one matching the
    index row's identity (type + URI) with its block bytes attached as
    ``block``. A member whose content no longer matches the index row
    fails loudly (stale side-car)."""
    data = _gunzip_single(member_bytes)
    for rec in warc_records(data):
        if rec["warc_type"] == warc_type and rec["target_uri"] == target_uri:
            out = dict(rec)
            # the block starts right after the header's empty CRLF line
            hdr_end = data.index(b"\r\n\r\n", rec["offset"]) + 4
            out["block"] = data[hdr_end : hdr_end + rec["content_length"]]
            return out
    raise ValueError(
        f"indexed record ({warc_type!r}, {target_uri!r}) not found in the "
        "fetched member — stale or corrupt side-car index"
    )


WARC_GZ_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("member", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("compressed_size", T.LongType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("content_length", T.LongType()),
    ]
)


def build_warc_gz_index_df(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """The side-car as a DataFrame: one CDX-shaped row per WARC record
    across a table of ``.warc.gz`` segments — ``df.select(id, payload)``
    in, ``WARC_GZ_INDEX_SCHEMA`` out. One Arrow-batched ``mapInPandas``
    stage (enumerate-once is per segment, embarrassingly parallel, no
    shuffle at any scale); persist the result with ``partitionBy`` on
    whatever later fetches key on (URI prefix, type) and every fetch
    becomes ONE ranged read + :func:`fetch_warc_gz_record` — the
    O(payload) gzip walk paid exactly once per segment."""
    base = df.select(F.col(id_col).alias("segment_id"), F.col(payload_col))

    def _index(seg_id, payload):
        for e in warc_gz_index(bytes(payload)):
            yield (
                seg_id,
                e["seq"],
                e["member"],
                e["offset"],
                e["compressed_size"],
                e["warc_type"],
                e["target_uri"],
                e["content_length"],
            )

    return map_rows(base, _index, WARC_GZ_INDEX_SCHEMA)


def _guarded_slice(offset_expr: str, length_expr: str, payload_expr: str = "payload"):
    """``substr(<payload>, offset+1, length)`` with a loud JVM-side
    bound guard (r15 ADVICE): Spark substr positions are INT, so a
    ZIP64/tar index can carry offsets past 2^31 that a bare
    ``CAST(... AS INT)`` would silently WRAP into a garbage slice.
    Unreachable today only because BinaryType cells cap below 2 GiB —
    this guard keeps the failure loud if either bound moves. Archives
    larger than one cell belong to a ranged-read source, not an
    in-cell slice (the fetch docstrings state the same 2 GiB payload
    bound). Pure JVM CASE expression: no Python stage added. The
    binary column is a parameter (default matches the three fetch
    plan-forms) so a caller with a differently-named column cannot
    silently slice the wrong one (r16 review)."""
    bound = 2**31 - 1
    # offset is compared against bound on its own as well: the ELSE
    # branch computes CAST(offset AS INT) + 1, so offset == 2^31-1
    # (e.g. a zero-length member at the exact cap) would overflow the
    # INT cast even though offset+length stays within the bound
    # (ADVICE r16).
    return F.expr(
        f"CASE WHEN ({offset_expr}) < 0 OR ({length_expr}) < 0 "
        f"OR ({offset_expr}) >= {bound}L "
        f"OR ({offset_expr}) + ({length_expr}) > {bound}L THEN "
        f"CAST(raise_error(concat('archive slice beyond the 2 GiB "
        f"BinaryType bound: offset=', CAST(({offset_expr}) AS STRING), "
        f"' len=', CAST(({length_expr}) AS STRING), "
        f"' — use a ranged-read source for >2GiB archives')) AS BINARY) "
        f"ELSE substr({payload_expr}, CAST(({offset_expr}) AS INT) + 1, "
        f"CAST(({length_expr}) AS INT)) END"
    )


WARC_GZ_FETCH_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("block", T.BinaryType()),
    ]
)


def fetch_warc_gz_records_df(segments: DataFrame, index: DataFrame) -> DataFrame:
    """The pruned-fetch half of the side-car pattern AS A PLAN: join a
    (pre-filtered) slice of the index back to its segments, slice each
    record's gzip member out of the payload with a JVM-side binary
    ``substr`` (no Python sees the full segment bytes), and inflate
    ONLY those members in an Arrow-batched ``mapInPandas``.

    ``segments`` is ``(segment_id, payload)``; ``index`` is (a filtered
    subset of) :func:`build_warc_gz_index_df`'s output. Scale shape:
    the index filter prunes BEFORE the join, so the join moves only the
    wanted index rows against the segment table (broadcast when small);
    the substr runs in the JVM, so the Python boundary transfers
    member-sized slices, never whole segments — at a Common-Crawl-like
    1 GiB/segment with record-per-member layout, fetching 100 records
    ships ~100 member-KiBs across Arrow instead of 100 GiB."""
    sliced = index.join(segments, "segment_id").select(
        "segment_id",
        "seq",
        "warc_type",
        "target_uri",
        # substr is 1-based; member bytes only cross into Python
        _guarded_slice("offset", "compressed_size").alias("member_bytes"),
    )

    def _fetch(sid, seq, wtype, uri, member):
        rec = fetch_warc_gz_record(bytes(member), wtype, None if uri is None else str(uri))
        yield sid, seq, wtype, uri, rec["block"]

    return map_rows(sliced, _fetch, WARC_GZ_FETCH_SCHEMA)


# --------------------------------------------------------------------------
# The two side-car queries share one fixture: per document, a
# record-per-member ``.warc.gz`` segment holding one warcinfo member
# (block = the doc_id as text) and one response member per 64-byte
# block of the utf-8 text, URI ``https://corpus.local/<doc_id>/<i>``.
# --------------------------------------------------------------------------


def _doc_warc_gz_segment(doc_id: int, text: str) -> bytes:
    raw = text.encode("utf-8")
    blocks = [(None, build_warc([("warcinfo", None, str(doc_id).encode())]))] + [
        (
            None,
            build_warc(
                [
                    (
                        "response",
                        f"https://corpus.local/{doc_id}/{i}",
                        raw[i * 64 : (i + 1) * 64],
                    )
                ]
            ),
        )
        for i in range((len(raw) + 63) // 64)
    ]
    return build_gzip_members(blocks)


WARC_GZ_IDX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("records", T.IntegerType()),
        T.StructField("members", T.IntegerType()),
        T.StructField("responses", T.IntegerType()),
        T.StructField("total_block_bytes", T.LongType()),
        T.StructField("last_uri", T.StringType()),
    ]
)

_WARC_GZ_IDX_ORACLE = """
SELECT doc_id,
       CAST(1 + (strlen(text) + 63) // 64 AS INT) AS records,
       CAST(1 + (strlen(text) + 63) // 64 AS INT) AS members,
       CAST((strlen(text) + 63) // 64 AS INT) AS responses,
       CAST(strlen(text) + strlen(CAST(doc_id AS VARCHAR)) AS BIGINT)
           AS total_block_bytes,
       CASE WHEN strlen(text) = 0 THEN NULL
            ELSE 'https://corpus.local/' || CAST(doc_id AS VARCHAR) || '/'
                 || CAST((strlen(text) - 1) // 64 AS VARCHAR)
       END AS last_uri
FROM documents
"""


@query("archive_warc_gz_index", _WARC_GZ_IDX_ORACLE)
def archive_warc_gz_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The side-car index build, oracled: per document, write the
    fixture segment and enumerate it ONCE through
    :func:`warc_gz_index` — gzip member walk, WARC record parse and the
    member<->record pairing all under the value hash (compressed
    offsets/sizes are reported to callers but not compared: deflate
    byte counts are not SQL-derivable)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text")

    def _index(doc_id, text):
        idx = warc_gz_index(_doc_warc_gz_segment(int(doc_id), text))
        resp = [e for e in idx if e["warc_type"] == "response"]
        yield (
            doc_id,
            len(idx),
            1 + max(e["member"] for e in idx),
            len(resp),
            sum(e["content_length"] for e in idx),
            resp[-1]["target_uri"] if resp else None,
        )

    return map_rows(base, _index, WARC_GZ_IDX_SCHEMA)


# Member 0 = warcinfo (seq 0), member i+1 = response over text block i
# (seq i+1, 64-byte blocks). The fetch stripe is seq % 3 == 0 among
# responses, i.e. seqs {3, 6, ...} = blocks {2, 5, ...}: with
# n = ceil(len/64) blocks, that is n // 3 fetches, all 64 bytes except
# the final block (size ((len-1) % 64) + 1) when n % 3 == 0. Docs with
# fewer than 3 blocks fetch nothing and drop out.
_WARC_FETCH_ORACLE = """
WITH d AS (
    SELECT doc_id,
           strlen(text) AS len,
           (strlen(text) + 63) // 64 AS n
    FROM documents
)
SELECT doc_id AS segment_id,
       CAST(n // 3 AS BIGINT) AS n_fetched,
       CAST(64 * (n // 3)
            - CASE WHEN n % 3 = 0 THEN 63 - ((len - 1) % 64) ELSE 0 END
            AS BIGINT) AS bytes_fetched,
       'https://corpus.local/' || CAST(doc_id AS VARCHAR) || '/'
           || CAST(3 * (n // 3) - 1 AS VARCHAR) AS last_uri
FROM d
WHERE n >= 3
"""


_SEGMENT_SCHEMA = T.StructType(
    [T.StructField("segment_id", T.LongType()), T.StructField("payload", T.BinaryType())]
)


@query("archive_warc_gz_fetch", _WARC_FETCH_ORACLE)
def archive_warc_gz_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random access through the side-car AS A PLAN: build the index
    (one full pass), prune to every third response, fetch ONLY those
    members via the JVM-substr + member-inflate path, and re-measure
    the returned block bytes Spark-side — a fetch that returned wrong
    or truncated blocks mismatches ``bytes_fetched``."""
    docs = catalog.load_table(spark, sf_dir, "documents")

    def _build(doc_id, text):
        yield doc_id, _doc_warc_gz_segment(int(doc_id), text)

    segs = map_rows(docs.select("doc_id", "text"), _build, _SEGMENT_SCHEMA)
    index = build_warc_gz_index_df(segs, "segment_id", "payload")
    wanted = index.where(
        (F.col("warc_type") == "response") & (F.col("seq") % 3 == 0)
    )
    fetched = fetch_warc_gz_records_df(segs, wanted)
    return fetched.groupBy("segment_id").agg(
        F.count(F.lit(1)).alias("n_fetched"),
        F.sum(F.octet_length("block")).alias("bytes_fetched"),
        F.max_by("target_uri", "seq").alias("last_uri"),
    )


def fetch_zip_member(member_bytes: bytes, expected_usize: int) -> bytes:
    """Ranged-fetch completion for ZIP (late r13): the caller slices
    ``payload[offset : next_offset_or_cd_start]`` (or any prefix that
    covers the member) using ONE :func:`zip_members` row and passes it
    here — the segment's other members are never touched, the same
    contract as :func:`fetch_warc_gz_record`. Parses the local file
    header independently (APPNOTE 4.3.7: name/extra lengths differ
    from the central entry's), then returns the member data — stored
    (method 0) sliced directly, deflate (method 8) inflated with a raw
    zlib window. The caller's expected uncompressed size (from the
    central directory) is verified so a stale slice fails loudly."""
    import struct as _struct
    import zlib

    if member_bytes[:4] != b"PK\x03\x04":
        raise ValueError("slice does not start at a ZIP local file header")
    if len(member_bytes) < 30:
        raise ValueError("truncated ZIP local file header")
    method, = _struct.unpack("<H", member_bytes[8:10])
    csize, usize = _struct.unpack("<II", member_bytes[18:26])
    name_len, extra_len = _struct.unpack("<HH", member_bytes[26:30])
    data_start = 30 + name_len + extra_len
    if csize == 0xFFFFFFFF or usize == 0xFFFFFFFF:
        vals = _zip64_extra_values(
            member_bytes[30 + name_len : data_start], 2
        )
        usize, csize = vals[0], vals[1]
    if method == 0:
        data = member_bytes[data_start : data_start + usize]
        if len(data) != usize:
            raise ValueError("stored ZIP member slice shorter than its size")
    elif method == 8:
        d = zlib.decompressobj(-zlib.MAX_WBITS)
        try:
            # max_length = expected + 1: a stream that inflates to MORE
            # than the central directory's size must produce at least
            # one extra byte so the size check below fails loudly —
            # capping at exactly expected_usize would silently truncate
            # an over-long (stale/corrupt) slice into a passing one
            data = d.decompress(member_bytes[data_start:], expected_usize + 1)
        except zlib.error as e:
            raise ValueError(f"corrupt deflate stream in ZIP member: {e}") from None
    else:
        raise NotImplementedError(f"ZIP compression method {method} not supported")
    if len(data) != expected_usize:
        raise ValueError(
            f"ZIP member inflated to {len(data)} bytes, central directory "
            f"declares {expected_usize} — stale or corrupt slice"
        )
    return data


ZIP_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("archive_id", T.LongType()),
        T.StructField("idx", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("method", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("compressed_size", T.LongType()),
        T.StructField("uncompressed_size", T.LongType()),
        T.StructField("slice_end", T.LongType()),
    ]
)


def build_zip_index_df(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """ZIP's side-car index build AS A PLAN (r15 — the
    :func:`build_warc_gz_index_df` twin): one central-directory walk
    per archive in a single ``mapInPandas`` stage, emitting the
    CDX-shaped rows later fetches prune against. ``slice_end`` is the
    exclusive byte bound of each member's local bytes — the next
    member's local-header offset in offset order, and
    :func:`zip_cd_start` for the last member — so a fetch can slice
    ``payload[offset : slice_end]`` without parsing anything. The
    walk is O(central directory), never O(payload): member data is
    not touched until a fetch asks for that member."""
    base = df.select(
        F.col(id_col).alias("archive_id"), F.col(payload_col).alias("payload")
    )

    def _index(aid, payload):
        payload = bytes(payload)
        members = zip_members(payload)
        bounds = sorted(m["offset"] for m in members) + [zip_cd_start(payload)]
        ends = {off: bounds[i + 1] for i, off in enumerate(bounds[:-1])}
        for i, m in enumerate(members):
            yield (
                aid,
                i,
                m["name"],
                m["method"],
                m["offset"],
                m["compressed_size"],
                m["uncompressed_size"],
                ends[m["offset"]],
            )

    return map_rows(base, _index, ZIP_INDEX_SCHEMA)


ZIP_FETCH_SCHEMA = T.StructType(
    [
        T.StructField("archive_id", T.LongType()),
        T.StructField("idx", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def fetch_zip_members_df(archives: DataFrame, index: DataFrame) -> DataFrame:
    """The pruned-fetch half for ZIP AS A PLAN (r15 — the
    :func:`fetch_warc_gz_records_df` twin): join a (pre-filtered)
    slice of the index back to its archives, cut each member's local
    bytes with a JVM-side binary ``substr`` (whole archives never
    cross the Python boundary), and complete the extraction in an
    Arrow-batched ``mapInPandas`` via :func:`fetch_zip_member` — local
    header parsed independently, stored/deflate handled, the central
    directory's uncompressed size verified so a stale index fails
    loudly. Scale shape: the index filter prunes BEFORE the join, the
    join moves only wanted index rows (broadcast when small), and
    Arrow ships member-sized slices — fetching 100 members out of a
    multi-GiB model-checkpoint archive transfers ~100 member-KiBs,
    not the archive."""
    sliced = index.join(archives, "archive_id").select(
        "archive_id",
        "idx",
        "name",
        "uncompressed_size",
        _guarded_slice("offset", "slice_end - offset").alias("member_bytes"),
    )

    def _fetch(aid, idx, name, usize, member):
        yield aid, idx, name, fetch_zip_member(bytes(member), int(usize))

    return map_rows(sliced, _fetch, ZIP_FETCH_SCHEMA)


TAR_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("archive_id", T.LongType()),
        T.StructField("idx", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("typeflag", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("size", T.LongType()),
    ]
)


def build_tar_index_df(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """TAR's side-car index build AS A PLAN (r15 — completing the
    container trio with :func:`build_zip_index_df` and
    :func:`build_warc_gz_index_df`): one checksum-verified header walk
    per archive in a single ``mapInPandas`` stage, emitting
    (offset, size) coordinates for every member's data blocks. The
    walk is O(headers) — it seeks over data blocks, so a multi-GiB
    archive costs 512 bytes of reading per member."""
    base = df.select(
        F.col(id_col).alias("archive_id"), F.col(payload_col).alias("payload")
    )

    def _index(aid, payload):
        for i, m in enumerate(tar_members(bytes(payload))):
            yield aid, i, m["name"], m["typeflag"], m["offset"], m["size"]

    return map_rows(base, _index, TAR_INDEX_SCHEMA)


def fetch_tar_members_df(archives: DataFrame, index: DataFrame) -> DataFrame:
    """The pruned TAR fetch as a 100% JVM plan: tar member data is
    stored verbatim (no per-member compression), so the extraction IS
    the slice — join the (pre-filtered) index to its archives and cut
    each member with a binary ``substr``; nothing crosses the Python
    boundary at all, making this the cheapest fetch of the three
    container families (ZIP inflates, .warc.gz gunzips — both per
    Arrow batch; tar is whole-stage-codegen'd). A stale index fails
    loudly JVM-side: ``assert_true`` pins the sliced length to the
    index's size (a truncated archive or wrong offset yields a short
    slice). Honest boundary: tar stores data verbatim with no
    per-member checksum, so a stale size within the member's 512-byte
    zero-padding window slices padding bytes undetected — unlike ZIP
    (central-directory size re-verified against the inflate) and WARC
    (record identity re-matched). That is the format's limit, not the
    plan's: plain tar has nothing to verify against."""
    return (
        index.join(archives, "archive_id")
        .select(
            "archive_id",
            "idx",
            "name",
            _guarded_slice("offset", "size").alias("data"),
            "size",
        )
        .select(
            "archive_id",
            "idx",
            "name",
            F.when(
                F.assert_true(
                    F.octet_length("data") == F.col("size"),
                    F.lit("tar member slice shorter than its size — stale or corrupt index"),
                ).isNull(),
                F.col("data"),
            ).alias("data"),
        )
    )


_COMPRESSION_MAGICS = (
    (b"\x1f\x8b", "gzip"),
    (b"BZh", "bzip2"),
    (b"\xfd7zXZ\x00", "xz"),
    (b"\x28\xb5\x2f\xfd", "zstd"),
    (b"\x04\x22\x4d\x18", "lz4"),
)


def compression_codec(payload: bytes) -> str:
    """Magic-byte sniff -> codec name ('gzip' / 'bzip2' / 'xz' /
    'zstd' / 'lz4'); unknown leading bytes are loud — corpus plumbing
    must never silently pass compressed bytes through as text."""
    for magic, name in _COMPRESSION_MAGICS:
        if payload[: len(magic)] == magic:
            return name
    raise ValueError(
        f"unrecognized compression magic {payload[:6]!r} "
        "(gzip/bzip2/xz/zstd/lz4 sniffed)"
    )


def decompress_payload(payload: bytes) -> bytes:
    """One-call decompression for the wire formats raw corpus dumps
    actually ship (late r13): gzip (incl. multi-member — the .warc.gz
    layout), bzip2 (incl. concatenated streams — old Wikipedia dumps),
    and xz (incl. multi-stream — current wikimedia dumps), all via
    stdlib codecs with their built-in integrity checks (CRC32/ISIZE,
    stream CRCs, xz check field). zstd and lz4 sniff correctly but
    have no stdlib codec in this environment — honestly gated with the
    codec named, never misparsed."""
    codec = compression_codec(payload)
    if codec == "gzip":
        import gzip

        return gzip.decompress(payload)
    if codec == "bzip2":
        import bz2

        return bz2.decompress(payload)
    if codec == "xz":
        import lzma

        return lzma.decompress(payload)
    raise NotImplementedError(
        f"{codec} payloads need the {codec} codec, which is not in the "
        "Python standard library; gzip/bzip2/xz decode here"
    )


DECOMPRESS_SCHEMA = T.StructType(
    [
        T.StructField("payload_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def decompress_payloads_df(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Wire-format decompression AS A PLAN (r15 — the last archive
    helper without a DataFrame form): per row, sniff the codec and
    inflate through :func:`decompress_payload` in one Arrow-batched
    ``mapInPandas`` stage — no shuffle at any scale, each dump
    decompressed exactly where its bytes already sit. A corpus of raw
    ``.gz``/``.bz2``/``.xz`` dumps becomes (id, codec, bytes) rows
    ready for the container walks above; an unsupported codec (zstd/
    lz4 here) fails the TASK loudly with the codec named rather than
    misparsing — filter on :func:`compression_codec` first if a mixed
    drop must partially proceed."""
    base = df.select(
        F.col(id_col).alias("payload_id"), F.col(payload_col).alias("payload")
    )

    def _decompress(pid, payload):
        raw = bytes(payload)
        yield pid, compression_codec(raw), decompress_payload(raw)

    return map_rows(base, _decompress, DECOMPRESS_SCHEMA)
