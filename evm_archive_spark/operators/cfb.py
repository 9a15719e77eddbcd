"""Compound File Binary (CFB / OLE2) container — from scratch, stdlib
only.  The container beneath every legacy Office payload (.doc/.xls/
.ppt/.msg): a FAT filesystem in a file (public spec: [MS-CFB]).

Reader: header (sector size, FAT/DIFAT/miniFAT locations), DIFAT walk
(109 header entries + chained DIFAT sectors), FAT chain walks,
directory entries (64-byte UTF-16 names, stream size + start), and the
mini-stream indirection for streams under the 4096-byte cutoff.
Writer (``CfbWriter``): the minimal standards-shaped container the
round-trip gates need — regular FAT sectors only (streams are padded
to the mini cutoff), flat directory sibling chain.

Used by ``officedoc.doc_to_text`` ([MS-DOC] Word binary text).  The
reference (SummaryDev/evm-archive) has no document surface; this
extends the training-pipeline extraction lane.
"""

from __future__ import annotations

import io
import struct

from .codecerrors import guard

MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
FREESECT = 0xFFFFFFFF
ENDOFCHAIN = 0xFFFFFFFE
FATSECT = 0xFFFFFFFD
MAX_SECTORS = 1 << 20  # chain-walk cap (~512 MB at 512-byte sectors)


class CfbError(Exception):
    """Malformed or out-of-scope CFB payload."""


def is_cfb(b: bytes) -> bool:
    return b[:8] == MAGIC


class CfbFile:
    """Parsed CFB container; ``streams`` maps name -> bytes."""

    def __init__(self, streams: dict[str, bytes]):
        self.streams = streams

    def stream(self, name: str) -> bytes:
        if name not in self.streams:
            raise CfbError(f"missing CFB stream {name!r}")
        return self.streams[name]


def _chain(fat: list[int], start: int) -> list[int]:
    out = []
    s = start
    while s not in (ENDOFCHAIN, FREESECT) and s < 0xFFFFFFFA:
        if s >= len(fat) or len(out) > MAX_SECTORS:
            raise CfbError("broken FAT chain")
        out.append(s)
        s = fat[s]
    return out


@guard(CfbError)
def parse_cfb(b: bytes) -> CfbFile:
    if not is_cfb(b):
        raise CfbError("not a CFB payload")
    (sector_shift,) = struct.unpack_from("<H", b, 30)
    (mini_shift,) = struct.unpack_from("<H", b, 32)
    if sector_shift not in (9, 12) or mini_shift != 6:
        raise CfbError(f"unsupported sector shifts {sector_shift}/{mini_shift}")
    ssz = 1 << sector_shift
    (n_fat,) = struct.unpack_from("<I", b, 44)
    (dir_start,) = struct.unpack_from("<I", b, 48)
    (mini_cutoff,) = struct.unpack_from("<I", b, 56)
    (minifat_start,) = struct.unpack_from("<I", b, 60)
    (n_minifat,) = struct.unpack_from("<I", b, 64)
    (difat_start,) = struct.unpack_from("<I", b, 68)
    (n_difat,) = struct.unpack_from("<I", b, 72)

    def sector(i: int) -> bytes:
        off = 512 + i * ssz
        if off + ssz > len(b):
            raise CfbError(f"sector {i} out of range")
        return b[off:off + ssz]

    # DIFAT: 109 header entries + chained DIFAT sectors
    difat = list(struct.unpack_from("<109I", b, 76))
    s = difat_start
    for _ in range(n_difat):
        if s >= 0xFFFFFFFA:
            break
        sec = sector(s)
        entries = struct.unpack_from(f"<{ssz // 4}I", sec)
        difat.extend(entries[:-1])
        s = entries[-1]
    fat: list[int] = []
    for fs in difat[:n_fat]:
        if fs >= 0xFFFFFFFA:
            continue
        fat.extend(struct.unpack_from(f"<{ssz // 4}I", sector(fs)))

    def read_chain(start: int, size: int) -> bytes:
        out = b"".join(sector(s) for s in _chain(fat, start))
        return out[:size]

    # directory
    dir_bytes = b"".join(sector(s) for s in _chain(fat, dir_start))
    entries = []
    for off in range(0, len(dir_bytes) - 127, 128):
        e = dir_bytes[off:off + 128]
        (name_len,) = struct.unpack_from("<H", e, 64)
        etype = e[66]
        if etype == 0 or name_len < 2:
            continue
        name = e[: name_len - 2].decode("utf-16-le", "replace")
        (start,) = struct.unpack_from("<I", e, 116)
        (size,) = struct.unpack_from("<Q", e, 120)
        entries.append((name, etype, start, size))

    # mini stream lives in the root entry's chain
    root = next((e for e in entries if e[1] == 5), None)
    mini_stream = b""
    minifat: list[int] = []
    if root is not None and n_minifat:
        mini_stream = read_chain(root[2], root[3])
        mf_bytes = b"".join(sector(s) for s in _chain(fat, minifat_start))
        minifat = list(
            struct.unpack_from(f"<{len(mf_bytes) // 4}I", mf_bytes)
        )

    def read_mini(start: int, size: int) -> bytes:
        out = bytearray()
        for ms in _chain(minifat, start):
            out += mini_stream[ms * 64:(ms + 1) * 64]
        return bytes(out[:size])

    streams: dict[str, bytes] = {}
    for name, etype, start, size in entries:
        if etype != 2:  # stream objects only
            continue
        if size < mini_cutoff:
            streams[name] = read_mini(start, size)
        else:
            streams[name] = read_chain(start, size)
    return CfbFile(streams)


class CfbWriter:
    """Minimal CFB writer: 512-byte sectors, regular FAT only (streams
    padded to the 4096-byte mini cutoff so no mini-FAT is needed),
    single-sector-run directory, flat sibling chain."""

    def __init__(self) -> None:
        self._streams: list[tuple[str, bytes]] = []

    def add(self, name: str, data: bytes) -> None:
        self._streams.append((name, data))

    def tobytes(self) -> bytes:
        ssz = 512
        payloads = [
            (n, d + b"\x00" * (-len(d) % ssz), len(d))
            for n, d in (
                (n, d if len(d) >= 4096 else d + b"\x00" * (4096 - len(d)))
                for n, d in self._streams
            )
        ]
        # layout: [dir sectors][stream sectors...][FAT sectors]
        n_dir = max(1, -(-(128 * (1 + len(payloads))) // ssz))
        sectors: list[bytes] = []
        fat: list[int] = []

        def alloc(data: bytes) -> int:
            start = len(sectors)
            n = len(data) // ssz
            for i in range(n):
                sectors.append(data[i * ssz:(i + 1) * ssz])
                fat.append(start + i + 1 if i < n - 1 else ENDOFCHAIN)
            return start

        dir_start = len(sectors)
        for _ in range(n_dir):
            sectors.append(b"")  # placeholder
            fat.append(len(sectors) if len(sectors) < dir_start + n_dir
                       else ENDOFCHAIN)
        starts = [(n, alloc(p), sz) for n, p, sz in payloads]

        def dir_entry(name, etype, start, size, child=0xFFFFFFFF,
                      left=0xFFFFFFFF, right=0xFFFFFFFF) -> bytes:
            nm = name.encode("utf-16-le")
            e = bytearray(128)
            e[:len(nm)] = nm
            struct.pack_into("<H", e, 64, len(nm) + 2)
            e[66] = etype
            e[67] = 1  # black
            struct.pack_into("<III", e, 68, left, right, child)
            struct.pack_into("<I", e, 116, start)
            struct.pack_into("<Q", e, 120, size)
            return bytes(e)

        # flat chain: root's child -> entry 1; entry i right-sib i+1
        dirents = [
            dir_entry("Root Entry", 5, ENDOFCHAIN, 0,
                      child=1 if starts else 0xFFFFFFFF)
        ]
        for i, (n, st, sz) in enumerate(starts):
            right = i + 2 if i + 1 < len(starts) else 0xFFFFFFFF
            dirents.append(dir_entry(n, 2, st, sz, right=right))
        dir_blob = b"".join(dirents)
        dir_blob += b"\x00" * (n_dir * ssz - len(dir_blob))
        for i in range(n_dir):
            sectors[dir_start + i] = dir_blob[i * ssz:(i + 1) * ssz]

        # FAT sectors (appended last; each marks itself FATSECT)
        n_fat = 1
        while (len(fat) + n_fat) > n_fat * (ssz // 4):
            n_fat += 1
        fat_start = len(sectors)
        full_fat = fat + [FATSECT] * n_fat
        full_fat += [FREESECT] * (n_fat * (ssz // 4) - len(full_fat))
        for i in range(n_fat):
            chunk = full_fat[i * (ssz // 4):(i + 1) * (ssz // 4)]
            sectors.append(struct.pack(f"<{ssz // 4}I", *chunk))

        header = bytearray(512)
        header[:8] = MAGIC
        struct.pack_into("<H", header, 24, 0x003E)   # minor
        struct.pack_into("<H", header, 26, 3)        # major (512B)
        struct.pack_into("<H", header, 28, 0xFFFE)   # little-endian
        struct.pack_into("<H", header, 30, 9)        # sector shift
        struct.pack_into("<H", header, 32, 6)        # mini shift
        struct.pack_into("<I", header, 44, n_fat)
        struct.pack_into("<I", header, 48, dir_start)
        struct.pack_into("<I", header, 56, 4096)     # mini cutoff
        struct.pack_into("<I", header, 60, ENDOFCHAIN)  # no miniFAT
        struct.pack_into("<I", header, 64, 0)
        struct.pack_into("<I", header, 68, ENDOFCHAIN)  # no DIFAT chain
        struct.pack_into("<I", header, 72, 0)
        difat = [FREESECT] * 109
        for i in range(n_fat):
            difat[i] = fat_start + i
        struct.pack_into("<109I", header, 76, *difat)
        return bytes(header) + b"".join(sectors)
