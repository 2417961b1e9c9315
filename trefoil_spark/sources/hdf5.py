"""From-scratch read-only HDF5 subset — the NetCDF-4 container (S1 gap
closure; the reference's own fixtures `trefoil/test_data/tmin.nc` and
`ca_ru_1km.nc` are HDF5-based NetCDF-4, `trefoil/netcdf/tests/
test_conversion.py:16`).

Everything here is parsed from the public HDF5 File Format Specification
(v3.0, The HDF Group) — no h5py/libhdf5 in this environment. Supported
subset, chosen to cover what netCDF-4 writers emit:

- superblock v0/v1 (symbol-table root) and v2/v3 (root object header);
  userblock offsets 0/512/1024/... up to 64 KiB
- object headers v1 (8-byte aligned messages + continuations) and v2
  ("OHDR", optional times/attr-phase/order fields, "OCHK" continuations)
- messages: dataspace v1/v2, datatype (fixed-point, IEEE float, string,
  reference, vlen), fill value v2/v3, layout v1/v2/v3 (compact /
  contiguous / chunked), filter pipeline v1/v2 (deflate, shuffle,
  fletcher32), attributes v1/v2/v3, links (hard), link info, group info,
  symbol table, continuation
- groups: old-style (v1 B-tree over SNOD symbol nodes + local heap),
  new-style compact (inline link messages), and new-style DENSE (link
  messages in a fractal heap indexed by a v2 name B-tree — what netCDF-4
  uses past the 8-link compact threshold)
- dense attributes (same fractal heap + v2 B-tree machinery)
- chunk index: v1 B-tree (layout v3); layout v4 (HDF5 1.10
  latest-format) single-chunk / implicit / fixed-array indexes incl.
  data-block paging (r5); extensible array (ONE unlimited dim — the
  appendable-time-archive shape, r6) incl. secondary blocks and paged
  data blocks; v2 B-tree (2+ unlimited dims, r6) with depth-walking
  internal nodes and both unfiltered/filtered chunk records — every
  chunk index type HDF5 1.10 can emit now ingests
- global heap ("GCOL") for vlen attribute data (DIMENSION_LIST)

The netCDF-4 semantic layer (dimension scales via CLASS=DIMENSION_SCALE
/ NAME / _Netcdf4Dimid, per-variable dims via DIMENSION_LIST object
references) is exposed through :class:`NC4File`, shaped like
``netcdf3.NCFile`` so ingest/describe dispatch transparently on magic.
"""

from __future__ import annotations

import mmap
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

HDF5_MAGIC = b"\x89HDF\r\n\x1a\n"
UNDEF = 0xFFFFFFFFFFFFFFFF


def _find_superblock(d) -> int:
    off = 0
    while off <= min(len(d) - 8, 65536):
        if d[off : off + 8] == HDF5_MAGIC:
            return off
        off = 512 if off == 0 else off * 2
    raise ValueError("not an HDF5 file (no superblock signature)")


# ---------------------------------------------------------------------------
# datatype / dataspace decoding
# ---------------------------------------------------------------------------


@dataclass
class DType:
    cls: int           # HDF5 class: 0 int, 1 float, 3 string, 7 ref, 9 vlen
    size: int
    signed: bool = True
    big_endian: bool = False
    base: "DType | None" = None  # vlen base type

    @property
    def numpy(self) -> np.dtype:
        order = ">" if self.big_endian else "<"
        if self.cls == 0:
            return np.dtype(f"{order}{'i' if self.signed else 'u'}{self.size}")
        if self.cls == 1:
            return np.dtype(f"{order}f{self.size}")
        if self.cls == 3:
            return np.dtype(f"S{self.size}")
        raise NotImplementedError(f"no numpy dtype for HDF5 class {self.cls}")


def _parse_datatype(b: bytes) -> DType:
    cv = b[0]
    cls = cv & 0x0F
    bits0 = b[1]
    size = struct.unpack_from("<I", b, 4)[0]
    if cls == 0:  # fixed-point
        return DType(0, size, signed=bool(bits0 & 0x08), big_endian=bool(bits0 & 1))
    if cls == 1:  # floating-point (assume IEEE layouts netCDF writes)
        return DType(1, size, big_endian=bool(bits0 & 1))
    if cls == 3:  # string
        return DType(3, size)
    if cls == 7:  # reference
        return DType(7, size)
    if cls == 9:  # vlen: base type follows at offset 8
        return DType(9, size, base=_parse_datatype(b[8:]))
    return DType(cls, size)


def _parse_dataspace(b: bytes) -> list[int]:
    ver = b[0]
    if ver == 1:
        rank = b[1]
        # v1: version, rank, flags, reserved(5) then dims
        return [int.from_bytes(b[8 + 8 * i : 16 + 8 * i], "little") for i in range(rank)]
    if ver == 2:
        rank = b[1]
        return [int.from_bytes(b[4 + 8 * i : 12 + 8 * i], "little") for i in range(rank)]
    raise NotImplementedError(f"dataspace version {ver}")


# ---------------------------------------------------------------------------
# object headers (v1 + v2); v2 metadata checksums are not verified on read
# ---------------------------------------------------------------------------


def _messages(d: bytes, addr: int) -> list[tuple[int, int, int]]:
    """All (msg_type, body_offset, body_size) of the object header at
    ``addr`` — dispatches v1 (version byte) vs v2 ("OHDR"), follows
    continuations."""
    if d[addr : addr + 4] == b"OHDR":
        return _messages_v2(d, addr)
    return _messages_v1(d, addr)


def _messages_v1(d: bytes, addr: int) -> list[tuple[int, int, int]]:
    ver = d[addr]
    if ver != 1:
        raise NotImplementedError(f"object header version {ver} at {addr}")
    nmsgs = struct.unpack_from("<H", d, addr + 2)[0]
    size = struct.unpack_from("<I", d, addr + 8)[0]
    out: list[tuple[int, int, int]] = []
    # v1 prefix is 12 bytes padded to 16 (messages 8-byte aligned)
    blocks = [(addr + 16, addr + 16 + size)]
    while blocks and len(out) < nmsgs:
        p, end = blocks.pop(0)
        while p + 8 <= end and len(out) < nmsgs:
            mtype, msize, mflags = struct.unpack_from("<HHB", d, p)
            body = p + 8
            out.append((mtype, body, msize))
            if mtype == 0x10:  # continuation: offset + length, raw messages
                off = int.from_bytes(d[body : body + 8], "little")
                ln = int.from_bytes(d[body + 8 : body + 16], "little")
                blocks.append((off, off + ln))
            p = body + msize
    return out


def _messages_v2(d: bytes, addr: int) -> list[tuple[int, int, int]]:
    flags = d[addr + 5]
    p = addr + 6
    if flags & 0x20:
        p += 16  # access/mod/change/birth times
    if flags & 0x10:
        p += 4  # max compact / min dense attributes
    size_bytes = 1 << (flags & 0x3)
    chunk0 = int.from_bytes(d[p : p + size_bytes], "little")
    p += size_bytes
    track = bool(flags & 0x04)
    out: list[tuple[int, int, int]] = []
    blocks = [(p, p + chunk0)]
    while blocks:
        cp, cend = blocks.pop(0)
        while cp + 4 <= cend:
            mtype = d[cp]
            msize = struct.unpack_from("<H", d, cp + 1)[0]
            cp += 4
            if track:
                cp += 2  # creation order
            out.append((mtype, cp, msize))
            if mtype == 0x10:
                off = int.from_bytes(d[cp : cp + 8], "little")
                ln = int.from_bytes(d[cp + 8 : cp + 16], "little")
                if d[off : off + 4] != b"OCHK":
                    raise ValueError("bad OCHK continuation signature")
                blocks.append((off + 4, off + ln - 4))  # minus checksum
            cp += msize
    return out


# ---------------------------------------------------------------------------
# attribute + global heap
# ---------------------------------------------------------------------------


def _read_global_heap_object(d: bytes, collection_addr: int, index: int) -> bytes:
    if d[collection_addr : collection_addr + 4] != b"GCOL":
        raise ValueError("bad global heap signature")
    size = int.from_bytes(d[collection_addr + 8 : collection_addr + 16], "little")
    p = collection_addr + 16
    end = collection_addr + size
    while p + 16 <= end:
        idx, refcount = struct.unpack_from("<HH", d, p)
        osize = int.from_bytes(d[p + 8 : p + 16], "little")
        if idx == 0:
            break
        if idx == index:
            return d[p + 16 : p + 16 + osize]
        p += 16 + osize + (-osize % 8)
    raise KeyError(f"global heap object {index} not found")


def _decode_value(d: bytes, raw: bytes, dt: DType, n: int):
    """Attribute/fill payload → python value(s)."""
    if dt.cls == 3:
        return raw.rstrip(b"\x00").decode("utf-8", errors="replace")
    if dt.cls in (0, 1):
        arr = np.frombuffer(raw[: n * dt.size], dtype=dt.numpy)
        if n == 1:
            return arr[0]
        return arr.copy()
    if dt.cls == 9 and dt.base is not None and dt.base.cls == 7:
        # vlen of object references (DIMENSION_LIST): per element
        # {length u32, gheap addr u64, gheap index u32} → list of addr lists
        out = []
        for i in range(n):
            ln, addr, idx = struct.unpack_from("<IQI", raw, i * 16)
            blob = _read_global_heap_object(d, addr, idx)
            out.append([
                int.from_bytes(blob[8 * j : 8 * j + 8], "little")
                for j in range(ln)
            ])
        return out
    return raw  # opaque


def _parse_attribute(d: bytes, b: bytes):
    ver = b[0]
    if ver == 1:
        name_size, dt_size, ds_size = struct.unpack_from("<HHH", b, 2)
        p = 8
        name = b[p : p + name_size].split(b"\x00")[0].decode()
        p += name_size + (-name_size % 8)
        dt = _parse_datatype(b[p : p + dt_size])
        p += dt_size + (-dt_size % 8)
        dims = _parse_dataspace(b[p : p + ds_size])
        p += ds_size + (-ds_size % 8)
    elif ver in (2, 3):
        # flags byte: bit 0 = shared datatype, bit 1 = shared dataspace.
        # A shared message stores a heap-ID payload where we'd parse the
        # datatype — silently wrong values, so raise loudly instead.
        if b[1] & 0x03:
            raise NotImplementedError(
                "shared datatype/dataspace in attribute message"
            )
        name_size, dt_size, ds_size = struct.unpack_from("<HHH", b, 2)
        p = 8
        if ver == 3:
            p = 9  # + character-set encoding byte
        name = b[p : p + name_size].split(b"\x00")[0].decode()
        p += name_size
        dt = _parse_datatype(b[p : p + dt_size])
        p += dt_size
        dims = _parse_dataspace(b[p : p + ds_size])
        p += ds_size
    else:
        raise NotImplementedError(f"attribute message version {ver}")
    n = 1
    for s in dims:
        n *= s
    return name, _decode_value(d, b[p:], dt, n)


# ---------------------------------------------------------------------------
# dense attribute storage: fractal heap + v2 B-tree (netCDF-4 writes
# attributes densely past the compact threshold — the reference's own
# tmin.nc stores `lat`'s CLASS/NAME this way)
# ---------------------------------------------------------------------------


def _fractal_heap_fetch(d: bytes, fheap: int):
    """Returns fetch(heap_id) → object bytes for MANAGED heap objects.
    Supports a root direct block or one level of indirect block — the
    shapes netCDF-4 attribute heaps take."""
    if d[fheap : fheap + 4] != b"FRHP":
        raise ValueError("bad fractal heap signature")
    heap_id_len = struct.unpack_from("<H", d, fheap + 5)[0]
    flags = d[fheap + 9]
    p = fheap + 78 + 32  # past counters (huge/tiny sizes+counts)
    width = struct.unpack_from("<H", d, p)[0]
    start_bs = int.from_bytes(d[p + 2 : p + 10], "little")
    max_direct = int.from_bytes(d[p + 10 : p + 18], "little")
    max_heap_bits = struct.unpack_from("<H", d, p + 18)[0]
    root_addr = int.from_bytes(d[p + 22 : p + 30], "little")
    off_bytes = (max_heap_bits + 7) // 8
    import math

    len_bytes = max(1, (max(1, int(math.log2(max(2, max_direct)))) + 7) // 8)
    # direct block header: sig(4) ver(1) heap hdr(8) block offset(off_bytes)
    # [+4 checksum if flags&2]
    db_hdr = 4 + 1 + 8 + off_bytes + (4 if flags & 0x02 else 0)

    def block_map() -> list[tuple[int, int, int]]:
        """[(heap_offset, file_addr, block_size)] of all direct blocks."""
        if d[root_addr : root_addr + 4] == b"FHDB":
            boff = int.from_bytes(d[root_addr + 13 : root_addr + 13 + off_bytes], "little")
            return [(boff, root_addr, start_bs)]
        if d[root_addr : root_addr + 4] != b"FHIB":
            raise ValueError("bad fractal heap root block signature")
        # indirect block: sig(4) ver(1) heap hdr(8) block offset(off) then
        # child direct-block addresses row by row (doubling table).  Row
        # count comes from the heap header's "current # rows in root
        # indirect block" (offset p+30) — NOT from the doubling table's
        # capacity, which may exceed the rows actually stored in the
        # block (walking past it reads garbage addresses).
        nrows = struct.unpack_from("<H", d, p + 30)[0]
        out = []
        q = root_addr + 13 + off_bytes
        # rows 0 and 1 use start_bs; each later row doubles
        heap_off = 0
        bs = start_bs
        for row in range(nrows):
            if bs > max_direct:
                raise NotImplementedError(
                    "nested indirect blocks in fractal heap (root rows "
                    "past the max-direct-size tier)"
                )
            for _ in range(width):
                child = int.from_bytes(d[q : q + 8], "little")
                q += 8
                if child != UNDEF:
                    out.append((heap_off, child, bs))
                heap_off += bs
            if row >= 1:
                bs *= 2
        return out

    blocks = block_map()

    def fetch(heap_id: bytes) -> bytes:
        vt = heap_id[0]
        typ = (vt >> 4) & 0x3
        if typ == 2:
            # tiny object (r6): payload embedded in the ID itself —
            # 'normal' form (heap IDs here are << 18 bytes): low
            # nibble = length-1, data in the remaining ID bytes
            ln = (vt & 0x0F) + 1
            if 1 + ln > len(heap_id):
                raise ValueError("tiny heap object overruns its ID")
            return bytes(heap_id[1 : 1 + ln])
        if typ != 0:
            raise NotImplementedError(
                "huge fractal heap objects (v2 b-tree indirection)"
            )
        off = int.from_bytes(heap_id[1 : 1 + off_bytes], "little")
        ln = int.from_bytes(
            heap_id[1 + off_bytes : 1 + off_bytes + len_bytes], "little"
        )
        for boff, baddr, bsize in blocks:
            if boff <= off < boff + bsize:
                return d[baddr + (off - boff) : baddr + (off - boff) + ln]
        raise KeyError(f"fractal heap offset {off} not in any direct block")

    return fetch, heap_id_len


def _btree_v2_capacity(node_size: int, rec_size: int, depth: int):
    """Per-depth node-capacity/pointer-width table (libhdf5
    H5B2__hdr_init): returns (nrec_width, cum_size[]) where nrec_width
    is the encoded width of a child's record count (sized by the LEAF
    capacity, the largest) and cum_size[lvl] the width of the
    cumulative-subtree count stored in pointers below depth lvl+1."""
    max_nrec = [(node_size - 10) // rec_size]  # 10 = prefix + checksum
    cum_max = [max_nrec[0]]
    cum_size = [0]
    nrec_width = _nrec_enc_size(max_nrec[0])
    for lvl in range(1, depth + 1):
        ptr = 8 + nrec_width + cum_size[lvl - 1]
        n = (node_size - 10 - ptr) // (rec_size + ptr)
        max_nrec.append(n)
        cum_max.append((n + 1) * cum_max[lvl - 1] + n)
        cum_size.append(_nrec_enc_size(cum_max[lvl]))
    return nrec_width, cum_size


def _btree_v2_records(d: bytes, bthd: int) -> list[bytes]:
    """All records (raw bytes, tree order) of a v2 B-tree at any depth
    — internal (BTIN) nodes walked with the same capacity/width math as
    the chunk index (File Format Spec v3.0 §III.A.2); r6: depth ≥ 1
    (dense attribute sets past one leaf) no longer raises."""
    if d[bthd : bthd + 4] != b"BTHD":
        raise ValueError("bad v2 b-tree header signature")
    node_size = struct.unpack_from("<I", d, bthd + 6)[0]
    rec_size = struct.unpack_from("<H", d, bthd + 10)[0]
    depth = struct.unpack_from("<H", d, bthd + 12)[0]
    root = int.from_bytes(d[bthd + 16 : bthd + 24], "little")
    root_nrec = struct.unpack_from("<H", d, bthd + 24)[0]
    nrec_width, cum_size = _btree_v2_capacity(node_size, rec_size, depth)
    out: list[bytes] = []

    def walk(addr: int, nrec: int, lvl: int) -> None:
        if lvl == 0:
            if d[addr : addr + 4] != b"BTLF":
                raise ValueError("bad v2 b-tree leaf signature")
            p = addr + 6  # sig + version + type
            for i in range(nrec):
                out.append(d[p + i * rec_size : p + (i + 1) * rec_size])
            return
        if d[addr : addr + 4] != b"BTIN":
            raise ValueError("bad v2 b-tree internal node signature")
        p = addr + 6
        recs = [d[p + i * rec_size : p + (i + 1) * rec_size]
                for i in range(nrec)]
        p += nrec * rec_size
        for i in range(nrec + 1):
            caddr = int.from_bytes(d[p : p + 8], "little")
            p += 8
            cnrec = int.from_bytes(d[p : p + nrec_width], "little")
            p += nrec_width
            if lvl > 1:
                p += cum_size[lvl - 1]
            walk(caddr, cnrec, lvl - 1)
            if i < nrec:
                out.append(recs[i])

    walk(root, root_nrec, depth)
    return out


def _dense_attributes(d: bytes, b: bytes) -> dict:
    """attrinfo message body → {name: value} via fractal heap."""
    flags = b[1]
    p = 2 + (2 if flags & 0x01 else 0)
    fheap = int.from_bytes(b[p : p + 8], "little")
    name_bt = int.from_bytes(b[p + 8 : p + 16], "little")
    if fheap == UNDEF or name_bt == UNDEF:
        return {}
    fetch, heap_id_len = _fractal_heap_fetch(d, fheap)
    out = {}
    for rec in _btree_v2_records(d, name_bt):
        heap_id = rec[:heap_id_len]
        msg = fetch(heap_id)
        try:
            name, val = _parse_attribute(d, msg)
            out[name] = val
        except NotImplementedError:
            pass
    return out


def _dense_links(d: bytes, fheap: int, name_bt: int) -> list[tuple[str, int]]:
    """Dense (fractal-heap) group links — what netCDF-4 groups with more
    than the compact threshold (default 8) of variables use. The name
    index's v2 B-tree records (type 5) are: name hash (4 bytes) + heap
    ID; each heap object is a Link message body."""
    fetch, heap_id_len = _fractal_heap_fetch(d, fheap)
    out: list[tuple[str, int]] = []
    for rec in _btree_v2_records(d, name_bt):
        heap_id = rec[4 : 4 + heap_id_len]
        lk = _parse_link(fetch(heap_id))
        if lk:
            out.append(lk)
    # creation order is lost on the hash-ordered index; sort by name for
    # a deterministic traversal (dataset identity is by name anyway)
    return sorted(out)


# ---------------------------------------------------------------------------
# layouts / filters / chunk b-tree
# ---------------------------------------------------------------------------


@dataclass
class Layout:
    kind: str                       # 'compact' | 'contiguous' | 'chunked'
    addr: int = UNDEF
    size: int = 0
    chunk_shape: tuple[int, ...] = ()
    compact_data: bytes = b""
    version: int = 3
    index_type: int = 0             # v4: 1 single, 2 implicit, 3 fixed array
    flags: int = 0                  # v4 chunked feature flags
    single_size: int = 0            # v4 single-chunk-with-filter size
    single_mask: int = 0            # v4 single-chunk-with-filter mask
    page_bits: int = 0              # v4 fixed-array page bits (informational)


def _parse_layout(b: bytes) -> Layout:
    ver = b[0]
    if ver == 4:
        # HDF5 1.10 "latest-format" layout (closes the r4 declared tail):
        # compact/contiguous share v3's field layout; chunked carries a
        # chunk-index descriptor instead of a v1 B-tree address.
        cls = b[1]
        if cls == 0:
            size = struct.unpack_from("<H", b, 2)[0]
            return Layout("compact", compact_data=b[4 : 4 + size], version=4)
        if cls == 1:
            addr = int.from_bytes(b[2:10], "little")
            size = int.from_bytes(b[10:18], "little")
            return Layout("contiguous", addr=addr, size=size, version=4)
        if cls == 2:
            flags = b[2]
            nd = b[3]
            enc = b[4]
            p = 5
            dims = [
                int.from_bytes(b[p + i * enc : p + (i + 1) * enc], "little")
                for i in range(nd)
            ]
            p += nd * enc
            itype = b[p]
            p += 1
            single_size = single_mask = 0
            page_bits = 0
            if itype == 1:  # single chunk
                if flags & 0x02:  # with filter: stored size + mask
                    single_size = int.from_bytes(b[p : p + 8], "little")
                    p += 8
                    single_mask = struct.unpack_from("<I", b, p)[0]
                    p += 4
            elif itype == 2:  # implicit: no index-specific fields
                pass
            elif itype == 3:  # fixed array
                page_bits = b[p]
                p += 1
            elif itype == 4:  # extensible array (r6): 5 creation params
                # (max bits, index elements, min pointers, min elements,
                # page bits) — duplicated in the EAHD header, which the
                # walker reads authoritatively, so only skip them here
                p += 5
            elif itype == 5:  # v2 B-tree (r6): node size(4) + split(1)
                # + merge(1) creation params — the BTHD header duplicates
                # them, which the walker reads authoritatively
                p += 6
            else:
                raise NotImplementedError(
                    f"HDF5 v4 chunk index type {itype} unsupported"
                )
            addr = int.from_bytes(b[p : p + 8], "little")
            return Layout(
                "chunked",
                addr=addr,
                chunk_shape=tuple(dims),
                version=4,
                index_type=itype,
                flags=flags,
                single_size=single_size,
                single_mask=single_mask,
                page_bits=page_bits,
            )
        raise NotImplementedError(f"layout v4 class {cls} (virtual storage)")
    if ver == 3:
        cls = b[1]
        if cls == 0:  # compact
            size = struct.unpack_from("<H", b, 2)[0]
            return Layout("compact", compact_data=b[4 : 4 + size])
        if cls == 1:  # contiguous
            addr = int.from_bytes(b[2:10], "little")
            size = int.from_bytes(b[10:18], "little")
            return Layout("contiguous", addr=addr, size=size)
        if cls == 2:  # chunked: ndims(1) btree addr(8) dims(ndims*4) incl elem
            nd = b[2]
            addr = int.from_bytes(b[3:11], "little")
            dims = [
                struct.unpack_from("<I", b, 11 + 4 * i)[0] for i in range(nd)
            ]
            return Layout("chunked", addr=addr, chunk_shape=tuple(dims[:-1]))
        raise NotImplementedError(f"layout v3 class {cls}")
    if ver in (1, 2):
        nd = b[1]
        cls = b[2]
        p = 8
        if cls != 0:
            addr = int.from_bytes(b[p : p + 8], "little")
            p += 8
        dims = [struct.unpack_from("<I", b, p + 4 * i)[0] for i in range(nd)]
        p += 4 * nd
        if cls == 1:  # contiguous
            return Layout("contiguous", addr=addr, size=0)
        if cls == 2:  # chunked (dims include element size)
            return Layout("chunked", addr=addr, chunk_shape=tuple(dims[:-1]))
        size = struct.unpack_from("<I", b, p)[0]
        return Layout("compact", compact_data=b[p + 4 : p + 4 + size])
    raise NotImplementedError(f"layout message version {ver}")


def _parse_filters(b: bytes) -> list[tuple[int, list[int]]]:
    ver = b[0]
    nf = b[1]
    out: list[tuple[int, list[int]]] = []
    p = 8 if ver == 1 else 2
    for _ in range(nf):
        fid = struct.unpack_from("<H", b, p)[0]
        p += 2
        name_len = 0
        if ver == 1 or fid >= 256:
            name_len = struct.unpack_from("<H", b, p)[0]
            p += 2
        p += 2  # flags
        ncli = struct.unpack_from("<H", b, p)[0]
        p += 2
        p += name_len + (-name_len % 8 if ver == 1 else 0)
        vals = [struct.unpack_from("<I", b, p + 4 * i)[0] for i in range(ncli)]
        p += 4 * ncli
        if ver == 1 and ncli % 2 == 1:
            p += 4  # padding
        out.append((fid, vals))
    return out


def _walk_chunk_btree(
    d: bytes, addr: int, ndims: int
) -> list[tuple[tuple[int, ...], int, int, int]]:
    """v1 B-tree (node type 1) → [(chunk offsets, file addr, nbytes, mask)]."""
    if addr == UNDEF:
        return []
    out: list[tuple[tuple[int, ...], int, int, int]] = []
    if d[addr : addr + 4] != b"TREE":
        raise ValueError(f"bad chunk b-tree signature at {addr}")
    level = d[addr + 5]
    nentries = struct.unpack_from("<H", d, addr + 6)[0]
    p = addr + 24
    keysize = 8 + 8 * ndims
    for _ in range(nentries):
        size, fmask = struct.unpack_from("<II", d, p)
        offs = tuple(
            int.from_bytes(d[p + 8 + 8 * j : p + 16 + 8 * j], "little")
            for j in range(ndims - 1)
        )
        child = int.from_bytes(d[p + keysize : p + keysize + 8], "little")
        p += keysize + 8
        if level == 0:
            out.append((offs, child, size, fmask))
        else:
            out.extend(_walk_chunk_btree(d, child, ndims))
    return out


def _grid_offsets(i: int, grid: list[int], cshape: tuple[int, ...]) -> tuple[int, ...]:
    """Row-major linear chunk index → per-dimension element offsets."""
    out: list[int] = []
    for g, c in zip(reversed(grid), reversed(cshape)):
        out.append((i % g) * c)
        i //= g
    return tuple(reversed(out))


def _fixed_array_chunks(
    d, fahd: int, chunk_bytes: int, grid: list[int], cshape: tuple[int, ...]
) -> list[tuple[tuple[int, ...], int, int, int]]:
    """Fixed Array chunk index (FAHD/FADB) → chunk records. Handles both
    the unpaged data block and data-block paging (bitmap + per-page
    checksums); client 1 elements carry (addr, size, filter mask)."""
    if d[fahd : fahd + 4] != b"FAHD":
        raise ValueError(f"bad fixed array header signature at {fahd}")
    client = d[fahd + 5]
    entry_size = d[fahd + 6]
    page_bits = d[fahd + 7]
    max_n = int.from_bytes(d[fahd + 8 : fahd + 16], "little")
    dblk = int.from_bytes(d[fahd + 16 : fahd + 24], "little")
    if client not in (0, 1):
        raise NotImplementedError(f"fixed array client id {client}")
    if dblk == UNDEF:
        return []
    if d[dblk : dblk + 4] != b"FADB":
        raise ValueError(f"bad fixed array data block signature at {dblk}")
    p = dblk + 14  # sig(4) version(1) client(1) header addr(8)
    out: list[tuple[tuple[int, ...], int, int, int]] = []

    def parse_elem(q: int, idx: int) -> None:
        addr = int.from_bytes(d[q : q + 8], "little")
        if addr == UNDEF:
            return
        if client == 1:  # filtered: addr(8) size(entry-12) mask(4)
            szb = entry_size - 12
            size = int.from_bytes(d[q + 8 : q + 8 + szb], "little")
            mask = struct.unpack_from("<I", d, q + 8 + szb)[0]
        else:
            size, mask = chunk_bytes, 0
        out.append((_grid_offsets(idx, grid, cshape), addr, size, mask))

    page_elems = 1 << page_bits
    if max_n > page_elems:  # paged: bitmap + checksum, then pages
        npages = (max_n + page_elems - 1) // page_elems
        bitmap = bytes(d[p : p + (npages + 7) // 8])
        p += (npages + 7) // 8 + 4
        idx = 0
        for pg in range(npages):
            n_in_page = min(page_elems, max_n - pg * page_elems)
            if (bitmap[pg // 8] >> (pg % 8)) & 1:
                for j in range(n_in_page):
                    parse_elem(p + j * entry_size, idx + j)
            p += n_in_page * entry_size + 4  # elements + page checksum
            idx += n_in_page
    else:
        for i in range(max_n):
            parse_elem(p + i * entry_size, i)
    return out


def _extensible_array_chunks(
    d, eahd: int, chunk_bytes: int, grid: list[int], cshape: tuple[int, ...],
    nchunks: int,
) -> list[tuple[tuple[int, ...], int, int, int]]:
    """Extensible Array chunk index (EAHD/EAIB/EADB/EASB) → chunk
    records — the index HDF5 1.10 emits for chunked datasets with ONE
    unlimited dimension (appendable archives) under libver='latest'.

    Element i lives in: the index block's inline element area
    (i < idx_blk_elmts), else super block s = floor(log2(rel/dmin + 1))
    where rel = i - idx_blk_elmts (super block s holds 2^(s//2) data
    blocks of dmin*2^((s+1)//2) elements each, so capacity doubles per
    super block).  Data blocks of the first 2*log2(smin) super blocks
    are addressed directly from the index block (2*(smin-1) slots);
    later super blocks get their own EASB containing the data-block
    address list.  Data blocks whose element count exceeds 2^pbits are
    paged: the block body holds only the prefix + checksum and pages of
    2^pbits elements (each with a trailing checksum) follow it.
    Structure per the public HDF5 File Format Specification v3.0
    ("Disk Format: Level 1H - Extensible Array")."""
    if d[eahd : eahd + 4] != b"EAHD":
        raise ValueError(f"bad extensible array header signature at {eahd}")
    client = d[eahd + 5]
    esize = d[eahd + 6]
    maxbits = d[eahd + 7]
    iblk_elmts = d[eahd + 8]
    dmin = d[eahd + 9]
    smin = d[eahd + 10]
    pbits = d[eahd + 11]
    if client not in (0, 1):
        raise NotImplementedError(f"extensible array client id {client}")
    # 6 hsize_t stats (nsec/sec-size/ndata/data-size/max-set/nelmts)
    iblk = int.from_bytes(d[eahd + 60 : eahd + 68], "little")
    if iblk == UNDEF:
        return []
    if d[iblk : iblk + 4] != b"EAIB":
        raise ValueError(f"bad extensible array index block at {iblk}")
    off_size = (maxbits + 7) // 8
    page_elems = 1 << pbits
    log2smin = smin.bit_length() - 1
    nsblk_iblk = 2 * log2smin           # super blocks condensed in iblock
    ndblk_addrs = 2 * (smin - 1)        # direct data-block addr slots
    elems_base = iblk + 14              # sig(4) ver(1) client(1) hdr(8)
    dblk_base = elems_base + iblk_elmts * esize
    sblk_base = dblk_base + ndblk_addrs * 8

    out: list[tuple[tuple[int, ...], int, int, int]] = []

    def parse_elem(q: int, idx: int) -> None:
        addr = int.from_bytes(d[q : q + 8], "little")
        if addr == UNDEF:
            return
        if client == 1:  # filtered: addr(8) size(esize-12) mask(4)
            szb = esize - 12
            size = int.from_bytes(d[q + 8 : q + 8 + szb], "little")
            mask = struct.unpack_from("<I", d, q + 8 + szb)[0]
        else:
            size, mask = chunk_bytes, 0
        out.append((_grid_offsets(idx, grid, cshape), addr, size, mask))

    sblk_cache: dict[int, int] = {}  # super block index -> EASB addr

    for i in range(nchunks):
        if i < iblk_elmts:
            parse_elem(elems_base + i * esize, i)
            continue
        rel = i - iblk_elmts
        s = (rel // dmin + 1).bit_length() - 1
        off = rel - dmin * ((1 << s) - 1)
        dblk_nelmts = dmin << ((s + 1) // 2)
        ndblks_s = 1 << (s // 2)
        dblk_idx, in_dblk = divmod(off, dblk_nelmts)
        npages = dblk_nelmts // page_elems if dblk_nelmts > page_elems else 0

        if s < nsblk_iblk:  # direct slot in index block
            global_dblk = sum(1 << (u // 2) for u in range(s)) + dblk_idx
            daddr = int.from_bytes(
                d[dblk_base + global_dblk * 8 : dblk_base + global_dblk * 8 + 8],
                "little",
            )
        else:
            slot = s - nsblk_iblk
            if s not in sblk_cache:
                q = sblk_base + slot * 8
                sblk_cache[s] = int.from_bytes(d[q : q + 8], "little")
            sb = sblk_cache[s]
            if sb == UNDEF:
                continue  # whole super block unwritten: fill
            if d[sb : sb + 4] != b"EASB":
                raise ValueError(f"bad extensible array super block at {sb}")
            p = sb + 14 + off_size  # sig/ver/client/hdr-addr/block-offset
            if npages:  # page-init bitmap precedes the dblk addresses
                p += (ndblks_s * npages + 7) // 8
            daddr = int.from_bytes(
                d[p + dblk_idx * 8 : p + dblk_idx * 8 + 8], "little"
            )
        if daddr == UNDEF:
            continue  # unwritten chunk: fill
        if d[daddr : daddr + 4] != b"EADB":
            raise ValueError(f"bad extensible array data block at {daddr}")
        body = daddr + 14 + off_size
        if npages:
            # paged block: prefix + checksum only; pages follow, each
            # page_elems elements + 4-byte page checksum
            page_j, within = divmod(in_dblk, page_elems)
            q = (body + 4) + page_j * (page_elems * esize + 4) + within * esize
        else:
            q = body + in_dblk * esize
        parse_elem(q, i)
    return out


def _nrec_enc_size(v: int) -> int:
    """libhdf5 H5VM_limit_enc_size: min bytes to store values ≤ v
    (floor(log2 v)/8 + 1)."""
    return (max(int(v), 1).bit_length() - 1) // 8 + 1


def _btree_v2_chunks(
    d, bthd: int, chunk_bytes: int, grid, cshape
) -> list[tuple[tuple[int, ...], int, int, int]]:
    """Version-2 B-tree chunk index (BTHD/BTIN/BTLF, record types 10
    unfiltered / 11 filtered) → [(element offsets, addr, size, fmask)].
    HDF5 emits this index for chunked datasets with 2+ unlimited
    dimensions under libver='latest' (File Format Spec v3.0 §III.A.2,
    record layouts per the spec's dataset-chunk record tables).  Field
    widths follow the spec's sizing rules: the child-record-count width
    is the encoded size of the LEAF record capacity (the largest), and
    the per-depth cumulative-count width is the encoded size of the
    subtree record capacity; records hold scaled (grid) offsets, one
    8-byte word per dataspace dimension."""
    if d[bthd : bthd + 4] != b"BTHD":
        raise ValueError(f"bad v2 b-tree header signature at {bthd}")
    btype = d[bthd + 5]
    node_size = struct.unpack_from("<I", d, bthd + 6)[0]
    rrec_size = struct.unpack_from("<H", d, bthd + 10)[0]
    depth = struct.unpack_from("<H", d, bthd + 12)[0]
    root_addr = int.from_bytes(d[bthd + 16 : bthd + 24], "little")
    root_nrec = struct.unpack_from("<H", d, bthd + 24)[0]
    if btype not in (10, 11):
        raise NotImplementedError(f"v2 b-tree record type {btype} for chunks")
    filtered = btype == 11
    ndims = len(grid)
    # filtered record: addr(8) + size(var) + mask(4) + offsets(8*ndims);
    # the variable size width falls out of the header's record size
    size_len = rrec_size - 8 - 4 - 8 * ndims if filtered else 0
    if filtered and not 1 <= size_len <= 8:
        raise ValueError(
            f"v2 b-tree record size {rrec_size} inconsistent with "
            f"{ndims}-dim filtered chunk records"
        )
    # per-depth capacity/width table (libhdf5 H5B2__hdr_init) — shared
    # with the attribute-name walker
    nrec_width, cum_size = _btree_v2_capacity(node_size, rrec_size, depth)
    out: list[tuple[tuple[int, ...], int, int, int]] = []

    def rec(p: int) -> None:
        addr = int.from_bytes(d[p : p + 8], "little")
        p += 8
        if filtered:
            size = int.from_bytes(d[p : p + size_len], "little")
            p += size_len
            mask = struct.unpack_from("<I", d, p)[0]
            p += 4
        else:
            size, mask = chunk_bytes, 0
        scaled = [
            int.from_bytes(d[p + 8 * i : p + 8 * (i + 1)], "little")
            for i in range(ndims)
        ]
        out.append(
            (tuple(s * c for s, c in zip(scaled, cshape)), addr, size, mask)
        )

    def walk(addr: int, nrec: int, lvl: int) -> None:
        if lvl == 0:
            if d[addr : addr + 4] != b"BTLF":
                raise ValueError(f"bad v2 b-tree leaf signature at {addr}")
            p = addr + 6
            for _ in range(nrec):
                rec(p)
                p += rrec_size
        else:
            if d[addr : addr + 4] != b"BTIN":
                raise ValueError(
                    f"bad v2 b-tree internal node signature at {addr}"
                )
            p = addr + 6
            for i in range(nrec):
                rec(p + i * rrec_size)
            p += nrec * rrec_size
            for _ in range(nrec + 1):
                caddr = int.from_bytes(d[p : p + 8], "little")
                p += 8
                cnrec = int.from_bytes(d[p : p + nrec_width], "little")
                p += nrec_width
                if lvl > 1:
                    p += cum_size[lvl - 1]
                walk(caddr, cnrec, lvl - 1)

    walk(root_addr, root_nrec, depth)
    return out


def _walk_v4_chunk_index(
    d, layout: Layout, shape: tuple[int, ...], itemsize: int
) -> list[tuple[tuple[int, ...], int, int, int]]:
    """Layout-v4 chunk indexes (HDF5 1.10 latest-format): single chunk,
    implicit, fixed array (fixed-dimension variables), extensible array
    (ONE unlimited dimension — appendable time archives, r6) and v2
    B-tree (2+ unlimited dimensions, r6)."""
    cshape = layout.chunk_shape
    if layout.addr == UNDEF:
        return []  # never-written dataset: all-fill
    grid = [(s + c - 1) // c for s, c in zip(shape, cshape)]
    nchunks = 1
    for g in grid:
        nchunks *= g
    chunk_bytes = itemsize
    for c in cshape:
        chunk_bytes *= c
    it = layout.index_type
    if it == 1:  # single chunk: address IS the chunk
        if layout.flags & 0x02:
            return [(tuple(0 for _ in cshape), layout.addr, layout.single_size,
                     layout.single_mask)]
        return [(tuple(0 for _ in cshape), layout.addr, chunk_bytes, 0)]
    if it == 2:  # implicit: unfiltered chunks contiguous in index order
        return [
            (_grid_offsets(i, grid, cshape), layout.addr + i * chunk_bytes,
             chunk_bytes, 0)
            for i in range(nchunks)
        ]
    if it == 3:
        return _fixed_array_chunks(d, layout.addr, chunk_bytes, grid, cshape)
    if it == 4:
        return _extensible_array_chunks(
            d, layout.addr, chunk_bytes, grid, cshape, nchunks
        )
    if it == 5:
        return _btree_v2_chunks(d, layout.addr, chunk_bytes, grid, cshape)
    raise NotImplementedError(f"HDF5 v4 chunk index type {it}")


def decode_chunk(
    raw: bytes, filters: list[tuple[int, list[int]]], fmask: int
) -> bytes:
    """Reverse the filter pipeline (write order: shuffle→deflate, so read
    inflates first). fmask bit i set = filter i was skipped for this chunk."""
    for i, (fid, vals) in reversed(list(enumerate(filters))):
        if fmask & (1 << i):
            continue
        if fid == 1:  # deflate
            raw = zlib.decompress(raw)
        elif fid == 2:  # shuffle
            esize = vals[0] if vals else 4
            n = len(raw) // esize
            raw = (
                np.frombuffer(raw, dtype=np.uint8)
                .reshape(esize, n)
                .T.tobytes()
            )
        elif fid == 3:  # fletcher32: 4-byte checksum appended (not verified)
            raw = raw[:-4]
        else:
            raise NotImplementedError(f"HDF5 filter id {fid}")
    return raw


# ---------------------------------------------------------------------------
# groups
# ---------------------------------------------------------------------------


def _local_heap_data(d: bytes, addr: int) -> int:
    if d[addr : addr + 4] != b"HEAP":
        raise ValueError("bad local heap signature")
    return int.from_bytes(d[addr + 24 : addr + 32], "little")


def _walk_group_btree(d: bytes, addr: int, heap_data: int) -> list[tuple[str, int]]:
    """v1 B-tree (node type 0) over SNOD symbol nodes → [(name, ohdr addr)]."""
    out: list[tuple[str, int]] = []
    if d[addr : addr + 4] == b"SNOD":
        nsyms = struct.unpack_from("<H", d, addr + 6)[0]
        p = addr + 8
        for _ in range(nsyms):
            name_off = int.from_bytes(d[p : p + 8], "little")
            ohdr = int.from_bytes(d[p + 8 : p + 16], "little")
            end = d.find(b"\x00", heap_data + name_off)
            if end == -1:
                raise ValueError("unterminated name in local heap")
            name = d[heap_data + name_off : end].decode()
            out.append((name, ohdr))
            p += 40  # entry: link offset, ohdr, cache type, reserved, scratch
        return out
    if d[addr : addr + 4] != b"TREE":
        raise ValueError(f"bad group b-tree signature at {addr}")
    nentries = struct.unpack_from("<H", d, addr + 6)[0]
    p = addr + 24 + 8  # skip first key (length-of-key offsets)
    for _ in range(nentries):
        child = int.from_bytes(d[p : p + 8], "little")
        out.extend(_walk_group_btree(d, child, heap_data))
        p += 16  # child + next key
    return out


def _parse_link(b: bytes) -> tuple[str, int] | None:
    ver, lflags = b[0], b[1]
    p = 2
    ltype = 0
    if lflags & 0x08:
        ltype = b[p]
        p += 1
    if lflags & 0x04:
        p += 8  # creation order
    if lflags & 0x10:
        p += 1  # charset
    lsz = 1 << (lflags & 0x3)
    nlen = int.from_bytes(b[p : p + lsz], "little")
    p += lsz
    name = b[p : p + nlen].decode()
    p += nlen
    if ltype != 0:
        return None  # soft/external links skipped
    return name, int.from_bytes(b[p : p + 8], "little")


# ---------------------------------------------------------------------------
# file model
# ---------------------------------------------------------------------------


@dataclass
class H5Dataset:
    name: str
    shape: tuple[int, ...]
    dtype: DType
    layout: Layout
    filters: list[tuple[int, list[int]]]
    attrs: dict
    addr: int  # object header address (identity for DIMENSION_LIST refs)
    _d: bytes = field(repr=False, default=b"")

    def chunk_map(self) -> list[tuple[tuple[int, ...], int, int, int]]:
        if self.layout.kind != "chunked":
            raise ValueError("chunk_map on non-chunked dataset")
        if self.layout.version == 4:
            return _walk_v4_chunk_index(
                self._d, self.layout, self.shape, self.dtype.numpy.itemsize
            )
        return _walk_chunk_btree(
            self._d, self.layout.addr, len(self.layout.chunk_shape) + 1
        )

    def read(self) -> np.ndarray:
        """Full decode (driver-side)."""
        dt = self.dtype.numpy
        if self.layout.kind == "compact":
            return (
                np.frombuffer(self.layout.compact_data, dtype=dt)
                .reshape(self.shape)
                .copy()
            )
        if self.layout.kind == "contiguous":
            n = 1
            for s in self.shape:
                n *= s
            if self.layout.addr == UNDEF:
                fill = self.attrs.get("_FillValue", 0)
                return np.full(self.shape, fill, dtype=dt)
            raw = self._d[self.layout.addr : self.layout.addr + n * dt.itemsize]
            return np.frombuffer(raw, dtype=dt).reshape(self.shape).copy()
        # chunked
        out = np.zeros(self.shape, dtype=dt)
        fill = self.attrs.get("_FillValue")
        if fill is not None and self.dtype.cls in (0, 1):
            out[...] = fill
        cshape = self.layout.chunk_shape
        for offs, addr, size, fmask in self.chunk_map():
            raw = decode_chunk(self._d[addr : addr + size], self.filters, fmask)
            blk = np.frombuffer(raw, dtype=dt).reshape(cshape)
            sl_out, sl_blk = [], []
            for o, c, s in zip(offs, cshape, self.shape):
                take = min(c, s - o)
                sl_out.append(slice(o, o + take))
                sl_blk.append(slice(0, take))
            out[tuple(sl_out)] = blk[tuple(sl_blk)]
        return out


class H5File:
    """Parsed HDF5 file: flat dataset map (group paths joined with '/'),
    root attributes. The file is mmap-backed, NOT slurped: driver-side
    parsing only pages in object headers, B-tree nodes and heaps (a
    parquet-footer-sized footprint even on multi-GB inputs); `read()` is
    the driver-side convenience path, distributed ingest uses
    `chunk_map()` byte ranges and re-opens the file per task instead."""

    def __init__(self, path: str):
        self.path = path
        self._f = open(path, "rb")
        mm = mmap.mmap(self._f.fileno(), 0, access=mmap.ACCESS_READ)
        base = _find_superblock(mm)
        if base == 0:
            d = mm  # lazy: slices page in only the touched regions
        else:
            # userblock files (base 512/1024/…): HDF5 addresses are
            # relative to the superblock, and mmap offsets must be
            # page-aligned, so fall back to an eager in-memory view of
            # the post-userblock bytes (userblock files are rare and the
            # netCDF-4 path never emits them)
            mm.seek(0)
            d = mm[base:]
            mm.close()
        self._d = d
        ver = d[8]
        if ver in (0, 1):
            # root symbol-table entry follows the superblock body; its
            # object-header address is the entry's second field. v1
            # inserts 4 extra bytes (indexed-storage internal-node K +
            # reserved) before the base-address block, shifting the
            # entry from 56 (v0) to 60 (v1).
            entry = 56 if ver == 0 else 60
            root_ohdr = int.from_bytes(d[entry + 8 : entry + 16], "little")
        elif ver in (2, 3):
            root_ohdr = int.from_bytes(d[36:44], "little")
        else:
            raise NotImplementedError(f"superblock version {ver}")
        self.datasets: dict[str, H5Dataset] = {}
        self.attrs: dict = {}
        self._visit_group("", root_ohdr, root=True)

    # -- group / dataset traversal ---------------------------------------
    def _visit_group(self, prefix: str, addr: int, root: bool = False):
        d = self._d
        links: list[tuple[str, int]] = []
        attrs: dict = {}
        is_dataset = False
        shape: tuple[int, ...] = ()
        dtype: DType | None = None
        layout: Layout | None = None
        filters: list[tuple[int, list[int]]] = []
        for mtype, off, msize in _messages(d, addr):
            b = d[off : off + msize]
            if mtype == 0x01:
                shape = tuple(_parse_dataspace(b))
            elif mtype == 0x03:
                dtype = _parse_datatype(b)
            elif mtype == 0x06:
                lk = _parse_link(b)
                if lk:
                    links.append(lk)
            elif mtype == 0x08:
                layout = _parse_layout(b)
                is_dataset = True
            elif mtype == 0x0B:
                filters = _parse_filters(b)
            elif mtype == 0x0C:
                try:
                    name, val = _parse_attribute(d, b)
                    attrs[name] = val
                except NotImplementedError:
                    pass
            elif mtype == 0x11:  # symbol table (old-style group)
                bt = int.from_bytes(b[0:8], "little")
                heap = int.from_bytes(b[8:16], "little")
                heap_data = _local_heap_data(d, heap)
                links.extend(_walk_group_btree(d, bt, heap_data))
            elif mtype == 0x15:  # attribute info → dense attributes
                attrs.update(_dense_attributes(d, b))
            elif mtype == 0x02:  # link info: dense link storage
                # version(1) flags(1) [max corder(8)] fheap(8) btree(8)
                fl = b[1]
                p = 2 + (8 if fl & 0x01 else 0)
                fheap = int.from_bytes(b[p : p + 8], "little")
                name_bt = int.from_bytes(b[p + 8 : p + 16], "little")
                if fheap != UNDEF:
                    links.extend(_dense_links(d, fheap, name_bt))
        if is_dataset and dtype is not None and layout is not None:
            if layout.kind == "chunked" and layout.version == 4:
                # v4 chunk dims may carry the trailing element-size
                # "dimension" (v3's on-disk convention, kept by libhdf5's
                # shared layout struct) or be exactly the dataspace rank;
                # disambiguate against the rank we just parsed.
                nd, rank = len(layout.chunk_shape), len(shape)
                if nd == rank + 1:
                    layout.chunk_shape = layout.chunk_shape[:-1]
                elif nd != rank:
                    raise ValueError(
                        f"layout v4 chunk rank {nd} vs dataspace rank {rank}"
                    )
            self.datasets[prefix.lstrip("/")] = H5Dataset(
                prefix.lstrip("/"), shape, dtype, layout, filters, attrs, addr, d
            )
            return
        if root:
            self.attrs = attrs
        for name, child in links:
            self._visit_group(f"{prefix}/{name}", child)


# ---------------------------------------------------------------------------
# netCDF-4 semantic adapter (NCFile-shaped)
# ---------------------------------------------------------------------------


class _NC4Var:
    def __init__(self, ds: H5Dataset, dims: tuple[str, ...]):
        self._ds = ds
        self.dims = dims
        self.shape = ds.shape
        self.attrs = {
            k: v
            for k, v in ds.attrs.items()
            if k
            not in (
                "CLASS", "NAME", "DIMENSION_LIST", "REFERENCE_LIST",
                "_Netcdf4Dimid", "_Netcdf4Coordinates",
            )
        }
        self.dtype = ds.dtype.numpy


class NC4File:
    """NetCDF-4 view of an HDF5 file, mirroring ``netcdf3.NCFile``'s
    surface (dimensions, variables, attrs, read) so `describe`/ingest
    dispatch transparently on file magic."""

    version = 4  # "NetCDF-4" in describe surfaces (classic files are 1/2)
    numrecs = 0
    recsize = 0

    def __init__(self, path: str):
        self.h5 = H5File(path)
        self.path = path
        self.attrs = dict(self.h5.attrs)
        self.dimensions: dict[str, int] = {}
        self.variables: dict[str, _NC4Var] = {}
        # dimension scales: datasets with CLASS=DIMENSION_SCALE; name =
        # dataset name (netCDF-4 convention); phony dims via NAME attr
        dim_by_addr: dict[int, str] = {}
        for name, ds in self.h5.datasets.items():
            if ds.attrs.get("CLASS") == "DIMENSION_SCALE":
                self.dimensions[name] = ds.shape[0] if ds.shape else 0
                dim_by_addr[ds.addr] = name
        for name, ds in self.h5.datasets.items():
            dl = ds.attrs.get("DIMENSION_LIST")
            dims: list[str] = []
            if isinstance(dl, list):
                for refs in dl:
                    dims.append(dim_by_addr.get(refs[0] if refs else -1, "?"))
            elif name in self.dimensions:
                dims = [name]
            else:
                # fall back: match axis sizes against dimension scales
                for s in ds.shape:
                    match = [dn for dn, dl_ in self.dimensions.items() if dl_ == s]
                    dims.append(match[0] if match else f"phony_{s}")
            self.variables[name] = _NC4Var(ds, tuple(dims))

    @property
    def record_dim(self):
        return None  # HDF5 container has no classic record dimension

    def read(self, variable: str, mask_and_scale: bool = True) -> np.ndarray:
        ds = self.h5.datasets[variable]
        arr = ds.read()
        if not mask_and_scale:
            return arr
        a = self.variables[variable].attrs
        out = arr.astype(np.float64) if ds.dtype.cls in (0, 1) else arr
        fill = a.get("_FillValue", a.get("missing_value"))
        if fill is not None and ds.dtype.cls in (0, 1):
            out = np.where(arr == type(arr.flat[0])(fill), np.nan, out)
        if "scale_factor" in a or "add_offset" in a:
            out = out * float(a.get("scale_factor", 1.0)) + float(
                a.get("add_offset", 0.0)
            )
        return out


# ---------------------------------------------------------------------------
# distributed ingest: header + chunk index on the driver, chunk decode in
# tasks, ONE shuffle to assemble tiles
# ---------------------------------------------------------------------------


def ingest_netcdf4(spark, path: str, variable: str, var_label: str | None = None):
    """NetCDF-4/HDF5 (y, x) or (t, y, x) variable → tile DataFrame.

    Distribution shape: the driver parses ONLY metadata (object headers +
    the chunk B-tree — the same driver-side footprint Spark's parquet
    footer reads take, via mmap so chunk payloads are never paged in);
    each TASK seeks to its chunk's byte range, inflates (deflate/
    shuffle/fletcher pipeline), unpacks (fill→NaN, scale/offset), flips
    into north-first/west-first grid space and emits tiles. Chunks whose
    grid footprint is tile-ALIGNED (the bulk, for any tile-multiple
    chunking) emit whole tile rows directly — zero shuffle; only
    unaligned/boundary fragments take the groupBy assembly, whose input
    is O(perimeter), not O(volume). Parallelism = chunk count; no pixel
    byte ever routes through the driver. Tiles with no stored chunk
    materialize as all-fill (NaN) via anti-joined skeleton keys,
    matching classic-NetCDF semantics.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from ..grid import cells
    from ..raster.gridspec import GridSpec
    from ..raster.synth import CELL_RES, TILE_SCHEMA
    from .ingest import detect_geo_dims

    nc = NC4File(path)
    v = nc.variables[variable]
    ds = nc.h5.datasets[variable]
    if len(v.dims) == 2:
        ydim, xdim = v.dims
        nt = 1
    elif len(v.dims) == 3:
        _t, ydim, xdim = v.dims
        nt = v.shape[0]
    else:
        raise ValueError(f"{variable}: expected 2-D or 3-D, got dims {v.dims}")
    std_names = {
        d: nc.variables[d].attrs.get("standard_name")
        for d in v.dims
        if d in nc.variables and nc.variables[d].attrs.get("standard_name")
    }
    roles = detect_geo_dims(list(v.dims), std_names, dict(nc.dimensions))
    if roles["y"] and roles["x"]:
        ydim, xdim = roles["y"], roles["x"]

    ys = nc.read(ydim).astype(np.float64) if ydim in nc.variables else None
    xs = nc.read(xdim).astype(np.float64) if xdim in nc.variables else None
    h, w = nc.dimensions.get(ydim, v.shape[-2]), nc.dimensions.get(xdim, v.shape[-1])
    if ys is None or xs is None:
        spec = GridSpec(x0=0.0, y0=float(h), dx=1.0, dy=1.0, width=w, height=h)
        y_flip = x_flip = False
    else:
        dy = float(abs(ys[1] - ys[0])) if len(ys) > 1 else 1.0
        dx = float(abs(xs[1] - xs[0])) if len(xs) > 1 else 1.0
        y_desc = bool(ys[0] > ys[-1])
        y_flip = not y_desc
        x_flip = bool(xs[0] > xs[-1])
        y_top = float(ys[0] if y_desc else ys[-1])
        x_left = float(xs[-1] if x_flip else xs[0])
        spec = GridSpec(
            x0=x_left - dx / 2.0, y0=y_top + dy / 2.0,
            dx=dx, dy=dy, width=w, height=h,
        )

    tile = spec.tile
    nty, ntx = spec.ntiles_y, spec.ntiles_x
    dt_np = ds.dtype.numpy
    attrs = dict(v.attrs)
    filters = ds.filters
    label = var_label or variable
    rank = len(v.shape)
    # plain tuple so the task closure never captures the _NC4Var →
    # H5Dataset → mmap chain (unpicklable, and would ship file bytes)
    vshape = tuple(int(s) for s in v.shape)

    if ds.layout.kind == "chunked":
        cshape = ds.layout.chunk_shape
        # unallocated chunks never appear in the b-tree; an UNDEF b-tree
        # root (never-written variable) yields an empty map → all-fill
        chunk_rows = [
            (int(addr), int(size), int(fmask), *[int(o) for o in offs])
            for offs, addr, size, fmask in ds.chunk_map()
            if addr != UNDEF
        ]
    else:
        # contiguous/compact: model as one pseudo-chunk (whole array);
        # addr sentinel -1 = compact inline payload. An UNDEF contiguous
        # address (variable created but never written) contributes no
        # chunk at all — the skeleton materializes the all-fill tiles.
        cshape = tuple(v.shape)
        n_elem = int(np.prod(v.shape)) if v.shape else 0
        if ds.layout.kind == "compact":
            chunk_rows = [(-1, len(ds.layout.compact_data), 0, *([0] * rank))]
        elif ds.layout.addr == UNDEF:
            chunk_rows = []
        else:
            chunk_rows = [
                (int(ds.layout.addr), n_elem * dt_np.itemsize, 0, *([0] * rank))
            ]
    off_cols = [f"o{i}" for i in range(rank)]
    schema_str = (
        "addr bigint, size bigint, fmask bigint, "
        + ", ".join(f"{c} bigint" for c in off_cols)
    )
    compact_payload = ds.layout.compact_data if ds.layout.kind == "compact" else None
    spec_y0, spec_x0, spec_dy, spec_dx = spec.y0, spec.x0, spec.dy, spec.dx

    # ---- driver-side alignment split (r5 scale fix) ----------------------
    # A chunk whose grid-space footprint lands exactly on tile boundaries
    # produces only WHOLE tiles, each from exactly one chunk (chunks
    # partition index space) — those map straight to tile rows with NO
    # fragment shuffle. Only boundary/unaligned chunks (O(perimeter) for
    # typical writers, zero for tile-multiple chunk shapes) go through
    # the groupBy assembly. Measured on a 1 GiB 4096-chunk deflate+
    # shuffle file: 117 s (all fragments shuffled) → map-side-bound
    # (tools/bench_nc4_ingest.py); at 100 TB this is the difference
    # between shuffling the whole dataset and shuffling its tile edges.
    def _cover(offs: list[int]):
        oy, ox = offs[-2], offs[-1]
        cy, cx = cshape[-2], cshape[-1]
        th_ = min(cy, h - oy)
        tw2 = min(cx, w - ox)
        gy0 = h - (oy + th_) if y_flip else oy
        gx0 = w - (ox + tw2) if x_flip else ox
        gy1, gx1 = gy0 + th_, gx0 + tw2
        ok = (
            gy0 % tile == 0
            and (gy1 % tile == 0 or gy1 == h)
            and gx0 % tile == 0
            and (gx1 % tile == 0 or gx1 == w)
        )
        if rank == 3:
            t0_, t1_ = offs[0], offs[0] + min(cshape[0], nt - offs[0]) - 1
        else:
            t0_ = t1_ = 0
        return ok, (t0_, t1_, gy0 // tile, (gy1 - 1) // tile,
                    gx0 // tile, (gx1 - 1) // tile)

    full_rows: list[tuple] = []
    part_rows: list[tuple] = []
    for row in chunk_rows:
        ok, cover = _cover(list(row[3:]))
        if ok:
            full_rows.append(row + cover)
        else:
            part_rows.append(row)

    par2 = spark.sparkContext.defaultParallelism * 2
    cdf_full = cdf_part = None
    if full_rows:
        cdf_full = spark.createDataFrame(
            full_rows,
            schema_str + ", t0 int, t1 int, ty0 int, ty1 int, tx0 int, tx1 int",
        ).repartition(min(len(full_rows), par2))
    if part_rows:
        cdf_part = spark.createDataFrame(part_rows, schema_str).repartition(
            min(len(part_rows), par2)
        )

    from .netcdf3 import _unpack

    def _decode_slabs(r, f):
        """One chunk row → (t, north/west-oriented float32 slab, grid
        y0, grid x0) per time slice."""
        if r.addr == -1:
            raw = compact_payload
        else:
            f.seek(int(r.addr))
            raw = decode_chunk(f.read(int(r.size)), filters, int(r.fmask))
        blk = np.frombuffer(raw, dtype=dt_np).reshape(cshape)
        offs = [int(getattr(r, c)) for c in off_cols]
        # clip edge chunks to the array extent
        takes = [min(c, s - o) for c, s, o in zip(cshape, vshape, offs)]
        blk = blk[tuple(slice(0, tk) for tk in takes)]
        if rank == 2:
            slabs = [(0, blk, offs[0], offs[1])]
        else:
            slabs = [
                (offs[0] + i, blk[i], offs[1], offs[2])
                for i in range(takes[0])
            ]
        for t, slab, oy, ox in slabs:
            vals = _unpack(slab, attrs).astype(np.float32)
            th, tw_ = vals.shape
            if y_flip:
                vals = vals[::-1]
                gy0 = h - (oy + th)
            else:
                gy0 = oy
            if x_flip:
                vals = vals[:, ::-1]
                gx0 = w - (ox + tw_)
            else:
                gx0 = ox
            yield t, vals, gy0, gx0

    def cut_full(batches):
        f = open(path, "rb")
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                for t, vals, gy0, gx0 in _decode_slabs(r, f):
                    th, tw_ = vals.shape
                    for ty in range(gy0 // tile, (gy0 + th - 1) // tile + 1):
                        for tx in range(gx0 // tile, (gx0 + tw_ - 1) // tile + 1):
                            eh = min(tile, h - ty * tile)
                            ew = min(tile, w - tx * tile)
                            ay0 = ty * tile - gy0
                            ax0 = tx * tile - gx0
                            sub = vals[ay0 : ay0 + eh, ax0 : ax0 + ew]
                            lat_c = spec_y0 - (ty * tile + eh / 2.0) * spec_dy
                            lon_c = spec_x0 + (tx * tile + ew / 2.0) * spec_dx
                            cell = int(cells.latlon_to_cell(lat_c, lon_c, CELL_RES))
                            rows.append(
                                (label, int(t), int(ty), int(tx), cell,
                                 np.ascontiguousarray(sub).tobytes(), eh, ew)
                            )
            yield pd.DataFrame(
                rows,
                columns=["var", "t", "ty", "tx", "cell", "block", "h", "w"],
            )

    frag_schema = (
        "t int, ty int, tx int, ry int, rx int, fh int, fw int, frag binary"
    )

    def cut_frag(batches):
        f = open(path, "rb")
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                for t, vals, gy0, gx0 in _decode_slabs(r, f):
                    th, tw_ = vals.shape
                    ty0, ty1 = gy0 // tile, (gy0 + th - 1) // tile
                    tx0, tx1 = gx0 // tile, (gx0 + tw_ - 1) // tile
                    for ty in range(ty0, ty1 + 1):
                        for tx in range(tx0, tx1 + 1):
                            ay0 = max(gy0, ty * tile)
                            ay1 = min(gy0 + th, (ty + 1) * tile)
                            ax0 = max(gx0, tx * tile)
                            ax1 = min(gx0 + tw_, (tx + 1) * tile)
                            sub = vals[ay0 - gy0 : ay1 - gy0, ax0 - gx0 : ax1 - gx0]
                            rows.append(
                                (int(t), int(ty), int(tx),
                                 int(ay0 - ty * tile), int(ax0 - tx * tile),
                                 sub.shape[0], sub.shape[1],
                                 np.ascontiguousarray(sub).tobytes())
                            )
            yield pd.DataFrame(
                rows,
                columns=["t", "ty", "tx", "ry", "rx", "fh", "fw", "frag"],
            )

    tiles_fast = (
        cdf_full.mapInPandas(cut_full, schema=TILE_SCHEMA)
        if cdf_full is not None
        else None
    )
    frags = (
        cdf_part.mapInPandas(cut_frag, schema=frag_schema)
        if cdf_part is not None
        else None
    )

    # skeleton: every (t, ty, tx) not already produced whole by the fast
    # path gets a row (all-fill when no fragment lands on it). The
    # exclusion join moves 12-byte tile KEYS only — the covered-key set
    # is derived from the chunk table by Catalyst arithmetic, never by
    # re-decoding chunks.
    n = nt * nty * ntx
    skel = spark.range(0, n).select(
        (F.col("id") / (nty * ntx)).cast("int").alias("t"),
        (F.pmod(F.col("id"), nty * ntx) / ntx).cast("int").alias("ty"),
        F.pmod(F.col("id"), ntx).cast("int").alias("tx"),
        F.lit(0).alias("ry"), F.lit(0).alias("rx"),
        F.lit(0).alias("fh"), F.lit(0).alias("fw"),
        F.lit(b"").alias("frag"),
    )
    if cdf_full is not None:
        covered = (
            cdf_full.select(
                F.explode(F.sequence("t0", "t1")).alias("t"),
                "ty0", "ty1", "tx0", "tx1",
            )
            .select(
                "t", F.explode(F.sequence("ty0", "ty1")).alias("ty"),
                "tx0", "tx1",
            )
            .select("t", "ty", F.explode(F.sequence("tx0", "tx1")).alias("tx"))
        )
        skel = skel.join(covered, ["t", "ty", "tx"], "left_anti")

    def assemble(key, pdf):
        t, ty, tx = int(key[0]), int(key[1]), int(key[2])
        th = min(tile, h - ty * tile)
        tw_ = min(tile, w - tx * tile)
        out = np.full((th, tw_), np.nan, dtype=np.float32)
        for r in pdf.itertuples(index=False):
            if r.fh == 0:
                continue
            sub = np.frombuffer(r.frag, dtype=np.float32).reshape(r.fh, r.fw)
            out[r.ry : r.ry + r.fh, r.rx : r.rx + r.fw] = sub
        lat_c = spec_y0 - (ty * tile + th / 2.0) * spec_dy
        lon_c = spec_x0 + (tx * tile + tw_ / 2.0) * spec_dx
        cell = int(cells.latlon_to_cell(lat_c, lon_c, CELL_RES))
        return pd.DataFrame(
            [(label, t, ty, tx, cell, out.tobytes(), th, tw_)],
            columns=["var", "t", "ty", "tx", "cell", "block", "h", "w"],
        )

    src = skel if frags is None else frags.unionByName(skel)
    tiles = src.groupBy("t", "ty", "tx").applyInPandas(assemble, schema=TILE_SCHEMA)
    if tiles_fast is not None:
        tiles = tiles.unionByName(tiles_fast)
    return tiles, spec
