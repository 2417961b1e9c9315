"""From-scratch HDF5/NetCDF-4 reader (S1 container-gap closure).

Three evidence layers, none depending on libhdf5/h5py (absent here):
1. the reference repo's REAL NetCDF-4 fixtures (tmin.nc, ca_ru_1km.nc —
   written by netCDF4/HDF5 in the wild): structure, CF metadata, chunk
   decode (zlib adler32 checks integrity), physical plausibility;
2. a HAND-BUILT superblock-v0 file assembled byte-by-byte from the HDF5
   File Format Specification — exercises the old-style path (v1 object
   headers, symbol-table groups, local heap, v1 dataspace/attribute/
   layout) that the v2-format reference fixtures don't touch;
3. distributed chunk→tile ingest ≡ driver-side whole-array decode.
"""

import os
import struct

import numpy as np
import pytest

from trefoil_spark.sources.hdf5 import H5File, NC4File

TMIN = "/root/repo/tests/data/tmin.nc"
CA_RU = "/root/repo/tests/data/ca_ru_1km.nc"

needs_fixtures = pytest.mark.skipif(
    not os.path.exists(TMIN), reason="reference fixtures unavailable"
)


@needs_fixtures
def test_tmin_structure_and_metadata():
    nc = NC4File(TMIN)
    assert nc.dimensions == {"lat": 601, "lon": 572}
    v = nc.variables["tmin"]
    assert v.dims == ("lat", "lon") and v.shape == (601, 572)
    # dense attributes (fractal heap + v2 b-tree) on lat
    assert nc.variables["lat"].attrs["units"] == "degrees_north"
    assert nc.variables["lat"].attrs["standard_name"] == "latitude"
    assert nc.variables["lon"].attrs["units"] == "degrees_east"
    assert abs(v.attrs["_FillValue"] - 1e20) < 1e14


@needs_fixtures
def test_tmin_decode_plausible():
    """shuffle+deflate chunk decode: zlib's adler32 guards byte-level
    integrity; value ranges guard offset/shuffle mistakes (a wrong
    element-size or transpose scrambles values wildly)."""
    nc = NC4File(TMIN)
    arr = nc.read("tmin")
    ok = ~np.isnan(arr)
    assert ok.sum() == 323032 and arr.size == 343772
    assert -60 < np.nanmin(arr) < np.nanmax(arr) < 60  # °C plausible
    lat, lon = nc.read("lat"), nc.read("lon")
    for c in (lat, lon):
        d = np.diff(c)
        assert np.allclose(d, d[0])  # uniform spacing
    assert 32 < lat.min() < lat.max() < 38
    assert -119 < lon.min() < lon.max() < -114


@needs_fixtures
def test_ca_ru_uint32_and_scalar_string():
    nc = NC4File(CA_RU)
    assert nc.dimensions == {"x": 914, "y": 1055}
    data = nc.h5.datasets["data"].read()
    assert data.dtype == np.dtype("<u4") and data.shape == (1055, 914)
    # CF grid-mapping variable: scalar string dataset with projection attrs
    crs = nc.variables["crs_Albers_Equal_Area"]
    assert crs.attrs["grid_mapping_name"] == "albers_conical_equal_area"
    sp = crs.attrs["standard_parallel"]
    assert len(np.atleast_1d(sp)) == 2  # two standard parallels


@needs_fixtures
def test_distributed_ingest_equals_driver_read(spark):
    """Chunk→fragment→tile distributed path ≡ independent driver-side
    whole-array assembly, on both real fixtures (incl. the ascending-lat
    north-first flip)."""
    from trefoil_spark.sources.netcdf3 import ingest_netcdf3

    for path, var in ((TMIN, "tmin"), (CA_RU, "data")):
        nc = NC4File(path)
        want = nc.read(var)
        ydim = nc.variables[var].dims[0]
        ys = nc.read(ydim)
        if ys[0] < ys[-1]:
            want = want[::-1]
        tiles, spec = ingest_netcdf3(spark, path, var)  # magic dispatch
        h, w = want.shape
        assert (spec.height, spec.width) == (h, w)
        got = np.full((h, w), np.inf, dtype=np.float32)
        for r in tiles.collect():
            blk = np.frombuffer(r["block"], dtype=np.float32).reshape(r["h"], r["w"])
            got[r["ty"] * 256 : r["ty"] * 256 + r["h"],
                r["tx"] * 256 : r["tx"] * 256 + r["w"]] = blk
        assert np.array_equal(got, want.astype(np.float32), equal_nan=True), path


@needs_fixtures
def test_read_header_dispatch():
    from trefoil_spark.sources.netcdf3 import read_header

    nc = read_header(TMIN)  # HDF5 magic → NC4File
    assert nc.version == 4 and "tmin" in nc.variables


# ---------------------------------------------------------------------------
# hand-built superblock-v0 fixture (old-style path)
# ---------------------------------------------------------------------------

UNDEF8 = b"\xff" * 8


def _build_v0_file(tmp_path):
    """Minimal spec-conformant HDF5: superblock v0 → root group (v1
    object header, symbol-table message) → TREE/SNOD/HEAP → dataset 'v'
    (v1 header: v1 dataspace, int32 LE datatype, contiguous v1 layout,
    one v1 string attribute), data [10, 20, 30]."""
    chunks = {}

    def lay(name, b):
        chunks[name] = bytearray(b)
        return chunks[name]

    # fixed offsets (hand-placed, generous gaps)
    OFF = {
        "sb": 0, "root_oh": 96, "btree": 160, "heap": 260,
        "heap_data": 300, "snod": 340, "ds_oh": 420, "data": 600,
    }

    # dataset object header (v1)
    msgs = []
    # dataspace v1: ver, rank, flags, reserved(5), dim=3
    msgs.append((0x0001, struct.pack("<BBB5x", 1, 1, 0) + struct.pack("<Q", 3)))
    # datatype: class 0 v1, little-endian signed int32
    dt = struct.pack("<BBBBI", 0x10, 0x08, 0, 0, 4) + struct.pack("<HH", 0, 32)
    msgs.append((0x0003, dt))
    # layout v1 contiguous: ver, ndims, class, reserved(5), addr, dim sizes
    msgs.append((
        0x0008,
        struct.pack("<BBB5x", 1, 1, 1)
        + struct.pack("<Q", OFF["data"])
        + struct.pack("<I", 3),
    ))
    # attribute v1: name 'units', string dtype size 2, scalar dataspace
    name = b"units\x00"
    adt = struct.pack("<BBBBI", 0x13, 0, 0, 0, 2)  # v1 class 3 string, size 2
    ads = struct.pack("<BBB5x", 1, 0, 0)  # rank 0
    abody = struct.pack("<BxHHH", 1, len(name), len(adt), len(ads))
    abody += name + b"\x00" * (-len(name) % 8)
    abody += adt + b"\x00" * (-len(adt) % 8)
    abody += ads + b"\x00" * (-len(ads) % 8)
    abody += b"m\x00"
    msgs.append((0x000C, abody))

    body = b""
    for mtype, mb in msgs:
        mb = mb + b"\x00" * (-len(mb) % 8)
        body += struct.pack("<HHB3x", mtype, len(mb), 0) + mb
    ds_oh = struct.pack("<BxHIII", 1, len(msgs), 1, len(body), 0)[:12] + b"\x00" * 4 + body
    lay("ds_oh", ds_oh)

    # local heap: data segment holds "\x00" at 0, "v" at 8
    heap_data = b"\x00" * 8 + b"v\x00" + b"\x00" * 22
    lay("heap_data", heap_data)
    lay(
        "heap",
        b"HEAP" + struct.pack("<B3x", 0)
        + struct.pack("<QQQ", len(heap_data), len(heap_data), OFF["heap_data"]),
    )

    # SNOD with one entry: name offset 8 → 'v', ohdr → dataset
    snod = b"SNOD" + struct.pack("<BBH", 1, 0, 1)
    snod += struct.pack("<QQI4x16x", 8, OFF["ds_oh"], 0)
    lay("snod", snod)

    # group b-tree: node type 0, level 0, 1 entry; key0, child, key1
    bt = b"TREE" + struct.pack("<BBH", 0, 0, 1) + UNDEF8 + UNDEF8
    bt += struct.pack("<Q", 0) + struct.pack("<Q", OFF["snod"]) + struct.pack("<Q", 8)
    lay("btree", bt)

    # root object header v1 with symbol-table message
    stmsg = struct.pack("<QQ", OFF["btree"], OFF["heap"])
    rbody = struct.pack("<HHB3x", 0x0011, len(stmsg), 0) + stmsg
    root_oh = struct.pack("<BxHI", 1, 1, 1) + struct.pack("<I", len(rbody)) + b"\x00" * 4 + rbody
    lay("root_oh", root_oh)

    # superblock v0
    sb = b"\x89HDF\r\n\x1a\n"
    sb += struct.pack("<BBBBBBBB", 0, 0, 0, 0, 0, 8, 8, 0)
    sb += struct.pack("<HHI", 4, 16, 0)
    sb += struct.pack("<Q", 0) + UNDEF8 + struct.pack("<Q", 1024) + UNDEF8
    # root symbol table entry
    sb += struct.pack("<QQI4x16x", 0, OFF["root_oh"], 0)
    lay("sb", sb)

    data = np.array([10, 20, 30], dtype="<i4").tobytes()
    lay("data", data)

    buf = bytearray(1024)
    for nm, b in chunks.items():
        buf[OFF[nm] : OFF[nm] + len(b)] = b
    p = tmp_path / "hand_v0.h5"
    p.write_bytes(bytes(buf))
    return str(p)


def test_handbuilt_v0_symbol_table(tmp_path):
    path = _build_v0_file(tmp_path)
    f = H5File(path)
    assert list(f.datasets) == ["v"]
    ds = f.datasets["v"]
    assert ds.shape == (3,) and ds.dtype.numpy == np.dtype("<i4")
    assert ds.attrs == {"units": "m"}
    assert np.array_equal(ds.read(), [10, 20, 30])


def test_multichunk_3d_chunked_read(tmp_path):
    """8-chunk 3-D deflate dataset (hand-built v1 chunk B-tree, edge
    chunks zero-padded full-size per spec): driver read reassembles the
    exact array; DIMENSION_SCALE datasets map dims by size fallback."""
    from tests.h5build import build_multichunk_nc4

    p = str(tmp_path / "multi.h5")
    want = build_multichunk_nc4(p, deflate=True)
    nc = NC4File(p)
    assert nc.dimensions == {"time": 2, "y": 5, "x": 7}
    assert nc.variables["v"].dims == ("time", "y", "x")
    got = nc.h5.datasets["v"].read()
    assert np.array_equal(got, want)
    # uncompressed variant exercises the no-filter chunk path
    p2 = str(tmp_path / "multi_raw.h5")
    want2 = build_multichunk_nc4(p2, deflate=False)
    assert np.array_equal(NC4File(p2).h5.datasets["v"].read(), want2)


def test_multichunk_distributed_ingest(spark, tmp_path):
    """Distributed chunk→fragment→tile path on a genuinely MULTI-chunk
    3-D file: every timestep reassembles bit-exact (north-first flip from
    descending y is identity here — y written descending)."""
    from tests.h5build import build_multichunk_nc4
    from trefoil_spark.sources.netcdf3 import ingest_netcdf3

    p = str(tmp_path / "multi.h5")
    want = build_multichunk_nc4(p, deflate=True)  # (2, 5, 7)
    tiles, spec = ingest_netcdf3(spark, p, "v")
    assert (spec.height, spec.width) == (5, 7)
    got = {r["t"]: np.frombuffer(r["block"], dtype=np.float32).reshape(5, 7)
           for r in tiles.collect()}
    for t in range(2):
        assert np.array_equal(got[t], want[t].astype(np.float32)), t


def test_dense_group_links(tmp_path):
    """12 datasets linked via fractal heap + v2 name B-tree (dense
    storage, netCDF-4 beyond the 8-link compact threshold)."""
    from tests.h5build import build_dense_links_file

    p = str(tmp_path / "dense.h5")
    want = build_dense_links_file(p, n_vars=12)
    f = H5File(p)
    assert sorted(f.datasets) == sorted(want)
    for name, arr in want.items():
        assert np.array_equal(f.datasets[name].read(), arr), name


def test_fletcher32_filter(tmp_path):
    """Fletcher32-filtered chunks: the reader strips the 4-byte trailing
    checksum (unverified) and reassembles exactly."""
    from tests.h5build import build_fletcher_file

    p = str(tmp_path / "fletch.h5")
    want = build_fletcher_file(p)
    got = H5File(p).datasets["v"].read()
    assert np.array_equal(got, want)


def test_indirect_fractal_heap_links(tmp_path):
    """Dense links across MULTIPLE 64-byte direct blocks under an FHIB
    indirect root — the doubling-table walk the FHDB fixtures skip."""
    from tests.h5build import build_indirect_heap_links_file

    p = str(tmp_path / "fhib.h5")
    want = build_indirect_heap_links_file(p, n_vars=9)
    f = H5File(p)
    assert sorted(f.datasets) == sorted(want)
    for name, arr in want.items():
        assert np.array_equal(f.datasets[name].read(), arr), name


@needs_fixtures
def test_set_crs_on_hdf5_rewrites_classic(tmp_path):
    """set_crs on an HDF5 input rewrites as classic CDF-2: unsigned data
    widens exactly (u4 → f8), and even the SCALAR NC_CHAR grid-mapping
    variable survives with its CF projection attributes (classic scalars
    are legal — the 0-d writer path was fixed for this)."""
    import shutil

    from trefoil_spark.cli import main
    from trefoil_spark.sources.netcdf3 import read_header

    p = str(tmp_path / "caru.nc")
    shutil.copy(CA_RU, p)
    want = NC4File(CA_RU).h5.datasets["data"].read()
    assert main(["set_crs", p, "--proj4", "+proj=aea +lat_1=34 +lat_2=40.5"]) == 0
    nc = read_header(p)
    assert nc.version == 2 and nc.attrs["crs"].startswith("+proj=aea")
    assert np.array_equal(nc.read("data", mask_and_scale=False),
                          want.astype("f8"))
    crs = nc.variables["crs_Albers_Equal_Area"]
    assert crs.dims == () and crs.attrs["grid_mapping_name"]


def test_unallocated_dataset_ingest(spark, tmp_path):
    """A variable created but never written (contiguous layout, UNDEF
    address) ingests as all-NaN skeleton tiles instead of crashing on
    the 2^64-1 sentinel (r4 review finding)."""
    import struct

    from tests.h5build import (
        _Builder, _contiguous_dataset, _superblock_v0, _symbol_table_root,
        _dataspace_v1, _datatype, _v1_header,
    )
    from trefoil_spark.sources.hdf5 import ingest_netcdf4

    bld = _Builder()
    # dataset header with layout address UNDEF (never allocated)
    msgs = [
        (0x0001, _dataspace_v1([4, 5])),
        (0x0003, _datatype("i4")),
        (0x0008,
         struct.pack("<BBB5x", 1, 2, 1) + b"\xff" * 8
         + struct.pack("<II", 4, 5)),
    ]
    v_oh = bld.alloc(_v1_header(msgs))
    root = _symbol_table_root(bld, [("v", v_oh)])
    data = bld.bytes()
    bld.place(0, _superblock_v0(root, len(data)))
    p = str(tmp_path / "unalloc.h5")
    with open(p, "wb") as f:
        f.write(bld.bytes())
    tiles, spec = ingest_netcdf4(spark, p, "v")
    rows = tiles.collect()
    assert len(rows) == 1
    blk = np.frombuffer(rows[0]["block"], dtype=np.float32)
    assert np.all(np.isnan(blk)) and blk.size == 20


def test_superblock_v1_root_offset(tmp_path):
    """v1 superblocks place the root symbol-table entry at 60, not 56
    (r4 review finding) — a v1 fixture must parse and read exactly."""
    from tests.h5build import build_v1_superblock_file

    p = str(tmp_path / "v1.h5")
    want = build_v1_superblock_file(p)
    f = H5File(p)
    assert list(f.datasets) == ["v"]
    assert np.array_equal(f.datasets["v"].read(), want)


# ---------------------------------------------------------------------------
# property fuzzing: randomized shapes/chunks through build → read
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    ch=st.integers(1, 17),
    cw=st.integers(1, 17),
    deflate=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_chunked_2d_roundtrip_property(tmp_path_factory, h, w, ch, cw, deflate, seed):
    """Arbitrary 2-D shapes × chunk shapes (including chunks larger than
    the array, 1-pixel arrays, ragged edges): build → driver read is an
    exact identity. Exercises the v1 chunk B-tree walk, edge-chunk
    clipping and the filter pipeline under randomized geometry."""
    import struct

    from tests.h5build import (
        _Builder, _chunked_dataset, _superblock_v0, _symbol_table_root,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(-(2**31), 2**31 - 1, size=(h, w)).astype("<i4")
    bld = _Builder()
    v_oh = _chunked_dataset(bld, arr, (ch, cw), "i4", deflate, [])
    root = _symbol_table_root(bld, [("v", v_oh)])
    data = bld.bytes()
    bld.place(0, _superblock_v0(root, len(data)))
    p = str(tmp_path_factory.mktemp("h5prop") / "prop.h5")
    with open(p, "wb") as f:
        f.write(bld.bytes())
    got = H5File(p).datasets["v"].read()
    assert np.array_equal(got, arr)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    nt=st.integers(1, 4),
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    ct=st.integers(1, 5),
    ch=st.integers(1, 9),
    cw=st.integers(1, 9),
    seed=st.integers(0, 2**31 - 1),
)
def test_chunked_3d_roundtrip_property(tmp_path_factory, nt, h, w, ct, ch, cw, seed):
    """3-D randomized geometry through the same identity."""
    from tests.h5build import (
        _Builder, _chunked_dataset, _superblock_v0, _symbol_table_root,
    )

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 10**6, size=(nt, h, w)).astype("<i4")
    bld = _Builder()
    v_oh = _chunked_dataset(bld, arr, (ct, ch, cw), "i4", True, [])
    root = _symbol_table_root(bld, [("v", v_oh)])
    data = bld.bytes()
    bld.place(0, _superblock_v0(root, len(data)))
    p = str(tmp_path_factory.mktemp("h5prop3") / "prop3.h5")
    with open(p, "wb") as f:
        f.write(bld.bytes())
    got = H5File(p).datasets["v"].read()
    assert np.array_equal(got, arr)


def test_v4_chunk_indexes(tmp_path):
    """Layout-v4 chunk indexes (HDF5 1.10 latest-format): single chunk
    (filtered + raw), implicit, fixed array (unpaged deflate + paged
    raw) all read value-identical; the fixed-array variable is
    tile-identical to its v1-B-tree twin (VERDICT r4 missing #1)."""
    from tests.h5build import build_v4_index_file

    p = str(tmp_path / "v4.h5")
    want = build_v4_index_file(p)
    f = H5File(p)
    assert sorted(f.datasets) == sorted(want)
    for name, arr in want.items():
        assert np.array_equal(f.datasets[name].read(), arr), name
    assert np.array_equal(
        f.datasets["fixedarr"].read(), f.datasets["twin"].read()
    )
    # same chunk grid through both index structures
    offs_fa = sorted(o for o, *_ in f.datasets["fixedarr"].chunk_map())
    offs_tw = sorted(o for o, *_ in f.datasets["twin"].chunk_map())
    assert offs_fa == offs_tw and len(offs_fa) == 9


def test_v4_btree2_index(tmp_path):
    """v2 B-tree chunk index (2+ unlimited dims, HDF5 1.10
    libver='latest'): depth-0 unfiltered + filtered, depth-1 (BTIN root
    with separator records and multiple BTLF leaves) unfiltered +
    filtered all read value-identical, and the deep variable is
    tile-identical to its v1-B-tree twin (closes the last v4 chunk
    index type, VERDICT r5 missing tail)."""
    from tests.h5build import build_btree2_file

    p = str(tmp_path / "bt2.h5")
    want = build_btree2_file(p)
    f = H5File(p)
    assert sorted(f.datasets) == sorted(want)
    for name, arr in want.items():
        assert np.array_equal(f.datasets[name].read(), arr), name
    offs_bt = sorted(o for o, *_ in f.datasets["bt2_deep"].chunk_map())
    offs_tw = sorted(o for o, *_ in f.datasets["twin"].chunk_map())
    assert offs_bt == offs_tw and len(offs_bt) == 9


def test_v4_btree2_depth_shapes(tmp_path):
    """The depth-1 fixture really exercises internal-node walking: its
    BTHD records depth 1, while the leaf-only fixture records depth 0
    (guards against the builder silently flattening the tree)."""
    import struct as _s

    from tests.h5build import build_btree2_file

    p = str(tmp_path / "bt2b.h5")
    build_btree2_file(p)
    d = open(p, "rb").read()
    depths = set()
    i = d.find(b"BTHD")
    while i != -1:
        depths.add(_s.unpack_from("<H", d, i + 12)[0])
        i = d.find(b"BTHD", i + 4)
    assert depths == {0, 1}
    assert d.count(b"BTIN") == 2 and d.count(b"BTLF") >= 6


def test_v4_unknown_index_raises():
    """An unknown v4 chunk-index type still raises loudly at parse
    time, not silently misread."""
    import struct as _s

    from trefoil_spark.sources.hdf5 import _parse_layout

    body = (
        _s.pack("<BBBBB", 4, 2, 0, 3, 4)
        + _s.pack("<III", 4, 4, 4)
        + _s.pack("<B", 6)
    )
    with pytest.raises(NotImplementedError, match="index type 6"):
        _parse_layout(body)


def test_v4_extensible_array(tmp_path):
    """Extensible-array chunk index (unlimited dim 0, HDF5 1.10
    libver='latest' appendable variables): every structural regime —
    inline index-block elements, direct data blocks, EASB secondary
    blocks, paged data blocks, filtered (client-1) elements, and the
    HDF5-default creation parameters — reads value-identical, and the
    paged variable is tile-identical to its v1-B-tree twin
    (VERDICT r5 item 4)."""
    from tests.h5build import build_earray_file

    p = str(tmp_path / "ea.h5")
    want = build_earray_file(p)
    f = H5File(p)
    assert sorted(f.datasets) == sorted(want)
    for name, arr in want.items():
        assert np.array_equal(f.datasets[name].read(), arr), name
    assert np.array_equal(
        f.datasets["ea_paged"].read(), f.datasets["twin"].read()
    )
    offs_ea = sorted(o for o, *_ in f.datasets["ea_paged"].chunk_map())
    offs_tw = sorted(o for o, *_ in f.datasets["twin"].chunk_map())
    assert offs_ea == offs_tw and len(offs_ea) == 26


def test_dense_attrs_depth1_btree(tmp_path):
    """r6: dense attribute storage whose name index overflows one leaf
    — the reader must walk the BTIN root with the shared capacity/width
    math instead of raising. Depth-0 control alongside."""
    import struct as _s

    from tests.h5build import build_dense_attrs_file
    from trefoil_spark.sources.hdf5 import H5File

    p1 = str(tmp_path / "deep.h5")
    want1 = build_dense_attrs_file(p1, n_attrs=40, node_size=128)
    d = open(p1, "rb").read()
    i = d.find(b"BTHD")
    assert _s.unpack_from("<H", d, i + 12)[0] == 1  # really depth 1
    assert b"BTIN" in d
    assert H5File(p1).attrs == want1

    p0 = str(tmp_path / "flat.h5")
    want0 = build_dense_attrs_file(p0, n_attrs=6, node_size=128)
    d0 = open(p0, "rb").read()
    assert _s.unpack_from("<H", d0, d0.find(b"BTHD") + 12)[0] == 0
    assert b"BTIN" not in d0
    assert H5File(p0).attrs == want0


def test_fractal_heap_tiny_object(tmp_path):
    """r6: tiny heap IDs (type 2) carry their payload in the ID itself
    — the fetch path must return it without touching any block, and a
    malformed length must raise cleanly."""
    import pytest as _pt

    from tests.h5build import build_dense_attrs_file
    from trefoil_spark.sources.hdf5 import _fractal_heap_fetch

    p = str(tmp_path / "heap.h5")
    build_dense_attrs_file(p, n_attrs=6, node_size=128)
    d = open(p, "rb").read()
    frhp = d.find(b"FRHP")
    fetch, hid_len = _fractal_heap_fetch(d, frhp)
    assert hid_len == 5
    tiny = bytes([0x20 | (4 - 1)]) + b"abcd"
    assert fetch(tiny) == b"abcd"
    with _pt.raises(ValueError, match="overruns"):
        fetch(bytes([0x20 | 0x0F]) + b"xy")
    with _pt.raises(NotImplementedError, match="huge"):
        fetch(bytes([0x10]) + b"\x00" * 4)
