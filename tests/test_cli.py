"""`python -m trefoil_spark` CLI — the reference's command surface
(trefoil/cli/main.py) over the engine, with real .nc/.shp/image I/O."""

import json
import os

import numpy as np
import pytest

from trefoil_spark.cli import main
from trefoil_spark.sources.netcdf3 import read_header, write_netcdf3
from trefoil_spark.sources.shapefile import write_polygon_shapefile
from trefoil_spark.sources.zones import ZONE_LAYER


@pytest.fixture(scope="module")
def workspace(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    h, w = 60, 120
    ys = 38.0 - (np.arange(h) + 0.5) * 0.05
    xs = -125.0 + (np.arange(w) + 0.5) * 0.05
    data = (np.add.outer(np.arange(h), np.arange(w)) % 97).astype(np.float32)
    nc = str(d / "tmin.nc")
    write_netcdf3(
        nc,
        {"lat": h, "lon": w},
        {
            "lat": (("lat",), {"standard_name": "latitude"}, ys),
            "lon": (("lon",), {"standard_name": "longitude"}, xs),
            "tmin": (("lat", "lon"), {"units": "C"}, data),
        },
    )
    shp = str(d / "zones.shp")
    write_polygon_shapefile(shp, ZONE_LAYER)
    return {"dir": str(d), "nc": nc, "shp": shp, "data": data}


def test_describe_and_variables(workspace, capsys):
    assert main(["describe", workspace["nc"]]) == 0
    info = json.loads(capsys.readouterr().out)
    assert info["dimensions"] == {"lat": 60, "lon": 120}
    assert info["variables"]["tmin"]["dims"] == ["lat", "lon"]
    assert main(["variables", workspace["nc"]]) == 0
    assert "tmin(lat, lon): float32" in capsys.readouterr().out


def test_stats(spark, workspace, capsys):
    assert main(["stats", workspace["nc"]]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["tmin"]["tmin"]["min"] == 0.0
    assert out["tmin"]["tmin"]["max"] == 96.0
    assert out["tmin"]["tmin"]["valid_pixels"] == 60 * 120


def test_zonal_stats_csv(spark, workspace):
    out = os.path.join(workspace["dir"], "z.csv")
    assert main(
        ["zonal_stats", workspace["shp"], workspace["nc"] + ":tmin", out]
    ) == 0
    import pandas as pd

    pdf = pd.read_csv(out)
    assert set(pdf.columns) >= {"zone", "mean", "min", "max", "std", "count"}
    assert len(pdf) >= 2 and (pdf["count"] > 0).all()


def test_render_all_formats(spark, workspace):
    from trefoil_spark.functions.jpeg import decode_jpeg
    from trefoil_spark.functions.webp import decode_webp

    outdir = os.path.join(workspace["dir"], "img")
    for fmt in ("png", "jpg", "webp"):
        assert main(
            ["render_netcdf", workspace["nc"] + ":tmin", outdir,
             "--colormap", "0:#0000ff,96:#ff0000", "--format", fmt,
             "--scale", "2"]
        ) == 0
        path = os.path.join(outdir, f"tmin_tmin_0.{fmt}")
        blob = open(path, "rb").read()
        if fmt == "png":
            assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        elif fmt == "jpg":
            assert decode_jpeg(blob).shape == (120, 240, 3)
        else:
            assert decode_webp(blob).shape == (120, 240, 4)


def test_warp_to_3857(spark, workspace):
    out = os.path.join(workspace["dir"], "warped.nc")
    assert main(
        ["warp", workspace["nc"] + ":tmin", out, "--dst-crs", "EPSG:3857"]
    ) == 0
    nc = read_header(out)
    assert nc.attrs["crs"] == "EPSG:3857"
    assert nc.variables["y"].attrs["standard_name"] == "projection_y_coordinate"
    arr = nc.read("tmin")
    assert arr.shape == (60, 120)
    # nearest warp preserves the value domain
    assert np.nanmin(arr) >= 0.0 and np.nanmax(arr) <= 96.0


def test_extract_subset(workspace):
    out = os.path.join(workspace["dir"], "sub.nc")
    assert main(["extract", workspace["nc"], out, "--variables", "tmin"]) == 0
    nc = read_header(out)
    # tmin + its coordinate variables ride along
    assert set(nc.variables) == {"tmin", "lat", "lon"}
    assert np.array_equal(nc.read("tmin"), workspace["data"])


def test_delta_zero_against_self(spark, workspace):
    outdir = os.path.join(workspace["dir"], "dl")
    assert main(
        ["delta", workspace["nc"] + ":tmin", workspace["nc"],
         "--outdir", outdir]
    ) == 0
    nc = read_header(os.path.join(outdir, "tmin_delta.nc"))
    assert np.nanmax(np.abs(nc.read("tmin"))) == 0.0


def test_unknown_variable_errors(workspace):
    with pytest.raises(SystemExit):
        main(["extract", workspace["nc"], "/tmp/x.nc", "--variables", "nope"])


def test_zones_and_mask(spark, workspace):
    out_z = os.path.join(workspace["dir"], "zones_grid.nc")
    assert main(
        ["zones", workspace["shp"], out_z, "--like", workspace["nc"] + ":tmin"]
    ) == 0
    z = read_header(out_z).read("zones")
    assert z.shape == (60, 120)
    vals = set(np.unique(z[~np.isnan(z)]).astype(int).tolist())
    assert vals and vals <= set(range(len(ZONE_LAYER)))

    out_m = os.path.join(workspace["dir"], "mask_grid.nc")
    assert main(
        ["mask", workspace["shp"], out_m, "--like", workspace["nc"] + ":tmin"]
    ) == 0
    m = read_header(out_m).read("mask")
    # numpy-mask polarity: 1 = OUTSIDE features = where zones are NaN
    assert np.array_equal(m == 1.0, np.isnan(z))
    out_i = os.path.join(workspace["dir"], "mask_inv.nc")
    assert main(
        ["mask", workspace["shp"], out_i, "--like", workspace["nc"] + ":tmin",
         "--invert"]
    ) == 0
    assert np.array_equal(read_header(out_i).read("mask"), 1.0 - m)


def test_set_crs_rewrite(workspace):
    import shutil

    f = os.path.join(workspace["dir"], "crs_copy.nc")
    shutil.copy(workspace["nc"], f)
    p4 = "+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=37.5 +lon_0=-96"
    assert main(["set_crs", f, "--proj4", p4]) == 0
    nc = read_header(f)
    assert nc.attrs["crs"] == p4
    assert np.array_equal(nc.read("tmin"), workspace["data"])  # data intact


def test_to_netcdf_from_geotiff(spark, workspace):
    from trefoil_spark.sources.geotiff import write_geotiff

    tif = os.path.join(workspace["dir"], "r.tif")
    arr = (np.arange(40 * 50, dtype=np.float32) % 13).reshape(40, 50)
    write_geotiff(tif, arr, x0=-120.0, y0=40.0, dx=0.1, dy=0.1)
    out = os.path.join(workspace["dir"], "from_tif.nc")
    assert main(["to_netcdf", tif, out, "--variable", "elev"]) == 0
    nc = read_header(out)
    assert np.array_equal(nc.read("elev"), arr)


def test_map_preview(spark, workspace):
    outdir = os.path.join(workspace["dir"], "map")
    assert main(
        ["map", workspace["nc"] + ":tmin", outdir,
         "--colormap", "0:#0000ff,96:#ff0000"]
    ) == 0
    html = open(os.path.join(outdir, "index.html")).read()
    assert "ImageOverlay" in html or "imageOverlay" in html


def test_bin_ts(spark, workspace):
    # 5 timesteps, interval 2 -> bins 0,1; trailing t=4 dropped (bin_ts rule)
    d = workspace["dir"]
    h, w, nt = 20, 30, 5
    ys = 38.0 - (np.arange(h) + 0.5) * 0.05
    xs = -125.0 + (np.arange(w) + 0.5) * 0.05
    frames = np.stack([
        np.full((h, w), float(t * 10), dtype=np.float32) for t in range(nt)
    ])
    nc = os.path.join(d, "ts.nc")
    write_netcdf3(
        nc, {"time": None, "lat": h, "lon": w},
        {
            "lat": (("lat",), {"standard_name": "latitude"}, ys),
            "lon": (("lon",), {"standard_name": "longitude"}, xs),
            "v": (("time", "lat", "lon"), {}, frames),
        },
    )
    outdir = os.path.join(d, "bins")
    assert main(["bin_ts", nc + ":v", "--outdir", outdir, "--interval", "2"]) == 0
    b0 = read_header(os.path.join(outdir, "ts_v_bin0.nc")).read("v")
    b1 = read_header(os.path.join(outdir, "ts_v_bin1.nc")).read("v")
    assert np.all(b0 == 5.0) and np.all(b1 == 25.0)  # mean of (0,10), (20,30)
    assert not os.path.exists(os.path.join(outdir, "ts_v_bin2.nc"))


def test_render_tif(spark, workspace):
    from trefoil_spark.functions.png import decode_rgb_png
    from trefoil_spark.sources.geotiff import write_geotiff

    tif = os.path.join(workspace["dir"], "render_me.tif")
    arr = (np.arange(30 * 40, dtype=np.float32) % 50).reshape(30, 40)
    write_geotiff(tif, arr, x0=-120.0, y0=40.0, dx=0.1, dy=0.1)
    out = os.path.join(workspace["dir"], "render_me.png")
    assert main(
        ["render_tif", tif, out, "--colormap", "0:#000000,49:#ffffff",
         "--scale", "1.5"]
    ) == 0
    img = decode_rgb_png(open(out, "rb").read())
    assert img.shape == (45, 60, 4)


def test_render_classified_json(spark, workspace):
    from tests.reference import decode_palette_png

    outdir = os.path.join(workspace["dir"], "img_cls")
    cfg = '{"type": "classified", "colors": [[30, "#0000ff"], [97, "#ff0000"]]}'
    assert main(
        ["render_netcdf", workspace["nc"] + ":tmin", outdir,
         "--renderer-json", cfg, "--resampling", "nearest"]
    ) == 0
    blob = open(os.path.join(outdir, "tmin_tmin_0.png"), "rb").read()
    idx, pal, _ = decode_palette_png(blob)
    assert idx.shape == (60, 120) and set(np.unique(idx)) <= {0, 1, 2}


def test_describe_netcdf4_hdf5_input(capsys):
    """CLI `describe` on a REAL NetCDF-4/HDF5 file (the reference's own
    fixture) — header-only, dispatched on magic, no JVM."""
    path = "/root/repo/tests/data/tmin.nc"
    if not os.path.exists(path):
        pytest.skip("reference fixture unavailable")
    assert main(["describe", path]) == 0
    info = json.loads(capsys.readouterr().out)
    assert info["format"] == "NetCDF-4/HDF5"
    assert info["dimensions"] == {"lat": 601, "lon": 572}
    assert info["variables"]["tmin"]["dims"] == ["lat", "lon"]


def test_stats_netcdf4_hdf5_input(spark, capsys):
    """CLI `stats` runs the distributed chunk ingest on an HDF5 file."""
    path = "/root/repo/tests/data/ca_ru_1km.nc"
    if not os.path.exists(path):
        pytest.skip("reference fixture unavailable")
    assert main(["stats", path, "--variables", "data"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["data"]["data"]["valid_pixels"] == 964270


def test_warp_lanczos_cli(spark, workspace):
    """`warp --resampling lanczos` end to end (the reference's kernel
    choice list includes lanczos; r4 wires it through the CLI)."""
    out = os.path.join(workspace["dir"], "warp_lanczos.nc")
    assert main([
        "warp", workspace["nc"] + ":tmin", out,
        "--dst-crs", "EPSG:3857", "--resampling", "lanczos",
    ]) == 0
    nc = read_header(out)
    arr = nc.read("tmin")
    ok = ~np.isnan(arr)
    assert ok.sum() > 0.5 * arr.size
    lo, hi = np.nanmin(arr), np.nanmax(arr)
    assert -30 < lo <= hi < 130  # windowed sinc may ring slightly past 96


def test_set_crs_keeps_char_variables(tmp_path):
    """set_crs must NOT drop NC_CHAR (S1) variables from classic files —
    the codec round-trips them (r4 second-review regression)."""
    f = str(tmp_path / "chars.nc")
    names = np.array([[b"a", b"b", b"c"], [b"x", b"y", b"z"]], dtype="S1")
    write_netcdf3(
        f, {"station": 2, "len": 3},
        {
            "station_name": (("station", "len"), {}, names),
            "v": (("station",), {}, np.array([1.0, 2.0], dtype=np.float32)),
        },
    )
    assert main(["set_crs", f, "--proj4", "+proj=longlat"]) == 0
    nc = read_header(f)
    assert set(nc.variables) == {"station_name", "v"}
    assert np.array_equal(nc.read("station_name", mask_and_scale=False), names)


def test_render_tif_to_rgb_geotiff(spark, tmp_path):
    """render_tif --format tif writes a GEOREFERENCED RGB GeoTIFF: the
    rendered colors keep their world placement (r4 multi-band writer)."""
    from trefoil_spark.sources.geotiff import read_geotiff, write_geotiff

    src = str(tmp_path / "vals.tif")
    arr = (np.arange(20 * 30, dtype=np.float32) % 97).reshape(20, 30)
    write_geotiff(src, arr, x0=-120.0, y0=40.0, dx=0.1, dy=0.1)
    out = str(tmp_path / "colored.tif")
    assert main([
        "render_tif", src, out,
        "--colormap", "0:#0000ff,96:#ff0000", "--format", "tif", "--scale", "2",
    ]) == 0
    rgb, meta = read_geotiff(out)
    assert rgb.shape == (40, 60, 3) and rgb.dtype == np.uint8
    assert meta["crs"] == "EPSG:4326"
    assert abs(meta["dx"] - 0.05) < 1e-12  # geotransform scaled with the raster
    assert (meta["x0"], meta["y0"]) == (-120.0, 40.0)
    assert rgb.reshape(-1, 3).std(axis=0).max() > 10  # actually colorized


def test_cli_curate_parquet_roundtrip(tmp_path, spark):
    """`curate` over a parquet docs table: C4 + PII + line dedup +
    decontamination + sequence packing, end to end through the CLI."""
    docs = [
        (0, "u0", "The quick brown fox jumps over dogs.\n"
                   "Every good sentence has many fine words.\n"
                   "Here is another line with plenty words!\n"
                   "Contact me at jane@ex.com for more info."),
        (1, "u1", "The quick brown fox jumps over dogs.\n"   # dup line
                  "A different second line with plenty words.\n"
                  "A different third line with plenty words!\n"
                  "A different fourth line with plenty words."),
        (2, "u2", "short\nnothing here"),                    # C4-dropped
        (3, "u3", "Contaminated sentence alpha beta gamma delta here.\n"
                  "Another fine line with plenty of words.\n"
                  "Third fine line with plenty of words too."),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        docs, "doc_id bigint, url string, text string"
    ).write.parquet(src)
    ev = str(tmp_path / "eval.parquet")
    spark.createDataFrame(
        [(0, "contaminated sentence alpha beta gamma delta here.")],
        "doc_id bigint, text string",
    ).write.parquet(ev)
    out = str(tmp_path / "curated.parquet")
    assert main(["curate", src, out, "--eval-set", ev, "--ngram-n", "5",
                 "--pack", "8"]) == 0
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert sorted(got) == [0, 1]            # 2 C4-dropped, 3 contaminated
    assert "<EMAIL>" in got[0]["text"]
    assert "quick brown fox" not in got[1]["text"]  # dup line removed
    assert got[1]["url"] == "u1"
    packed = spark.read.parquet(out + "_packed").collect()
    assert packed and all(r["n_tokens"] == 8 for r in packed)


def test_cli_curate_warc_mode(tmp_path, spark):
    """`curate` straight off WARC shards (ingest → extract → Gopher →
    C4 → PII → line dedup)."""
    from tests.reference import write_warc

    lines = [
        f"Alpha{i} bravo{i} the charlie{i} and delta{i} echo{i} foxtrot{i}."
        for i in range(10)
    ]
    page = ("<html><head><title>t</title></head><body>"
            + "\n".join(lines) + "</body></html>")
    spam = "<html><body>- buy\n- now\n- cheap</body></html>"
    p = tmp_path / "c.warc.gz"
    p.write_bytes(write_warc([
        ("response", "http://w/keep", page.encode()),
        ("response", "http://w/spam", spam.encode()),
    ]))
    out = str(tmp_path / "out.parquet")
    routes = str(tmp_path / "routes.parquet")
    assert main(["curate", str(p), out, "--media-routes", routes]) == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert rows[0]["url"] == "http://w/keep"
    assert rows[0]["text"].split("\n") == lines
    # --media-routes: this shard has no media payloads — the routing
    # table exists and is empty (pages never enter the media stage)
    assert spark.read.parquet(routes).count() == 0


def test_cli_curate_cap_domain_and_lm_filter(tmp_path, spark):
    """`curate --cap-domain --lm-filter`: the mixture cap keeps the two
    smallest doc_ids of the over-represented host, and the CCNet-style
    perplexity gate (LM trained on the corpus itself) drops the
    out-of-domain gibberish doc while keeping in-domain prose."""
    def prose(i):
        # unique first token per line (no cross-doc line dedup), shared
        # interior bigrams (the LM's in-domain signal), 3 lines >= 5
        # words ending '.' (C4 page + line rules)
        return "\n".join(
            f"d{i}l{j} the spark engine reads rows with plenty of words."
            for j in range(3)
        )

    gibberish = "\n".join(
        f"g{j}a g{j}b g{j}c g{j}d g{j}e g{j}f." for j in range(3)
    )
    docs = [
        (i, f"https://bulk.example/{i}", prose(i)) for i in range(4)
    ] + [
        (10, "https://rare.org/a", prose(10)),
        (11, "https://odd.net/z", gibberish),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        docs, "doc_id bigint, url string, text string"
    ).write.parquet(src)
    out = str(tmp_path / "curated.parquet")
    assert main(["curate", src, out,
                 "--cap-domain", "2", "--lm-filter", "0.7"]) == 0
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    # bulk.example capped 4 -> 2 (smallest ids win); gibberish doc 11
    # scores worst under the corpus LM and falls past the 0.7 cut
    assert kept == [0, 1, 10]


def test_cli_curate_token_budget_and_dsir(tmp_path, spark):
    """`curate --token-budget` keeps whole docs in id order up to the
    budget; `--dsir-target --dsir-k` keeps the docs whose hashed-ngram
    profile matches the target corpus."""
    def prose(i, topic):
        words = {
            "weather": "rain falls over green hills before the storm",
            "spam": "buy cheap casino bonus pills online click wins",
        }[topic]
        return "\n".join(
            f"d{i}l{j} the {words} with plenty of words."
            for j in range(3)
        )

    docs = [
        (0, "u0", prose(0, "weather")),
        (1, "u1", prose(1, "weather")),
        (2, "u2", prose(2, "spam")),
        (3, "u3", prose(3, "spam")),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        docs, "doc_id bigint, url string, text string"
    ).write.parquet(src)

    # token budget: each doc is 42 whitespace tokens post-C4; 90
    # admits docs 0 and 1 only (whole docs, id order)
    out1 = str(tmp_path / "budgeted.parquet")
    assert main(["curate", src, out1, "--token-budget", "90"]) == 0
    kept1 = sorted(r["doc_id"] for r in spark.read.parquet(out1).collect())
    assert kept1 == [0, 1]

    # dsir: target corpus is weather prose -> the two weather docs win
    tgt = str(tmp_path / "target.parquet")
    spark.createDataFrame(
        [(100, prose(100, "weather")), (101, prose(101, "weather"))],
        "doc_id bigint, text string",
    ).write.parquet(tgt)
    out2 = str(tmp_path / "selected.parquet")
    assert main(["curate", src, out2,
                 "--dsir-target", tgt, "--dsir-k", "2"]) == 0
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert kept2 == [0, 1]


def test_cli_curate_canonical_and_latest(tmp_path, spark):
    """`curate --canonical-urls --latest-per-url` merges tracking-
    tagged recrawls of the same page and keeps the newest capture."""
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    body = "\n".join(
        f"l{j} plenty of ordinary prose words here." for j in range(3)
    )
    rows = [
        # same page three ways; doc 2 is the newest capture
        (0, "http://example.com/a?utm_source=x", ts, body),
        (1, "HTTP://EXAMPLE.COM:80/a", ts + datetime.timedelta(days=1), body),
        (2, "http://example.com/a#frag", ts + datetime.timedelta(days=2),
         body + "\nextra newest line of prose words here."),
        (3, "http://example.com/b", ts, body.replace("prose", "other")),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id bigint, url string, warc_ts timestamp, text string"
    ).write.parquet(src)
    out = str(tmp_path / "curated.parquet")
    assert main(["curate", src, out,
                 "--canonical-urls", "--latest-per-url"]) == 0
    got = {r["doc_id"]: r["url"]
           for r in spark.read.parquet(out).collect()}
    assert sorted(got) == [2, 3]
    assert got[2] == "http://example.com/a"


def test_cli_curate_quality_filter(tmp_path, spark):
    """`curate --quality-pos` keeps docs the NB classifier scores as
    positive-like (negatives default to the corpus itself)."""
    good = "the study presents careful evidence about river basins."
    bad = "buy cheap casino bonus pills online click here wins now."

    def page(i, s):
        return "\n".join(f"p{i}l{j} {s}" for j in range(3))

    docs = [
        (0, "u0", page(0, good)),
        (1, "u1", page(1, good.replace("river", "lake"))),
        (2, "u2", page(2, bad)),
        (3, "u3", page(3, bad.replace("pills", "meds"))),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        docs, "doc_id bigint, url string, text string"
    ).write.parquet(src)
    pos = str(tmp_path / "pos.parquet")
    spark.createDataFrame(
        [(100, " ".join([good] * 2))], "doc_id bigint, text string"
    ).write.parquet(pos)
    # pos corpus is scored-side only input to training, not curated —
    # single-line text is fine there
    out = str(tmp_path / "kept.parquet")
    assert main(["curate", src, out, "--quality-pos", pos]) == 0
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [0, 1]


def test_cli_linkrank(tmp_path, spark):
    """`linkrank` writes host ranks (and optionally the edge table)
    from a pages parquet."""
    pages = [
        (0, "http://a.com/p", '<a href="http://b.com/x">b</a>'),
        (1, "http://b.com/p", '<a href="http://a.com/">a</a>'),
    ]
    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        pages, "doc_id bigint, url string, html string"
    ).write.parquet(src)
    out = str(tmp_path / "ranks.parquet")
    edges = str(tmp_path / "edges.parquet")
    assert main(["linkrank", src, out, "--iters", "2",
                 "--edges-out", edges]) == 0
    got = {r["node"]: r["rank"] for r in spark.read.parquet(out).collect()}
    assert set(got) == {"a.com", "b.com"}
    # symmetric 2-cycle: uniform rank is the fixed point
    assert abs(got["a.com"] - 0.5) < 1e-12
    assert spark.read.parquet(edges).count() == 2


def test_cli_curate_strip_boilerplate(tmp_path, spark):
    """`curate --strip-boilerplate` removes per-host template lines
    before the quality rules."""
    nav = "p00 home products about pricing and careers listed here."
    rows = [
        (i, f"http://big.com/p{i}",
         "\n".join([nav,
                    f"b{i}l0 plenty of ordinary prose words here.",
                    f"b{i}l1 plenty of ordinary prose words here.",
                    f"b{i}l2 plenty of ordinary prose words here."]))
        for i in range(5)
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id bigint, url string, text string"
    ).write.parquet(src)
    out = str(tmp_path / "clean.parquet")
    assert main(["curate", src, out, "--strip-boilerplate"]) == 0
    got = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(out).collect()}
    assert sorted(got) == [0, 1, 2, 3, 4]
    assert all(nav not in t for t in got.values())
    assert "b2l1 plenty" in got[2]


def test_cli_curate_host_rank_gate(tmp_path, spark):
    """`curate --host-ranks --min-host-rank` keeps only docs whose
    host clears the rank floor from a linkrank table."""
    def page(i):
        return "\n".join(
            f"h{i}l{j} plenty of ordinary prose words here."
            for j in range(3)
        )

    rows = [
        (0, "http://good.com/a", page(0)),
        (1, "http://good.com/b", page(1)),
        (2, "http://spamfarm.net/x", page(2)),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id bigint, url string, text string"
    ).write.parquet(src)
    ranks = str(tmp_path / "ranks.parquet")
    spark.createDataFrame(
        [("good.com", 0.7), ("spamfarm.net", 0.01)],
        "node string, rank double",
    ).write.parquet(ranks)
    out = str(tmp_path / "kept.parquet")
    assert main(["curate", src, out, "--host-ranks", ranks,
                 "--min-host-rank", "0.1"]) == 0
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [0, 1]


def test_cli_curate_full_composition(tmp_path, spark):
    """Every r7 curate stage composed in one run: noindex drop →
    canonical urls → latest-per-url → boilerplate strip → C4/PII →
    dedup → domain cap → quality gate → token budget. Checks the
    stages interact in the documented order."""
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    nav = "x00 home products about pricing and careers listed here."
    good = "the study presents careful evidence about river basins."
    bad = "buy cheap casino bonus pills online click here wins now."

    def page(i, s, extra=""):
        lines = [nav] + [f"g{i}l{j} {s}" for j in range(3)]
        if extra:
            lines.append(extra)
        return "\n".join(lines)

    rows = [
        # same page, tracking-tagged recapture: only newest (1) survives
        (0, "http://big.com/a?utm_source=x", ts, None, page(0, good)),
        (1, "HTTP://BIG.COM:80/a", ts + datetime.timedelta(days=1), None,
         page(0, good)),
        # three more good pages (boilerplate host threshold needs >= 4)
        (2, "http://big.com/b", ts, None, page(2, good)),
        (3, "http://big.com/c", ts, None, page(3, good)),
        (4, "http://big.com/d", ts, None, page(4, good)),
        # noindex page never enters
        (5, "http://big.com/e", ts,
         '<meta name="robots" content="noindex">', page(5, good)),
        # spam doc: quality gate removes
        (6, "http://spam.net/x", ts, None, page(6, bad)),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows,
        "doc_id bigint, url string, warc_ts timestamp, "
        "html string, text string",
    ).write.parquet(src)
    pos = str(tmp_path / "pos.parquet")
    spark.createDataFrame(
        [(100, " ".join([good] * 2))], "doc_id bigint, text string"
    ).write.parquet(pos)
    neg = str(tmp_path / "neg.parquet")
    spark.createDataFrame(
        [(200, " ".join([bad] * 2))], "doc_id bigint, text string"
    ).write.parquet(neg)
    out = str(tmp_path / "final.parquet")
    assert main([
        "curate", src, out,
        "--drop-noindex", "--canonical-urls", "--latest-per-url",
        "--strip-boilerplate", "--quality-pos", pos,
        "--quality-neg", neg,
    ]) == 0
    got = {r["doc_id"]: r["text"]
           for r in spark.read.parquet(out).collect()}
    # 0 lost to latest-per-url, 5 to noindex, 6 to quality
    assert sorted(got) == [1, 2, 3, 4]
    # boilerplate nav stripped everywhere (4 surviving big.com pages
    # after dedup still clear min_pages=4)
    assert all(nav not in t for t in got.values())
    assert "g2l1 the study" in got[2]


def test_cli_corpus_stats(tmp_path, spark, capsys):
    """`corpus_stats` reports per-domain docs/tokens/chars with an
    approximate distinct-text column."""
    import json as _json

    rows = [
        (0, "http://a.com/1", "one two three"),
        (1, "http://a.com/2", "one two three"),      # exact dup
        (2, "http://www.a.com/3", "four five"),
        (3, "http://b.org/1", "six"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id bigint, url string, text string"
    ).write.parquet(src)
    out = str(tmp_path / "report.parquet")
    assert main(["corpus_stats", src, "--out", out, "--top", "5"]) == 0
    lines = [_json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    by_dom = {r["domain"]: r for r in lines}
    # www strips to the registrable domain
    assert by_dom["a.com"]["docs"] == 3
    assert by_dom["a.com"]["tokens"] == 8
    assert by_dom["b.org"]["docs"] == 1
    # the duplicate text shows up as approx_distinct < docs (HLL is
    # exact at this cardinality)
    assert by_dom["a.com"]["approx_distinct_texts"] == 2
    assert spark.read.parquet(out).count() == 2


def test_cli_curate_semdedup(tmp_path, spark):
    """`curate --semdedup` drops docs whose embeddings collapse to a
    duplicate group, keeping the min-id representative."""
    import numpy as np

    def page(i):
        return "\n".join(
            f"s{i}l{j} plenty of ordinary prose words here."
            for j in range(3)
        )

    docs = [(i, f"http://h{i}.com/p", page(i)) for i in range(4)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        docs, "doc_id bigint, url string, text string"
    ).write.parquet(src)
    rng = np.random.RandomState(3)
    base = rng.randn(3, 8)
    vecs = [
        (0, [float(x) for x in base[0]]),
        (1, [float(x) for x in base[0] + 1e-4]),  # dup of 0
        (2, [float(x) for x in base[1]]),
        (3, [float(x) for x in base[2]]),
    ]
    emb = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<double>"
    ).write.parquet(emb)
    out = str(tmp_path / "kept.parquet")
    assert main(["curate", src, out, "--semdedup", emb,
                 "--semdedup-clusters", "2",
                 "--semdedup-threshold", "0.999"]) == 0
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [0, 2, 3]


def test_cli_curate_robots(tmp_path, spark):
    """`curate --robots` drops docs the host's robots.txt disallows."""
    def page(i):
        return "\n".join(
            f"r{i}l{j} plenty of ordinary prose words here."
            for j in range(3)
        )

    docs = [
        (0, "http://a.com/public/x", page(0)),
        (1, "http://a.com/private/y", page(1)),
        (2, "http://b.com/anything", page(2)),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        docs, "doc_id bigint, url string, text string"
    ).write.parquet(src)
    robots = str(tmp_path / "robots.parquet")
    spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, body string",
    ).write.parquet(robots)
    out = str(tmp_path / "kept.parquet")
    assert main(["curate", src, out, "--robots", robots]) == 0
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [0, 2]
