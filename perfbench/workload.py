"""Seeded inputs, operations and the single-node oracle for the benchmark.

Everything here is a pure function of (scale, seed): the corpus comes from
``fixtures.build_bench_corpus`` and the sparse zone draws from a numpy
generator seeded with the same seed. The engine only ever receives the
generated tables.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from unittest import mock

import numpy as np
import pyarrow.parquet as pq

from python_rasterstats_spark import codecs as C
from python_rasterstats_spark import fixtures
from python_rasterstats_spark import geom as G
from python_rasterstats_spark import kernel as K
from python_rasterstats_spark.fixtures import BENCH_SIZES, NODATA, build_bench_corpus

DATASET = "bench"
SCALAR = ("count", "min", "max", "mean", "sum", "std")
HOLISTIC = (
    "count", "min", "max", "mean", "sum", "std", "median", "majority",
    "minority", "unique", "range", "percentile_25", "percentile_90",
)
NODATA_STATS = ("count", "mean", "nodata", "nan")
ORACLE_STATS = HOLISTIC + ("nodata", "nan")
EXACT_STATS = {"count", "unique", "nodata", "nan"}
REL_TOL = 1e-9
STD_REL_TOL = 1e-6  # std is derived from merged moments, not a direct sum


@dataclass(frozen=True)
class Op:
    """One query type: a zonal stats set in one join regime, or a point query."""

    name: str
    stats: tuple | None  # None: point query
    broadcast: bool = True


# Every workload runs every op, so every end-to-end metric exists on every
# workload. The point op, the boundless-nodata op and the SMJ ops
# (broadcast_zones=False) run in traced runs only: each timed op adds a
# query to every run, and a full evaluation of the benchmark must fit a
# fixed time budget (METRICS.md).
OPS = (
    Op("scalar", SCALAR),
    Op("holistic", HOLISTIC),
)
TRACED_OPS = OPS + (
    Op("point", None),
    Op("nodata", NODATA_STATS),
    Op("smj_scalar", SCALAR, broadcast=False),
    Op("smj_holistic", HOLISTIC, broadcast=False),
)

SPARSE_ZONES = 48


@dataclass
class Corpus:
    directory: str
    meta: dict
    raster: np.ndarray
    affine: tuple
    tile_px: int
    tiles_per_side: int


def build_corpus(workdir: str, scale: str, seed: int) -> Corpus:
    """The seeded bench corpus and its raster, mosaicked back from the
    written tiles so that the oracle reads exactly what the engine reads.

    ``build_bench_corpus`` draws only the zones from the seed; its raster,
    and with it the tile and dataset tables, are the same for every seed.
    Those are written and mosaicked once per scale and hard-linked into the
    corpus directory, where each seed writes only its zone table."""
    nts, tpx = BENCH_SIZES[scale][0], BENCH_SIZES[scale][1]
    base = os.path.join(workdir, f"raster-{scale}")
    raster_path = os.path.join(base, "raster.npy")
    if not os.path.exists(raster_path):
        build_bench_corpus(base, scale, 0)
        np.save(raster_path + ".tmp.npy", _mosaic(base, nts, tpx))
        os.replace(raster_path + ".tmp.npy", raster_path)
    directory = os.path.join(workdir, f"corpus-{scale}")
    shutil.rmtree(directory, ignore_errors=True)
    write_all = fixtures.write_corpus
    with mock.patch.object(
        fixtures, "write_corpus",
        lambda outdir, arrays, zones, tile: write_all(outdir, {}, zones, tile),
    ):
        meta = build_bench_corpus(directory, scale, seed)
    for name in ("tiles.parquet", "datasets.parquet"):  # written empty above
        os.remove(os.path.join(directory, name))
        os.link(os.path.join(base, name), os.path.join(directory, name))
    affine = (1.0, 0.0, 0.0, 0.0, -1.0, float(nts * tpx))
    return Corpus(directory, meta, np.load(raster_path), affine, tpx, nts)


def _mosaic(directory: str, nts: int, tpx: int) -> np.ndarray:
    t = pq.read_table(
        os.path.join(directory, "tiles.parquet"),
        columns=["tile_col", "tile_row", "bytes", "fmt"],
    ).to_pydict()
    raster = np.empty((nts * tpx, nts * tpx), dtype=np.float32)
    for tc, tr, payload, fmt in zip(t["tile_col"], t["tile_row"], t["bytes"], t["fmt"]):
        raster[tr * tpx:(tr + 1) * tpx, tc * tpx:(tc + 1) * tpx] = C.decode_tile(payload, fmt)
    return raster


def corpus_zones(corpus: Corpus) -> list[dict]:
    """Zone rows of the corpus: zone_id, collection and parsed geometry."""
    t = pq.read_table(
        os.path.join(corpus.directory, "zones.parquet"),
        columns=["zone_id", "collection", "geometry_wkb"],
    ).to_pydict()
    return [
        {"zone_id": z, "collection": c, "geometry_wkb": w, "geom": G.wkb_loads(w)}
        for z, c, w in zip(t["zone_id"], t["collection"], t["geometry_wkb"])
    ]


def sparse_draw(corpus: Corpus, rng: np.random.Generator) -> list[dict]:
    """A fresh set of small box zones, sized like the corpus' small zones.
    Every draw uses the same zone sizes in a new order, so draws differ
    only in placement."""
    tpx = corpus.tile_px
    size = corpus.tiles_per_side * tpx
    sizes = np.linspace(0.3, 1.6, SPARSE_ZONES) * tpx
    widths, heights = rng.permutation(sizes), rng.permutation(sizes)
    zones = []
    for i in range(SPARSE_ZONES):
        c0 = rng.uniform(0, size - 2 * tpx)
        r0 = rng.uniform(0, size - 2 * tpx)
        c1, r1 = c0 + widths[i], r0 + heights[i]
        geom = G.box(c0, size - r1, c1, size - r0)
        zones.append({
            "zone_id": i, "collection": "small",
            "geometry_wkb": G.wkb_dumps(geom), "geom": geom,
        })
    return zones


def zone_tiles(geom: dict, corpus: Corpus) -> tuple[int, int, int, int]:
    """Inclusive tile range (tr0, tr1, tc0, tc1) of a zone's bbox window,
    clipped to the grid — the cover pairs the engine resolves."""
    (r0, r1), (c0, c1) = K.bounds_window(G.geom_bounds(geom), corpus.affine)
    tpx, last = corpus.tile_px, corpus.tiles_per_side - 1
    return (max(r0 // tpx, 0), min((r1 - 1) // tpx, last),
            max(c0 // tpx, 0), min((c1 - 1) // tpx, last))


def cover_pairs(zones: list[dict], corpus: Corpus) -> list[tuple]:
    """(zone index, tile_col, tile_row) for every zone-tile cover pair."""
    pairs = []
    for i, z in enumerate(zones):
        tr0, tr1, tc0, tc1 = zone_tiles(z["geom"], corpus)
        pairs.extend((i, tc, tr) for tr in range(tr0, tr1 + 1) for tc in range(tc0, tc1 + 1))
    return pairs


def point_tiles(zones: list[dict], corpus: Corpus) -> set:
    """Tiles holding a pixel of some vertex's bilinear 2x2 window."""
    size = corpus.tiles_per_side * corpus.tile_px
    out = set()
    for z in zones:
        for x, y in G.geom_vertices(z["geom"]):
            (r0, r1), (c0, c1) = K.point_window_unitxy(x, y, corpus.affine)[0]
            for r in range(max(r0, 0), min(r1, size)):
                for c in range(max(c0, 0), min(c1, size)):
                    out.add((c // corpus.tile_px, r // corpus.tile_px))
    return out


def zonal_oracle(zones: list[dict], corpus: Corpus) -> dict:
    return {
        z["zone_id"]: K.zonal_stats_one(
            z["geom"], corpus.raster, corpus.affine, nodata=NODATA,
            stats=list(ORACLE_STATS),
        )
        for z in zones
    }


def point_oracle(zones: list[dict], corpus: Corpus) -> dict:
    out = {}
    for z in zones:
        v = K.point_query_one(z["geom"], corpus.raster, corpus.affine, nodata=NODATA)
        out[z["zone_id"]] = v if isinstance(v, list) else [v]
    return out


def cached_oracle(workdir: str, scale: str, seed: int, zones, corpus) -> dict:
    """Oracle of the corpus zones, cached per (scale, seed) as JSON."""
    path = os.path.join(workdir, "oracle", f"{scale}-seed{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
        return {
            "zonal": {int(k): v for k, v in data["zonal"].items()},
            "point": {int(k): v for k, v in data["point"].items()},
        }
    data = {"zonal": zonal_oracle(zones, corpus), "point": point_oracle(zones, corpus)}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(data, f)
    os.replace(tmp, path)
    return data


def _close(stat: str, got, want) -> bool:
    if got is None or want is None:
        return got is None and want is None
    if stat in EXACT_STATS:
        return float(got) == float(want)
    tol = STD_REL_TOL if stat == "std" else REL_TOL
    got, want = float(got), float(want)
    return got == want or abs(got - want) <= tol * max(abs(got), abs(want))


def check_zonal(rows, stats, oracle: dict) -> list[str]:
    """Mismatches of zonal result rows against the oracle."""
    got = {r["zone_id"]: r for r in rows}
    if len(got) != len(rows) or set(got) != set(oracle):
        return [f"zone ids differ: {len(rows)} rows for {len(oracle)} zones"]
    errors = []
    for zid, want in oracle.items():
        for s in stats:
            if not _close(s, got[zid][s], want[s]):
                errors.append(f"zone {zid} {s}: got {got[zid][s]!r}, want {want[s]!r}")
    return errors


def check_point(rows, oracle: dict) -> list[str]:
    got = {(r["zone_id"], r["vertex_idx"]): r["value"] for r in rows}
    want = {(z, i): v for z, vals in oracle.items() for i, v in enumerate(vals)}
    if len(got) != len(rows) or set(got) != set(want):
        return [f"vertex keys differ: {len(rows)} rows for {len(want)} vertices"]
    return [
        f"vertex {k}: got {got[k]!r}, want {v!r}"
        for k, v in want.items() if not _close("value", got[k], v)
    ]


def zone_rows(zones: list[dict]) -> list[dict]:
    """Rows in the engine's zones table schema (sources.tables.ZONES_DDL)."""
    return [
        {
            "zone_id": z["zone_id"], "collection": z["collection"],
            "geometry_wkb": z["geometry_wkb"], "geom_type": z["geom"]["type"],
            "properties": {},
        }
        for z in zones
    ]


def replay_pairs(zones: list[dict], corpus: Corpus) -> dict:
    """Replay the kernel's per-pair work in this process, timing each layer
    call separately per zone collection: geometry to pixel space, tile
    decode (once per tile, shared by its pairs), rasterize, partial stats."""
    out = {}
    for coll in ("small", "continent"):
        for k in ("geom.to_pixel_s", "kernel.rasterize_s", "kernel.partial_stats_s",
                  "codecs.decode_s", "kernel.pairs", "kernel.masked_px"):
            out[f"{k}.{coll}"] = 0
    aff, tpx = corpus.affine, corpus.tile_px
    by_tile: dict = {}
    for i, tc, tr in cover_pairs(zones, corpus):
        by_tile.setdefault((tc, tr), []).append(i)
    payloads = _payloads(corpus, by_tile)
    prepared = {}
    for i, z in enumerate(zones):
        t = time.perf_counter()
        geom = G.wkb_loads(z["geometry_wkb"])
        pgeom = K.geom_to_pixel(geom, aff)
        win = K.bounds_window(G.geom_bounds(geom), aff)
        out[f"geom.to_pixel_s.{z['collection']}"] += time.perf_counter() - t
        prepared[i] = (pgeom, win)
    for (tc, tr), idx in by_tile.items():
        t = time.perf_counter()
        block = np.asarray(C.decode_tile(payloads[(tc, tr)], "npy"))
        dt = (time.perf_counter() - t) / len(idx)
        for i in idx:
            coll = zones[i]["collection"]
            out[f"codecs.decode_s.{coll}"] += dt
            pgeom, ((wr0, wr1), (wc0, wc1)) = prepared[i]
            rr0, rr1 = max(wr0, tr * tpx), min(wr1, (tr + 1) * tpx)
            cc0, cc1 = max(wc0, tc * tpx), min(wc1, (tc + 1) * tpx)
            if rr0 >= rr1 or cc0 >= cc1:
                continue
            t = time.perf_counter()
            rv = K.rasterize_pixgeom(pgeom, ((rr0, rr1), (cc0, cc1)))
            t1 = time.perf_counter()
            if not rv.any():
                continue  # the kernel emits no partial for an empty mask
            sub = block[rr0 - tr * tpx:rr1 - tr * tpx, cc0 - tc * tpx:cc1 - tc * tpx]
            K.partial_stats(sub, rv, NODATA, False)
            t2 = time.perf_counter()
            out[f"kernel.rasterize_s.{coll}"] += t1 - t
            out[f"kernel.partial_stats_s.{coll}"] += t2 - t1
            out[f"kernel.pairs.{coll}"] += 1
            out[f"kernel.masked_px.{coll}"] += int(rv.sum())
    return out


def _payloads(corpus: Corpus, keys) -> dict:
    t = pq.read_table(
        os.path.join(corpus.directory, "tiles.parquet"),
        columns=["tile_col", "tile_row", "bytes"],
    ).to_pydict()
    want = set(keys)
    return {
        (tc, tr): b for tc, tr, b in zip(t["tile_col"], t["tile_row"], t["bytes"])
        if (tc, tr) in want
    }


def split_bytes(corpus: Corpus, cpus: int) -> int:
    """Parquet split size giving ~3 scan tasks per core (as bench.py sizes it)."""
    size = os.path.getsize(os.path.join(corpus.directory, "tiles.parquet"))
    return int(min(max(size // (cpus * 3), 8 << 20), 128 << 20))
