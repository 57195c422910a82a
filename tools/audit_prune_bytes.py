"""Bytes-must-read audit for the sparse-zone pruning regimes (BENCH.md
"Sparse zones at 604 M px" table; VERDICT r4 'Next round #2').

8 small scattered zones over the 2.3-GiB scaling corpus. For each
predicate/storage regime, admit parquet row groups by their min-max stats
(exactly what the reader's row-group filter does) and total the compressed
bytes a reader MUST fetch — at 100 TB over object storage, the dominant
cost:

- r3 union bbox on the plain (row-major) corpus,
- r4 per-zone rect disjunction on the plain corpus,
- per-zone quadkey ranges on quadkey-sorted storage written by
  sources.tables.write_quadkey_sorted_tiles — r5 sizes row groups to
  ``row_group_bytes`` so the sort's locality is no longer
  granularity-bound (r4 measured 36 MiB/group → 288 MiB must-read, 2.25×
  the rect number; the layout's point is to be BELOW it),
- the exact tile-key set on the same storage, the predicate a sparse
  zone set gets (operators/zonal.tile_prune_filter): a group is
  admitted when it holds a covered key — what the writer's quadkey
  bloom filter admits, without its false positives (min-max stats alone
  admit every group between the set's min and max).

Usage: python tools/audit_prune_bytes.py [--row-group-mib 1] [--files 64]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_rasterstats_spark import geom as G  # noqa: E402
from python_rasterstats_spark import kernel as K  # noqa: E402

MIB = 1 << 20


def sparse_zone_dict(meta: dict, dataset: str, n: int = 8, seed: int = 5) -> dict:
    """n small scattered zones (deterministic): ~1.5-tile boxes placed on
    a jittered diagonal + corners, so their union bbox spans the grid."""
    m = meta[dataset]
    h, w = m["height"], m["width"]
    tpx = m["tile_w"] * 1.5
    rng = np.random.default_rng(seed)
    anchors = [(0.02, 0.02), (0.95, 0.95), (0.05, 0.9), (0.9, 0.06),
               (0.3, 0.55), (0.6, 0.25), (0.45, 0.8), (0.75, 0.6)]
    gd = {}
    for i, (fx, fy) in enumerate(anchors[:n]):
        c0 = fx * w + rng.uniform(0, m["tile_w"])
        r0 = fy * h + rng.uniform(0, m["tile_h"])
        x0, y0 = c0, h - (r0 + tpx)
        x1, y1 = c0 + tpx, h - r0
        gd[(i, dataset)] = G.wkb_dumps(G.box(x0, y0, x1, y1))
    return gd


def _paths(path_or_dir: str) -> list:
    return (
        sorted(glob.glob(os.path.join(path_or_dir, "*.parquet")))
        if os.path.isdir(path_or_dir)
        else [path_or_dir]
    )


def rowgroups(path_or_dir: str):
    """Yield (pyarrow row-group metadata, schema names) over a parquet
    file or directory of part files."""
    for p in _paths(path_or_dir):
        md = pq.ParquetFile(p).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for g in range(md.num_row_groups):
            yield md.row_group(g), names


def admit_bytes(path, admit_fn) -> tuple[int, int, int]:
    """(admitted groups, total groups, admitted compressed bytes)."""
    adm = tot = by = 0
    for rg, names in rowgroups(path):
        tot += 1
        if admit_fn(rg, names):
            adm += 1
            by += rg.total_byte_size
    return adm, tot, by


def key_admit_bytes(path_or_dir, keys) -> tuple[int, int, int]:
    """admit_bytes for the exact key-set predicate: a group is admitted
    when its ``quadkey`` column holds one of ``keys``."""
    keys = set(keys)
    adm = tot = by = 0
    for p in _paths(path_or_dir):
        f = pq.ParquetFile(p)
        for g in range(f.metadata.num_row_groups):
            tot += 1
            held = f.read_row_group(g, columns=["quadkey"]).column(0)
            if not keys.isdisjoint(held.to_pylist()):
                adm += 1
                by += f.metadata.row_group(g).total_byte_size
    return adm, tot, by


def rect_admit(rects):
    def fn(rg, names):
        ci, ri = names.index("tile_col"), names.index("tile_row")
        cs, rs = rg.column(ci).statistics, rg.column(ri).statistics
        return any(
            not (tc1 < cs.min or cs.max < tc0 or tr1 < rs.min or rs.max < tr0)
            for tc0, tc1, tr0, tr1 in rects
        )
    return fn


def qk_admit(ranges):
    def fn(rg, names):
        qi = names.index("quadkey")
        s = rg.column(qi).statistics
        return any(lo <= s.max and s.min <= hi for lo, hi in ranges)
    return fn


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--row-group-mib", type=float, default=1.0)
    ap.add_argument("--files", type=int, default=64)
    ap.add_argument("--corpus", default=None)
    args = ap.parse_args()

    from python_rasterstats_spark.fixtures import ensure_bench_corpus
    from python_rasterstats_spark.operators.zonal import (
        _quadkey_set, _zone_tile_rects, collect_dataset_meta,
        quadkey_prune_ranges, zone_windows,
    )
    from python_rasterstats_spark.session import get_spark
    from python_rasterstats_spark.sources.tables import (
        write_quadkey_sorted_tiles,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    corpus_dir = args.corpus or ensure_bench_corpus("scaling")[0]
    tiles_path = os.path.join(corpus_dir, "tiles.parquet")
    datasets = spark.read.parquet(os.path.join(corpus_dir, "datasets.parquet"))
    meta = collect_dataset_meta(datasets)
    ds = sorted(meta)[0]
    gd = zone_windows(sparse_zone_dict(meta, ds), meta)

    rects = _zone_tile_rects(gd, meta)[ds]
    union = (
        min(r[0] for r in rects), max(r[1] for r in rects),
        min(r[2] for r in rects), max(r[3] for r in rects),
    )
    qk_path = os.path.join(corpus_dir, "tiles_qk_sorted.parquet")
    write_quadkey_sorted_tiles(
        spark.read.parquet(tiles_path), qk_path, files=args.files,
        row_group_bytes=int(args.row_group_mib * MIB),
    )
    ranges = quadkey_prune_ranges(gd, meta)[ds]
    keys = _quadkey_set(rects, 1 << 30)
    if ranges is None:  # Morton-overflow sentinel: no quadkey constraint
        print(f"{ds}: grid overflows the quadkey level — unpruned scan")
        ranges = [(0, (1 << 63) - 1)]  # admit-all, matching the real scan
        keys = None
    rows = {
        "union_bbox_plain": admit_bytes(tiles_path, rect_admit([union])),
        "perzone_rects_plain": admit_bytes(tiles_path, rect_admit(rects)),
        f"quadkey_sorted_{args.row_group_mib:g}mib": admit_bytes(
            qk_path, qk_admit(ranges)
        ),
        f"quadkey_keys_sorted_{args.row_group_mib:g}mib": (
            admit_bytes(qk_path, qk_admit(ranges)) if keys is None
            else key_admit_bytes(qk_path, keys)
        ),
    }
    out = {
        "corpus": corpus_dir,
        "zones": len(gd),
        "rects": len(rects),
        "qk_ranges": len(ranges),
        "qk_keys": None if keys is None else len(keys),
        "rows": {
            k: {"admitted": a, "groups": t, "mib": round(b / MIB, 1)}
            for k, (a, t, b) in rows.items()
        },
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
