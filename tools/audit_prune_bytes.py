"""Bytes-must-read audit for the sparse-zone pruning forms (BENCH.md
"Sparse zones at 604 M px" table; VERDICT r4 'Next round #2').

8 small scattered zones over the 2.3-GiB scaling corpus. For each
predicate/storage pair, admit parquet row groups by their min-max stats
(exactly what the reader's row-group filter does) and total the compressed
bytes a reader MUST fetch — at 100 TB over object storage, the dominant
cost:

- r3 union bbox on the plain (row-major) corpus,
- the scan fence's rect form (operators/zonal.storage_fence: per-zone
  tile_col/tile_row rects) on the plain corpus and on quadkey-sorted
  storage written by sources.tables.write_quadkey_sorted_tiles — r5 sizes
  row groups to ``row_group_bytes`` so the sort's locality is no longer
  granularity-bound (r4 measured 36 MiB/group → 288 MiB must-read),
- the fence's key set on the same sorted storage, the form a sparse zone
  set gets: a group is admitted when it holds a covered key — what the
  writer's quadkey bloom filter admits, without its false positives
  (min-max stats alone admit every group between the set's min and max).

``--replay N`` instead replays the fence's decision over N seeded draws of
48 up to all of the corpus zones on the sf0.1 bench corpus, stored
quadkey-sorted as the sparse_interactive workload stores it (1 MiB row
groups): per draw, the form pushed (key set or rects) and the tile rows
in the row groups min-max stats admit (key set: a group whose quadkey
min..max holds one of its keys; rects: a group whose tile_col/tile_row
box meets one of them), then the count of draws per form.

Usage: python tools/audit_prune_bytes.py [--row-group-mib 1] [--files 64]
       python tools/audit_prune_bytes.py --replay 250 [--seed 1]
"""

from __future__ import annotations

import argparse
import bisect
import glob
import json
import os
import re
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_rasterstats_spark import geom as G  # noqa: E402

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


def pred_keys(pred: str):
    """The sorted keys of a fence predicate's key set (operators/zonal.
    rects_prune_filter text), or None in its rect form."""
    m = re.search(r"quadkey IN \(([^)]*)\)", pred)
    return sorted(int(k) for k in m.group(1).split(",")) if m else None


def pred_rects(pred: str) -> list:
    """The (tc0, tc1, tr0, tr1) rects of a fence predicate's rect form."""
    return [tuple(map(int, r)) for r in re.findall(
        r"tile_col BETWEEN (\d+) AND (\d+) AND tile_row BETWEEN (\d+) AND (\d+)",
        pred,
    )]


def fence_rowgroup_rows(path_or_dir, pred: str) -> tuple[int, int]:
    """(tile rows, total rows) in the row groups whose min-max stats admit
    the fence predicate ``pred`` of one dataset: a group whose quadkey
    min..max holds one of the key set's keys, or whose tile_col/tile_row
    box meets one of the rects."""
    keys, admit = pred_keys(pred), rect_admit(pred_rects(pred))
    adm = tot = 0
    for rg, names in rowgroups(path_or_dir):
        tot += rg.num_rows
        if keys is not None:
            s = rg.column(names.index("quadkey")).statistics
            i = bisect.bisect_left(keys, s.min)
            hit = i < len(keys) and keys[i] <= s.max
        else:
            hit = admit(rg, names)
        adm += rg.num_rows if hit else 0
    return adm, tot


def replay(args) -> None:
    """The fence's form and min-max admitted rows over seeded zone draws
    (module docstring)."""
    from python_rasterstats_spark.fixtures import ensure_bench_corpus
    from python_rasterstats_spark.operators.zonal import (
        _zone_tile_rects, dataset_meta, rects_prune_filter, zone_windows,
    )

    corpus_dir = args.corpus or ensure_bench_corpus("sf0.1")[0]
    meta = dataset_meta(
        pq.read_table(os.path.join(corpus_dir, "datasets.parquet")).to_pylist()
    )
    (ds,) = meta
    qk_path = os.path.join(corpus_dir, "tiles_qk_sorted_1mib.parquet")
    if not os.path.isdir(qk_path):
        from python_rasterstats_spark.session import get_spark
        from python_rasterstats_spark.sources.tables import (
            write_quadkey_sorted_tiles,
        )

        spark = get_spark()
        spark.sparkContext.setLogLevel("ERROR")
        write_quadkey_sorted_tiles(
            spark.read.parquet(os.path.join(corpus_dir, "tiles.parquet")),
            qk_path,
        )
        spark.stop()
    columns = pq.read_schema(_paths(qk_path)[0]).names
    z = pq.read_table(
        os.path.join(corpus_dir, "zones.parquet"),
        columns=["zone_id", "geometry_wkb"],
    ).to_pydict()
    windows = list(zone_windows(
        {(zid, ds): w for zid, w in zip(z["zone_id"], z["geometry_wkb"])}, meta,
    ).items())
    rng = np.random.default_rng(args.seed)
    forms: dict = {}
    for d in range(args.replay):
        n = int(rng.integers(48, len(windows) + 1))
        pick = rng.choice(len(windows), n, replace=False)
        rects = _zone_tile_rects(dict(windows[i] for i in pick), meta)
        pred = rects_prune_filter(rects, meta, columns)
        form = "keys" if "quadkey IN" in pred else "rects"
        adm, tot = fence_rowgroup_rows(qk_path, pred)
        forms[form] = forms.get(form, 0) + 1
        print(f"draw {d}: zones {n} form {form} admitted rows {adm}/{tot}")
    print(json.dumps({"corpus": corpus_dir, "draws": args.replay,
                      "seed": args.seed, "forms": forms}))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--row-group-mib", type=float, default=1.0)
    ap.add_argument("--files", type=int, default=64)
    ap.add_argument("--corpus", default=None)
    ap.add_argument("--replay", type=int, default=0)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    if args.replay:
        return replay(args)

    from python_rasterstats_spark.fixtures import ensure_bench_corpus
    from python_rasterstats_spark.operators.zonal import (
        _zone_tile_rects, collect_dataset_meta, rects_prune_filter,
        zone_windows,
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
    keys = pred_keys(rects_prune_filter({ds: rects}, meta, ["quadkey"]))
    pushed = pred_rects(rects_prune_filter({ds: rects}, meta))
    mib = f"{args.row_group_mib:g}mib"
    rows = {
        "union_bbox_plain": admit_bytes(tiles_path, rect_admit([union])),
        "perzone_rects_plain": admit_bytes(tiles_path, rect_admit(pushed)),
        f"perzone_rects_sorted_{mib}": admit_bytes(qk_path, rect_admit(pushed)),
    }
    if keys is not None:  # the form the fence pushes over the sorted table
        rows[f"quadkey_keys_sorted_{mib}"] = key_admit_bytes(qk_path, keys)
    out = {
        "corpus": corpus_dir,
        "zones": len(gd),
        "rects": len(pushed),
        "qk_keys": None if keys is None else len(keys),
        "rows": {
            k: {"admitted": a, "groups": t, "mib": round(b / MIB, 1)}
            for k, (a, t, b) in rows.items()
        },
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
