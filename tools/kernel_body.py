"""Replay the zonal partial kernel's body in process, without Spark.

Usage:
    python tools/kernel_body.py <corpus_dir> [--dataset bench] [--repeat 3]

``corpus_dir`` holds a corpus's ``tiles.parquet``, ``zones.parquet`` and
``datasets.parquet`` (for example the bench corpus that
``fixtures.ensure_bench_corpus("sf0.1")`` writes under ``data/``). Every
zone is read against ``--dataset``. The cover comes from the broadcast
regime's driver dict (``cover_dict``); the tiles it names are read in file
order and cut into 256-row Arrow batches, which are converted to pandas up
front. The timed part is the kernel's per-batch generator
(``partial_generator``, the body ``partial_kernel`` runs in
``mapInPandas``) consuming those frames, for two requests:

- ``scalar``: no value counts (the 6 scalar stats);
- ``holistic``: exact value counts, in the compact wire format a float32
  raster gets.

Prints one JSON line: per request the body's seconds (min over
``--repeat`` runs), the partial row count and a SHA-256 over the sorted
partial rows (every column, floats by their exact bits), so two versions
of the kernel can be checked for bit-identical output.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BATCH_ROWS = 256
REQUESTS = {
    "scalar": dict(want_counts=False, compact_vc=False),
    "holistic": dict(want_counts=True, compact_vc=True),
}


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "N"
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, np.ndarray):
        return f"{v.dtype.str}:{v.tobytes().hex()}"
    return repr(v)


def digest(frames) -> tuple[int, str]:
    """(row count, SHA-256 of the sorted canonical rows) of partial frames."""
    rows = []
    for pdf in frames:
        cols = [pdf[c].tolist() for c in pdf.columns]
        rows += ["|".join(map(_canon, r)) for r in zip(*cols)]
    rows.sort()
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def load(corpus_dir: str, dataset: str):
    """(meta, geoms, cover, kernel input frames) of a corpus."""
    from python_rasterstats_spark.operators.zonal import cover_dict, dataset_meta

    meta = dataset_meta(
        pq.read_table(os.path.join(corpus_dir, "datasets.parquet")).to_pylist()
    )
    z = pq.read_table(os.path.join(corpus_dir, "zones.parquet"),
                      columns=["zone_id", "geometry_wkb"]).to_pydict()
    geoms = {(zid, dataset): w for zid, w in zip(z["zone_id"], z["geometry_wkb"])}
    cover = cover_dict(geoms, meta)
    if isinstance(cover, str):
        raise SystemExit(cover)
    tiles = pq.read_table(
        os.path.join(corpus_dir, "tiles.parquet"),
        columns=["dataset", "tile_col", "tile_row", "bytes", "fmt"],
    )
    keys = zip(*(tiles.column(c).to_pylist()
                 for c in ("dataset", "tile_col", "tile_row")))
    tiles = tiles.take([i for i, k in enumerate(keys) if k in cover])
    frames = [b.to_pandas() for b in tiles.to_batches(max_chunksize=BATCH_ROWS)]
    return meta, geoms, cover, frames


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("corpus_dir")
    ap.add_argument("--dataset", default="bench")
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args(argv)

    from python_rasterstats_spark.operators.zonal import partial_generator

    meta, geoms, cover, frames = load(args.corpus_dir, args.dataset)
    out = {"tiles": sum(len(f) for f in frames)}
    for name, kw in REQUESTS.items():
        times = []
        for _ in range(args.repeat):
            gen, _schema = partial_generator(
                meta, cover=SimpleNamespace(value=cover),
                geoms=SimpleNamespace(value=geoms), all_touched=False,
                nodata_override=None, **kw,
            )
            t0 = time.perf_counter()
            parts = list(gen(iter(frames)))
            times.append(time.perf_counter() - t0)
        n, sha = digest(parts)
        out[name] = {"seconds": round(min(times), 4),
                     "all_seconds": [round(t, 4) for t in times],
                     "partial_rows": n, "sha256": sha}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
