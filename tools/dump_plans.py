"""Generate PLANS.md — physical-plan evidence for the flagship queries.

For each headline operator: the plan summary (join strategies, exchanges,
codegen spans) plus the annotated scan lines, demonstrating the properties
the engine is designed around (tile table never shuffled, column pruning
reaches the parquet scan, SMJ-free broadcast regime).

Usage: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    from pyspark.sql import functions as F

    from python_rasterstats_spark.fixtures import ensure_fixtures
    from python_rasterstats_spark.operators.crosstab import zonal_crosstab_df
    from python_rasterstats_spark.operators.gather import zonal_gather_df
    from python_rasterstats_spark.operators.point import point_query_df
    from python_rasterstats_spark.operators.zonal import zonal_stats_df
    from python_rasterstats_spark.plans.explain import (
        map_in_pandas_inputs, physical_plan, plan_summary,
    )
    from python_rasterstats_spark.session import get_spark
    from python_rasterstats_spark.sources.tables import (
        load_corpus, write_quadkey_partitioned_tiles,
    )

    spark = get_spark(master="local[8]", shuffle_partitions=8, app="plans")
    spark.sparkContext.setLogLevel("ERROR")
    tiles, zones, datasets = load_corpus(spark, ensure_fixtures())
    polys = zones.filter(F.col("collection") == "polygons")
    part_path = os.path.join(tempfile.mkdtemp(prefix="plans_xt_"), "tiles")
    write_quadkey_partitioned_tiles(tiles, datasets, part_path)

    cases = {
        "zonal_default (scalar stats, broadcast regime)": zonal_stats_df(
            polys, tiles, datasets, dataset="slope"
        ),
        "zonal_all_stats (exact holistic merge)": zonal_stats_df(
            polys, tiles, datasets, dataset="slope",
            stats="count min max mean sum std median majority minority "
                  "unique range percentile_25 percentile_90".split(),
        ),
        "zonal boundless nodata (tile-driven, missing-key fill rows)": zonal_stats_df(
            polys, tiles, datasets, dataset="slope_nodata",
            stats=["count", "nodata", "nan"],
        ),
        "zonal sketch mode (bounded holistic state)": zonal_stats_df(
            zones.filter(F.col("collection") == "hd_zones"), tiles, datasets,
            dataset="slope_hd", stats=["count", "median", "percentile_90"],
            holistic_mode="sketch", sketch_px=256,
        ),
        "point_query bilinear (seam-aware kNN)": point_query_df(
            zones.filter(F.col("collection") == "query_points"), tiles,
            datasets, dataset="slope",
        ),
        "zonal_crosstab (tile-driven)": zonal_crosstab_df(
            polys, tiles, datasets, value_dataset="slope",
            class_dataset="slope_classes",
        ),
        "zonal_gather (add_stats, tile-driven)": zonal_gather_df(
            polys, tiles, datasets, dataset="slope", stats=["count", "mean"],
            add_stats={"ss": lambda m: float((m.compressed() ** 2).sum())},
        ),
        "zonal_smj (exact holistic merge, SMJ regime)": zonal_stats_df(
            polys, tiles, datasets, dataset="slope",
            stats="count min max mean median majority unique".split(),
            broadcast_zones=False,
        ),
        "zonal_crosstab over quad-prefix partitioned tiles": zonal_crosstab_df(
            polys, spark.read.parquet(part_path), datasets,
            value_dataset="slope", class_dataset="slope_classes",
        ),
        "zonal_crosstab (SMJ regime)": zonal_crosstab_df(
            polys, tiles, datasets, value_dataset="slope",
            class_dataset="slope_classes", broadcast_zones=False,
        ),
    }
    # the SMJ regime groups its cover cells per tile key (an Exchange on
    # the tile key) before joining them to the tiles, so the broadcast
    # regime's join checks do not apply to it
    smj_cases = {name for name in cases if "SMJ regime" in name}
    # the gather tier mosaics each zone in one grouped-map task by design
    gather_cases = {name for name in cases if name.startswith("zonal_gather")}

    lines = [
        "# PLANS — physical-plan evidence for the flagship operators",
        "",
        "Generated by `python tools/dump_plans.py` against the fixture",
        "corpus. Invariants the engine is designed around, checked per plan:",
        "",
        "- the payload-bearing **tile table is never shuffled** (no",
        "  SortMergeJoin; no Exchange keyed on the tile key) in the",
        "  broadcast regime — including the boundless-nodata path, whose",
        "  NULL-payload rows for missing tiles come from the driver-known",
        "  cover keys anti-joined against a key-only scan. The SMJ regime",
        "  (`broadcast_zones=False`, the SMJ cases) is exempt by design: its",
        "  cover cells are grouped per tile key (an Exchange on the tile",
        "  key) and joined to the tiles, by a sort-merge join at scale;",
        "  on this small fixture the planner broadcasts the grouped cells",
        "  into the tile scan instead;",
        "- **column pruning reaches the scan**: the tile scan reads only the",
        "  tile key + payload columns (never caption/phash); the",
        "  boundless-nodata plan's SECOND scan reads keys ONLY (no bytes);",
        "- **one wave of Python tasks** for small queries: the kernel",
        "  input is a narrow `Coalesce` to as many tasks as a scan of just",
        "  the kernel's tiles would have, and at least one wave (8 here),",
        "  and every driver-built frame (join-back base, cover keys, point",
        "  window/vertex keys) is a `LocalTableScan` built through Arrow —",
        "  no `Scan ExistingRDD` (Python RDD) remains;",
        "- **one merge shape**: every holistic merge stage (salted",
        "  pre-merge and final merge, both regimes) is a `MapInPandas`",
        "  reading a `Sort` over an `Exchange hashpartitioning` of its keys",
        "  — no grouped-map `FlatMapGroupsInPandas`. The gather tier",
        "  (`zonal_gather` case) is the one grouped map by design: its tile",
        "  kernel `MapInPandas` cuts each zone's blocks, one",
        "  `FlatMapGroupsInPandas` mosaics each zone in one task.",
        "",
        "(The codegen-span count reads 0 here because AQE's pre-execution",
        "toString elides WholeStageCodegen markers; stage-level codegen is",
        "asserted separately in tests/test_infra.test_plan_shape.)",
        "",
    ]
    import re

    for name, df in cases.items():
        s = plan_summary(df)
        plan = physical_plan(df)
        scans = [
            ln.strip()[:160]
            for ln in plan.splitlines()
            if "Scan parquet" in ln and "tiles" in ln
        ]
        # scan-level pruning evidence: the PushedFilters clause of each
        # tiles scan (zone-bbox tile-key ranges reach the parquet reader)
        pushed = [
            m.group(0)[:200]
            for ln in plan.splitlines()
            if "Scan parquet" in ln and "tiles" in ln
            for m in [re.search(r"PushedFilters: \[[^\]]*", ln)]
            if m
        ]
        tile_exchange = (
            "Exchange hashpartitioning(dataset" in plan
            or "Exchange hashpartitioning(tile_col" in plan
        )
        # directory-level pruning evidence (prefix-partitioned storage)
        partition_filters = sorted({
            m.group(0)[:120]
            for ln in plan.splitlines()
            if "Scan parquet" in ln
            for m in [re.search(r"PartitionFilters: \[[^\]]+\]", ln)]
            if m
        })
        coalesce = re.findall(r"\bCoalesce \d+", plan)
        sort_fed = sum(
            1 for _, sort, _ in map_in_pandas_inputs(plan) if sort is not None
        )
        lines += [
            f"## {name}",
            "",
            f"- broadcast_hash_joins: {s['broadcast_hash_joins']}, "
            f"sort_merge_joins: {s['sort_merge_joins']}, "
            f"exchanges: {s['exchanges']}",
            f"- tile-key exchange present: {tile_exchange}",
            f"- kernel input: {', '.join(coalesce) or '(no Coalesce)'}; "
            f"LocalTableScan: {plan.count('LocalTableScan')}, "
            f"Scan ExistingRDD: {plan.count('Scan ExistingRDD')}",
            f"- merge: FlatMapGroupsInPandas: "
            f"{plan.count('FlatMapGroupsInPandas')}, "
            f"Sort-fed MapInPandas: {sort_fed}",
            "- tiles scan (column-pruned): "
            + ("; ".join(scans) if scans else "(no direct parquet scan — in-memory fixture)"),
            "- pushed filters (scan-level tile pruning): "
            + ("; ".join(pushed) if pushed else "(none)"),
        ]
        if partition_filters:
            lines.append(
                "- partition filters (directory pruning): "
                + "; ".join(partition_filters)
            )
        lines.append("")
        if name in smj_cases:
            assert tile_exchange, name
        else:
            assert s["sort_merge_joins"] == 0, name
            assert not tile_exchange, name
        if name in gather_cases:
            assert plan.count("FlatMapGroupsInPandas") == 1, name
            assert plan.count("MapInPandas ") == 1, name  # the tile kernel
        else:
            assert "FlatMapGroupsInPandas" not in plan, name

    lines += _sparse_quadkey_section(spark)

    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")


def _sparse_quadkey_section(spark):
    """Per-zone quadkey pruning evidence: two corner zones over a
    64×64-tile corpus stored by write_quadkey_sorted_tiles — the union
    bbox spans the whole grid (zero pruning); the zones' exact tile-key
    set reaches the scan as a pushed ``In`` filter, and the executed
    scan outputs only the row groups holding a covered key."""
    import re

    import numpy as np

    from python_rasterstats_spark.operators.zonal import (
        _quadkey_set,
        _zone_tile_rects,
        collect_dataset_meta,
        quadkey_prune_ranges,
        tile_prune_filter,
        zonal_stats_df,
        zone_windows,
    )
    from python_rasterstats_spark.sources.tables import (
        features_to_zones,
        raster_to_tables,
        write_quadkey_sorted_tiles,
    )
    from tools.audit_prune_bytes import admit_bytes, key_admit_bytes, qk_admit

    rng = np.random.default_rng(11)
    arr = rng.uniform(0, 100, size=(1024, 1024)).astype(np.float32)
    aff = (1.0, 0.0, 0.0, 0.0, -1.0, 1024.0)
    tiles, datasets = raster_to_tables(
        spark, arr, aff, dataset="sparse", nodata=-9999.0, tile=16
    )
    qk_path = os.path.join(tempfile.mkdtemp(prefix="plans_qk_"), "tiles")
    write_quadkey_sorted_tiles(tiles, qk_path, files=1, row_group_bytes=16 << 10)
    zones = features_to_zones(
        spark,
        [
            "POLYGON ((5 989, 35 989, 35 1019, 5 1019, 5 989))",
            "POLYGON ((988 5, 1018 5, 1018 35, 988 35, 988 5))",
        ],
        dataset="sparse",
    )
    meta = collect_dataset_meta(datasets)
    gd = {
        (r["zone_id"], r["dataset"]): bytes(r["geometry_wkb"])
        for r in zones.select("zone_id", "dataset", "geometry_wkb").collect()
    }
    windows = zone_windows(gd, meta)
    ranges = quadkey_prune_ranges(windows, meta)["sparse"]
    pred = str(tile_prune_filter(windows, meta, quadkey_col="quadkey"))
    keys = re.search(r"quadkey IN \(([^)]*)\)", pred)
    nkeys = len(keys.group(1).split(",")) if keys else 0
    form = (
        f"`dataset = 'sparse' AND quadkey IN (<{nkeys} keys>)`"
        if keys else f"`{pred[:120]}`"
    )
    rg_quad, groups, _ = admit_bytes(qk_path, qk_admit(ranges))
    rg_key, _, _ = key_admit_bytes(
        qk_path, _quadkey_set(_zone_tile_rects(windows, meta)["sparse"], 4096)
    )
    df = zonal_stats_df(
        zones, spark.read.parquet(qk_path), datasets, dataset="sparse"
    )
    df.collect()
    from python_rasterstats_spark.plans.explain import (
        physical_plan, scan_output_rows,
    )

    plan = physical_plan(df)
    pushed = next(
        (
            m.group(0)[:220]
            for ln in plan.splitlines()
            if "Scan parquet" in ln and "quadkey" in ln
            for m in [re.search(r"PushedFilters: \[[^\]]*", ln)]
            if m
        ),
        "(none)",
    )
    scan_rows = scan_output_rows(df)
    total = tiles.count()
    assert nkeys and scan_rows * 10 <= total

    # directory-level variant: quad-prefix partitioned storage
    from python_rasterstats_spark.sources.tables import (
        write_quadkey_partitioned_tiles,
    )

    part_path = os.path.join(tempfile.mkdtemp(prefix="plans_pp_"), "tiles")
    write_quadkey_partitioned_tiles(tiles, datasets, part_path)
    part_df = zonal_stats_df(
        zones, spark.read.parquet(part_path), datasets, dataset="sparse"
    )
    pplan = physical_plan(part_df)
    pfilters = next(
        (
            m.group(0)[:160]
            for ln in pplan.splitlines()
            if "Scan parquet" in ln and "qk_prefix" in ln
            for m in [re.search(r"PartitionFilters: \[[^\]]*\]", ln)]
            if m
        ),
        "(none)",
    )
    pf = re.search(r"qk_prefix IN \(([^)]*)\)", str(tile_prune_filter(
        windows, meta, quadkey_col="quadkey", prefix_col="qk_prefix",
    )))
    prefixes = pf.group(1).split(",")
    ndirs = len(
        [d for d in os.listdir(part_path) if d.startswith("qk_prefix=")]
    )
    return [
        "## zonal sparse zones (exact tile-key set over sorted storage)",
        "",
        "Two 3×3-tile corner zones over a 64×64-tile corpus written by",
        "sources/tables.write_quadkey_sorted_tiles (one file, 16 KiB row",
        f"groups: {groups}, each with a quadkey bloom filter). The r3",
        "union-bbox predicate spans the whole grid — ZERO row groups",
        "pruned. A sparse working set is pushed as its exact tile-key set",
        "(an `InSet` above 10 keys, whose generated code does not change",
        "with the keys); the set's min and max span the grid too, so the",
        "groups are skipped by the bloom filter, per key:",
        "",
        f"- predicate: {form}",
        f"- row groups admitted: union bbox {groups}/{groups}; the ≤64",
        f"  quadkey ranges, by min-max: {rg_quad}/{groups}; holding a",
        f"  covered key (the key set, by bloom filter): {rg_key}/{groups}",
        f"- executed scan output rows: {scan_rows} of {total} tiles",
        f"- pushed filters (reach the parquet reader): {pushed}",
        "",
        "Quad-prefix PARTITIONED storage (write_quadkey_partitioned_tiles)",
        "adds directory-level pruning at listing time, before any file or",
        "row group is touched:",
        "",
        f"- partitions on disk: {ndirs}; prefix IN-list pushed: "
        f"{len(prefixes)} entries → only those directories are listed",
        f"- partition filters: {pfilters}",
        "",
    ]


if __name__ == "__main__":
    main()
