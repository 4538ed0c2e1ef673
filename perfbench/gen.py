#!/usr/bin/env python3
"""Seeded input generator for the pipeline benchmark.

    python3 perfbench/gen.py --workload scene_resample --seed 7 --out DIR

writes everything one run needs under DIR and nothing else:

  pl.yaml              product list + workers chain (the pl.yaml shape)
  scenes/*.parquet     scenes as (product, y, x, value) rasters
  messages/*.json      one posttroll-style file message per file
  tables/lineitem.parquet, queries.txt
                       scene_resample only: the raster-query fixture
                       table and the queries the traced run times on it

The same (workload, seed, out) always gives byte-identical files.  Paths inside the YAML and the messages are absolute under DIR, so
the program reads only what was generated here.  `spec()` is the single
source of truth for the shape of a workload; the output check reads it
too, so expected files and row counts follow from the same numbers.
"""
import argparse
import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("scene_resample", "msg_stream")

ALLOWED = ["noaa15", "noaa18", "noaa19", "metop-b"]
REJECTED = "fy3d"  # not in check_metadata's allow list -> expected abort
ALIASES = {"noaa15": "NOAA-15", "noaa18": "NOAA-18", "noaa19": "NOAA-19",
           "metop-b": "Metop-B"}
FNAME = "{start_time:%Y%m%d_%H%M%S}_{platform_name}_{area}_{product}.{format}"
BASE_TIME = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

N_MESSAGES = 400
WARMUP = 2  # leading messages of every list; always accepted
# after the warm-ups, every REJECT_EVERY-th msg_stream message comes from
# the rejected platform: fixed positions, so every timed window of the
# same length carries the same share whatever the seed
REJECT_EVERY = 4

# raster queries (`SparkEntry.queries`) that read only `lineitem`: the
# traced scene_resample run times them on a seeded lineitem table of
# LINEITEM_ROWS rows (the sf0.01 fixture's size).  Block aggregate and
# the three resamplers of queries.Trollflow, block aggregate and valid
# fraction of queries.TiledRaster: one of each shape, not all 19 of the
# family, so that a traced run stays well inside its time limit
RASTER_QUERIES = [
    "q39_block_aggregate", "q40_resample", "q55_resample_nearest",
    "q63_resample_bilinear", "q164_tiled_block_aggregate",
    "q166_tiled_valid_fraction"]
LINEITEM_ROWS = 60000


def spec(workload):
    """Shape of a workload: grids, areas, products and formats."""
    if workload == "scene_resample":
        n, products = 128, ["ch1", "ch2", "ch3", "ch4"]
        th = tw = 32
        areas = [
            {"name": None, "priority": None, "mode": None},
            {"name": "avg_area", "priority": None, "mode": "average"},
            {"name": "near_area", "priority": None, "mode": "nearest"},
            {"name": "bil_area", "priority": None, "mode": "bilinear"},
        ]
        for a in areas:
            a["products"] = ["ch1", "ch2"]
            a["formats"] = ["parquet"]
            a["h"], a["w"] = (n, n) if a["mode"] is None else (th, tw)
        return {"workload": workload, "n": n, "products": products,
                "scenes": 3, "areas": areas, "check_metadata": False,
                "valid_fraction": True, "queries": RASTER_QUERIES}
    if workload == "msg_stream":
        n, products = 64, ["ch1", "ch2"]
        areas = [
            {"name": None, "priority": 1, "mode": None,
             "formats": ["parquet", "csv"]},
            {"name": "avg_area", "priority": 1, "mode": "average",
             "formats": ["parquet", "csv"]},
            {"name": "near_area", "priority": 2, "mode": "nearest",
             "formats": ["parquet"]},
            {"name": "bil_area", "priority": 2, "mode": "bilinear",
             "formats": ["parquet"]},
        ]
        for a in areas:
            a["products"] = products
            a["h"], a["w"] = (n, n) if a["mode"] is None else (32, 32)
        return {"workload": workload, "n": n, "products": products,
                "scenes": 4, "areas": areas, "check_metadata": True,
                "valid_fraction": False, "queries": []}
    raise ValueError(f"unknown workload {workload}")


def expected_files(sp):
    """(area, product, format) triples one accepted message commits."""
    return sorted((a["name"] or "native", p, f)
                  for a in sp["areas"] for p in a["products"]
                  for f in a["formats"])


def _scene(rng, n, products):
    """Full grid per product.  Fill cells sit on the even-even lattice
    only, so no 2x2 neighbourhood is all fill: every target cell of every
    resampler has data, and row counts follow from the grid alone."""
    yy, xx = np.meshgrid(np.arange(n, dtype=np.int32),
                         np.arange(n, dtype=np.int32), indexing="ij")
    cols = {"product": [], "y": [], "x": [], "value": []}
    for p in products:
        value = np.round(rng.uniform(0.0, 100.0, size=(n, n)), 3)
        lattice = (yy % 2 == 0) & (xx % 2 == 0)
        pick = rng.random((n, n))
        null = lattice & (pick < 0.10)
        nan = lattice & (pick >= 0.10) & (pick < 0.12)
        value = value.astype(object)
        value[nan] = float("nan")
        value[null] = None
        cols["product"].append(np.full(n * n, p, dtype=object))
        cols["y"].append(yy.ravel())
        cols["x"].append(xx.ravel())
        cols["value"].append(value.ravel())
    return pa.table({
        "product": pa.array(np.concatenate(cols["product"]), pa.string()),
        "y": pa.array(np.concatenate(cols["y"]), pa.int32()),
        "x": pa.array(np.concatenate(cols["x"]), pa.int32()),
        "value": pa.array(np.concatenate(cols["value"]), pa.float64()),
    })


def _lineitem(rng, n):
    """The fixture's lineitem schema; the raster queries read the keys,
    quantity, discount and the two flags."""
    orderkey = np.sort(rng.integers(0, n // 4, n))
    quantity = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(quantity, pa.float64()),
        "l_extendedprice": pa.array(
            np.round(quantity * rng.uniform(900.0, 2000.0, n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n), pa.string()),
        "l_shipdate": pa.array(
            (np.datetime64("2024-01-01", "us") +
             rng.integers(0, 2000, n).astype("timedelta64[D]")),
            pa.timestamp("us")),
    })


def _iso(t, style):
    base = t.strftime("%Y-%m-%dT%H:%M:%S")
    return {"z": base + "Z", "offset": base + "+00:00"}[style]


def message_kinds(rng, count, rejects):
    """Per-message (platform, timestamp style).  With `rejects`, message
    i >= WARMUP is rejected when (i - WARMUP) % REJECT_EVERY is
    REJECT_EVERY - 1; the seed picks only the allowed platforms and the
    timestamp styles (`Z` or `+00:00`)."""
    kinds = []
    for i in range(count):
        style = "z" if rng.random() < 0.5 else "offset"
        plat = ALLOWED[int(rng.integers(len(ALLOWED)))]
        if rejects and i >= WARMUP and \
                (i - WARMUP) % REJECT_EVERY == REJECT_EVERY - 1:
            plat = REJECTED
        kinds.append((plat, style))
    return kinds


def _product_list_yaml(sp, out):
    targets, areas_yaml = [], []
    for a in sp["areas"]:
        key = "null" if a["name"] is None else a["name"]
        lines = [f"    {key}:"]
        if a["priority"] is not None:
            lines.append(f"      priority: {a['priority']}")
        lines.append("      products:")
        for p in a["products"]:
            lines.append(f"        {p}:")
            lines.append("          formats:")
            for f in a["formats"]:
                lines.append(f"            - format: {f}")
        areas_yaml.extend(lines)
        if a["mode"] is not None:
            targets.append({"area": a["name"], "width": a["w"],
                            "height": a["h"], "src_y_min": 0,
                            "src_y_max": sp["n"], "src_x_min": 0,
                            "src_x_max": sp["n"], "mode": a["mode"]})
    pl = [
        "product_list:",
        f"  output_dir: {out}/output",
        f"  fname_pattern: \"{FNAME}\"",
        "  publish_topic: /file/{platform_name}/{area}/{product}",
        f"  resample_targets: {json.dumps(targets)}",
    ]
    if sp["valid_fraction"]:
        pl.append("  min_valid_data_fraction: 50")
    if sp["check_metadata"]:
        pl.append(f"  staging_zone: {out}/staging")
        pl.append(f"  check_metadata: {json.dumps({'platform_name': ALLOWED})}")
        pl.append(f"  metadata_aliases: {json.dumps({'platform_name': ALIASES})}")
    pl.append("  areas:")
    pl.extend(areas_yaml)
    workers = ["create_scene"]
    if sp["check_metadata"]:
        workers += ["check_metadata", "metadata_alias"]
    workers.append("resample")
    if sp["valid_fraction"]:
        workers.append("check_valid_data_fraction")
    workers += ["save_datasets", "check_results", "file_publisher"]
    pl.append("workers:")
    pl.extend(f"  - fun: {w}" for w in workers)
    return "\n".join(pl) + "\n"


def _inputs(sp, rng, out):
    os.makedirs(f"{out}/scenes")
    os.makedirs(f"{out}/messages")
    scenes = []
    for k in range(sp["scenes"]):
        path = f"{out}/scenes/scene_{k}.parquet"
        pq.write_table(_scene(rng, sp["n"], sp["products"]), path,
                       compression="snappy")
        scenes.append(path)
    kinds = message_kinds(rng, N_MESSAGES, sp["check_metadata"])
    for i, (plat, style) in enumerate(kinds):
        start = BASE_TIME + dt.timedelta(seconds=120 * i +
                                         int(rng.integers(0, 60)))
        msg = {"type": "file", "data": {
            "uri": scenes[int(rng.integers(len(scenes)))],
            "platform_name": plat, "sensor": "avhrr-3",
            "orbit_number": 10000 + i,
            "start_time": _iso(start, style),
            "end_time": _iso(start + dt.timedelta(minutes=1), style)}}
        with open(f"{out}/messages/{i:05d}.json", "w") as fh:
            fh.write(json.dumps(msg, sort_keys=True) + "\n")
    with open(f"{out}/pl.yaml", "w") as fh:
        fh.write(_product_list_yaml(sp, out))
    if sp["queries"]:
        os.makedirs(f"{out}/tables")
        pq.write_table(_lineitem(rng, LINEITEM_ROWS),
                       f"{out}/tables/lineitem.parquet", compression="snappy")
        with open(f"{out}/queries.txt", "w") as fh:
            fh.write("\n".join(sp["queries"]) + "\n")


def generate(workload, seed, out):
    """(Re)create `out` holding the inputs of one run."""
    out = os.path.abspath(out)
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    sp = spec(workload)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    _inputs(sp, rng, out)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
