"""spark-submit CLI — the engine's `rio` (SURVEY.md §2.12).

    python -m rasterio_spark.cli <op> [args...]

Ops mirror the reference subcommand set that matters for the web-table
engine (reference rasterio/rio/main.py:9-17 registers 21 subcommands;
each of ours wraps the same operator the matching rio command wraps):

    info        layer/table summary                 (rio info)
    tile        pages -> cell assignments            (block grid)
    rasterize   polygons -> cells                    (rio rasterize)
    shapes      cells -> region polygons             (rio shapes)
    sieve       remove small regions                 (rio sieve... part of rio's edit set)
    merge       multi-source composite               (rio merge)
    stack       concatenate inputs as bands          (rio stack)
    warp        reproject a cell table               (rio warp)
    overview    build LOD pyramid levels             (rio overview)
    calc        band math expression                 (rio calc)
    sample      point probes                         (rio sample)
    clip        window/bounds crop                   (rio clip)
    mask        keep cells inside polygons           (rio mask)
    blocks      emit the block-window grid           (rio blocks)
    bounds      grid extent as GeoJSON bbox          (rio bounds)
    transform   reproject point lists                (rio transform)
    convert     copy with value dtype cast           (rio convert)
    join        pages x polygons PIP join
    knn         k nearest pages per query point
    env         engine/session environment report    (rio env)
    edit-info   edit a layer's descriptor sidecar    (rio edit_info)
    create      new empty layer (descriptor + table) (rio create)
    rm          delete a layer table                 (rio rm)
    bench       run the benchmark suite

With env / edit-info / create / rm the reference subcommand surface is
fully mapped; not mapped is only gdal-era format plumbing (insp/shim,
gcps — no GCP georeferencing by design, SURVEY.md §1.1). edit-info
operates on the `_descriptor.json` sidecar (sources/layers.py) — the
engine's dataset header — mirroring rio edit_info's in-place header
edits (nodata / crs / tags).

All ops read/write parquet paths. Ship with
``spark-submit --py-files rasterio_spark.zip -m rasterio_spark.cli``.
"""

from __future__ import annotations

import argparse
import json
import sys


def _session(args):
    """Reuse an active session (tests, notebooks) or create one we own."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active, False
    from rasterio_spark.plans.session import get_session

    return get_session(app_name=f"rasterio_spark.cli.{args.op}", cores=args.cores), True


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="rasterio_spark.cli")
    p.add_argument("op", choices=[
        "info", "tile", "rasterize", "shapes", "sieve", "merge", "stack",
        "warp", "overview", "calc", "sample", "clip", "mask", "blocks",
        "bounds", "transform", "convert", "join", "knn", "env",
        "edit-info", "create", "rm", "bench",
    ])
    p.add_argument("--input", help="input parquet path (pages or cells table)")
    p.add_argument("--inputs", nargs="+", help="multiple inputs (stack)")
    p.add_argument("--output", help="output parquet path")
    p.add_argument("--window", help="clip: col_off,row_off,width,height")
    p.add_argument("--bounds", help="clip: left,bottom,right,top in CRS coords (rio clip --bounds)")
    p.add_argument("--transform", help="clip --bounds: layer transform a,b,c,d,e,f (default identity)")
    p.add_argument("--scale-ratio", type=float, default=None, help="convert: value *= ratio (rio convert)")
    p.add_argument("--scale-offset", type=float, default=None, help="convert: value += offset (rio convert)")
    p.add_argument("--factors", default="2,4,8", help="overview: comma factors")
    p.add_argument(
        "--cascade",
        action="store_true",
        help="overview: cascading pyramid (one base scan + geometric tail) "
        "instead of one scan per factor; avg/min/max/sum/count/rms only",
    )
    p.add_argument("--src-crs", default="EPSG:4326")
    # None default so `warp` can tell "reproject" from "downsample";
    # the transform op falls back to EPSG:3857 like before.
    p.add_argument("--dst-crs", default=None)
    p.add_argument("--dtype", default="double", help="convert: value cast type")
    p.add_argument("--block-shape", default="256,256", help="blocks: bh,bw")
    p.add_argument("--cores", type=int, default=None)
    p.add_argument("--res", type=int, default=7)
    p.add_argument("--expression", help="calc: SQL expression over b1..bN")
    p.add_argument("--method", default="first", help="merge/downsample method")
    p.add_argument("--factor", type=int, default=2, help="warp: downsample factor")
    p.add_argument("--k", type=int, default=10, help="knn: neighbors per query")
    p.add_argument("--points", help="JSON [[id, x, y], ...] for sample/knn")
    p.add_argument("--polygons", help="JSON polygon layer [{polygon_id, geom, value}]")
    p.add_argument("--size", type=int, default=2, help="shapes: sieve threshold")
    p.add_argument("--connectivity", type=int, default=4, choices=[4, 8])
    p.add_argument("--limit", type=int, default=20, help="rows to show without --output")
    p.add_argument("--nodata", type=float, help="edit-info: set nodata value")
    p.add_argument("--set-crs", help="edit-info: set the layer CRS")
    p.add_argument("--tag", action="append", default=[], help="edit-info: KEY=VALUE tag (repeatable)")
    p.add_argument("--colormap", help='edit-info: JSON {"value": [r,g,b(,a)], ...} color table')
    p.add_argument("--band", type=int, default=1, help="edit-info: band the --colormap applies to")
    p.add_argument("--descriptor", action="store_true", help="info: include the descriptor sidecar")
    p.add_argument("--width", type=int, default=256, help="create: layer width")
    p.add_argument("--height", type=int, default=256, help="create: layer height")
    p.add_argument("--count", type=int, default=1, help="create: band count")
    p.add_argument(
        "--profile",
        default=None,
        help='create: JSON creation profile (rio --co twin); keys from '
        "DefaultLayerProfile (dtype/count/nodata/blockxsize/blockysize/"
        "compress/rows_per_file/crs/transform); overrides --count/--dtype",
    )
    args = p.parse_args(argv)

    if args.op == "rm":
        # rio rm: delete the dataset (table dir + sidecar), driver-side.
        # Like the reference (which only deletes datasets GDAL can open),
        # refuse unless the target actually looks like a layer table:
        # a _descriptor.json sidecar, a _SUCCESS marker, or parquet files.
        import glob
        import os
        import shutil

        if not args.input:
            print("rm: --input is required", file=sys.stderr)
            return 2
        if not os.path.isdir(args.input):
            print(f"rm: {args.input}: not a directory", file=sys.stderr)
            return 2
        looks_like_layer = (
            os.path.exists(os.path.join(args.input, "_descriptor.json"))
            or os.path.exists(os.path.join(args.input, "_SUCCESS"))
            or bool(
                glob.glob(os.path.join(args.input, "**", "*.parquet"), recursive=True)
            )
        )
        if not looks_like_layer:
            print(
                f"rm: {args.input}: not a layer table "
                "(no _descriptor.json / _SUCCESS / *.parquet) — refusing to delete",
                file=sys.stderr,
            )
            return 2
        shutil.rmtree(args.input)
        print(json.dumps({"removed": args.input}))
        return 0

    if args.op == "edit-info":
        # pure driver-side header edit (rio edit_info): no Spark session
        import dataclasses

        from rasterio_spark.sources.layers import read_descriptor, write_descriptor

        desc = read_descriptor(args.input)
        updates = {}
        if args.nodata is not None:
            updates["nodata"] = args.nodata
        if args.set_crs:
            updates["crs"] = args.set_crs
        if args.tag:
            tags = dict(desc.tags)
            tags.update(dict(t.split("=", 1) for t in args.tag))
            updates["tags"] = tags
        desc = dataclasses.replace(desc, **updates)
        if args.colormap:
            from rasterio_spark.sources.layers import write_colormap

            desc = write_colormap(
                desc, args.band, {int(k): v for k, v in json.loads(args.colormap).items()}
            )
        write_descriptor(args.input, desc)
        print(json.dumps(desc.to_dict()))
        return 0

    if args.op == "bench":
        import bench  # repo-root harness

        bench.main()
        return 0

    spark, owned = _session(args)
    try:
        return _run(spark, args)
    finally:
        if owned:
            spark.stop()


def _grid_shape(df) -> tuple[int, int]:
    """(height, width) of a cells table: one max(row), max(col) job."""
    r = df.selectExpr("max(row)", "max(col)").first()
    return r[0] + 1, r[1] + 1


def _run(spark, args) -> int:
    """The ops that need a Spark session; main stops an owned one."""
    out = None

    if args.op == "env":
        import pyspark

        import rasterio_spark

        conf = spark.sparkContext.getConf()
        print(json.dumps({
            "rasterio_spark": rasterio_spark.__version__,
            "pyspark": pyspark.__version__,
            "master": conf.get("spark.master"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "adaptive_enabled": spark.conf.get("spark.sql.adaptive.enabled"),
            "arrow_enabled": spark.conf.get("spark.sql.execution.arrow.pyspark.enabled"),
            "session_timezone": spark.conf.get("spark.sql.session.timeZone"),
        }))
        return 0

    if args.op == "create":
        # rio create: a new dataset = empty (band,row,col,value,valid)
        # table with the layer header in the descriptor sidecar; cells
        # appear later via partition-overwrite writes (plans/lineage)
        import pyarrow as pa

        from rasterio_spark.sources.layers import LayerDescriptor, write_descriptor

        # from pyarrow: a list-built frame would scan a PythonRDD
        empty = spark.createDataFrame(pa.schema(
            [("band", pa.int32()), ("row", pa.int32()), ("col", pa.int32()),
             ("value", pa.float64()), ("valid", pa.bool_())]
        ).empty_table())
        if args.profile is not None:
            # rio create --co twin: creation profile drives the header
            # (DefaultLayerProfile defaults beneath) and the writer
            from rasterio_spark.sources.profiles import (
                DefaultLayerProfile,
                layer_from_profile,
                writer_options,
            )

            prof = DefaultLayerProfile(json.loads(args.profile))
            # validate the profile (descriptor derivation raises on
            # unknown/bad keys) BEFORE the write so a bad profile can't
            # leave a half-created dataset that blocks the retry
            desc = layer_from_profile(prof, args.width, args.height)
            empty.write.options(**writer_options(prof)).mode("error").parquet(
                args.output
            )
        else:
            empty.write.mode("error").parquet(args.output)
            desc = LayerDescriptor(
                width=args.width, height=args.height, count=args.count,
                dtype=args.dtype, nodata=None,
            )
        write_descriptor(args.output, desc)
        print(json.dumps({"created": args.output, "descriptor": desc.to_dict()}))
        return 0

    if args.op == "info":
        import os as _os

        df = spark.read.parquet(args.input)
        info = {
            "rows": df.count(),
            "columns": [(f.name, f.dataType.simpleString()) for f in df.schema.fields],
            "files_partitions": df.rdd.getNumPartitions(),
        }
        if args.descriptor:
            from rasterio_spark.sources.layers import DESCRIPTOR_SIDECAR, read_descriptor

            if _os.path.exists(_os.path.join(args.input, DESCRIPTOR_SIDECAR)):
                info["descriptor"] = read_descriptor(args.input).to_dict()
            else:
                info["descriptor"] = None
        print(json.dumps(info))
        return 0

    warped_desc = None
    if args.op == "tile":
        from rasterio_spark.operators.tile import tile_pages

        out = tile_pages(spark.read.parquet(args.input), res=args.res)
    elif args.op == "rasterize":
        from rasterio_spark.operators.rasterize import rasterize

        layer = json.loads(args.polygons)
        shapes_in = [(pol["geom"], pol.get("value", 1.0)) for pol in layer]
        out = rasterize(spark, shapes_in, _grid_shape(spark.read.parquet(args.input)))
    elif args.op == "shapes":
        from rasterio_spark.operators.shapes import shapes

        out = shapes(spark.read.parquet(args.input), connectivity=args.connectivity)
    elif args.op == "sieve":
        from rasterio_spark.operators.shapes import sieve

        out = sieve(
            spark.read.parquet(args.input), size=args.size, connectivity=args.connectivity
        )
    elif args.op == "merge":
        from rasterio_spark.operators.merge import merge

        out = merge(spark.read.parquet(args.input), method=args.method)
    elif args.op == "stack":
        from rasterio_spark.operators.merge import stack

        out = stack([spark.read.parquet(pth) for pth in args.inputs])
    elif args.op == "overview":
        from pyspark.sql import functions as F

        from rasterio_spark.operators.warp import build_pyramid, downsample

        factors = [int(x) for x in args.factors.split(",")]
        method = args.method if args.method != "first" else "average"
        if args.cascade:
            cascade_cols = {
                "average": "avg_v", "min": "min_v", "max": "max_v",
                "sum": "sum_v", "count": "cnt_v", "rms": "rms_v",
            }
            if method not in cascade_cols:
                print(
                    f"overview --cascade: method {method!r} is not cascadable; "
                    f"supported: {sorted(cascade_cols)} (drop --cascade for "
                    "med/q1/q3/mode/gauss)",
                    file=sys.stderr,
                )
                return 2
            col = cascade_cols[method]
            levels = build_pyramid(spark.read.parquet(args.input), factors)
            parts = [
                df.select(
                    "band", "row", "col", F.col(col).alias("value"),
                    F.lit(f).alias("factor"),
                )
                for f, df in levels.items()
            ]
        else:
            parts = [
                downsample(spark.read.parquet(args.input), f, method).withColumn(
                    "factor", F.lit(f)
                )
                for f in factors
            ]
        out = parts[0]
        for x in parts[1:]:
            out = out.unionByName(x)
    elif args.op == "clip":
        from rasterio_spark.grid.windows import Window, from_bounds
        from rasterio_spark.operators.window_read import read

        if args.bounds:
            # rio clip --bounds: CRS coords -> window via the transform
            from rasterio_spark.grid.affine import Affine

            l, b, r, t = (float(x) for x in args.bounds.split(","))
            tr = (
                Affine(*(float(x) for x in args.transform.split(",")))
                if args.transform
                else Affine.identity()
            )
            if tr.e < 0:
                win = from_bounds(l, b, r, t, tr)
            else:  # south-up / identity grids
                win = from_bounds(l, t, r, b, tr)
            out = read(spark.read.parquet(args.input), win)
        else:
            co, ro, w, h = (int(x) for x in args.window.split(","))
            out = read(spark.read.parquet(args.input), Window(co, ro, w, h))
    elif args.op == "mask":
        from rasterio_spark.grid.affine import Affine
        from rasterio_spark.operators.rasterize import mask_cells

        layer = json.loads(args.polygons)
        df = spark.read.parquet(args.input)
        out = mask_cells(
            df, spark, [pol["geom"] for pol in layer], Affine.identity(), _grid_shape(df)
        )
    elif args.op == "blocks":
        from rasterio_spark.grid.cells import block_windows

        height, width = _grid_shape(spark.read.parquet(args.input))
        bh, bw = (int(x) for x in args.block_shape.split(","))
        for (i, j), win in block_windows(height, width, (bh, bw)):
            print(
                json.dumps(
                    {
                        "block": [i, j],
                        "window": [win.col_off, win.row_off, win.width, win.height],
                    }
                )
            )
        return 0
    elif args.op == "bounds":
        df = spark.read.parquet(args.input)
        r = df.selectExpr(
            "min(col) AS w", "min(row) AS n0", "max(col) AS e", "max(row) AS s0"
        ).first()
        print(json.dumps({"bbox": [r["w"], r["n0"], r["e"] + 1, r["s0"] + 1]}))
        return 0
    elif args.op == "transform":
        from rasterio_spark.grid.crs import transform_points

        pts = json.loads(args.points)
        xs, ys = transform_points(
            args.src_crs,
            args.dst_crs or "EPSG:3857",
            [p[0] for p in pts],
            [p[1] for p in pts],
        )
        print(json.dumps([[float(x), float(y)] for x, y in zip(xs, ys)]))
        return 0
    elif args.op == "convert":
        from pyspark.sql import functions as F

        df = spark.read.parquet(args.input)
        v = F.col("value")
        # rio convert --scale-ratio/--scale-offset: value*ratio + offset
        # BEFORE the dtype cast (reference rio/convert.py order)
        if args.scale_ratio is not None:
            v = v * args.scale_ratio
        if args.scale_offset is not None:
            v = v + args.scale_offset
        out = df.withColumn("value", v.cast(args.dtype))
    elif args.op == "warp":
        if args.dst_crs:
            # rio warp --dst-crs parity: reproject the layer grid onto
            # the suggested dst transform; resampling via --method
            # (default nearest, like rio warp), full area/kernel set.
            import dataclasses

            from rasterio_spark.grid.crs import normalize_crs
            from rasterio_spark.grid.transform import array_bounds
            from rasterio_spark.operators.warp import (
                calculate_default_transform,
                reproject,
            )
            from rasterio_spark.sources.layers import read_descriptor

            try:
                desc = read_descriptor(args.input)
            except FileNotFoundError:
                print(
                    "error: warp --dst-crs needs the source layer's "
                    "_descriptor.json (grid transform/CRS/dims)",
                    file=sys.stderr,
                )
                return 2
            bounds = array_bounds(desc.height, desc.width, desc.transform)
            dst_t, w, h = calculate_default_transform(
                desc.crs, args.dst_crs, desc.width, desc.height, *bounds
            )
            method = "nearest" if args.method == "first" else args.method
            out = reproject(
                spark.read.parquet(args.input),
                desc.transform,
                desc.crs,
                dst_t,
                args.dst_crs,
                w,
                h,
                method,
                src_nodata=desc.nodata if desc.nodata is not None else 0.0,
            )
            warped_desc = dataclasses.replace(
                desc,
                crs=normalize_crs(args.dst_crs),
                transform=dst_t,
                width=w,
                height=h,
            )
        else:
            from rasterio_spark.operators.warp import downsample

            out = downsample(spark.read.parquet(args.input), args.factor, args.method if args.method != "first" else "average")
    elif args.op == "calc":
        from rasterio_spark.operators.calc import calc

        out = calc(spark.read.parquet(args.input), args.expression)
    elif args.op == "sample":
        from rasterio_spark.grid.affine import Affine
        from rasterio_spark.operators.join import sample_points

        pts = [tuple(x) for x in json.loads(args.points)]
        out = sample_points(spark.read.parquet(args.input), pts, Affine.identity())
    elif args.op == "join":
        from rasterio_spark.operators.join import pip_join

        layer = json.loads(args.polygons)
        out = pip_join(spark.read.parquet(args.input), layer, res=args.res)
    elif args.op == "knn":
        from rasterio_spark.operators.join import knn_join

        pts = [tuple(x) for x in json.loads(args.points)]
        out = knn_join(spark.read.parquet(args.input), pts, k=args.k, res=args.res)

    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        if warped_desc is not None:
            from rasterio_spark.sources.layers import write_descriptor

            write_descriptor(args.output, warped_desc)
        print(json.dumps({"written": args.output}))
    else:
        for row in out.limit(args.limit).collect():
            print(row)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
