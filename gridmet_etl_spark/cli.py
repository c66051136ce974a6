"""CLI parity with the reference (SURVEY §3.1/3.2; cli.py:27-239).

Commands:
  gridmet-etl  — historical daily ETL: grid × weights → per-HRU daily series
  cfsv2-etl    — forecast ensembles: method 1 (median) or 2 (all members)
  check-fresh  — T1 availability gate (exit 1 when source data is stale)

Argument surface mirrors the reference's flags (--start-date/--end-date
validated as %Y-%m-%d, --fid, --partial → masked_mean, --fill-missing,
--method 1|2); inputs are the engine's parquet tables instead of
OPeNDAP/shapefiles (see sources.ingest for the remote boundary).

Run: ``python -m gridmet_etl_spark.cli gridmet-etl --help``
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime


def valid_date(value: str) -> str:
    """%Y-%m-%d validation (cli.py:14-19)."""
    try:
        datetime.strptime(value, "%Y-%m-%d")
    except ValueError:
        raise argparse.ArgumentTypeError(f"not a YYYY-MM-DD date: {value!r}") from None
    return value


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="gridmet-etl-spark")
    sub = p.add_subparsers(dest="command", required=True)

    g = sub.add_parser("gridmet-etl", help="historical daily gridMET ETL")
    g.add_argument("--grid", required=True, help="long-form grid parquet")
    g.add_argument("--weights", required=True, help="weights parquet or csv")
    g.add_argument("--features", help="features table for --fill-missing")
    g.add_argument("--start-date", type=valid_date)
    g.add_argument("--end-date", type=valid_date)
    g.add_argument("--fid", default="feature_id", help="feature id column name")
    g.add_argument("--partial", action="store_true", help="masked_mean for partial coverage")
    g.add_argument("--fill-missing", action="store_true")
    g.add_argument("--bug-compat-humidity", action="store_true",
                   help="reproduce the reference's literal rhmin + rhmax/2 (etl.py:740)")
    g.add_argument("--out", required=True)
    g.add_argument("--prefix", default="converted")

    c = sub.add_parser("cfsv2-etl", help="CFSv2 forecast ensemble ETL")
    c.add_argument("--grid-ens", required=True)
    c.add_argument("--weights", required=True)
    c.add_argument("--elevation", required=True, help="elevation parquet or PRMS param file")
    c.add_argument("--features", help="features table for --fill-missing")
    c.add_argument("--start-date", type=valid_date)
    c.add_argument("--end-date", type=valid_date)
    c.add_argument("--method", type=int, choices=[1, 2], default=1,
                   help="1=ensemble median, 2=all 48 members")
    c.add_argument("--fill-missing", action="store_true")
    c.add_argument("--run-date", type=valid_date,
                   help="forecast cycle date; output lands under run_date=<d>/ (T3)")
    c.add_argument("--out", required=True)
    c.add_argument("--prefix", default="converted")

    f = sub.add_parser("check-fresh", help="THREDDS freshness gate (T1)")
    f.add_argument("--base-url", required=True)
    f.add_argument("--datasets", nargs="*")
    return p


def _load_weights(spark, path: str, fid: str = "feature_id"):
    from .sources.readers import read_weights_csv, read_weights_parquet

    if path.endswith(".csv"):
        return read_weights_csv(spark, path, fid)
    return read_weights_parquet(spark, path)


def _load_elevation(spark, path: str):
    if path.endswith(".param"):
        from .sources.prms import elevation_dataframe

        return elevation_dataframe(spark, path)
    return spark.read.parquet(path)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.command == "check-fresh":
        from .sources.thredds import check_freshness

        status = check_freshness(args.base_url, args.datasets or None)
        for ds, fresh in status.items():
            print(f"{'FRESH' if fresh else 'STALE'} {ds}")
        return 0 if all(status.values()) else 1

    if args.command in ("gridmet-etl", "cfsv2-etl"):
        if args.fill_missing and not args.features:
            print("--fill-missing requires --features", file=sys.stderr)
            return 2
        # time_filter raises on a one-sided or reversed range too; checked
        # here so the command exits 2 before a session starts
        if (args.start_date is None) != (args.end_date is None):
            print("--start-date and --end-date must be given together", file=sys.stderr)
            return 2
        if args.start_date and datetime.strptime(args.start_date, "%Y-%m-%d") > datetime.strptime(
            args.end_date, "%Y-%m-%d"
        ):
            print("--start-date must not be after --end-date", file=sys.stderr)
            return 2

    from .operators.fill import fill_missing
    from .session import get_spark
    from .sources.readers import convert_features, read_features, read_grid
    from .sources.writers import write_fill_map_csv, write_output

    spark = get_spark(app_name=f"gridmet_etl_spark_{args.command}")

    def _fill(out, fid: str = "feature_id"):
        """--fill-missing (fill_onhm_ncf): nearest-donor fill of the
        pipeline output, with the mapping CSV persisted beside it (K3,
        helper.py:75-77). Only the fill reads features."""
        # reference dispatch (etl.py:549-568): GIS formats convert at ingest
        # into a parquet whose id column is feature_id; parquet passes through
        path = convert_features(args.features, fid_col=fid)
        features = read_features(spark, path, fid if path == args.features else "feature_id")
        out, fmap = fill_missing(out, features)
        write_fill_map_csv(fmap, args.out)
        return out

    if args.command == "gridmet-etl":
        from .plans.gridmet import gridmet_pipeline

        grid = read_grid(spark, args.grid)
        weights = _load_weights(spark, args.weights, args.fid)
        out = gridmet_pipeline(
            grid,
            weights,
            start_date=args.start_date,
            end_date=args.end_date,
            partial=args.partial,
            bug_compat_humidity=args.bug_compat_humidity,
        )
        if args.fill_missing:
            out = _fill(out, args.fid)
        path = write_output(out, args.out, file_prefix=args.prefix)
        print(f"wrote {path}")
        return 0

    if args.command == "cfsv2-etl":
        from .plans.cfsv2 import cfsv2_ensemble_pipeline, cfsv2_median_pipeline

        grid_ens = read_grid(spark, args.grid_ens)
        weights = _load_weights(spark, args.weights)
        elevation = _load_elevation(spark, args.elevation)
        common = dict(start_date=args.start_date, end_date=args.end_date)
        if args.method == 1:
            out = cfsv2_median_pipeline(grid_ens, weights, elevation, **common)
            prefix = f"{args.prefix}_median"
            partition_by: tuple[str, ...] = ()
        else:
            out = cfsv2_ensemble_pipeline(grid_ens, weights, elevation, **common)
            prefix = f"{args.prefix}_ensemble"
            partition_by = ("ens",)  # per-member layout (K4's _N suffix)
        if args.fill_missing:
            out = _fill(out)
            prefix = f"filled_{prefix}"
        if args.run_date:
            # T3: each forecast cycle is a self-contained snapshot partition
            from pyspark.sql import functions as SF

            out = out.withColumn("run_date", SF.lit(args.run_date))
            partition_by = ("run_date", *partition_by)
        from .sources.writers import CFSV2_CALENDAR

        path = write_output(
            out, args.out, partition_by=partition_by, file_prefix=prefix,
            calendar=CFSV2_CALENDAR,  # cfsv2_median_header.md:43
        )
        print(f"wrote {path}")
        return 0

    return 2  # pragma: no cover


if __name__ == "__main__":
    sys.exit(main())
