"""Reference-compatible command line.

The reference's contract is ``<job>.py "<QUERY>" <ALGO> <PARAM>`` with
CSV points pushed through Kafka (reference README.md:42-49, 104). This
CLI keeps the same positional triple but reads/writes files directly
(and optionally Kafka for streaming):

    python -m pyspark_skyline_spark.cli batch "SKYLINE OF x1 MIN, x2 MIN" \
        MR_DIM 8 --input data/points.csv --dims 2 --output out.parquet

    python -m pyspark_skyline_spark.cli stream "SKYLINE OF x1 MIN, x2 MIN" \
        MR_ANGLE 4 --input-dir /stream/in --format console
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from pyspark_skyline_spark.operators.skyline import ALGORITHMS, skyline
from pyspark_skyline_spark.parser import parse_skyline_query
from pyspark_skyline_spark.sources.tables import read_points_csv


def _session(cpus: str = "*") -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pyspark-skyline-cli")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pyspark_skyline_spark.cli")
    ap.add_argument("mode", choices=["batch", "stream"])
    ap.add_argument("query", help='e.g. "SKYLINE OF x1 MIN, x2 MAX"')
    ap.add_argument("algo", nargs="?", default="auto", choices=ALGORITHMS)
    ap.add_argument("param", nargs="?", type=int, default=None,
                    help="partitioning fan-out p (reference README.md:49)")
    ap.add_argument("--input", help="input file (csv: reference x1..xd format, or parquet)")
    ap.add_argument("--input-dir", help="streaming input directory (parquet/csv files)")
    ap.add_argument("--dims", type=int, help="d for headerless csv input")
    ap.add_argument("--output", help="output parquet path (default: stdout show)")
    ap.add_argument("--cpus", default="*")
    args = ap.parse_args(argv)

    dims = parse_skyline_query(args.query)
    spark = _session(args.cpus)
    try:
        if args.mode == "batch":
            if not args.input:
                ap.error("--input required for batch mode")
            if args.input.endswith(".csv"):
                d = args.dims or len(dims)
                df = read_points_csv(spark, args.input, d)
            else:
                df = spark.read.parquet(args.input)
            res = skyline(df, dims, algo=args.algo, partitions=args.param)
            if args.output:
                res.write.mode("overwrite").parquet(args.output)
                print(f"wrote {res.count()} skyline rows to {args.output}")
            else:
                res.show(100, truncate=False)
        else:
            from pyspark_skyline_spark.streaming.skyline_stream import run_skyline_stream

            if not args.input_dir:
                ap.error("--input-dir required for stream mode")
            static = spark.read.parquet(args.input_dir)
            stream = spark.readStream.schema(static.schema).parquet(args.input_dir)
            state, query = run_skyline_stream(
                stream, dims, algo=args.algo, partitions=args.param
            )
            query.awaitTermination()
            res = state.result()
            if args.output:
                res.write.mode("overwrite").parquet(args.output)
            else:
                res.show(100, truncate=False)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
