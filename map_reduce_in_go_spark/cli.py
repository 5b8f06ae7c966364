"""Command-line entry point mirroring the reference's CLI (main.go:20-29).

Reference:
    go run main.go -coordinator -addr=... -reduce=5 -input=a.txt,b.txt \
                   -intermediate-dir=/tmp/mr-tmp
    go run main.go -addr=... -workers=4

Spark-first equivalent (coordinator+workers collapse into one session; Spark
owns scheduling, retries, heartbeats and shuffle):

    python -m map_reduce_in_go_spark --input a.txt,b.txt --reduce 5 \
        --output /tmp/mr-out [--app wordcount|grep] [--pattern RE] \
        [--workers 8] [--generic]

``--workers`` maps to local parallelism (executor count on a cluster);
``--reduce`` maps to the FNV-1a output bucketing (mr-out-<n> parity);
``--intermediate-dir`` has no equivalent — Spark manages shuffle storage.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F


def positive_int(text: str) -> int:
    """argparse type: an int >= 1, rejected before any session starts."""
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be a positive integer, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="map_reduce_in_go_spark",
        description="PySpark-native MapReduce-equivalent engine",
    )
    p.add_argument("--input", help="comma-separated files/globs (MR apps)")
    p.add_argument("--output", help="output directory")
    p.add_argument("--reduce", type=positive_int, default=5, help="number of output buckets")
    p.add_argument("--workers", type=positive_int, default=None, help="local cores to use")
    p.add_argument(
        "--master",
        default=None,
        help="Spark master URL (spark://host:port, yarn, k8s://...); "
        "defaults to local[--workers] — the reference's -addr flag",
    )
    p.add_argument(
        "--app",
        choices=["wordcount", "grep"],
        default="wordcount",
        help="built-in application to run",
    )
    p.add_argument("--pattern", default="the", help="regex for --app grep")
    p.add_argument(
        "--list-queries",
        action="store_true",
        help="print every registered analytical query key and exit",
    )
    p.add_argument(
        "--run-query",
        metavar="KEY",
        default=None,
        help="run a registered analytical query (see --list-queries) over "
        "--sf-dir; writes parquet to --output or prints a sample",
    )
    p.add_argument(
        "--sf-dir",
        default=None,
        help="table directory for --run-query (default $SPARK_GRAFT_SF_DIR "
        "or /root/testdata/sf0.01)",
    )
    p.add_argument(
        "--generic",
        action="store_true",
        help="run wordcount via the generic Arrow Mapper/Reducer path instead "
        "of the native Catalyst plan (same results, reference-parity execution)",
    )
    return p


def install_signal_handlers(spark, owned: bool) -> None:
    """SIGINT/SIGTERM → drain and exit (main.go:32-66 parity).

    The reference traps both signals and drains in-flight work before
    exiting. Here: stop the session — but only if this CLI created it
    (``owned``): getOrCreate may have joined a caller's session (tests,
    notebooks) whose lifecycle, streaming queries included, isn't ours to
    end. Exits with the conventional 128+signum code either way.
    """
    import signal

    def _drain(signum, frame):  # noqa: ARG001 — signal handler signature
        # the JVM gateway may already be dead when the signal lands (then
        # spark.stop() raises Py4JNetworkError) — a drain must never be the
        # thing that crashes shutdown
        if owned:
            try:
                spark.stop()
            except Exception:  # noqa: BLE001 — dead gateway: nothing left to drain
                pass
        raise SystemExit(128 + signum)

    try:
        for s in (signal.SIGINT, signal.SIGTERM):
            signal.signal(s, _drain)
    except ValueError:  # not the main thread — caller owns signal disposition
        pass


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from .engine import WordCountMapper, WordCountReducer, run_mapreduce, write_output
    from .functions.text import tokens
    from .session import get_spark
    from .sources.text import read_lines, read_text_files

    if args.list_queries:
        from . import registry

        for name in sorted(registry.queries()):
            print(name)
        return 0

    if args.run_query:
        from . import registry

        qs = registry.queries()
        if args.run_query not in qs:
            print(f"unknown query {args.run_query!r}; see --list-queries",
                  file=sys.stderr)
            return 2
    elif not args.input or not args.output:
        print("--input and --output are required for MR apps", file=sys.stderr)
        return 2
    elif args.generic and args.app == "grep":
        print("--generic runs wordcount only; it cannot be used with --app grep",
              file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    owned = SparkSession.getActiveSession() is None
    spark = get_spark("mr-cli", cpus=args.workers, master=args.master)
    if owned:  # a joined session keeps its caller's log level
        spark.sparkContext.setLogLevel("WARN")
    install_signal_handlers(spark, owned)

    if args.run_query:
        sf_dir = args.sf_dir or os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
        )
        df = qs[args.run_query](spark, sf_dir)
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(f"wrote {args.run_query} to {args.output}")
        else:
            for row in df.limit(20).collect():
                print("\t".join(str(v) for v in row))
        return 0

    paths = args.input.split(",")

    if args.app == "grep":
        lines = read_lines(spark, paths)
        result = (
            lines.filter(F.col("line").rlike(args.pattern))
            .groupBy("filename")
            .agg(F.count("*").alias("value"))
            .select(F.col("filename").alias("key"), F.col("value").cast("string"))
        )
    elif args.generic:
        files = read_text_files(spark, paths)
        result = run_mapreduce(files, WordCountMapper(), WordCountReducer())
    else:
        lines = read_lines(spark, paths)
        result = (
            lines.select(F.explode(tokens(F.col("line"))).alias("key"))
            .groupBy("key")
            .agg(F.count("*").cast("string").alias("value"))
        )

    # one pass, like the reference's reduce tasks (worker.go:217-243): no
    # cache, so AQE sizes each stage of the write (a cached plan keeps the
    # static shuffle width). The key count reads the output back with
    # write_output's CSV options; multiLine keeps a quoted value holding a
    # newline one record, and the schema makes an empty output count 0
    write_output(result, args.output, n_reduce=args.reduce)
    reader = spark.read.schema("key string, value string")
    n = reader.csv(args.output, sep="\t", multiLine=True).count()
    print(f"wrote {n} keys to {args.output} in {args.reduce} buckets")
    # no spark.stop(): getOrCreate may have joined a caller's session
    # (tests, notebooks); process exit tears down a CLI-owned one anyway
    return 0


if __name__ == "__main__":
    sys.exit(main())
