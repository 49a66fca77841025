"""Command-line entry point: ``python -m komodo_data_spark <cmd>``.

The operational surface a user of the reference pipeline drives from a
shell (its analogue is the reference's process.py daemon loop + manual
SQL): list the registered queries, run one (or ad-hoc SQL) against a
testdata scale directory, or print its physical plan.

Commands:
  list                                   all driver-contract query names
  run <query> [--sf-dir D] [--limit N]   execute, print as a table
  sql "<statement>" [--sf-dir D]         ad-hoc SQL over the registered views
  explain <query> [--sf-dir D]           formatted physical plan
  bench <query> [--sf-dir D]             one timed run (post-warm-up)
  serve --captures-dir C --requests-dir R --data-path D --out-dir O
        --state-dir S [--trigger 10] [--iterations N | --available-now]
                                         the reference daemon loop
                                         (process.py:450-473): each
                                         iteration drains new capture
                                         files into the data table, then
                                         dispatches new request files to
                                         CSV, one Spark plan per
                                         aggregation function per
                                         micro-batch, each request's CSV
                                         named <prefix>_req<id>.csv;
                                         checkpoints make both
                                         exactly-once per file across
                                         restarts, fulfillments append to
                                         S/fulfillments as one-row parquet
                                         files.
--cores defaults to $SPARK_GRAFT_CPUS, else the usable cores.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import uuid


def _engine(sf_dir: str, cores: int):
    from komodo_data_spark.engine import KomodoEngine

    eng = KomodoEngine.local(cores=cores, sf_dir=sf_dir)
    eng.spark.sparkContext.setLogLevel("ERROR")
    return eng


def _queries():
    from komodo_data_spark.registry import registered

    return {name: fn for name, (fn, _sql) in registered().items()}


def serve(args) -> int:
    """The reference main loop, Spark-first: poll → ingest → dispatch →
    sleep (process.py:450-473, 469). Each iteration is an AvailableNow
    drain of both streams, so the loop structure mirrors the reference
    exactly while the checkpoints replace the `processed` /
    `is_it_fulfilled` flags with exactly-once file offsets."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from komodo_data_spark.session import get_spark
    from komodo_data_spark.streaming.dispatch import start_request_stream
    from komodo_data_spark.streaming.ingest import start_capture_stream

    spark = get_spark(
        "komodo-serve", master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    fulfill_path = os.path.join(args.state_dir, "fulfillments")
    os.makedirs(fulfill_path, exist_ok=True)

    def on_fulfilled(rid: int, path: str) -> None:
        # one-row parquet (request_id int, file_location string,
        # fulfilled_at long) written without a Spark job, under a dot name
        # Spark's reader skips, then renamed into place: the record is
        # durable before the dispatch epoch commits
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(fulfill_path, "." + name)
        pq.write_table(pa.table({
            "request_id": pa.array([int(rid)], pa.int32()),
            "file_location": pa.array([path], pa.string()),
            "fulfilled_at": pa.array([int(time.time())], pa.int64()),
        }), tmp)
        os.replace(tmp, os.path.join(fulfill_path, name))

    iterations = 1 if args.available_now else args.iterations
    i = 0
    while iterations is None or i < iterations:
        i += 1
        q = start_capture_stream(
            spark,
            os.path.join(args.captures_dir, "*", "*", "data"),
            args.data_path,
            os.path.join(args.state_dir, "ckpt_ingest"),
            available_now=True,
        )
        q.awaitTermination()
        try:
            data = spark.read.parquet(args.data_path)
        except Exception:
            data = None  # nothing ingested yet; requests can't be served
        if data is not None:
            q2 = start_request_stream(
                spark,
                os.path.join(args.requests_dir, "*.json"),
                data,
                args.out_dir,
                os.path.join(args.state_dir, "ckpt_dispatch"),
                on_fulfilled=on_fulfilled,
            )
            q2.awaitTermination()
        if iterations is None or i < iterations:
            time.sleep(args.trigger)  # the reference's 10 s poll interval
    return 0


def main(argv: list[str] | None = None) -> int:
    from komodo_data_spark.session import default_cores

    p = argparse.ArgumentParser(prog="komodo_data_spark")
    p.add_argument(
        "command",
        choices=["list", "run", "sql", "explain", "bench", "serve"],
    )
    p.add_argument("target", nargs="?", help="query name or SQL text")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--cores", type=int, default=default_cores())
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--captures-dir")
    p.add_argument("--requests-dir")
    p.add_argument("--data-path")
    p.add_argument("--out-dir")
    p.add_argument("--state-dir")
    p.add_argument("--trigger", type=int, default=10)
    p.add_argument("--iterations", type=int, default=None)
    p.add_argument("--available-now", action="store_true")
    args = p.parse_args(argv)

    if args.command == "serve":
        missing = [
            n for n in ("captures_dir", "requests_dir", "data_path",
                        "out_dir", "state_dir")
            if not getattr(args, n)
        ]
        if missing:
            p.error("serve requires --" + " --".join(m.replace("_", "-") for m in missing))
        return serve(args)

    if args.command == "list":
        for name in sorted(_queries()):
            print(name)
        return 0

    if not args.target:
        p.error(f"'{args.command}' needs a query name or SQL text")

    eng = _engine(args.sf_dir, args.cores)
    if args.command == "sql":
        eng.sql(args.target).show(args.limit, truncate=False)
        return 0

    qs = _queries()
    if args.target not in qs:
        print(f"unknown query {args.target!r}; see `list`", file=sys.stderr)
        return 2
    df = qs[args.target](eng.spark, args.sf_dir)
    if args.command == "run":
        df.show(args.limit, truncate=False)
    elif args.command == "explain":
        df.explain("formatted")
    else:  # bench
        df.count()  # warm-up: footers, codegen, Python workers
        t0 = time.perf_counter()
        n = df.count()
        print(f"{args.target}: {n} rows in {time.perf_counter() - t0:.3f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
