"""CLI for mrlite, in three modes.

- Submit (the default): the reference's ``mapreduce-submit`` surface
  (reference: mapreduce/submit.py CLI options, including its 2/2
  defaults and the wc job as the default workload), minus the TCP hop:
  the job runs in-process on Spark and blocks until done.
- ``--serve``: the manager daemon (reference: ``mapreduce-manager``),
  with Spark as its data plane when no worker has registered.
- ``--worker``: a worker daemon (reference: ``mapreduce-worker``); it
  imports no Spark.

Usage (python -m eeecs485_p4_mapreduce_spark.mrlite ...):
    -i INPUT_DIR -o OUTPUT_DIR [-m MAPPER] [-r REDUCER]
        [--nmappers N] [--nreducers N]
    --serve [--port P] [--manager-hb-port P]
    --worker [--port P] [--manager-port P] [--manager-hb-port P]

MAPPER/REDUCER are external executable paths; omit both to run the
built-in pure-Python word count.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="mrlite",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    parser.add_argument(
        "--serve",
        action="store_true",
        help="run the TCP manager endpoint (reference: ./bin/mapreduce "
        "start) instead of an in-process job; blocks until a shutdown "
        "message arrives",
    )
    parser.add_argument(
        "--worker",
        action="store_true",
        help="run a worker daemon (reference: mapreduce-worker): register "
        "with the manager, heartbeat over UDP, execute dispatched "
        "map/reduce tasks; blocks until a shutdown message arrives",
    )
    parser.add_argument("--host", default="localhost")
    parser.add_argument(
        "--port",
        type=int,
        default=None,
        help="listen port (manager default 6000; worker default 6001,"
        " matching the reference CLIs)",
    )
    parser.add_argument(
        "--manager-host", default="localhost", help="(--worker) manager host"
    )
    parser.add_argument(
        "--manager-port", type=int, default=6000, help="(--worker) manager TCP port"
    )
    parser.add_argument(
        "--manager-hb-port",
        type=int,
        default=5999,
        help="(--worker / --serve) UDP heartbeat port",
    )
    parser.add_argument(
        "--heartbeat-interval",
        type=float,
        default=None,
        help="(--worker / --serve) seconds between heartbeats; default "
        "is the spec's 2 s — tests shrink it to keep liveness "
        "wall-clock short without changing the message shape",
    )
    parser.add_argument("-i", "--input", dest="input_directory")
    parser.add_argument("-o", "--output", dest="output_directory")
    parser.add_argument("-m", "--mapper", default=None)
    parser.add_argument("-r", "--reducer", default=None)
    parser.add_argument("--nmappers", type=int, default=2)
    parser.add_argument("--nreducers", type=int, default=2)
    args = parser.parse_args(argv)

    # The spec's 2 s heartbeat default lives on MRWorker/MRManagerServer;
    # the CLI only forwards an override when one was given.
    hb_kwargs = (
        {"heartbeat_interval": args.heartbeat_interval}
        if args.heartbeat_interval is not None
        else {}
    )

    if args.worker:
        from eeecs485_p4_mapreduce_spark.mrlite import MRWorker

        # The reference's worker CLI defaults its own port to 6001
        # (mapreduce/worker/__main__.py:45).
        port = args.port if args.port is not None else 6001
        try:
            w = MRWorker(
                host=args.host,
                port=port,
                manager_host=args.manager_host,
                manager_port=args.manager_port,
                manager_hb_port=args.manager_hb_port,
                **hb_kwargs,
            ).start()
        except OSError as exc:
            print(f"mrlite: error: cannot register with manager at "
                  f"{args.manager_host}:{args.manager_port}: {exc}",
                  file=sys.stderr)
            return 1
        print(f"mrlite worker on {w.host}:{w.port} -> manager "
              f"{w.manager_host}:{w.manager_port} (hb {w.manager_hb_port})")
        w.join()  # returns once a shutdown message is processed
        return w.exit_code or 0

    if args.serve:
        from eeecs485_p4_mapreduce_spark import get_spark
        from eeecs485_p4_mapreduce_spark.mrlite import MREngine, MRManagerServer

        spark = get_spark("mrlite-manager")
        server = MRManagerServer(
            MREngine(spark),
            host=args.host,
            port=args.port if args.port is not None else 6000,
            hb_port=args.manager_hb_port,
            **hb_kwargs,
        ).start()
        print(
            f"mrlite manager listening on {server.host}:{server.port} "
            f"(worker heartbeats on udp:{server.hb_port})"
        )
        server.join()  # returns once a shutdown message is processed
        spark.stop()
        return 0

    if not args.input_directory or not args.output_directory:
        parser.error("-i/--input and -o/--output are required unless --serve")

    from eeecs485_p4_mapreduce_spark import get_spark
    from eeecs485_p4_mapreduce_spark.mrlite import MREngine
    from eeecs485_p4_mapreduce_spark.mrlite import builtins as b

    mapper = args.mapper if args.mapper else b.wc_map
    reducer = args.reducer if args.reducer else b.wc_reduce

    spark = get_spark("mrlite-submit")
    engine = MREngine(spark)
    try:
        result = engine.submit_job(
            input_directory=args.input_directory,
            output_directory=args.output_directory,
            mapper_executable=mapper,
            reducer_executable=reducer,
            num_mappers=args.nmappers,
            num_reducers=args.nreducers,
        )
    except (FileNotFoundError, ValueError) as exc:
        print(f"mrlite: error: {exc}", file=sys.stderr)
        return 1
    print(f"job {result.job_id} done: {len(result.output_paths)} output files")
    for p in result.output_paths:
        print(f"  {p}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
