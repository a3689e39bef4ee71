"""Service entry point — the Spark analog of the reference's `main.py`
(reference: main.py:26-52 → src/service.py StreamProcessorService).

    python -m nats_stream_processor_spark \
        --servers mem://demo --input-stream bluesky-posts \
        --output-stream bluesky-posts-enriched \
        --checkpoint /tmp/nsp-ckpt [--trigger-seconds 1] [--max-batch 100000]

Startup sequence (EP1 parity, SURVEY.md §3):
1. SparkSession (replaces asyncio loop + model init — models load lazily
   per worker inside the UDFs, L1);
2. connector registration + output-stream DDL (S4);
3. decode → enrich → watermarked dedup → routed idempotent publish (EP2);
4. blocks on the streaming query; SIGINT/SIGTERM stop the query
   gracefully (reference: src/service.py:69-70, 258-297).
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

from .config import (
    INPUT_STREAM, INPUT_SUBJECT_PREFIX, MAX_OFFSETS_PER_TRIGGER, OUTPUT_STREAM,
)
from .logging_setup import configure_logging, get_logger
from .session import get_spark
from .sources import nats as nats_src
from .streaming.pipeline import NatsSink, decode_posts, start_enrichment_query


def main(argv: list[str] | None = None) -> int:
    # CLI flags fall back to the reference's env-var names
    # (src/config.py Settings), so a reference deployment's environment
    # configures this service unchanged.
    env = os.environ.get
    ap = argparse.ArgumentParser(prog="nats_stream_processor_spark")
    ap.add_argument("--servers", default=env("NATS_URL", "mem://default"))
    ap.add_argument("--input-stream",
                    default=env("INPUT_STREAM", INPUT_STREAM))
    ap.add_argument("--output-stream",
                    default=env("OUTPUT_STREAM", OUTPUT_STREAM))
    ap.add_argument("--subject-prefix",
                    default=env("INPUT_SUBJECT", INPUT_SUBJECT_PREFIX) + ".")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--trigger-seconds", type=float, default=None)
    ap.add_argument("--max-batch", type=int,
                    default=int(env("MAX_ACK_PENDING",
                                    str(MAX_OFFSETS_PER_TRIGGER))))
    ap.add_argument("--once", action="store_true",
                    help="process available data then exit (smoke/test mode)")
    ap.add_argument("--health-port", type=int,
                    default=(int(env("HEALTH_CHECK_PORT"))
                             if env("HEALTH_CHECK_PORT") else None),
                    help="serve /health /ready /metrics on this port "
                         "(reference src/health.py:7-25; 0 = ephemeral)")
    args = ap.parse_args(argv)

    configure_logging()  # LOG_LEVEL / LOG_FORMAT env, reference names
    log = get_logger("service")
    log.info("starting", extra={"context": {
        "servers": args.servers, "input_stream": args.input_stream,
        "output_stream": args.output_stream}})

    spark = get_spark()
    nats_src.register(spark)
    nats_src.ensure_output_stream(args.servers, args.output_stream)

    raw = (
        spark.readStream.format("nats")
        .option("servers", args.servers)
        .option("stream", args.input_stream)
        .option("subjectPrefix", args.subject_prefix)
        .option("maxBatchSize", str(args.max_batch))
        .load()
    )
    from .streaming.metrics import MetricsListener
    listener = MetricsListener()
    spark.streams.addListener(listener)

    query = start_enrichment_query(
        decode_posts(raw),
        NatsSink(servers=args.servers, stream=args.output_stream),
        args.checkpoint,
        trigger_seconds=args.trigger_seconds,
    )

    health = None
    if args.health_port is not None:
        from .streaming.health import HealthServer
        health = HealthServer(listener, port=args.health_port,
                              ready_check=lambda: query.isActive).start()
        print(f"health endpoints on http://127.0.0.1:{health.port}",
              file=sys.stderr)

    # Graceful shutdown (reference: src/service.py:266-297). Python signal
    # handlers only run on the main thread between bytecodes, and a bare
    # awaitTermination() blocks inside a py4j Java call where they never
    # fire — so the handler just sets a flag and the main thread polls with
    # a timeout, stopping the query itself (the asyncio-handler analog).
    stop_requested = False

    def _stop(signum, frame):
        nonlocal stop_requested
        stop_requested = True

    signal.signal(signal.SIGINT, _stop)
    signal.signal(signal.SIGTERM, _stop)

    if args.once:
        query.processAllAvailable()
        query.stop()
    else:
        while not query.awaitTermination(timeout=1):
            if stop_requested:
                query.stop()
                query.awaitTermination()
                break
    if health is not None:
        health.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
