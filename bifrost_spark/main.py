"""CLI entry point for the archival daemon — reference main.clj parity.

Mirrors the reference's boot contract (main.clj:14-37):
  * ``-c/--config`` JSON path (the reference used EDN, main.clj:31);
  * credentials come from the environment / provider chain, never config
    (main.clj:20-23 let AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY override;
    with s3a the Hadoop provider chain does this natively);
  * build the system, start the standing query, block until termination
    (wait! at main.clj:10-12 → ``awaitTermination``);
  * graceful shutdown stops the query then the session (system.clj stop
    order).

Run: ``python -m bifrost_spark.main -c etc/archive.json``
"""

from __future__ import annotations

import argparse
import json
import signal
import sys

from bifrost_spark.cloud import apply_conf, object_store_conf
from bifrost_spark.session import get_spark
from bifrost_spark.streaming.archive import (
    ArchiveConfig,
    start_archive,
    start_baldr_archive,
)
from bifrost_spark.streaming.listener import MetricsListener


def load_config(path: str) -> ArchiveConfig:
    with open(path) as fh:
        raw = json.load(fh)
    known = {f for f in ArchiveConfig.__dataclass_fields__}
    unknown = set(raw) - known
    if unknown:
        # system.clj:38 exits 2 on an unknown storage type; same spirit here
        raise SystemExit(f"unknown config keys: {sorted(unknown)} (exit 2)")
    for tup_key in ("topic_whitelist", "topic_blacklist"):
        if raw.get(tup_key) is not None and tup_key in raw:
            raw[tup_key] = tuple(raw[tup_key])
    return ArchiveConfig(**raw)


def run_compact(args) -> int:
    """Maintenance subcommand: fold small archive leaves/files (OPTIMIZE).

    A path holding ``_spark_metadata`` is a manifest file sink
    (streaming/manifest_compact.py — run with the writing query stopped);
    any other path is an offset-named archive root (streaming/compact.py).
    Both run on compact.py's crash-safe core.  Prints one JSON stats line.
    """
    from pyspark.sql import SparkSession

    from bifrost_spark.streaming._sink import hadoop_fs
    from bifrost_spark.streaming.compact import compact_archive
    from bifrost_spark.streaming.manifest_compact import compact_manifest_sink

    # reuse a caller's session (in-process/maintenance-script use); only
    # stop what this command itself created
    existing = SparkSession.getActiveSession()
    spark = existing or get_spark("bifrost-compact")
    try:
        meta = spark._jvm.org.apache.hadoop.fs.Path(args.path + "/_spark_metadata")
        if hadoop_fs(spark, args.path).exists(meta):
            stats = compact_manifest_sink(spark, args.path,
                                          target_bytes=args.target_bytes)
        else:
            stats = compact_archive(spark, args.path,
                                    target_bytes=args.target_bytes)
        print(json.dumps(stats.__dict__))
    finally:
        if existing is None:
            spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="bifrost_spark archival daemon")
    ap.add_argument("-c", "--config", default="./etc/archive.json",
                    help="JSON config path (default ./etc/archive.json)")
    sub = ap.add_subparsers(dest="command")
    comp = sub.add_parser(
        "compact", help="fold small archive files (maintenance window)"
    )
    comp.add_argument("--path", required=True, help="archive root / sink dir")
    comp.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    args = ap.parse_args(argv)

    if args.command == "compact":
        return run_compact(args)

    cfg = load_config(args.config)
    spark = get_spark("bifrost-archive")
    # uploader-selection parity (system.clj): configure the object-store
    # connector for the sink scheme (s3a committer / abfss auth); local
    # paths are a no-op
    apply_conf(spark, object_store_conf(cfg.output_path))
    # telemetry.clj:30-39 parity: StatsD endpoint from STATSD_HOST/_PORT env
    listener = MetricsListener.from_env()
    spark.streams.addListener(listener)
    if cfg.sink_format == "baldr":
        query = start_baldr_archive(spark, cfg)
    elif cfg.sink_format == "parquet":
        query = start_archive(spark, cfg)
    else:  # system.clj:38 exit-2 analog for an unknown storage type
        raise SystemExit(f"unknown sink_format {cfg.sink_format!r} (exit 2)")

    requested = {"stop": False}

    def shutdown(signum, frame):  # graceful stop: query, then session
        requested["stop"] = True
        query.stop()

    signal.signal(signal.SIGTERM, shutdown)
    signal.signal(signal.SIGINT, shutdown)
    try:
        query.awaitTermination()
    except Exception:
        # the signal lands while awaitTermination blocks in the gateway
        # call, so the interrupted call errors after query.stop() — that is
        # the expected graceful-shutdown path, anything else is real
        if not requested["stop"]:
            raise
    finally:
        spark.streams.removeListener(listener)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
