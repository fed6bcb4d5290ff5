"""CLI entry point — the ``fluent-bit -c config`` analog.

    python -m fluent_bit_spark -c pipeline.conf
    python -m fluent_bit_spark -c pipeline.yaml --master 'local[8]' --json

Loads a classic-mode .conf or YAML pipeline (the same formats the
reference daemon reads — src/fluent-bit.c parses -c into either loader),
runs every output route once in batch mode, and prints the delivered
record count per route, like the reference's out_counter. ``--dry-run``
builds the pipeline and lists routes without executing — the config
validation a deploy step wants. Building starts no Spark job, except to
infer the schema of a json or csv file (an input, or a filter's lookup
table) read without one.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m fluent_bit_spark",
        description="Run a fluent-bit style pipeline config on Spark.",
    )
    ap.add_argument("-c", "--config", required=True,
                    help="pipeline config: classic .conf or YAML")
    ap.add_argument("--master", default=None,
                    help="Spark master override (default: local[$SPARK_GRAFT_CPUS])")
    ap.add_argument("--app-name", default="fluent-bit-spark")
    ap.add_argument("--dry-run", action="store_true",
                    help="build + validate the pipeline, list routes, don't run")
    ap.add_argument("--json", action="store_true",
                    help="emit one JSON object instead of per-route lines")
    args = ap.parse_args(argv)

    from fluent_bit_spark import get_spark
    from fluent_bit_spark.pipeline import load_pipeline

    spark = get_spark(args.app_name, master=args.master)
    try:
        pipe = load_pipeline(spark, args.config)
    except (KeyError, ValueError, OSError) as ex:
        print(f"config error: {ex}", file=sys.stderr)
        return 2
    if args.dry_run:
        routes = [o.get("match", "*") for o in getattr(pipe, "outputs", [])]
        out = {"config": args.config, "routes": routes, "dry_run": True}
        print(json.dumps(out) if args.json else
              "\n".join(f"route {r!r}: ok" for r in routes) or "no routes")
        return 0
    counts = pipe.run_outputs()
    if args.json:
        print(json.dumps({"config": args.config, "delivered": counts}))
    else:
        for route, n in counts.items():
            print(f"route {route!r}: {n} records")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
