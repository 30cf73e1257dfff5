"""CLI / spark-submit entry point (SURVEY rows 31/34, M8):

  python -m zentity_spark.cli about
  python -m zentity_spark.cli resolve --docs d.parquet --model m.json \\
      --output out/ [--checkpoint-dir ckpt/] [--master local[8]] \\
      [--exclude-resolver r]... [--include-resolver r]... [--block-cap N]
  python -m zentity_spark.cli seeded --docs d.parquet --model m.json \\
      --output out/ [--id DOC]... [--attr name=value]... [--term T]... \\
      [--max-hops N]

On a cluster: ``spark-submit --py-files zentity_spark.zip -m`` equivalent —
all options are plain argv, no driver-local state beyond the model JSON.
"""

from __future__ import annotations

import argparse
import json
import sys

from zentity_spark import ABOUT
from zentity_spark.io import Storage
from zentity_spark.model import Model
from zentity_spark.pipeline import ResolutionJob
from zentity_spark.plans.compiler import Scope
from zentity_spark.session import get_spark


def _common(ap: argparse.ArgumentParser) -> None:
    ap.add_argument("--docs", required=True, help="input docs table/path")
    ap.add_argument("--model", required=True, help="entity model JSON file")
    ap.add_argument("--output", required=True, help="output table/path")
    ap.add_argument("--storage-format", default=None,
                    help="table format (default parquet; env "
                         "ZENTITY_STORAGE_FORMAT; e.g. iceberg with jars)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--block-cap", type=int, default=1000)
    ap.add_argument("--include-resolver", action="append", default=[])
    ap.add_argument("--exclude-resolver", action="append", default=[])
    ap.add_argument("--checkpoint-dir", default=None,
                    help="stage cache; stages go under <dir>/<fingerprint> "
                         "and a re-run over it resumes from the last "
                         "completed stage")


def _job(args) -> ResolutionJob:
    spark = get_spark(master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    storage = Storage(spark, fmt=args.storage_format)
    docs = storage.read(args.docs)
    with open(args.model) as f:
        model = Model.parse(f.read())
    scope = Scope(include_resolvers=tuple(args.include_resolver),
                  exclude_resolvers=tuple(args.exclude_resolver))
    job = ResolutionJob(spark, docs, model, scope=scope,
                        block_cap=args.block_cap, storage=storage)
    if args.checkpoint_dir:
        job.cache_stages_under(args.checkpoint_dir)
    return job


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="zentity_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("about")

    rp = sub.add_parser("resolve", help="batch all-pairs resolution")
    _common(rp)

    sp = sub.add_parser("seeded", help="seeded resolution (one request)")
    _common(sp)
    sp.add_argument("--id", action="append", default=[])
    sp.add_argument("--attr", action="append", default=[],
                    help="attr=value input attribute (repeatable)")
    sp.add_argument("--term", action="append", default=[])
    sp.add_argument("--max-hops", type=int, default=100)
    sp.add_argument("--max-time-per-query", type=float, default=None,
                    help="seconds; stop snowball expansion when exceeded "
                         "(max_time_per_query parity)")

    args = ap.parse_args(argv)

    if args.cmd == "about":
        print(json.dumps(ABOUT, indent=2))
        return 0

    job = _job(args)
    if args.cmd == "resolve":
        out = job.clusters()
    else:
        attributes: dict = {}
        for kv in args.attr:
            k, _, v = kv.partition("=")
            attributes.setdefault(k, []).append(v)
        out = job.response(attributes=attributes or None,
                           terms=args.term or None,
                           ids=args.id or None,
                           max_hops=args.max_hops,
                           max_time_per_query=args.max_time_per_query)
    job.storage.write(out, args.output)
    n = job.storage.read(args.output).count()
    print(json.dumps({"output": args.output, "rows": n}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
