"""CLI entrypoint (reference A20 parity: argparse + config + logging,
main.py:364-421) — run pipelines and queries from the shell.

    python -m etl_data_processor_spark medicines --out /tmp/out_csv [--cards 40]
    python -m etl_data_processor_spark query q_agg_group --sf-dir /root/testdata/sf0.01
    python -m etl_data_processor_spark list
"""

from __future__ import annotations

import argparse
import logging
import sys


def _setup_logging() -> logging.Logger:
    # stdout logger, reference-style (main.py:364-374)
    logger = logging.getLogger("etl_data_processor_spark")
    handler = logging.StreamHandler(sys.stdout)
    handler.setFormatter(logging.Formatter("%(asctime)s %(levelname)s %(message)s"))
    logger.addHandler(handler)
    logger.setLevel(logging.INFO)
    return logger


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="etl_data_processor_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_med = sub.add_parser("medicines", help="run the reference pipeline end-to-end")
    p_med.add_argument("--out", required=True, help="output CSV directory")
    p_med.add_argument("--cards", type=int, default=40, help="synthetic card count")
    p_med.add_argument("--chunk-size", type=int, default=200, help="enrichment chunk size (A14)")

    p_q = sub.add_parser("query", help="run one registry query and show it")
    p_q.add_argument("name")
    p_q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_q.add_argument("--limit", type=int, default=20)

    sub.add_parser("list", help="list registry queries")

    p_t = sub.add_parser(
        "table", help="log-structured table format lifecycle ops"
    )
    p_t.add_argument(
        "action",
        choices=["history", "show", "compact", "vacuum", "maintain"],
    )
    p_t.add_argument("table_dir")
    p_t.add_argument("--version", type=int, default=None)
    p_t.add_argument("--limit", type=int, default=20)
    p_t.add_argument("--keep-versions", type=int, default=3)

    p_a = sub.add_parser(
        "artifacts",
        help="artifact store maintenance (_artifacts GC: indexes and trained models)",
    )
    p_a.add_argument("action", choices=["vacuum"])
    p_a.add_argument(
        "--warehouse",
        default="spark-warehouse",
        help="warehouse dir holding _artifacts/",
    )
    p_a.add_argument(
        "--min-age",
        type=float,
        default=600.0,
        help="spare artifacts younger than this many seconds",
    )
    p_a.add_argument("--dry-run", action="store_true")

    args = parser.parse_args(argv)
    log = _setup_logging()

    if args.cmd == "list":
        # Registry index (VERDICT r3 item 10): one line per key — name,
        # gate kind, defining file:line, and the docstring head (what the
        # query proves). No Spark session needed.
        import inspect
        import os

        from etl_data_processor_spark.registry import ORACLE, load_all

        queries = load_all()

        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        for name in sorted(queries):
            fn = queries[name]
            kind = "oracle" if name in ORACLE else "rows-only"
            try:
                code = inspect.unwrap(fn).__code__
                where = (
                    os.path.relpath(code.co_filename, pkg_root)
                    + f":{code.co_firstlineno}"
                )
            except (AttributeError, TypeError, ValueError):
                where = "?"
            doc = inspect.getdoc(fn) or ""
            head = doc.splitlines()[0].strip() if doc else ""
            print(f"{name}\t{kind}\t{where}\t{head}")
        return 0

    if args.cmd == "artifacts":
        # filesystem-only action: no Spark session needed
        from etl_data_processor_spark.ops.dedup import vacuum_artifacts

        dropped = vacuum_artifacts(
            warehouse=args.warehouse,
            min_age_seconds=args.min_age,
            dry_run=args.dry_run,
        )
        verb = "would reclaim" if args.dry_run else "reclaimed"
        for slug in dropped:
            print(slug)
        log.info("%s %d artifact slug(s)", verb, len(dropped))
        return 0

    if args.cmd == "table" and args.action == "history":
        # log-only action: no Spark session needed
        from etl_data_processor_spark import tableformat as TF

        for c in TF.history(args.table_dir):
            adds = sum(1 for a in c["actions"] if a["op"] == "add")
            rems = sum(1 for a in c["actions"] if a["op"] == "remove")
            print(
                f"v{c['version']:08d}\t{c['mode']}\t"
                f"+{adds} groups\t-{rems} groups"
            )
        return 0

    from etl_data_processor_spark.session import get_spark

    spark = get_spark("cli")
    if args.cmd == "table":
        from etl_data_processor_spark import tableformat as TF

        if args.action == "show":
            df = TF.read(spark, args.table_dir, version=args.version)
            df.show(args.limit, truncate=False)
            log.info("%d rows", df.count())
        elif args.action == "compact":
            v = TF.compact(spark, args.table_dir)
            log.info("compacted at v%d", v)
        elif args.action == "vacuum":
            dropped = TF.vacuum(
                args.table_dir, keep_versions=args.keep_versions
            )
            log.info("vacuumed %d group(s)", len(dropped))
        elif args.action == "maintain":
            v = TF.maintain(spark, args.table_dir)
            log.info(
                "maintain: %s",
                f"compacted at v{v}" if v is not None else "under budget",
            )
        return 0
    if args.cmd == "medicines":
        from etl_data_processor_spark.io import write_csv
        from etl_data_processor_spark.pipelines.medicines import (
            run_pipeline,
            synthetic_cards,
        )

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        # the row count rides on the write's own job, so the pipeline (and
        # its enrichment calls) runs once
        written = Observation("medicines")
        out_df = run_pipeline(synthetic_cards(spark, args.cards)).observe(
            written, F.count(F.lit(1)).alias("rows")
        )
        # CLI convenience: one CSV file, like the reference's single output
        # (main.py:329-331). The engine-level write_csv stays partitioned —
        # a 100 TB result should never be forced through one writer.
        write_csv(out_df.coalesce(1), args.out)
        log.info("wrote %d rows to %s", written.get["rows"], args.out)
        return 0

    if args.cmd == "query":
        from etl_data_processor_spark.registry import load_all

        queries = load_all()

        if args.name not in queries:
            log.error("unknown query %r (see `list`)", args.name)
            return 2
        df = queries[args.name](spark, args.sf_dir)
        df.show(args.limit, truncate=False)
        log.info("%d rows", df.count())
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
