"""CLI entry point — the engine's analog of the reference's executable
surface (``python -m cdc_kafka``, reference ``options.py`` flag names,
``__main__.py:1-15``) plus its standalone tools:

    python -m sqlserver_cdc_to_kafka_spark --sf-dir DIR --sink-dir OUT
        run the pipeline: unify the whole-table snapshot with the change
        feed (T7) in one plan and write each topic's envelope rows to the
        sink as parquet in one write (main.py's produce loop, batch form).
    ... --run-validations
        run the validator family (validation.py:56-197 and
        progress_topic_validator.py analogs) and print one JSON line per
        check — like the reference, write paths are disabled in this mode
        (main.py:313 ``disable_writes``).
    ... --report-progress-only
        print the progress-topic rollup and exit (main.py:313).
    ... --show-snapshot-history
        the show_snapshot_history.py tool: snapshot start/complete pairing.
    ... --find-truncation-candidates
        the find_truncation_opportunities.py tool: per-column truncation
        report.
    These four read-only modes report over --sf-dir's fixture tables and never
    read a sink, so combined with --sink-dir they exit 2 naming the flag.
    ... --reset-progress --topic-names T1,T2 [--progress-kind K] [--execute]
        the progress_reset_tool.py analog (progress_reset_tool.py:12):
        append tombstone progress records for the named topics' sinks under
        --sink-dir so their next run starts from scratch; other topics keep
        their offsets. Dry-run (report only) unless --execute is set, like
        the reference.

The option flags reuse the reference's names (``--table-include-regex``,
``--topic-name-template``, …) for the six options pipeline mode acts on: the
four table regexes, the topic-name template and
``--disable-deletion-tombstones``. ``--options-json`` accepts the same six as
an `EngineConfig` JSON object (F16) and rejects any other key; a flag given
on the command line overrides its JSON value. The reference's other options
(``--db-row-batch-size``, ``--lsn-gap-handling``, ``--partition-count``, …)
would change nothing here, so they are not accepted.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Sequence

from sqlserver_cdc_to_kafka_spark.config import EngineConfig


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python -m sqlserver_cdc_to_kafka_spark")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                   help="directory of the source parquet tables")
    p.add_argument("--sink-dir", default=None,
                   help="output directory for pipeline mode (required there; "
                        "rejected with a read-only mode flag)")
    p.add_argument("--options-json", default=None,
                   help="EngineConfig as a JSON object (overrides flag defaults)")
    # reference-named option flags (options.py)
    p.add_argument("--table-include-regex", default=None)
    p.add_argument("--table-exclude-regex", default=None)
    p.add_argument("--snapshot-table-include-regex", default=None)
    p.add_argument("--snapshot-table-exclude-regex", default=None)
    p.add_argument("--topic-name-template", default=None)
    p.add_argument("--disable-deletion-tombstones", action="store_true")
    # modes
    p.add_argument("--run-validations", action="store_true")
    p.add_argument("--report-progress-only", action="store_true")
    p.add_argument("--show-snapshot-history", action="store_true")
    p.add_argument("--find-truncation-candidates", action="store_true")
    # progress_reset_tool analog (reference progress_reset_tool.py flags)
    p.add_argument("--reset-progress", action="store_true")
    p.add_argument("--run-query", default=None, metavar="NAME[,NAME...]",
                   help="run registered queries by name against --sf-dir and "
                        "print rows as JSON lines (see --list-queries)")
    p.add_argument("--list-queries", action="store_true",
                   help="print every registered query name and exit")
    p.add_argument("--limit", type=int, default=20,
                   help="max rows printed per --run-query result")
    p.add_argument("--topic-names", default=None,
                   help="comma-separated topics for --reset-progress")
    p.add_argument("--progress-kind", default="change_rows",
                   choices=("change_rows", "snapshot_rows", "all"))
    p.add_argument("--execute", action="store_true",
                   help="actually write the reset (default: dry-run report)")
    return p


def _config_from_args(args: argparse.Namespace) -> EngineConfig:
    if args.options_json:
        cfg = EngineConfig.from_json(args.options_json)
    else:
        cfg = EngineConfig()
    overrides = {
        "table_include_regex": args.table_include_regex,
        "table_exclude_regex": args.table_exclude_regex,
        "snapshot_table_include_regex": args.snapshot_table_include_regex,
        "snapshot_table_exclude_regex": args.snapshot_table_exclude_regex,
        "topic_name_template": args.topic_name_template,
    }
    for k, v in overrides.items():
        if v is not None:
            setattr(cfg, k, v)
    if args.disable_deletion_tombstones:
        cfg.disable_deletion_tombstones = True
    return cfg


_VALIDATION_CHECKS = (
    # the §5 validator families, in the order the reference runs them
    "val_topic_summary",
    "val_set_reconciliation",
    "val_row_comparison",
    "val_progress_rollup",
    "val_duplicate_entries",
    "val_lag_regressions",
    "val_missing_offsets",
    "val_snapshot_key_order",
    "val_snapshot_history",
)


# the read-only modes (argparse dest) and the registered queries each runs
_READ_ONLY_MODES = {
    "run_validations": _VALIDATION_CHECKS,
    "report_progress_only": ("val_progress_rollup",),
    "show_snapshot_history": ("val_snapshot_history",),
    "find_truncation_candidates": ("val_truncation_report",),
}


def _emit(kind: str, **payload: object) -> None:
    print(json.dumps({"kind": kind, **payload}, default=str))


def _run_named_queries(spark, sf_dir: str, names: Sequence[str]) -> None:
    from sqlserver_cdc_to_kafka_spark.registry import load_all

    reg = load_all()
    for name in names:
        df = reg[name].fn(spark, sf_dir)
        _emit("check", name=name, rows=df.count())


def _run_pipeline(spark, sf_dir: str, sink_dir: str, cfg: EngineConfig) -> None:
    """Batch form of the reference's produce loop: one unpaged snapshot scan
    (nothing resumes mid-run) unified with the change feed, written once."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sqlserver_cdc_to_kafka_spark.queries.cdc import cdc_events
    from sqlserver_cdc_to_kafka_spark.streaming.snapshot_stream import unified_feed
    from sqlserver_cdc_to_kafka_spark.tables import load_table

    fq_name = "dbo.orders"
    if not cfg.table_followed(fq_name):
        _emit("skipped", table=fq_name, reason="table_followed=False")
        return
    topic = cfg.topic_for("dbo", "orders")
    orders = load_table(spark, sf_dir, "orders")
    snapshot = [orders] if cfg.table_snapshotted(fq_name) else []
    feed = cdc_events(spark, sf_dir)
    if cfg.disable_deletion_tombstones:
        feed = feed.filter("__operation != 1")
    path = f"{sink_dir}/{topic}"
    obs = Observation()
    unified_feed(snapshot, feed).observe(
        obs,
        F.expr("count(1) AS rows"),
        F.expr("count_if(__operation = 0) AS snapshot_rows"),
    ).write.mode("overwrite").parquet(path)
    _emit("topic_written", topic=topic, path=path, **obs.get)


def _reset_progress(args: argparse.Namespace) -> int:
    """progress_reset_tool.py:12 analog — no Spark session needed; operates
    on the sink manifests directly."""
    import os

    from sqlserver_cdc_to_kafka_spark.streaming.sinks import TransactionalDirSink

    if not args.topic_names or not args.sink_dir:
        print("error: --reset-progress requires --topic-names and --sink-dir",
              file=sys.stderr)
        return 2
    kinds = (
        ("change_rows", "snapshot_rows")
        if args.progress_kind == "all"
        else (args.progress_kind,)
    )
    for topic in (t.strip() for t in args.topic_names.split(",")):
        root = os.path.join(args.sink_dir, topic)
        if not os.path.exists(root):
            _emit("reset", topic=topic, found=False)
            continue
        sink = TransactionalDirSink(root, topic)
        prior = sink.last_progress()
        if args.execute:
            n = sink.reset_progress(kinds)
            _emit("reset", topic=topic, found=True, prior_position=prior,
                  tombstones_written=n, executed=True)
        else:
            _emit("reset", topic=topic, found=True, prior_position=prior,
                  executed=False, note="dry-run; pass --execute to write")
    return 0


def main(argv: Sequence[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    cfg = _config_from_args(args)

    if args.reset_progress:
        return _reset_progress(args)

    if args.list_queries:
        from sqlserver_cdc_to_kafka_spark.registry import load_all

        for name in sorted(load_all()):
            print(name)
        return 0

    read_only = [mode for mode in _READ_ONLY_MODES if getattr(args, mode)]
    if read_only and args.sink_dir:
        flag = "--" + read_only[0].replace("_", "-")
        print(f"error: {flag} reports over --sf-dir and does not read "
              "--sink-dir; drop one of them", file=sys.stderr)
        return 2

    from sqlserver_cdc_to_kafka_spark.session import get_spark

    spark = get_spark("cdc-engine-cli")

    if args.run_query:
        from sqlserver_cdc_to_kafka_spark.registry import load_all

        reg = load_all()
        names = [n.strip() for n in args.run_query.split(",")]
        # validate the whole request before executing anything: an unknown
        # second name must not leave partial results behind an exit code 2
        unknown = [n for n in names if n not in reg]
        if unknown:
            for name in unknown:
                print(f"error: unknown query {name!r} (see --list-queries)",
                      file=sys.stderr)
            return 2
        for name in names:
            df = reg[name].fn(spark, args.sf_dir)
            rows = df.limit(args.limit).collect()
            _emit("query", name=name, n_shown=len(rows),
                  rows=[r.asDict() for r in rows])
        return 0

    for mode in read_only:
        _run_named_queries(spark, args.sf_dir, _READ_ONLY_MODES[mode])
    if read_only:
        return 0
    if not args.sink_dir:
        print("error: --sink-dir is required in pipeline mode", file=sys.stderr)
        return 2
    _run_pipeline(spark, args.sf_dir, args.sink_dir, cfg)
    return 0


if __name__ == "__main__":
    sys.exit(main())
