"""Engine CLI — run/list/status/clear parity with the reference's command
surface (/root/reference/src/vunnel/cli/cli.py:150-311).

    python -m vunnel_spark [-c CONFIG.yaml] list [--tag TAG]
    python -m vunnel_spark run QUERY [--sf-dir DIR] [--show N] [--explain]
    python -m vunnel_spark status [--sf-dir DIR]
    python -m vunnel_spark clear WORKSPACE [--input-only|--results-only] [--dry-run]

Defaults resolve config-file-then-env (reference cli/config.py:157-235
parity): a ``.vunnel_spark.yaml`` (or ``-c`` path) supplies defaults for
``sf_dir``/``show``/``explain`` and the Spark session knobs, and
``VUNNEL_SPARK_*`` env vars override the file; explicit flags beat both.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vunnel_spark", description=__doc__)
    p.add_argument(
        "-c", "--config", default=".vunnel_spark.yaml",
        help="YAML config file (missing file = dataclass defaults); "
             "VUNNEL_SPARK_* env vars override it, flags override both",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument(
        "--tags", nargs="+",
        help="U7 tag algebra: must have ALL plain tags and NONE of the "
             "'!'-prefixed ones (reference providers/__init__.py:150-183)",
    )
    p_list.add_argument("--tag", help="single-tag shorthand for --tags")
    p_list.add_argument("--no-oracle", action="store_true", help="only rows-only queries")

    p_run = sub.add_parser("run", help="run one query, or a tag-selected set")
    p_run.add_argument("query", nargs="?", help="query name (omit with --tags)")
    p_run.add_argument(
        "--tags", nargs="+",
        help="run every query matching the tag algebra instead of one name",
    )
    p_run.add_argument("--sf-dir", default=None)
    p_run.add_argument("--show", type=int, default=None, help="rows to print")
    p_run.add_argument("--explain", action="store_true", default=None,
                       help="print the physical plan")

    p_status = sub.add_parser("status", help="registry + table inventory")
    p_status.add_argument("--sf-dir", default=None)

    p_clear = sub.add_parser(
        "clear",
        help="reset a pipeline workspace (reference workspace.clear(): "
             "input/ + results/ + run state; cli.py clear command)",
    )
    p_clear.add_argument("workspace", help="workspace root directory")
    p_clear.add_argument("--input-only", action="store_true")
    p_clear.add_argument("--results-only", action="store_true")
    p_clear.add_argument("--dry-run", action="store_true")

    p_compact = sub.add_parser(
        "compact",
        help="compact small files in a partitioned parquet store "
             "(sinks/writers.py compact_partitions; pure re-layout)",
    )
    p_compact.add_argument("store", help="store root directory")
    p_compact.add_argument(
        "--target-mb", type=int, default=128, help="target file size (MB)"
    )
    p_compact.add_argument(
        "--min-files", type=int, default=4,
        help="only rewrite partition dirs with more files than this",
    )
    return p


#: workspace members `clear` may remove — never arbitrary paths
_CLEAR_INPUT = ("input", "landing", "cache")
_CLEAR_RESULTS = ("results", "checkpoints", "_state.json", "checksums")


def _clear_workspace(root: str, input_only: bool, results_only: bool, dry_run: bool) -> list[str]:
    """Remove a workspace's known members plus stale stage/backup dirs.

    Mirrors the reference's Workspace.clear()/clear_input()/clear_results()
    (workspace.py:162-194) with the same safety shape: only RECOGNIZED
    member names under the given root are touched, so a mistyped path
    cannot delete unrelated data.  Stale ``.__stage__*``/``.__old__``
    leftovers from a crashed atomic publish are always swept.
    """
    import glob
    import os
    import shutil

    members: tuple[str, ...] = ()
    if not results_only:
        members += _CLEAR_INPUT
    if not input_only:
        members += _CLEAR_RESULTS
    removed = []
    for m in members:
        target = os.path.join(root, m)
        for path in [target] + glob.glob(f"{target}.__stage__*") + [f"{target}.__old__"]:
            if os.path.isdir(path):
                if not dry_run:
                    shutil.rmtree(path)
                removed.append(path)
            elif os.path.isfile(path):
                if not dry_run:
                    os.remove(path)
                removed.append(path)
    return removed


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from vunnel_spark.config import load as load_config

    try:
        cfg = load_config(args.config)
    except ValueError as e:
        print(f"config error: {e}", file=sys.stderr)
        return 2
    # flags > env > config file > dataclass defaults
    for attr, fallback in (("sf_dir", cfg.sf_dir), ("show", cfg.show),
                           ("explain", cfg.explain)):
        if getattr(args, attr, None) is None and hasattr(args, attr):
            setattr(args, attr, fallback)
    from vunnel_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()

    if args.cmd == "list":
        from vunnel_spark.registry import select_by_tags

        criteria = list(args.tags or [])
        if args.tag:
            criteria.append(args.tag)
        try:
            selected = select_by_tags(criteria)
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
        for name in selected:
            spec = REGISTRY[name]
            if args.no_oracle and spec.oracle is not None:
                continue
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name:38s} {kind:9s} {','.join(spec.tags)}")
        return 0

    if args.cmd == "clear":
        import os

        if args.input_only and args.results_only:
            print("--input-only and --results-only are exclusive", file=sys.stderr)
            return 2
        if not os.path.isdir(args.workspace):
            print(f"no such workspace: {args.workspace}", file=sys.stderr)
            return 2
        removed = _clear_workspace(
            args.workspace, args.input_only, args.results_only, args.dry_run
        )
        verb = "would remove" if args.dry_run else "removed"
        for path in removed:
            print(f"{verb} {path}")
        print(f"{verb} {len(removed)} workspace member(s)")
        return 0

    from vunnel_spark.session import get_spark

    def _session():
        spark = get_spark(cfg.spark.app_name)
        if cfg.spark.shuffle_partitions > 0:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(cfg.spark.shuffle_partitions)
            )
        return spark

    if args.cmd == "compact":
        import os

        if not os.path.isdir(args.store):
            print(f"no such store: {args.store}", file=sys.stderr)
            return 2
        from vunnel_spark.sinks.writers import compact_partitions

        report = compact_partitions(
            _session(),
            args.store,
            target_file_bytes=args.target_mb << 20,
            min_files=args.min_files,
        )
        print(json.dumps({
            "store": args.store,
            "rewritten": {k: {"files_before": b, "files_after": a}
                          for k, (b, a) in sorted(report.items())},
        }, indent=2))
        return 0

    if args.cmd == "status":
        from vunnel_spark.session import load_tables

        tables = {t: df.count() for t, df in load_tables(_session(), args.sf_dir).items()}
        print(json.dumps({
            "queries": len(REGISTRY),
            "with_oracle": sum(1 for s in REGISTRY.values() if s.oracle),
            "sf_dir": args.sf_dir,
            "tables": tables,
        }, indent=2))
        return 0

    # run: one named query, or every query a tag expression selects
    if args.tags:
        from vunnel_spark.registry import select_by_tags

        try:
            targets = select_by_tags(args.tags)
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
        if args.query:
            print("give a query name OR --tags, not both", file=sys.stderr)
            return 2
        if not targets:
            print("no queries match", file=sys.stderr)
            return 1
    elif args.query:
        if args.query not in REGISTRY:
            close = [n for n in sorted(REGISTRY) if args.query.lower() in n.lower()]
            print(f"unknown query {args.query!r}", file=sys.stderr)
            if close:
                print(f"did you mean: {', '.join(close[:5])}", file=sys.stderr)
            return 2
        targets = [args.query]
    else:
        print("query name or --tags required", file=sys.stderr)
        return 2
    spark = _session()
    for name in targets:
        df = REGISTRY[name].fn(spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        t0 = time.perf_counter()
        n = df.count()
        dt = time.perf_counter() - t0
        if len(targets) == 1:
            df.show(args.show, truncate=False)
        print(f"{n} rows in {dt:.2f}s  ({name} @ {args.sf_dir})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
