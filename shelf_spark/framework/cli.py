"""CLI entry point (⇄ reference src/shelf/__init__.py:56-185).

Subcommands mirror the reference surface:

    shelf init
    shelf snapshot <path> <dataset> [--force] [--edit]
    shelf new-table <path> [dep ...]
    shelf run [regex] [--force] [--dry-run]
    shelf list [regex] [--paths]
    shelf db [query] [--names full|short|both] [--csv]
    shelf audit [--fix]
    shelf export <db-file> [--short]

Run as ``python -m shelf_spark.framework.cli ...``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys
from pathlib import Path

from . import paths
from .core import Shelf
from .exceptions import ShelfError
from .snapshots import Snapshot
from .types import StepURI, is_valid_version
from .utils import add_to_gitignore, checksum_manifest, load_yaml, save_yaml


def _get_spark():
    from ..session import get_spark

    return get_spark("shelf-cli")


def _maybe_add_version(dataset: str) -> str:
    """Append today's ISO date unless the last segment already is a
    version (reference __init__.py:492-509)."""
    last = dataset.rsplit("/", 1)[-1]
    if is_valid_version(last):
        return dataset
    return f"{dataset}/{dt.date.today().isoformat()}"


# -- subcommands -------------------------------------------------------------


def cmd_init(args) -> int:
    Shelf.init()
    print(f"initialized {paths.CONFIG_FILE}")
    return 0


def cmd_snapshot(args) -> int:
    shelf = Shelf()
    dataset = _maybe_add_version(args.dataset)
    uri = StepURI.parse(f"snapshot://{dataset}")
    if uri in shelf.steps and not args.force:
        print(f"error: {uri} already registered (use --force)", file=sys.stderr)
        return 1
    prior: dict = {}
    if args.force and paths.snapshot_metadata_path(uri.path).exists():
        # keep descriptive metadata, refresh checksum/manifest/date
        doc = load_yaml(paths.snapshot_metadata_path(uri.path)) or {}
        prior = {
            k: v
            for k, v in doc.items()
            if k
            not in {"uri", "version", "checksum", "manifest", "date_accessed", "snapshot_type", "extension"}
        }
    snap = Snapshot.create(args.path, dataset, prior)
    add_to_gitignore(str(snap.data_path))
    if uri not in shelf.steps:
        shelf.add_step(uri)
    shelf.save()
    if getattr(args, "edit", False):
        # open the sidecar for provenance curation (⇄ reference
        # __init__.py:215-216, which hardcodes vim; $EDITOR wins here)
        import os
        import subprocess

        editor = os.environ.get("EDITOR", "vim")
        subprocess.run([editor, str(snap.metadata_path)], check=False)
    print(f"snapshotted {args.path} → {uri}")
    return 0


def cmd_new_table(args) -> int:
    shelf = Shelf()
    dataset = _maybe_add_version(args.path)
    uri = shelf.new_table(dataset, args.deps)
    shelf.save()
    script = paths.TABLE_SCRIPTS_DIR / uri.dataset_path
    script.parent.mkdir(parents=True, exist_ok=True)
    placeholder = script.with_suffix(".sql")
    if not placeholder.exists() and not script.with_suffix(".py").exists():
        # placeholder generation, actually wired in (the reference
        # documented this but never called it — SURVEY §2.1 N24)
        dep_names = "dep1"  # author replaces with simplified dep names
        placeholder.write_text(
            f"-- build script for {uri}\n-- deps are temp views; use {{name}} template vars\nSELECT * FROM {{{dep_names}}}\n"
            if args.deps
            else f"-- build script for {uri}\nSELECT 1 AS placeholder\n"
        )
        print(f"wrote placeholder script {placeholder}")
    print(f"registered {uri}")
    return 0


def cmd_run(args) -> int:
    from .steps import execute_dag, prune_completed, prune_with_regex

    shelf = Shelf()
    dag = shelf.resolve_latest()
    if args.regex:
        dag = prune_with_regex(dag, args.regex)
    if not args.force:
        dag = prune_completed(dag)
    if not dag:
        print("Already up to date!")
        return 0
    spark = None if args.dry_run else _get_spark()
    execute_dag(spark, dag, dry_run=args.dry_run)
    return 0


def cmd_list(args) -> int:
    import re

    shelf = Shelf()
    steps = sorted(shelf.steps)
    if args.regex:
        rx = re.compile(args.regex)
        steps = [s for s in steps if rx.search(str(s))]
    for s in steps:
        if args.paths:
            print(paths.metadata_path(s))
        else:
            print(s)
    return 0


def cmd_db(args) -> int:
    from .query import execute_query, register_shelf_views

    shelf = Shelf()
    spark = _get_spark()
    if args.query:
        execute_query(spark, shelf, args.query, names=args.names, csv=args.csv)
        return 0
    # interactive-ish REPL over spark.sql (reference opens a duckdb shell)
    register_shelf_views(spark, shelf, args.names)
    print("shelf db — enter SQL, blank line to exit")
    while True:
        try:
            line = input("sql> ").strip()
        except EOFError:
            break
        if not line:
            break
        try:
            spark.sql(line).show(50, truncate=False)
        except Exception as exc:  # noqa: BLE001
            print(f"error: {exc}", file=sys.stderr)
    return 0


def cmd_audit(args) -> int:
    """Directory snapshots: manifest present ∧ digest matches stored
    checksum; --fix rewrites the checksum from the manifest (⇄ reference
    __init__.py:315-350)."""
    shelf = Shelf()
    bad = 0
    for step in sorted(shelf.steps):
        if step.scheme != "snapshot":
            continue
        meta_path = paths.snapshot_metadata_path(step.path)
        if not meta_path.exists():
            print(f"MISSING sidecar: {step}")
            bad += 1
            continue
        doc = load_yaml(meta_path) or {}
        if doc.get("snapshot_type") != "directory":
            continue
        manifest = doc.get("manifest")
        if not manifest:
            print(f"MISSING manifest: {step}")
            bad += 1
            continue
        expected = checksum_manifest(manifest)
        if doc.get("checksum") != expected:
            if args.fix:
                doc["checksum"] = expected
                save_yaml(doc, meta_path)
                print(f"FIXED checksum: {step}")
            else:
                print(f"BAD checksum: {step}")
                bad += 1
    if bad == 0:
        print("audit ok")
    return 1 if bad else 0


def cmd_export(args) -> int:
    from .query import export_tables
    from .steps import execute_dag, prune_completed

    shelf = Shelf()
    spark = _get_spark()
    # bring the DAG to freshness first (reference __init__.py:285-312)
    dag = prune_completed(shelf.resolve_latest())
    if dag:
        execute_dag(spark, dag)
    names = export_tables(spark, shelf, Path(args.db_file), short_names=args.short)
    print(f"exported {len(names)} tables → {args.db_file}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="shelf", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("init").set_defaults(fn=cmd_init)

    p = sub.add_parser("snapshot")
    p.add_argument("path")
    p.add_argument("dataset")
    p.add_argument("--force", action="store_true")
    p.add_argument("--edit", action="store_true", help="open the sidecar in $EDITOR")
    p.set_defaults(fn=cmd_snapshot)

    p = sub.add_parser("new-table")
    p.add_argument("path")
    p.add_argument("deps", nargs="*")
    p.set_defaults(fn=cmd_new_table)

    p = sub.add_parser("run")
    p.add_argument("regex", nargs="?")
    p.add_argument("--force", action="store_true")
    p.add_argument("--dry-run", action="store_true")
    p.set_defaults(fn=cmd_run)

    p = sub.add_parser("list")
    p.add_argument("regex", nargs="?")
    p.add_argument("--paths", action="store_true")
    p.set_defaults(fn=cmd_list)

    p = sub.add_parser("db")
    p.add_argument("query", nargs="?")
    p.add_argument("--names", choices=["full", "short", "both"], default="both")
    p.add_argument("--csv", action="store_true")
    p.set_defaults(fn=cmd_db)

    p = sub.add_parser("audit")
    p.add_argument("--fix", action="store_true")
    p.set_defaults(fn=cmd_audit)

    p = sub.add_parser("export")
    p.add_argument("db_file")
    p.add_argument("--short", action="store_true")
    p.set_defaults(fn=cmd_export)

    args = ap.parse_args(argv)
    try:
        return args.fn(args)
    except ShelfError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
