"""Relative workspace layout (⇄ reference src/shelf/paths.py).

Paths are deliberately relative to the current working directory so a
shelf can live anywhere (tests chdir into a tmp dir, exactly like the
reference's test harness).
"""

from __future__ import annotations

from pathlib import Path

from .types import StepURI

CONFIG_FILE = Path("shelf.yaml")
DATA_DIR = Path("data")
SNAPSHOTS_DIR = DATA_DIR / "snapshots"
TABLES_DIR = DATA_DIR / "tables"
STEPS_DIR = Path("src") / "steps"
TABLE_SCRIPTS_DIR = STEPS_DIR / "tables"


def snapshot_data_path(path: str, extension: str = "") -> Path:
    return SNAPSHOTS_DIR / (path + extension)


def snapshot_metadata_path(path: str) -> Path:
    return SNAPSHOTS_DIR / (path + ".meta.yaml")


def table_data_path(path: str) -> Path:
    """Table output location. NOTE: on Spark this is a *directory* of
    parquet part files, not the reference's single file (SURVEY §7.3)."""
    return TABLES_DIR / (path + ".parquet")


def table_metadata_path(path: str) -> Path:
    return TABLES_DIR / (path + ".meta.yaml")


def metadata_path(uri: StepURI) -> Path:
    """The sidecar of a snapshot or table step."""
    if uri.scheme == "snapshot":
        return snapshot_metadata_path(uri.path)
    return table_metadata_path(uri.path)
