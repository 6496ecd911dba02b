"""Checksums, YAML IO and .gitignore upkeep (⇄ reference src/shelf/utils.py).

Checksum semantics (must stay stable — they are the Merkle tree's edges):
- file checksum   = SHA-256 over the raw bytes, streamed (utils.py:16-23)
- folder manifest = {relative filename: file checksum} over every file,
  sorted, ignoring junk files (utils.py:26-39)
- manifest digest = SHA-256 over the sorted ``"{name}={sha}\\n"`` lines
  (same spirit as utils.py:42-49; exact byte layout is ours — goldens are
  pinned by our own tests, nothing external depends on the digest format)
"""

from __future__ import annotations

import hashlib
from pathlib import Path
from typing import Any

import yaml

from .types import Manifest

IGNORED_FILES = {".DS_Store"}
_BLOCK = 1 << 16


def checksum_file(path: Path | str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while block := f.read(_BLOCK):
            h.update(block)
    return h.hexdigest()


def checksum_folder(path: Path) -> Manifest:
    manifest: Manifest = {}
    for p in sorted(path.rglob("*")):
        if p.is_file() and p.name not in IGNORED_FILES:
            manifest[str(p.relative_to(path))] = checksum_file(p)
    return manifest


def checksum_manifest(manifest: Manifest) -> str:
    h = hashlib.sha256()
    for name in sorted(manifest):
        h.update(f"{name}={manifest[name]}\n".encode())
    return h.hexdigest()


# -- YAML sidecar IO ---------------------------------------------------------


def load_yaml(path: Path | str) -> Any:
    with open(path) as f:
        return yaml.safe_load(f)


def save_yaml(doc: Any, path: Path | str, include_comments: bool = False) -> None:
    """Write a YAML sidecar. With ``include_comments``, keys whose value is
    None are written as ``# key:`` comment lines — a skeleton that prompts a
    human to fill provenance in later, matching the reference's sidecar
    format (reference utils.py:76-94). yaml.safe_load skips the comments, so
    readers see only the populated fields."""
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        if not include_comments:
            yaml.safe_dump(doc, f, sort_keys=False, allow_unicode=True)
            return
        for key, value in doc.items():
            if value is None:
                f.write(f"# {key}:\n")
            else:
                yaml.safe_dump({key: value}, f, sort_keys=False, allow_unicode=True)


# -- .gitignore upkeep -------------------------------------------------------
# Data files live in the object store; only metadata belongs in git
# (reference utils.py:56-73, __init__.py:213).


def add_to_gitignore(rel_path: str, gitignore: Path = Path(".gitignore")) -> None:
    line = rel_path.rstrip("\n")
    existing: list[str] = []
    if gitignore.exists():
        existing = gitignore.read_text().splitlines()
    if line in existing:
        return
    with open(gitignore, "a") as f:
        if existing and existing[-1] != "":
            f.write("\n")
        f.write(line + "\n")
