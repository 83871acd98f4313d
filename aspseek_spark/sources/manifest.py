"""The commit primitive of every versioned store (SURVEY.md §2.10,
SNK1/SNK2): write immutable data files, then publish a JSON manifest
naming them with one atomic ``os.replace``. Each store keeps its own file
name, document shape and retention rule."""

from __future__ import annotations

import json
import os


def read_manifest(path: str) -> dict | None:
    """The committed document at ``path``; None when nothing was ever
    published there."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def publish_manifest(path: str, doc: dict) -> None:
    """Commit ``doc`` at ``path``. A crash before the replace leaves the
    previous commit in force; the next publish overwrites the ``.tmp``."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, sort_keys=True)
    os.replace(tmp, path)
