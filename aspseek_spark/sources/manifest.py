"""The commit primitive of every versioned store (SURVEY.md §2.10,
SNK1/SNK2): write immutable data files into directories no commit names
yet, then publish a JSON manifest naming them with one atomic
``os.replace``, then sweep every directory the new manifest no longer
names. Each store keeps its own file name, document shape and retention
rule; the publish and the sweep are shared."""

from __future__ import annotations

import glob
import json
import os
import shutil


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


def sweep(patterns: list[str], named: set[str]) -> None:
    """Delete every directory a glob in ``patterns`` matches that ``named``
    does not hold: what a commit released and what a crashed mutation
    wrote. Run after a publish; a crash before it leaves only unnamed
    directories, which the next commit's sweep removes."""
    for pattern in patterns:
        for found in glob.glob(pattern):
            if found not in named:
                shutil.rmtree(found, ignore_errors=True)
