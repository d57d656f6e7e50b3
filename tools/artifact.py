"""Overwrite-safe artifact writer shared by the measurement tools.

r08 lesson (verdict item #3): ``bench.py`` keeps the round's best window
and diverts worse ones, but every OTHER artifact writer overwrote in
place — the driver's post-round rerun destroyed a committed smoke record
that way.  This helper gives all of them the same no-evidence-loss rule:

* path absent            -> plain write
* path present, SAME json -> no-op (idempotent reruns leave no trace)
* path present, different -> the STANDING file is moved aside to the
  first free ``<name>_prev<N>.json`` slot, then the new content lands at
  the canonical path (latest run is canonical; every older window stays
  on disk under its own numbered name — nothing is ever overwritten)
"""

from __future__ import annotations

import json
import os


def free_slot(path: str, tag: str) -> str:
    """First absent ``<name>_<tag><N>.json`` next to ``path``, N from 1:
    every diverted or displaced file gets its own numbered slot."""
    base, ext = os.path.splitext(path)
    n = 1
    while os.path.exists(f"{base}_{tag}{n}{ext}"):
        n += 1
    return f"{base}_{tag}{n}{ext}"


def write_artifact(path: str, obj, *, indent: int = 1, **dump_kwargs) -> str:
    """Write ``obj`` as JSON to ``path`` without destroying evidence.

    Returns the path any displaced previous content was preserved at,
    or "" when nothing was displaced.
    """
    new_text = json.dumps(obj, indent=indent, **dump_kwargs)
    preserved = ""
    if os.path.exists(path):
        try:
            with open(path) as fh:
                old_text = fh.read()
        except OSError:
            old_text = None
        if old_text is not None:
            try:
                same = json.loads(old_text) == json.loads(new_text)
            except ValueError:
                same = False
            if same:
                return ""
            preserved = free_slot(path, "prev")
            os.replace(path, preserved)
    with open(path, "w") as fh:
        fh.write(new_text)
    return preserved
