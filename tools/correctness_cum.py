"""Merge every per-round driver correctness report into CORRECTNESS_cum.json.

The driver samples a subset of contract keys per round, so no single
CORRECTNESS_r{N}.json shows full coverage; this tool folds all rounds into
one auditable map  key -> {latest result fields..., "round": "rNN"}  taking
each key's MOST RECENT appearance (later rounds override earlier ones).
Run from the repo root after each round:  python tools/correctness_cum.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

from artifact import free_slot


def merge(repo_root: str) -> dict:
    cum: dict[str, dict] = {}
    # numeric round order, NOT lexicographic path order: sorted() on the
    # filenames would place r100 before r99 and record the OLDER round as
    # each key's "most recent appearance" once rounds reach 3 digits
    rounds: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            rounds.append((int(m.group(1)), path))
    for n, path in sorted(rounds):
        with open(path) as fh:
            report = json.load(fh)
        for key, row in report.items():
            cum[key] = {**row, "round": f"r{n:02d}"}
    return dict(sorted(cum.items()))


def write_cum(root: str, cum: dict) -> str:
    """Write CORRECTNESS_cum.json without ever LOSING coverage (r08
    verdict #3): the artifact is a pure fold of the committed per-round
    files, so rewriting it is normally harmless — but if the new fold
    covers FEWER keys or rolls any key back to an older round (per-round
    inputs deleted/corrupted), the standing file is preserved to a
    numbered ``_prev<N>`` slot instead of being silently degraded."""
    out = os.path.join(root, "CORRECTNESS_cum.json")

    def _round_n(row: dict) -> int:
        # NUMERIC round order, matching merge(): the string compare
        # 'r100' < 'r99' would falsely flag degradation from round 100 on
        m = re.match(r"r(\d+)$", row.get("round", "") or "")
        return int(m.group(1)) if m else -1

    if os.path.exists(out):
        try:
            with open(out) as fh:
                old = json.load(fh)
        except ValueError:
            old = {}
        degraded = set(old) - set(cum) or any(
            _round_n(cum[k]) < _round_n(old[k]) for k in old if k in cum
        )
        if degraded:
            preserved = free_slot(out, "prev")
            os.replace(out, preserved)
            print(
                f"# cum coverage would degrade; previous preserved at {preserved}",
                file=sys.stderr,
            )
    with open(out, "w") as fh:
        json.dump(cum, fh, indent=2)
    return out


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cum = merge(root)
    out = write_cum(root, cum)
    # green = value-hash match (or the driver's weaker rows-only check):
    # rows_match alone classifies a VALUE regression as green — the same
    # trap the rotation's _driver_green_keys had
    greens = sum(
        1
        for r in cum.values()
        if r.get("hash_match") or r.get("err") == "no_oracle"
    )
    print(f"{out}: {len(cum)} keys, {greens} green", file=sys.stderr)
