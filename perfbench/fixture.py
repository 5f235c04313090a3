"""The benchmark's fixed input tables and their fingerprint.

``data/sf0.01`` and ``data/sf0.001`` are byte copies of the engine's
deterministic synthetic testdata (TPC-H-like star schema, the ``events``
stream and the ``documents`` corpus; the ``embeddings`` table is left
out because no kept workload reads it). ``data/MANIFEST.json`` records
the SHA-256 of every file; a run refuses a partial or altered copy.

Regenerate the manifest after replacing the data on purpose:
    python3 perfbench/fixture.py --write
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
MANIFEST = os.path.join(DATA, "MANIFEST.json")
SCALES = ("sf0.01", "sf0.001")


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _files() -> list[str]:
    return sorted(os.path.join(s, n) for s in SCALES
                  for n in os.listdir(os.path.join(DATA, s)))


def verify() -> str | None:
    """None when every manifest file is present and unchanged, else the
    reason the copy cannot be used."""
    try:
        with open(MANIFEST) as f:
            want = json.load(f)
    except (OSError, ValueError) as exc:
        return f"no readable fixture manifest: {exc}"
    for rel, digest in want.items():
        path = os.path.join(DATA, rel)
        if not os.path.isfile(path):
            return f"fixture file missing: {rel}"
        if _digest(path) != digest:
            return f"fixture file changed: {rel}"
    return None


def scale_dir(scale: str) -> str:
    return os.path.join(DATA, scale)


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit(__doc__)
    with open(MANIFEST, "w") as f:
        json.dump({rel: _digest(os.path.join(DATA, rel)) for rel in _files()},
                  f, indent=1, sort_keys=True)
        f.write("\n")
