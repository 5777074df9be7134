#!/usr/bin/env python
"""Refresh KEY_SOURCE_MANIFEST.json from the live registry.

Run at ROUND START, before any edits, while the tree still equals the
previous round's close (the source the latest driver rows verified):

    python tools/refresh_source_manifest.py <closed_round_number>

See mapreduce_6_824_lab1_spark/manifest.py for the changed-key-tier
design and why the refresh timing matters (refreshing after mid-round
edits would hide those edits from the rotation's changed tier).

Late refresh: once edits have landed, do NOT run the tool on the
working tree — a snapshot of an edited tree records the edited source
as verified and so hides those edits. Snapshot the round's close
commit instead and copy the file back:

    mkdir /tmp/close && git archive <close-commit> | tar -x -C /tmp/close
    (cd /tmp/close && python tools/refresh_source_manifest.py <round>)
    cp /tmp/close/KEY_SOURCE_MANIFEST.json .

The tool hashes the package next to it, so run from the extracted
tree it writes that tree's hashes into that tree's manifest.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mapreduce_6_824_lab1_spark.manifest import (  # noqa: E402
    MANIFEST_PATH,
    compute_key_source_hashes,
)


def main() -> None:
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        sys.exit("usage: refresh_source_manifest.py <closed_round_number>")
    rnd = int(sys.argv[1])
    keys = compute_key_source_hashes()
    out = {
        "round": rnd,
        "note": (
            f"snapshot at round-{rnd} close — the source the r01-r{rnd} "
            "driver rows verified; refresh at next round START before "
            "editing (tools/refresh_source_manifest.py)"
        ),
        "keys": keys,
    }
    MANIFEST_PATH.write_text(json.dumps(out, indent=1, sort_keys=True))
    print(f"wrote {len(keys)} key hashes to {MANIFEST_PATH}")


if __name__ == "__main__":
    main()
