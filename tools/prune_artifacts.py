"""List (and optionally delete) stale ``/tmp`` index artifact dirs.

``__spark_entry__`` keeps its built indexes under ``/tmp`` as
``nss_index_v<N>_<tag>``, ``nss_index_upd_v<N>_<tag>`` and
``nss_positions_<tag>[_<field>]``, where ``<tag>`` is ``_build_tag`` of the
corpus dir: a hash of the corpus files and of the build-path sources. A
changed builder or corpus builds fresh dirs and leaves the old ones behind.
This command prints every such dir whose tag is not the current tag of any
given sf dir; ``--delete`` removes them. A dir with a current tag is never
touched, nor is any name outside the three patterns. Delete only while no
session of an older checkout runs: it may be reading an older tag's dir.

Usage: python tools/prune_artifacts.py [--root DIR] [--delete] SF_DIR [SF_DIR ...]
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

ARTIFACT_RE = re.compile(r"nss_(?:index_v\d+|index_upd_v\d+|positions)_([0-9a-f]{10})(?:_\w+)?")


def stale_dirs(root: str, sf_dirs: list[str]) -> list[str]:
    """Paths under ``root`` of the artifact dirs whose tag is none of the
    current tags of ``sf_dirs``, sorted."""
    current = {entrymod._build_tag(sf) for sf in sf_dirs}
    out = []
    for name in sorted(os.listdir(root)):
        m = ARTIFACT_RE.fullmatch(name)
        path = os.path.join(root, name)
        if m and m.group(1) not in current and os.path.isdir(path) and not os.path.islink(path):
            out.append(path)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("sf_dirs", nargs="+", help="corpus dirs whose current artifacts to keep")
    p.add_argument("--root", default="/tmp", help="where the artifact dirs live (default /tmp)")
    p.add_argument("--delete", action="store_true", help="remove the stale dirs (default: list only)")
    args = p.parse_args(argv)
    stale = stale_dirs(args.root, args.sf_dirs)
    for path in stale:
        if args.delete:
            shutil.rmtree(path)
        print(("deleted " if args.delete else "stale ") + path)
    print(f"{len(stale)} stale artifact dir(s)" + ("" if args.delete else "; pass --delete to remove them"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
