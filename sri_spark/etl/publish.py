"""Crash-safe publication of star tables under one directory — the commit
protocol of both the full refresh (`pipeline.write_star`) and the
incremental publish (`incremental.publish_increment`).

Single writer. `publish` runs in this order:

1. recover whatever an interrupted earlier publish left behind (`recover`);
2. write the write-ahead manifest: the tables to swap, which of them
   exist now, and the file listing of the table to append to;
3. append to that table in place, then write every swapped table to
   `<name>.staging`;
4. run the caller's `check`; if it raises, roll back and re-raise, so
   the live tables are exactly as they were;
5. swap each table: rename the live dir aside to `<name>.old`, then the
   staging dir into place;
6. commit by deleting the manifest, then delete the backups.

A publish that dies before step 6 leaves its manifest, and the next
`recover` (every publish runs it first) undoes it: files the append
added beyond the listing go, every backup goes back in place of the dir
that displaced it, and a table the publish created goes. Readers between
the crash and that recovery can see some tables swapped and some not;
after it they see the prior star whole. Without a manifest, a backup
whose live dir exists is left over from a commit and is deleted, and one
whose live dir is missing is put back.

The manifest is metadata-sized; object-store deployments would swap it
for the transaction log their table format provides (Delta/Iceberg).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterable

MANIFEST = "_publish_manifest.json"

# test seam: raise after this many swaps, as a crash mid-swap would stop
# the publish (tests/test_star_publish.py exercises the recovery)
_CRASH_AFTER_SWAPS: int | None = None


def _crash_point(swaps: int) -> None:
    if swaps == _CRASH_AFTER_SWAPS:
        raise RuntimeError(f"simulated crash after {swaps} swaps")


def _files(path: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(dp, f), path)
        for dp, _dns, fs in os.walk(path)
        for f in fs
    }


def recover(root: str, names: Iterable[str]) -> None:
    """Undo an uncommitted publish under `root`, then clear the staging
    and backup dirs of the tables in `names`."""
    manifest = os.path.join(root, MANIFEST)
    if os.path.exists(manifest):
        with open(manifest) as fh:
            m = json.load(fh)
        for name, listing in m["appended"].items():
            path = os.path.join(root, name)
            for rel in _files(path) - set(listing):
                os.remove(os.path.join(path, rel))
            for dp, _dns, _fs in os.walk(path, topdown=False):
                if dp != path and not os.listdir(dp):
                    os.rmdir(dp)  # partition dirs the rollback emptied
        for name in m["swapped"]:
            out = os.path.join(root, name)
            if os.path.exists(out + ".old"):
                shutil.rmtree(out, ignore_errors=True)
                os.rename(out + ".old", out)
            elif name not in m["existed"]:
                shutil.rmtree(out, ignore_errors=True)
        os.remove(manifest)
    for name in names:
        out = os.path.join(root, name)
        shutil.rmtree(out + ".staging", ignore_errors=True)
        if os.path.exists(out + ".old"):
            if os.path.exists(out):
                shutil.rmtree(out + ".old")
            else:
                os.rename(out + ".old", out)


def publish(
    root: str,
    tables: dict[str, Callable[[str], None]],
    *,
    append: tuple[str, Callable[[str], None]] | None = None,
    check: Callable[[], None] | None = None,
) -> None:
    """Publish under `root`: `tables` maps each table to swap to a
    function that writes it to the path it is given; `append` names one
    table and a function that appends to it in place; `check` runs after
    every write and before the first swap (the quality gate)."""
    names = list(tables) + ([append[0]] if append else [])
    recover(root, names)
    os.makedirs(root, exist_ok=True)
    manifest = os.path.join(root, MANIFEST)
    with open(manifest, "w") as fh:
        json.dump(
            {
                "swapped": list(tables),
                "existed": [n for n in tables if os.path.exists(os.path.join(root, n))],
                "appended": {
                    append[0]: sorted(_files(os.path.join(root, append[0])))
                } if append else {},
            },
            fh,
        )
    if append:
        append[1](os.path.join(root, append[0]))
    for name, write in tables.items():
        write(os.path.join(root, name) + ".staging")
    if check is not None:
        try:
            check()
        except BaseException:
            recover(root, names)
            raise
    for k, name in enumerate(tables):
        _crash_point(k)
        out = os.path.join(root, name)
        if os.path.exists(out):
            os.rename(out, out + ".old")
        os.rename(out + ".staging", out)
    _crash_point(len(tables))
    os.remove(manifest)  # commit point
    for name in tables:
        shutil.rmtree(os.path.join(root, name) + ".old", ignore_errors=True)
