"""Durable driver-side state: every file the engine relies on to survive
a crash is written through this module.

Structured Streaming's offset log and idempotent sinks (SIGMOD 2018)
rebuilt on a plain filesystem, where the reference has Postgres' WAL
and Kafka Connect's offset commit. Three primitives:

* :func:`write_json` / :func:`read_json` — every JSON state file (the
  event-id watermark, poller offsets, manifests, layout and shard
  manifests, banded-store metas). A write lands in a temp file that is
  flushed and fsynced before one ``os.replace``, so a crash leaves the
  old file or the new one, never a torn one. A reader sees its default
  only when the file is missing; a file that does not parse raises,
  because reading it as empty would rewind a sequence or an offset, or
  let a garbage collector delete committed data.
* :class:`VersionedRegions` — a table stored as independently
  versioned region dirs behind one manifest (``MaterializedTable``'s
  PK buckets, ``ContinuousAggregate``'s day regions).
* :func:`swap_rewrite` / :func:`recover_swap` — rewrite one parquet
  dir in place behind two renames, healed by the next caller after a
  crash between them.

Single writer per file or dir, like the reference's one task per
relation (cdc-timescale-connector.json:8).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Collection

MANIFEST = "_MANIFEST.json"
SWAP_OLD = "._compact_old"
SWAP_TMP = "._compact_tmp"


def write_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def read_json(path: str, default=None):
    """The JSON at ``path``, ``default`` when the file is missing.
    Raises ``ValueError`` naming the file when it does not parse."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default
    except ValueError as e:
        raise ValueError(f"corrupt state file {path}: {e}") from e


class VersionedRegions:
    """Region dirs ``<path>/<col>=<key>/v_<gen>`` behind one atomically
    replaced manifest ``<path>/_MANIFEST.json``::

        {"version": 7, <owner fields>, "<field>": {"3": "v_000007", ...},
         "history": {"3": "v_000006", ...}}

    A writer stages generation ``version + 1`` under
    :meth:`staging` as ``_<col>=<key>`` partition dirs, then
    :meth:`commit` moves them into place and replaces the manifest.
    Nothing is visible before the manifest lands, so a crash at any
    point leaves the previous manifest pointing at intact data; the
    debris it leaves is swept or replaced by the next commit.

    ``history`` is the previous generation's region map, and
    :meth:`gc` deletes exactly the version dirs neither map
    references. A reader that resolved paths from the previous
    manifest therefore survives one concurrent commit, however long
    its regions were current before it; a staler reader fails loudly
    in :meth:`paths` instead of reading a smaller table.
    """

    def __init__(self, path: str, field: str, col: str, **fields):
        self.path = path
        self.field = field
        self.col = col
        self.fields = fields  # owner fields of the empty manifest
        self.manifest_path = os.path.join(path, MANIFEST)
        os.makedirs(path, exist_ok=True)

    def load(self) -> dict:
        return read_json(
            self.manifest_path,
            {"version": 0, **self.fields, self.field: {}, "history": {}},
        )

    def exists(self) -> bool:
        return os.path.exists(self.manifest_path)

    def dir(self, key, version: str) -> str:
        return os.path.join(self.path, f"{self.col}={key}", version)

    def paths(self, manifest: dict | None = None) -> list[str]:
        """The region dirs ``manifest`` (default: the committed one)
        references, in key order; raises ``FileNotFoundError`` when one
        is missing."""
        m = manifest or self.load()
        regions = m[self.field]
        out = []
        # (length, text) orders integer keys numerically and
        # fixed-width date keys chronologically
        for key in sorted(regions, key=lambda k: (len(k), k)):
            p = self.dir(key, regions[key])
            if not os.path.isdir(p):
                raise FileNotFoundError(
                    f"manifest v{m['version']} references missing region "
                    f"directory {p}; the table is corrupt or a concurrent "
                    "writer superseded it more than one generation ago"
                )
            out.append(p)
        return out

    def staging(self, manifest: dict) -> str:
        """Where the writer stages the generation after ``manifest``."""
        return os.path.join(
            self.path, f"_staging_v_{manifest['version'] + 1:06d}"
        )

    def commit(
        self, manifest: dict, replaced: Collection[str], **fields
    ) -> dict:
        """Publish the staged generation on top of ``manifest``: each
        staged ``_<col>=<key>`` dir becomes ``<col>=<key>/v_<gen>``
        (replacing an uncommitted dir of that name a crashed commit
        left), keys in ``replaced`` that staged no output drop out,
        and every other region carries over. Then replace the manifest
        (``fields`` are the owner's fields) and :meth:`gc`. Returns the
        committed manifest."""
        gen = manifest["version"] + 1
        vname = f"v_{gen:06d}"
        staging = self.staging(manifest)
        regions = {
            k: v for k, v in manifest[self.field].items() if k not in replaced
        }
        prefix = f"_{self.col}="
        if os.path.isdir(staging):
            for name in sorted(os.listdir(staging)):
                if not name.startswith(prefix):
                    continue
                key = name[len(prefix):]
                dest = self.dir(key, vname)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                if os.path.exists(dest):
                    shutil.rmtree(dest)
                os.rename(os.path.join(staging, name), dest)
                regions[key] = vname
        new = {
            "version": gen,
            **fields,
            self.field: regions,
            "history": manifest[self.field],
        }
        self.write(new)
        self.gc()
        return new

    def write(self, manifest: dict) -> None:
        """The commit point: atomically replace the manifest."""
        write_json(self.manifest_path, manifest)

    def gc(self) -> None:
        """Delete staging dirs and every version dir that neither the
        committed manifest nor its history references (superseded
        regions and crash orphans). Safe at any time."""
        m = self.load()
        keep = {
            (k, v) for src in (m[self.field], m["history"])
            for k, v in src.items()
        }
        prefix = f"{self.col}="
        for name in os.listdir(self.path):
            full = os.path.join(self.path, name)
            if name.startswith("_staging_"):
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(prefix) and os.path.isdir(full):
                key = name[len(prefix):]
                for v in os.listdir(full):
                    if v.startswith("v_") and (key, v) not in keep:
                        shutil.rmtree(os.path.join(full, v), ignore_errors=True)
                if not os.listdir(full):
                    os.rmdir(full)


def recover_swap(data_dir: str) -> bool:
    """Heal ``data_dir`` after a crashed :func:`swap_rewrite`: restore
    the ``._compact_old`` survivor if the live dir vanished between the
    two renames, and sweep stale tmp/old debris next to a live dir.
    Returns True if a restore happened."""
    old = data_dir + SWAP_OLD
    tmp = data_dir + SWAP_TMP
    restored = False
    if not os.path.isdir(data_dir) and os.path.isdir(old):
        os.rename(old, data_dir)
        restored = True
    if os.path.isdir(data_dir):
        for leftover in (old, tmp):
            if os.path.isdir(leftover):
                shutil.rmtree(leftover)
    return restored


def swap_rewrite(data_dir: str, writer) -> None:
    """Replace the existing parquet dir ``data_dir`` with the output of
    ``writer`` (a configured ``DataFrameWriter``, whose frame may read
    ``data_dir``: the write lands in a tmp sibling and the source
    stays intact until the renames). Readers see the old dir or the
    new one; a crash between the two renames is healed by
    :func:`recover_swap`, which runs first."""
    recover_swap(data_dir)
    tmp = data_dir + SWAP_TMP
    writer.mode("overwrite").parquet(tmp)
    old = data_dir + SWAP_OLD
    os.rename(data_dir, old)
    os.rename(tmp, data_dir)
    shutil.rmtree(old)
