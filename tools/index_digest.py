"""Content digest of a published index, for checking that two runs of
the same inputs (e.g. before and after a refactor) wrote the same data.

Prints JSON: `dirs` maps every parquet dataset under the index (path
relative to it) to the sha256 of its sorted rows; `manifest` is the
manifest without ids and timings. Left out because they differ run to
run: snapshot ids (replaced by "<snap>" in dir names and manifest
values), the manifest's `snapshot_id`/`history`/`build_secs`/
`stage_secs`, the `secs`/`snapshot_id` columns, and the elapsed-ms
carrier (`shard`) of chunk metrics rows. Reads with pyarrow only, no
Spark. Usage:

    python tools/index_digest.py <index_dir>
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re

import pyarrow.dataset as ds

SNAPSHOT_ID = re.compile(r"(build|compact|gc)-\d+-[0-9a-f]{8}")
METRICS_TERM_ID = -(1 << 63)  # index/build.py
RUN_COLUMNS = {"secs", "snapshot_id"}
RUN_FIELDS = {"snapshot_id", "history", "build_secs", "stage_secs"}


def dataset_dirs(root: str):
    """Top-most dirs holding parquet files or hive partitions."""
    for path, dirs, files in os.walk(root):
        if (any(f.endswith(".parquet") for f in files)
                or any("=" in d for d in dirs)):
            dirs[:] = []
            yield path
        dirs.sort()


def rows_digest(path: str) -> str:
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = [c for c in table.column_names if c not in RUN_COLUMNS]
    lines = []
    for row in table.select(cols).to_pylist():
        if row.get("term_id") == METRICS_TERM_ID:
            row["shard"] = None
        lines.append(repr(tuple(row[c] for c in cols)))
    h = hashlib.sha256(repr(cols).encode())
    for line in sorted(lines):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def index_digest(index_dir: str) -> dict:
    dirs: dict[str, list[str]] = {}
    for path in dataset_dirs(index_dir):
        name = SNAPSHOT_ID.sub("<snap>", os.path.relpath(path, index_dir))
        dirs.setdefault(name, []).append(rows_digest(path))
    with open(os.path.join(index_dir, "manifest.json")) as f:
        manifest = {k: v for k, v in json.load(f).items()
                    if k not in RUN_FIELDS}
    manifest = json.loads(SNAPSHOT_ID.sub("<snap>", json.dumps(manifest)))
    return {"dirs": {k: sorted(v) for k, v in sorted(dirs.items())},
            "manifest": manifest}


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("index_dir")
    print(json.dumps(index_digest(ap.parse_args().index_dir), indent=1,
                    sort_keys=True))
