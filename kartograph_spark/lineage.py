"""Per-stage resume manifests + idempotent resume (M6; operators S10/J8).

Reference semantics: checkpoint stores completed chunk ids and skips them
on resume (/root/reference/extraction/kg_extractor/orchestrator.py:484-536,
589-597; disk store checkpoint/disk_store.py:33-128), invalidated when the
config hash changes (config.py:319-336).

Spark rebuild: each stage keeps ONE manifest, ``resume/<stage>.json``,
the only resume record::

    {"config_hash": ...,
     "schemas": {table: read-back schema JSON},
     "rows": {bucket: mentions},           # mentions stage only
     "counts": {metric: n}, "ebt": {...}}  # global stages; ebt: materialize

It says which config's output fully occupies the stage's tables.  The
``mentions`` stage lists its completed conversation hash-buckets
``pmod(xxhash64(conv_id), n_buckets)`` (the bucket count is part of the
config hash) with each bucket's mention count; a global stage stores the
run counts its write jobs observed (``pipeline.write_counted``) and, for
``materialize``, the entities-by-type histogram.  ``schemas`` lets every
read of a stage's tables skip schema inference (``graph.TableStore``).

Protocol: remove the manifest before the first table write that
recomputes a stage, and write it (tmp file + ``os.replace``) only after
the table commit — a kill at any point leaves "not done", never "done for
the wrong config".  Counts and schemas land in that same swap, so a
skipped stage reports its stored counts: the metrics of a resumed run
are those of the stored output, not a recount of today's input (the key
does not yet cover the input itself — ROADMAP direction 1's input
fingerprints close that gap).  A manifest without ``schemas``, written by
an older layout, vouches for nothing: its stage rebuilds once.
Manifests are read with stdlib ``json`` on the driver: resume bookkeeping
launches no Spark job.
"""

from __future__ import annotations

import contextlib
import json
import os

RESUME_DIR = "resume"


def _manifest_path(root: str, stage: str) -> str:
    return os.path.join(root, RESUME_DIR, f"{stage}.json")


def read_stage_marker(root: str, stage: str) -> dict | None:
    """The stage's manifest, or None when the stage is not done."""
    try:
        with open(_manifest_path(root, stage)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def write_stage_marker(root: str, stage: str, manifest: dict | None) -> None:
    """Atomically replace the stage's manifest; ``None`` removes it."""
    p = _manifest_path(root, stage)
    if manifest is None:
        with contextlib.suppress(FileNotFoundError):
            os.remove(p)
        return
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, p)


def is_current(manifest: dict | None, config_hash: str) -> bool:
    """Whether ``manifest`` vouches for its stage under this config: it
    names this config hash and carries the table schemas (and with them
    the counts, written in the same swap)."""
    return (
        manifest is not None
        and manifest["config_hash"] == config_hash
        and "schemas" in manifest
    )


def completed_partitions(root: str, stage: str, config_hash: str) -> set[int]:
    """Buckets the manifest lists as done for this config."""
    m = read_stage_marker(root, stage)
    if not is_current(m, config_hash):
        return set()
    return {int(b) for b in m["rows"]}


def record_completed(
    root: str,
    stage: str,
    config_hash: str,
    bucket_rows: dict[int, int],
    schemas: dict[str, dict],
) -> None:
    """Merge newly committed buckets into this config's manifest."""
    m = read_stage_marker(root, stage)
    rows = m["rows"] if is_current(m, config_hash) else {}
    rows.update({str(b): int(n) for b, n in bucket_rows.items()})
    write_stage_marker(
        root, stage, {"config_hash": config_hash, "rows": rows, "schemas": schemas}
    )


def write_metrics(root: str, metrics: dict) -> str:
    os.makedirs(root, exist_ok=True)
    p = os.path.join(root, "metrics.json")
    with open(p, "w") as f:
        json.dump(metrics, f, indent=2, default=str)
    return p
