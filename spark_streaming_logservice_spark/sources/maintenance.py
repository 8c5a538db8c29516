"""Logstore maintenance: small-file compaction.

A streaming sink writing every trigger produces many small parquet
fragments per shard; at 100 TB that means footer-stat planning cost and
scan overhead grow with trigger count, not data size. Compaction rewrites a
shard's fragments into few large files while preserving the seq-addressed
contract exactly: same rows, same seqs, same shard bounds — only the file
layout changes (readers re-plan automatically because the footer-stats
cache is keyed per file on its stat identity — path, inode, mtime, size —
so a rewritten ``compact-NNNNN.parquet`` is a new entry, not a stale hit).

Crash safety mirrors the sink's two-phase protocol (logstore.py S5): new
files stage under ``_staging/compact-<id>/``, a manifest under
``_compaction/`` naming old+new files is the commit point (atomic rename),
then new files rename in and old files are deleted. ``recover_compactions``
finishes any manifest found mid-swap. Without a transaction log, the swap
itself is not atomic against *concurrent* readers — like any file-based
store without Delta/Iceberg-style logs, compaction runs in a maintenance
window (documented honestly; the recovery path guarantees the store is
exactly-once after a crash, never half-compacted forever).

Shards are independent — at scale, run one compaction task per shard (the
driver loop here parallelizes trivially; each shard touches only its own
directory and manifest).
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow.parquet as pq

from spark_streaming_logservice_spark.sources.store_backend import (
    STORE_ARROW_SCHEMA,
    list_shards,
    shard_dir,
)

DEFAULT_TARGET_ROWS = 1_000_000


def _fragment_stats(sdir: str) -> list[tuple[str, int, int, int]]:
    """(filename, num_rows, min_seq, max_seq) per fragment — footer-only."""
    out = []
    for name in sorted(os.listdir(sdir)):
        if not name.endswith(".parquet"):
            continue
        f = pq.ParquetFile(os.path.join(sdir, name))
        md = f.metadata
        mins, maxs = [], []
        seq_idx = f.schema_arrow.get_field_index("seq")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(seq_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        out.append((name, md.num_rows, min(mins), max(maxs)))
    return out


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_compaction")


def _staging(path: str, cid: str) -> str:
    return os.path.join(path, "_staging", f"compact-{cid}")


def _write_compacted(sdir: str, frags, stage: str, target_rows: int) -> list[str]:
    """Stream fragments (in seq order) into staged files of ~target_rows.
    Memory bound: one record batch at a time on the no-overlap fast path;
    the overlap path sorts in memory and is only taken for fragment sets
    that interleave seqs (bounded by the compaction window by policy)."""
    ordered = sorted(frags, key=lambda f: f[2])
    overlap = any(
        ordered[i][2] <= ordered[i - 1][3] for i in range(1, len(ordered))
    )
    os.makedirs(stage, exist_ok=True)
    out_files: list[str] = []
    writer = None
    rows_in_file = 0

    def _open_next() -> pq.ParquetWriter:
        name = f"compact-{len(out_files):05d}.parquet"
        out_files.append(name)
        return pq.ParquetWriter(os.path.join(stage, name), STORE_ARROW_SCHEMA)

    def _emit(batch) -> None:
        nonlocal writer, rows_in_file
        if writer is None or rows_in_file >= target_rows:
            if writer is not None:
                writer.close()
            writer = _open_next()
            rows_in_file = 0
        writer.write_batch(batch)
        rows_in_file += batch.num_rows

    if overlap:
        import pyarrow as pa

        tables = [
            pq.read_table(os.path.join(sdir, name), schema=STORE_ARROW_SCHEMA)
            for name, *_ in ordered
        ]
        merged = pa.concat_tables(tables).sort_by("seq")
        for batch in merged.to_batches(max_chunksize=max(target_rows, 1)):
            _emit(batch)
    else:
        for name, *_ in ordered:
            f = pq.ParquetFile(os.path.join(sdir, name))
            for batch in f.iter_batches():
                _emit(batch.cast(STORE_ARROW_SCHEMA))
    if writer is not None:
        writer.close()
    return out_files


def _finish_swap(path: str, manifest: dict) -> None:
    """Complete a manifested swap: publish staged files, drop old ones,
    remove the manifest. Idempotent — safe to re-run after any crash point."""
    sdir = shard_dir(path, manifest["shard"])
    stage = _staging(path, manifest["id"])
    for name in manifest["new"]:
        src, dst = os.path.join(stage, name), os.path.join(sdir, name)
        if os.path.exists(src):
            os.replace(src, dst)
        elif not os.path.exists(dst):
            raise RuntimeError(
                f"compaction {manifest['id']}: staged file {name} lost "
                "before publish; store left untouched"
            )
    # a re-compaction reuses the fixed compact-NNNNN names: an old name that
    # is also new was just replaced by its new content and must stay
    for name in set(manifest["old"]) - set(manifest["new"]):
        old = os.path.join(sdir, name)
        if os.path.exists(old):
            os.remove(old)
    if os.path.isdir(stage) and not os.listdir(stage):
        os.rmdir(stage)
    mpath = os.path.join(_manifest_dir(path), f"{manifest['id']}.json")
    if os.path.exists(mpath):
        os.remove(mpath)


def recover_compactions(path: str) -> int:
    """Finish swaps whose manifest exists (crash after commit point).
    Returns the number of recovered compactions. Staged dirs without a
    manifest are pre-commit leftovers and are swept."""
    mdir = _manifest_dir(path)
    n = 0
    if os.path.isdir(mdir):
        for name in sorted(os.listdir(mdir)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(mdir, name)) as f:
                manifest = json.load(f)
            _finish_swap(path, manifest)
            n += 1
    sroot = os.path.join(path, "_staging")
    if os.path.isdir(sroot):
        for name in os.listdir(sroot):
            if name.startswith("compact-"):
                cid = name[len("compact-"):]
                if not os.path.exists(os.path.join(mdir, f"{cid}.json")):
                    stage = os.path.join(sroot, name)
                    for fn in os.listdir(stage):
                        os.remove(os.path.join(stage, fn))
                    os.rmdir(stage)
    return n


def compact_shard(
    path: str, shard: int, target_rows: int = DEFAULT_TARGET_ROWS
) -> dict:
    """Compact one shard. Returns a report dict (files_before/after, rows)."""
    sdir = shard_dir(path, shard)
    frags = _fragment_stats(sdir)
    total_rows = sum(f[1] for f in frags)
    if len(frags) <= 1:
        return {
            "shard": shard,
            "files_before": len(frags),
            "files_after": len(frags),
            "rows": total_rows,
            "compacted": False,
        }
    cid = uuid.uuid4().hex
    stage = _staging(path, cid)
    new_files = _write_compacted(sdir, frags, stage, target_rows)
    manifest = {
        "id": cid,
        "shard": shard,
        "old": [f[0] for f in frags],
        "new": new_files,
    }
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".{cid}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    # commit point: manifest becomes visible atomically
    os.replace(tmp, os.path.join(mdir, f"{cid}.json"))
    _finish_swap(path, manifest)
    return {
        "shard": shard,
        "files_before": len(frags),
        "files_after": len(new_files),
        "rows": total_rows,
        "compacted": True,
    }


def compact_store(
    path: str, target_rows: int = DEFAULT_TARGET_ROWS
) -> list[dict]:
    """Compact every shard (finishing any crashed swap first)."""
    recover_compactions(path)
    return [compact_shard(path, s, target_rows) for s in list_shards(path)]
