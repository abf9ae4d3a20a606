"""Crash-atomic commit protocol for the sharded-corpus state.

``corpus-append`` performs several physically separate writes (shard
append, ``_kept_docs`` append, ``_lsh_index`` append, ``_fp_index``
append). Parquet append mode adds immutable part files but offers no
cross-directory transaction, so a crash between writes would silently
diverge the dedup state from the shard layout — later appends would
re-admit near-dups or carry buckets for docs never written.

The fix is the same marker pattern the table layer uses (tables.py's
pointer file, change_batches' .tmp-rename): a single ``_corpus_commit``
JSON, atomically replaced AFTER every write of an epoch succeeds,
listing every committed data file. On the next append, any data file on
disk that the marker does not list is a torn-epoch leftover and is
deleted before any state is read (append-mode part files are immutable,
so deleting unlisted files exactly rolls back the torn epoch). Readers
of the shard layout itself are unaffected — the marker is
underscore-prefixed and invisible to parquet readers.

State built before this protocol existed has no marker; ``repair``
adopts it as committed epoch 0 (there is nothing safer to do, and all
later epochs are protected).
"""

from __future__ import annotations

import json
from pathlib import Path

from cdc_historical_warehouse_platform_spark.sources.tables import atomic_write_text

__all__ = ["MARKER", "STATE_DIRS", "snapshot", "write_marker", "read_marker", "repair"]

MARKER = "_corpus_commit"
# _source_counts (r4, per-domain quotas) is append-only LSM-style rows
# (source, n_kept per epoch), summed at read — append-only is what
# keeps it repairable under this marker protocol
STATE_DIRS = ("_kept_docs", "_lsh_index", "_fp_index", "_source_counts", "_hh_state")


def _data_files(root: Path) -> list[str]:
    return sorted(
        str(p.relative_to(root)) for p in root.rglob("*.parquet") if p.is_file()
    )


def snapshot(out: Path, exclude: frozenset[str] = frozenset()) -> dict[str, list[str]]:
    """Relative paths of every data file, per state dir + shard layout.
    ``exclude``: out-relative paths to omit — used by compaction to
    publish a marker that does NOT list the superseded files it is
    about to unlink (listing them would make a crash mid-unlink leave
    them committed forever)."""
    files: dict[str, list[str]] = {}
    for d in STATE_DIRS:
        if (out / d).exists():
            files[d] = [
                f for f in _data_files(out / d) if f"{d}/{f}" not in exclude
            ]
    files["shards"] = sorted(
        str(p.relative_to(out))
        for p in out.rglob("*.parquet")
        if p.is_file()
        and not p.relative_to(out).parts[0].startswith("_")
        and str(p.relative_to(out)) not in exclude
    )
    return files


def write_marker(
    out: Path,
    epoch: int,
    exclude: frozenset[str] = frozenset(),
    extra: dict | None = None,
) -> dict:
    marker = {"epoch": epoch, "files": snapshot(out, exclude)}
    # epoch-scoped config (today: the per-source quota) rides the
    # marker so its adoption is atomic WITH the epoch — a crash can
    # never leave config adopted while the epoch's data rolls back.
    # ALL non-structural keys carry forward from the committed marker
    # so callers that don't know about them (compaction) can't drop
    # them; an explicit None in ``extra`` REMOVES a key (a fresh
    # quota-less build over an old quota corpus must not resurrect
    # the quota).
    prev = read_marker(out)
    for k, v in (prev or {}).items():
        if k not in ("epoch", "files", "manifest"):
            marker[k] = v
    for k, v in (extra or {}).items():
        if v is None:
            marker.pop(k, None)
        else:
            marker[k] = v
    # the shard manifest is epoch state too: a torn append may have
    # rewritten it before crashing, so repair must restore the
    # committed copy alongside deleting the torn data files
    try:
        marker["manifest"] = json.loads((out / "_manifest.json").read_text())
    except FileNotFoundError:
        pass
    atomic_write_text(out / MARKER, json.dumps(marker, sort_keys=True))
    return marker


def read_marker(out: Path) -> dict | None:
    try:
        return json.loads((out / MARKER).read_text())
    except FileNotFoundError:
        return None


def repair(out: Path) -> dict:
    """Roll back a torn epoch: delete every data file the committed
    marker does not list. Returns ``{"epoch": N, "removed": [...]}``.

    Pre-protocol state (no marker) is adopted as epoch 0.
    """
    marker = read_marker(out)
    if marker is None:
        return {"epoch": write_marker(out, 0)["epoch"], "removed": []}
    committed: set[str] = set()
    for d, files in marker["files"].items():
        root = out if d == "shards" else out / d
        committed.update(str((root / f).resolve()) for f in files)
    removed = []
    actual = snapshot(out)
    for d, files in actual.items():
        root = out if d == "shards" else out / d
        for f in files:
            p = (root / f).resolve()
            if str(p) not in committed:
                p.unlink()
                removed.append(str(p.relative_to(out)))
    if removed and "manifest" in marker:
        # roll the shard manifest back to the committed epoch's copy —
        # a torn write_training_shards may have merged the (now
        # deleted) files in; leaving that would list ghost files and
        # double-count the retried batch's rows forever
        (out / "_manifest.json").write_text(
            json.dumps(marker["manifest"], indent=2, sort_keys=True)
        )
    return {"epoch": marker["epoch"], "removed": sorted(removed)}
