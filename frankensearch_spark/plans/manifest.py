"""Per-partition lineage manifests + checkpointed, resumable index builds
(SURVEY.md S5/B13 — MANIFEST two-slot publication + bulk-load checkpoint
cadence, keeper.rs:3955-4058 / index.rs:6077-6090, re-expressed for Spark).

Layout on disk:

    <path>/
      manifest.json            # engine config + lineage + committed groups
      blocks/group=<g>/        # compressed posting blocks, staged by group
      docmeta/  termstats/  fieldstats/   # parquet tables
      _COMMITTED               # final atomic completion marker

Every save goes through ONE writer, :func:`write_index`, and it takes
serving indexes only (what ``FrankensearchSpark.build``/``load``/
``upsert`` hold, and what ``streaming.incremental`` reads): their blocks
are written as they are, under their own layout.  A caller holding a
build's product picks the layout once, at ``wand.serving_from_built``.

The block table is written in ``n_groups`` staged jobs (group = tpart %
n_groups).  After each group lands, its manifest entry is committed
(temp-file + atomic rename — the two-slot publication analogue).  A
re-run of :func:`write_index` skips committed groups, so a write killed
mid-flight resumes where it stopped; the final marker makes readers see
only complete indexes.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from frankensearch_spark.operators.merge import (
    DEFAULT_BUCKET_SHIFT,
    DEFAULT_TERM_PARTITIONS,
)
from frankensearch_spark.operators.wand import ServingIndex, ServingMultiIndex

MANIFEST_VERSION = 1

# Durable-write parquet page compression: zstd measured 28% SMALLER and
# 22% FASTER to write than snappy on the 500k-doc block store (BENCH.md
# §3d) — the durable write is the bandwidth-bound scaling stage, so
# fewer bytes directly buy N->4N efficiency.  Read side needs no change
# (codec is per-page parquet metadata).
PARQUET_COMPRESSION = "zstd"


@dataclass
class BuildManifest:
    version: int = MANIFEST_VERSION
    bucket_shift: int = DEFAULT_BUCKET_SHIFT
    n_term_partitions: int = DEFAULT_TERM_PARTITIONS
    n_groups: int = 1
    source: str = ""
    committed_groups: dict[str, dict] = field(default_factory=dict)
    tables: dict[str, dict] = field(default_factory=dict)
    completed: bool = False
    with_positions: bool = False  # pos_bytes sidecar in the block store
    # external-key column names (IDMAP analogue) — lets a reopened index
    # materialize external ids without the builder process
    key_cols: list[str] = field(default_factory=list)
    # deterministic fingerprint of the docid assignment (count + sum of
    # xxhash64 over (docid, key_cols)): a crash-resume recomputes the
    # corpus in a NEW session, and lease-mode docids are only stable if
    # the assignment reproduced exactly — a mismatch means the committed
    # groups and the about-to-be-written remainder would mix TWO docid
    # mappings in one index (silent corruption), so resume verifies this
    # before writing anything
    docid_fingerprint: str | None = None
    # posting block codec: "vint" (LEB128 everywhere), "for"
    # (FrameOfReference bitpacked full blocks, LEB128 tails), or
    # "bitmap" (the reference's full three-kind dispatch: dense full
    # blocks -> 512-bit Bitmap, other full -> FOR, tails -> Vint) — the
    # block rows are self-describing via their codec column; recorded
    # here for observability and so resumed builds keep one codec per
    # index
    codec: str = "vint"
    # the largest docid the index ever leased, tombstoned and compacted
    # ones included: a loaded index's upserts lease above it, so docids
    # are never reused (None: written before this field existed)
    high_watermark: int | None = None


def _manifest_path(path: str) -> str:
    return os.path.join(path, "manifest.json")


def _atomic_json(dest: str, obj) -> None:
    """Two-slot publication primitive: temp file + fsync + rename +
    directory fsync (the rename itself is only crash-durable once the
    parent directory's entry is synced — without it a power loss can
    revert a 'published' manifest while the group data survives)."""
    tmp = dest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, dest)
    try:
        dfd = os.open(os.path.dirname(dest) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # non-POSIX dir handles (or object stores): best effort


def _publish(path: str, manifest: BuildManifest) -> None:
    """Atomic manifest publication: temp file + rename."""
    _atomic_json(_manifest_path(path), asdict(manifest))


def _mark_committed(path: str) -> None:
    with open(os.path.join(path, "_COMMITTED"), "w") as f:
        f.write("ok\n")


def is_completed_index(path: str) -> bool:
    """True when ``path`` already holds a COMPLETED (committed) index —
    single-field or multifield."""
    if os.path.exists(_mf_manifest_path(path)):
        return True
    m = load_manifest(path)
    return m is not None and m.completed


def _require_fresh_target(path: str) -> None:
    """Index snapshots are immutable once committed (the reference's
    epoch/segment-file discipline: new state -> new files, keeper.rs
    two-slot publication).  Writing a DIFFERENT snapshot over a committed
    path would either silently no-op (resume sees a completed manifest)
    or destroy the source files a lazily-read DataFrame still needs —
    so refuse loudly instead."""
    if is_completed_index(path):
        raise FileExistsError(
            f"{path} already holds a committed index; snapshots are "
            "immutable — save to a fresh path (and gc the old one)"
        )


def load_manifest(path: str) -> BuildManifest | None:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        d = json.load(f)
    m = BuildManifest(**d)
    return m


def _docid_fingerprint(index) -> tuple[str, int]:
    """Deterministic digest of the docid assignment (order-free; XOR
    cannot overflow under ANSI mode and rows are docid-unique), and the
    largest docid in docmeta (-1 when empty) from the same aggregate."""
    cols = [c for c in index.docmeta.columns if c != "content_sha256"]
    row = index.docmeta.select(
        "docid", F.xxhash64(*[F.col(c) for c in cols]).alias("h")
    ).agg(
        F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x"),
        F.max("docid").alias("m"),
    ).collect()[0]
    m = -1 if row["m"] is None else int(row["m"])
    return f"{int(row['n'])}:{int(row['x'] or 0)}", m


def write_index(
    index,
    path: str,
    n_groups: int = 1,
    source: str = "",
    key_cols: list[str] | None = None,
):
    """Persist a serving index (``ServingIndex`` or
    ``ServingMultiIndex``) resumably — the one durable writer.  Its
    blocks are written as they are, under its own layout (bucket shift,
    term partitions, codec); a multi-field index writes one such index
    per field under ``fields/<name>/`` and then its root manifest.

    Idempotent: a completed target is returned as it is, and committed
    groups/tables are skipped on re-run (the bulk-load crash-resume
    rule, index.rs:6085-6090).  A partial target resumes only under the
    same docid assignment (fingerprint) and the same block layout;
    either mismatch raises ValueError.  A manifest with nothing
    committed is re-pinned to this write, and block groups it does not
    list as committed are removed before anything is written."""
    os.makedirs(path, exist_ok=True)
    if hasattr(index, "fields"):
        for name, sub in index.fields.items():
            write_index(
                sub, os.path.join(path, "fields", name), n_groups, source
            )
        root = {
            "version": MANIFEST_VERSION,
            "multifield": True,
            "fields": list(index.fields.keys()),
            "primary": index.primary_name,
            "source": source,
            "key_cols": list(key_cols or []),
            # field -> source column map: persisted so a LOADED
            # multifield engine can still upsert (delta builds need it)
            "field_cols": dict(index.field_cols or {}),
        }
        _atomic_json(_mf_manifest_path(path), root)
        _mark_committed(path)
        return root
    manifest = load_manifest(path)
    if manifest is not None and manifest.completed:
        return manifest
    layout = (index.bucket_shift, index.n_term_partitions, index.codec)
    fp, max_docid = _docid_fingerprint(index)
    if manifest is None:
        manifest = BuildManifest(
            n_groups=n_groups, source=source, key_cols=list(key_cols or []),
        )
    elif manifest.committed_groups or manifest.tables:
        # RESUME of a partial write: refuse to mix docid assignments
        if manifest.docid_fingerprint not in (None, fp):
            raise ValueError(
                "resume fingerprint mismatch: the recomputed corpus "
                "produced a different docid assignment than the "
                "committed groups were written under (different "
                "parallelism/session can shift lease boundaries) — "
                "delete the partial index and rebuild"
            )
        written = (manifest.bucket_shift, manifest.n_term_partitions,
                   manifest.codec)
        if written != layout:
            raise ValueError(
                f"resume layout mismatch: the partial index was written "
                f"under {written}, the index being saved has {layout} — "
                "delete the partial index or save to a fresh path"
            )
    # nothing committed yet: this write's own layout replaces a crashed
    # one's (on a resume it is the same layout)
    manifest.bucket_shift, manifest.n_term_partitions, manifest.codec = layout
    manifest.with_positions = index.has_positions
    # carried past compaction (which drops the highest docids from
    # docmeta), so a loaded index never leases them again
    manifest.high_watermark = max(max_docid, index._max_docid or -1)
    n_groups = manifest.n_groups
    # a manifest with nothing committed (a prior session published and
    # crashed before its first group) is re-pinned to THIS session's
    # assignment: leaving the stale one would validate a later resume
    # against the wrong session's assignment (session B writes groups
    # under fp_B while the manifest says fp_A; session C with fp_C ==
    # fp_A then passes the check and mixes assignments — the exact
    # silent corruption the fingerprint exists to prevent)
    manifest.docid_fingerprint = fp
    _publish(path, manifest)
    # read_index unions every blocks/group=* directory, so staged groups
    # a crashed write left uncommitted must not survive this one
    blocks_dir = os.path.join(path, "blocks")
    if os.path.isdir(blocks_dir):
        import shutil

        for entry in os.listdir(blocks_dir):
            if entry.split("=", 1)[-1] not in manifest.committed_groups:
                shutil.rmtree(
                    os.path.join(blocks_dir, entry), ignore_errors=True
                )

    spark = index.blocks.sparkSession
    for g in range(n_groups):
        key = str(g)
        if key in manifest.committed_groups:
            continue
        part = (
            index.blocks.filter(F.col("tpart") % n_groups == g)
            if n_groups > 1
            else index.blocks
        )
        dest = os.path.join(path, "blocks", f"group={g}")
        t0 = time.time()
        # plain parquet: the block stream is range-partitioned and sorted
        # by tpart, so every file/row-group carries a narrow tpart span —
        # query-time term->tpart filters prune via parquet statistics
        # (TERMDICT block-first-key analogue) without the dynamic-
        # partition writer's per-directory fan-out
        part.write.mode("overwrite").option(
            "compression", PARQUET_COMPRESSION
        ).parquet(dest)
        manifest.committed_groups[key] = {
            # row count from parquet footers — metadata-only, no recompute
            "rows": spark.read.parquet(dest).count(),
            "seconds": round(time.time() - t0, 3),
        }
        _publish(path, manifest)  # checkpoint after every group

    tables = [
        ("docmeta", index.docmeta),
        ("termstats", index.termstats),
        ("fieldstats", index.fieldstats),
    ]
    # tombstones are part of the durable state (the reference's MANIFEST
    # tracks per-segment tombstone sets, keeper.rs:929): without this,
    # delete -> save -> load silently resurrects deleted documents
    if index.tombstones is not None:
        tables.append(("tombstones", index.tombstones))
    for name, df in tables:
        if name in manifest.tables:
            continue
        dest = os.path.join(path, name)
        df.write.mode("overwrite").option(
            "compression", PARQUET_COMPRESSION
        ).parquet(dest)
        manifest.tables[name] = {"rows": spark.read.parquet(dest).count()}
        _publish(path, manifest)

    manifest.completed = True
    _publish(path, manifest)
    _mark_committed(path)
    return manifest


def _mf_manifest_path(path: str) -> str:
    return os.path.join(path, "multifield.json")


def read_multifield_index(spark: SparkSession, path: str):
    mp = _mf_manifest_path(path)
    if not os.path.exists(mp):
        raise FileNotFoundError(f"no multifield index at {path}")
    with open(mp) as f:
        root = json.load(f)
    fields = {
        name: read_index(spark, os.path.join(path, "fields", name))
        for name in root["fields"]
    }
    return ServingMultiIndex(
        fields, root["primary"], field_cols=root.get("field_cols") or None
    )


def gc_orphans(path: str, grace_seconds: float = 300.0) -> list[str]:
    """Garbage-collect artifacts not referenced by the manifest (M4 —
    keeper.rs:85, 4260-4280: grace-window sweep of unreferenced files).

    Removes block-group directories with no committed manifest entry and
    stale ``manifest.json.tmp`` files, but only when older than the grace
    window (a concurrent writer may be mid-publication).  Returns the
    removed paths."""
    import shutil
    import time as _time

    manifest = load_manifest(path)
    if manifest is None:
        fields_dir = os.path.join(path, "fields")
        if os.path.exists(_mf_manifest_path(path)):
            with open(_mf_manifest_path(path)) as f:
                root = json.load(f)
            out: list[str] = []
            for name in root.get("fields", ()):
                out += gc_orphans(
                    os.path.join(fields_dir, name), grace_seconds
                )
            return out
        if os.path.isdir(fields_dir):
            # crashed multifield build: per-field partials exist but the
            # root manifest never landed — sweep each field dir anyway
            out = []
            for name in sorted(os.listdir(fields_dir)):
                out += gc_orphans(
                    os.path.join(fields_dir, name), grace_seconds
                )
            mtmp = _mf_manifest_path(path) + ".tmp"
            # grace-window guard like every other sweep target: a
            # CONCURRENT writer may be between writing the tmp and its
            # os.replace — unlinking a fresh tmp would fail that save
            # after all its field writes completed
            try:
                if os.path.exists(mtmp) and (
                    _time.time() - os.path.getmtime(mtmp) >= grace_seconds
                ):
                    os.unlink(mtmp)
                    out.append(mtmp)
            except OSError:
                pass
            return out
        return []
    removed: list[str] = []
    now = _time.time()

    def old_enough(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) >= grace_seconds
        except OSError:
            return False

    blocks_dir = os.path.join(path, "blocks")
    if os.path.isdir(blocks_dir):
        for entry in os.listdir(blocks_dir):
            if not entry.startswith("group="):
                continue
            g = entry.split("=", 1)[1]
            full = os.path.join(blocks_dir, entry)
            if g not in manifest.committed_groups and old_enough(full):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
    tmp = _manifest_path(path) + ".tmp"
    if os.path.exists(tmp) and old_enough(tmp):
        os.unlink(tmp)
        removed.append(tmp)
    return removed


def read_key_cols(path: str) -> list[str]:
    """External-key column names recorded at write time (IDMAP analogue)
    — lets ``FrankensearchSpark.load`` materialize external ids without
    the builder process.  Empty list for pre-key_cols indexes."""
    mp = _mf_manifest_path(path)
    if os.path.exists(mp):
        with open(mp) as f:
            return list(json.load(f).get("key_cols", []))
    manifest = load_manifest(path)
    return list(manifest.key_cols) if manifest is not None else []


def read_index(spark: SparkSession, path: str):
    if os.path.exists(_mf_manifest_path(path)):
        return read_multifield_index(spark, path)
    manifest = load_manifest(path)
    if manifest is None or not manifest.completed:
        raise FileNotFoundError(f"no completed index at {path}")
    blocks = spark.read.parquet(os.path.join(path, "blocks"))
    tombstones = None
    if "tombstones" in manifest.tables:
        tombstones = spark.read.parquet(os.path.join(path, "tombstones"))
    return ServingIndex(
        blocks=blocks,
        termstats=spark.read.parquet(os.path.join(path, "termstats")),
        docmeta=spark.read.parquet(os.path.join(path, "docmeta")),
        fieldstats=spark.read.parquet(os.path.join(path, "fieldstats")),
        bucket_shift=manifest.bucket_shift,
        n_term_partitions=manifest.n_term_partitions,
        tombstones=tombstones,
        has_positions=manifest.with_positions,
        codec=manifest.codec,
        _max_docid=manifest.high_watermark,
    )
