"""Per-partition lineage manifests + checkpointed, resumable index builds
(SURVEY.md S5/B13 — MANIFEST two-slot publication + bulk-load checkpoint
cadence, keeper.rs:3955-4058 / index.rs:6077-6090, re-expressed for Spark).

Layout on disk:

    <path>/
      manifest.json            # engine config + lineage + committed groups
      blocks/group=<g>/        # compressed posting blocks, staged by group
      docmeta/  termstats/  fieldstats/   # parquet tables
      _COMMITTED               # final atomic completion marker

The block table is written in ``n_groups`` staged jobs (group = tpart %
n_groups).  After each group lands, its manifest entry is committed
(temp-file + atomic rename — the two-slot publication analogue).  A
re-run of :func:`write_index` skips committed groups, so a build killed
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
    build_blocks,
)
from frankensearch_spark.operators.wand import ServingIndex

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
    n_groups: int = 4
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


def _docid_fingerprint(built) -> str:
    """Deterministic digest of the docid assignment (order-free; XOR
    cannot overflow under ANSI mode and rows are docid-unique)."""
    cols = [c for c in built.docmeta.columns if c != "content_sha256"]
    row = built.docmeta.select(
        F.xxhash64(*[F.col(c) for c in cols]).alias("h")
    ).agg(
        F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x")
    ).collect()[0]
    return f"{int(row['n'])}:{int(row['x'] or 0)}"


def write_index(
    built,
    path: str,
    bucket_shift: int = DEFAULT_BUCKET_SHIFT,
    n_term_partitions: int = DEFAULT_TERM_PARTITIONS,
    n_groups: int = 4,
    source: str = "",
    key_cols: list[str] | None = None,
    codec: str = "vint",
) -> BuildManifest:
    """Persist a BuiltIndex as a compressed serving index, resumably.

    Idempotent: committed groups/tables are skipped on re-run (the
    bulk-load crash-resume rule, index.rs:6085-6090).  A
    MultiFieldIndex dispatches to :func:`write_multifield_index`."""
    from frankensearch_spark.operators.build import MultiFieldIndex

    if isinstance(built, MultiFieldIndex):
        return write_multifield_index(
            built, path, bucket_shift, n_term_partitions, n_groups, source,
            key_cols=key_cols, codec=codec,
        )
    os.makedirs(path, exist_ok=True)
    manifest = load_manifest(path)
    if manifest is not None and manifest.completed:
        return manifest
    fp = _docid_fingerprint(built)
    if manifest is None:
        manifest = BuildManifest(
            bucket_shift=bucket_shift,
            n_term_partitions=n_term_partitions,
            n_groups=n_groups,
            source=source,
            with_positions=getattr(built, "positions", None) is not None,
            key_cols=list(key_cols or []),
            codec=codec,
            docid_fingerprint=fp,
        )
        _publish(path, manifest)
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
    elif manifest.docid_fingerprint != fp:
        # manifest exists but NOTHING committed yet (a prior session
        # published and crashed before its first group): re-pin the
        # fingerprint to THIS session's assignment before writing —
        # leaving the stale one would validate a later resume against
        # the wrong session's assignment (session B writes groups under
        # fp_B while the manifest says fp_A; session C with fp_C == fp_A
        # then passes the check and mixes assignments — the exact silent
        # corruption the fingerprint exists to prevent)
        manifest.docid_fingerprint = fp
        _publish(path, manifest)
    bucket_shift = manifest.bucket_shift
    n_term_partitions = manifest.n_term_partitions
    n_groups = manifest.n_groups
    codec = manifest.codec

    spark = built.postings.sparkSession
    grouped = getattr(built, "postings_grouped", None)
    if grouped is not None:
        from frankensearch_spark.operators.merge import build_blocks_grouped

        blocks = build_blocks_grouped(
            grouped, bucket_shift, n_term_partitions, codec=codec
        )
    else:
        full = getattr(built, "postings_full", None)
        blocks = build_blocks(
            built.postings if full is None else full,
            bucket_shift, n_term_partitions,
            positions=getattr(built, "positions", None),
            codec=codec,
        )
    # with one group the block stream writes straight through (no second
    # pass, no cache); staged builds pay one persist for the group filters
    if n_groups > 1:
        blocks = blocks.persist()
    for g in range(n_groups):
        key = str(g)
        if key in manifest.committed_groups:
            continue
        part = (
            blocks.filter(F.col("tpart") % n_groups == g)
            if n_groups > 1
            else blocks
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
        ("docmeta", built.docmeta),
        ("termstats", built.termstats),
        ("fieldstats", built.fieldstats),
    ]
    # tombstones are part of the durable state (the reference's MANIFEST
    # tracks per-segment tombstone sets, keeper.rs:929): without this,
    # delete -> save -> load silently resurrects deleted documents
    if getattr(built, "tombstones", None) is not None:
        tables.append(("tombstones", built.tombstones))
    for name, df in tables:
        if name in manifest.tables:
            continue
        dest = os.path.join(path, name)
        df.write.mode("overwrite").option(
        "compression", PARQUET_COMPRESSION
    ).parquet(dest)
        manifest.tables[name] = {"rows": spark.read.parquet(dest).count()}
        _publish(path, manifest)

    if n_groups > 1:
        blocks.unpersist()
    manifest.completed = True
    _publish(path, manifest)
    _mark_committed(path)
    return manifest


def _mf_manifest_path(path: str) -> str:
    return os.path.join(path, "multifield.json")


def write_multifield_index(
    mfi,
    path: str,
    bucket_shift: int = DEFAULT_BUCKET_SHIFT,
    n_term_partitions: int = DEFAULT_TERM_PARTITIONS,
    n_groups: int = 4,
    source: str = "",
    key_cols: list[str] | None = None,
    codec: str = "vint",
) -> dict:
    """Persist a MultiFieldIndex: one serving index per field under
    ``fields/<name>/`` plus a tiny root manifest.  Per-field writes reuse
    :func:`write_index`'s checkpointed resume; the root commit marker
    lands only after every field completed (same two-step discipline)."""
    os.makedirs(path, exist_ok=True)
    root = {
        "version": MANIFEST_VERSION,
        "multifield": True,
        "fields": list(mfi.fields.keys()),
        "primary": mfi.primary_name,
        "source": source,
        "key_cols": list(key_cols or []),
        # field -> source column map: persisted so a LOADED multifield
        # engine can still upsert (delta builds need it)
        "field_cols": dict(getattr(mfi, "field_cols", None) or {}),
    }
    for name, built in mfi.fields.items():
        write_index(
            built, os.path.join(path, "fields", name),
            bucket_shift, n_term_partitions, n_groups, source,
            codec=codec,
        )
    _atomic_json(_mf_manifest_path(path), root)
    _mark_committed(path)
    return root


def read_multifield_index(spark: SparkSession, path: str):
    from frankensearch_spark.operators.wand import ServingMultiIndex

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


def write_serving_index(sidx, path: str, key_cols: list[str] | None = None,
                        source: str = "", **_layout_kw) -> None:
    """Persist an already-serving index (e.g. a loaded index whose
    tombstone set grew via delete) to a FRESH location.  The block table
    is already in its compressed durable form, so this is a table copy
    plus a fresh manifest — no re-merge.  delete -> save -> load
    round-trips without resurrecting deleted documents (keeper.rs:929
    tombstone durability rule).

    Refuses a target that already holds a committed index: the lazily
    read source DataFrames may point INTO that target, and an overwrite
    would delete the files mid-scan (snapshots are immutable).  Builder
    layout kwargs (``n_groups`` etc.) are accepted and ignored — the
    block layout is inherited from the source store."""
    from frankensearch_spark.operators.wand import (
        ServingIndex,
        ServingMultiIndex,
    )

    _require_fresh_target(path)
    # the target may hold a CRASHED partial build (uncommitted manifest +
    # staged block groups); read_index unions every blocks/group=* dir,
    # so clear the leftovers before laying down the n_groups=1 layout
    stale_blocks = os.path.join(path, "blocks")
    if os.path.isdir(stale_blocks):
        import shutil

        shutil.rmtree(stale_blocks, ignore_errors=True)
    stale_manifest = _manifest_path(path)
    if os.path.exists(stale_manifest):
        os.unlink(stale_manifest)
    os.makedirs(path, exist_ok=True)
    if isinstance(sidx, ServingMultiIndex):
        for name, sub in sidx.fields.items():
            fdir = os.path.join(path, "fields", name)
            if is_completed_index(fdir):
                continue  # committed by a crashed earlier attempt
            write_serving_index(sub, fdir)
        root = {
            "version": MANIFEST_VERSION,
            "multifield": True,
            "fields": list(sidx.fields.keys()),
            "primary": sidx.primary_name,
            "source": source,
            "key_cols": list(key_cols or []),
            "field_cols": dict(getattr(sidx, "field_cols", None) or {}),
        }
        _atomic_json(_mf_manifest_path(path), root)
        _mark_committed(path)
        return
    assert isinstance(sidx, ServingIndex)
    spark = sidx.blocks.sparkSession
    codec = "vint"
    if "codec" in sidx.blocks.columns:
        # the manifest's codec names the DISPATCH FAMILY the index was
        # written with: "for" and "bitmap" both imply the three-kind
        # writer (tails stay vint rows either way), so the max block
        # kind identifies it — 2=bitmap ⊃ 1=for ⊃ 0=vint.  Readers
        # dispatch per ROW on the codec column; this field is
        # observability + rebuild parameterization and must not
        # mislabel a bitmap index as "for".
        mx = sidx.blocks.agg(F.max("codec").alias("m")).collect()[0]["m"]
        codec = {0: "vint", 1: "for", 2: "bitmap"}.get(int(mx or 0), "vint")
    manifest = BuildManifest(
        bucket_shift=sidx.bucket_shift,
        n_term_partitions=sidx.n_term_partitions,
        n_groups=1,
        source=source,
        with_positions=sidx.has_positions,
        key_cols=list(key_cols or []),
        codec=codec,
    )
    dest = os.path.join(path, "blocks", "group=0")
    sidx.blocks.write.mode("overwrite").option(
        "compression", PARQUET_COMPRESSION
    ).parquet(dest)
    manifest.committed_groups["0"] = {
        "rows": spark.read.parquet(dest).count(), "seconds": 0.0,
    }
    tables = [
        ("docmeta", sidx.docmeta),
        ("termstats", sidx.termstats),
        ("fieldstats", sidx.fieldstats),
    ]
    if sidx.tombstones is not None:
        tables.append(("tombstones", sidx.tombstones))
    for name, df in tables:
        tdest = os.path.join(path, name)
        df.write.mode("overwrite").option(
        "compression", PARQUET_COMPRESSION
    ).parquet(tdest)
        manifest.tables[name] = {"rows": spark.read.parquet(tdest).count()}
    manifest.completed = True
    _publish(path, manifest)
    _mark_committed(path)


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
    )


class LegacyPositionsError(RuntimeError):
    """A committed mini-segment still carries the pre-round-4
    ``positions array<int>`` wire format.  The per-read normalization
    shim is retired (ONE wire format end-to-end: per-posting canonical
    LEB128 ``binary``, quiver.rs:395-430); run
    :func:`migrate_segment_positions` once over the index directory."""


def migrate_segment_positions(spark: SparkSession, out_dir: str) -> int:
    """One-shot, idempotent migration of legacy mini-segments to the
    canonical LEB128-binary positions wire format.

    Each committed segment whose postings footer shows a non-binary
    ``positions`` column is rewritten through the same commit protocol
    as a tier merge: the migrated copy commits with a ``replaces`` entry
    naming the legacy segment (readers atomically flip), then the legacy
    member retires marker-first (failed rmtree cannot resurrect it).
    The legacy segment's own ``replaces`` chain is carried forward so a
    crash-stranded pre-migration member can never resurrect either.
    Returns the number of segments migrated; 0 on an already-canonical
    index (re-running is free — one parquet footer read per segment)."""
    import shutil

    from frankensearch_spark.operators.build import positions_as_vbyte
    from frankensearch_spark.plans.tiers import (
        SegmentInfo,
        list_segments,
        segments_dir,
        write_segment_meta,
    )

    root = segments_dir(out_dir)
    n = 0
    for seg in list_segments(out_dir):
        src_dir = os.path.join(root, seg.seg_id)
        src = os.path.join(src_dir, "postings")
        fmt = dict(spark.read.parquet(src).dtypes).get("positions", "<none>")
        if fmt in ("binary", "<none>"):
            continue  # canonical, or predates positions (nulls at read)
        new_id = f"g{seg.seg_id}"
        dest = os.path.join(root, new_id)
        if os.path.isdir(dest):
            shutil.rmtree(dest)  # crashed earlier attempt, uncommitted
        positions_as_vbyte(spark.read.parquet(src)).write.option(
            "compression", PARQUET_COMPRESSION
        ).parquet(os.path.join(dest, "postings"))
        shutil.copytree(
            os.path.join(src_dir, "docmeta"), os.path.join(dest, "docmeta")
        )
        write_segment_meta(
            dest,
            SegmentInfo(
                new_id,
                seg.lease_lo,
                seg.lease_hi,
                seg.n_docs,
                replaces=tuple(seg.replaces) + (seg.seg_id,),
                pos_format="binary",  # the migration's whole point
            ),
        )  # commit point
        try:
            os.remove(os.path.join(src_dir, "segmeta.json"))
        except OSError:
            pass
        shutil.rmtree(src_dir, ignore_errors=True)
        n += 1
    return n
