"""Tiered merge policy for streamed mini-segments (SURVEY.md M1 —
``plan_tier_merge``, quill/keeper.rs:1336-1511; defaults config.rs:21-31).

Reference semantics carried over:

* segments classify **Small / Medium / Large** by size (the reference
  uses docid-interval width; for dense lease-per-batch mini-segments
  that equals the doc count, boundaries ``2**16`` and ``8 * 2**16``);
* the planner picks the FIRST same-tier **bound-consecutive** run of
  ``fanout`` segments (sorted by interval lower bound, each member's
  lease interval adjacent to the previous member's);
* a run is admitted only when its **hole ratio** — the fraction of the
  covered lease span not occupied by member segments — is ≤ 0.5;
* merge is CONCATENATION (Q1: disjoint docid intervals), so scores are
  invariant under any merge schedule (Q1-OB3) — asserted in tests.

Spark shape: a mini-segment is one directory of the block format an
engine build makes — ``blocks``, ``docmeta`` and ``termstats`` parquet
tables — plus a ``segmeta.json`` carrying its lease-interval bounds and
its block layout (bucket shift, term partitions, codec); merging
concatenates the members' three tables into one new segment directory
(the blocks sorted by ``tpart``), commits it, then removes the members.
The commit marker plus a ``replaces`` list makes a crash between "write
merged" and "delete old" recoverable: readers skip any segment named in
a committed segment's ``replaces``.
"""

from __future__ import annotations

import json
import os
import shutil

from frankensearch_spark.plans.manifest import PARQUET_COMPRESSION
from dataclasses import dataclass

TIER_SMALL_MAX = 1 << 16        # keeper.rs tier boundary (docs)
TIER_LARGE_MIN = 8 * (1 << 16)  # 8x small
DEFAULT_FANOUT = 8              # config.rs merge fanout
MAX_HOLE_RATIO = 0.5            # keeper.rs hole-ratio gate

SEGMENT_TABLES = ("blocks", "docmeta", "termstats")


@dataclass
class SegmentInfo:
    seg_id: str
    lease_lo: int   # inclusive lease-index lower bound
    lease_hi: int   # exclusive lease-index upper bound
    n_docs: int
    replaces: tuple[str, ...] = ()
    # the block layout the segment's blocks were cut under:
    # (bucket shift, term partitions, codec).  None: sealed by an older
    # writer in the retired postings form — refused at read
    layout: tuple | None = None

    @property
    def width(self) -> int:
        return self.lease_hi - self.lease_lo

    def tier(self) -> str:
        if self.n_docs < TIER_SMALL_MAX:
            return "small"
        if self.n_docs >= TIER_LARGE_MIN:
            return "large"
        return "medium"


def segments_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "segments")


def _meta_path(seg_dir: str) -> str:
    return os.path.join(seg_dir, "segmeta.json")


def write_segment_meta(seg_dir: str, info: SegmentInfo) -> None:
    tmp = _meta_path(seg_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "seg_id": info.seg_id,
                "lease_lo": info.lease_lo,
                "lease_hi": info.lease_hi,
                "n_docs": info.n_docs,
                "replaces": list(info.replaces),
                "layout": list(info.layout) if info.layout else None,
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, _meta_path(seg_dir))  # the segment's commit marker


def list_segments(out_dir: str) -> list[SegmentInfo]:
    """Committed, live segments (those replaced by a committed merge are
    skipped — and may still be on disk after a crash mid-cleanup)."""
    root = segments_dir(out_dir)
    if not os.path.isdir(root):
        return []
    infos: list[SegmentInfo] = []
    for entry in sorted(os.listdir(root)):
        mp = _meta_path(os.path.join(root, entry))
        if not os.path.exists(mp):
            continue  # uncommitted (crashed mid-write) — invisible
        with open(mp) as f:
            d = json.load(f)
        infos.append(
            SegmentInfo(
                d["seg_id"], d["lease_lo"], d["lease_hi"], d["n_docs"],
                tuple(d.get("replaces", ())),
                layout=tuple(d["layout"]) if d.get("layout") else None,
            )
        )
    dead = {sid for i in infos for sid in i.replaces}
    return sorted(
        (i for i in infos if i.seg_id not in dead), key=lambda i: i.lease_lo
    )


def segment_layout(segs: list[SegmentInfo]) -> tuple:
    """The block layout ``segs`` were sealed under (every seal uses the
    writer's default).  A segment without a layout stamp holds the
    retired postings form: that raises."""
    old = [s.seg_id for s in segs if s.layout is None]
    if old:
        raise ValueError(
            f"segment(s) {old[:4]} were sealed in the retired postings "
            "form, which no reader serves any more — re-ingest the "
            "stream into a new out_dir"
        )
    return segs[0].layout


def plan_tier_merge(
    segments: list[SegmentInfo],
    fanout: int = DEFAULT_FANOUT,
    max_hole_ratio: float = MAX_HOLE_RATIO,
) -> list[SegmentInfo] | None:
    """First same-tier bound-consecutive run of ``fanout`` segments whose
    hole ratio passes the gate; None when nothing merges."""
    by_tier: dict[str, list[SegmentInfo]] = {}
    for seg in sorted(segments, key=lambda s: s.lease_lo):
        by_tier.setdefault(seg.tier(), []).append(seg)
    # per-tier runs with the HOLE gate doing the adjacency filtering
    # (keeper.rs plan_tier_merge): requiring exact lease adjacency made
    # the gate dead code and permanently stranded same-tier segments on
    # both sides of an interleaved bigger segment — lease intervals are
    # disjoint by construction, so bridging a gap never duplicates docs,
    # and the hole ratio bounds how sparse a bridged run may be.
    for segs in by_tier.values():
        for start in range(len(segs) - fanout + 1):
            run = segs[start : start + fanout]
            # span from the MAX hi, not run[-1]: bridged merges create
            # overlapping lease intervals, and sorted-by-lo does not
            # make the last member the widest — a nested member sorting
            # last would yield covered > span (negative hole ratio, the
            # gate always passing) on exactly the sparsest runs
            span = max(s.lease_hi for s in run) - run[0].lease_lo
            covered = sum(s.width for s in run)
            if span > 0 and 1.0 - covered / span <= max_hole_ratio:
                return run
    return None


def merge_segments(spark, out_dir: str, run: list[SegmentInfo]) -> SegmentInfo:
    """Concat-merge a planned run into one new committed segment.

    Disjoint lease intervals make this a pure union (no re-score, no
    renumber — keeper.rs:4166-4206 concat theorem); the merged segment's
    ``replaces`` list retires the members atomically with its commit."""
    root = segments_dir(out_dir)
    hi = max(s.lease_hi for s in run)  # NOT run[-1]: intervals overlap
    # after bridged merges, so the last-by-lo member need not be widest
    base_id = f"m{run[0].lease_lo:08d}-{hi:08d}"
    new_id = base_id
    member_ids = {s.seg_id for s in run}
    n = 0
    while new_id in member_ids or os.path.exists(
        os.path.join(root, new_id, "segmeta.json")
    ):
        # the (lo, hi) interval does not name a segment uniquely once
        # bridged runs overlap: colliding with a run member (or any
        # LIVE committed segment outside the run) would rmtree its
        # committed data below, before the union ever reads it —
        # disambiguate instead of deleting
        n += 1
        new_id = f"{base_id}.{n}"
    dest = os.path.join(root, new_id)
    if os.path.isdir(dest):
        shutil.rmtree(dest)  # crashed earlier attempt, uncommitted
    src_dirs = [os.path.join(root, s.seg_id) for s in run]
    layout = segment_layout(run)
    for table in SEGMENT_TABLES:
        df = spark.read.parquet(*[os.path.join(d, table) for d in src_dirs])
        # fanout inputs -> ONE file per table per merge output: this is
        # the small-files compaction the tier policy exists for.
        # repartition (a shuffle), NOT coalesce: coalesce(1) is a narrow
        # dependency that would collapse the whole member read into one
        # single-core task.  Termstats rows stay per member (the reader
        # sums them per term); blocks are sorted by tpart, so the
        # merged file's row groups keep the narrow tpart spans term
        # filters prune on by parquet statistics
        df = df.repartition(1)
        if table == "blocks":
            df = df.sortWithinPartitions("tpart")
        df.write.mode("overwrite").option(
            "compression", PARQUET_COMPRESSION
        ).parquet(os.path.join(dest, table))
    info = SegmentInfo(
        seg_id=new_id,
        lease_lo=run[0].lease_lo,
        lease_hi=hi,
        n_docs=sum(s.n_docs for s in run),
        replaces=tuple(s.seg_id for s in run),
        layout=layout,
    )
    write_segment_meta(dest, info)  # commit point
    for d in src_dirs:
        # retire the member's COMMIT MARKER first: if the tree delete
        # then fails (busy NFS handle, permissions), the survivor is an
        # uncommitted dir that readers skip — without this, a failed
        # rmtree could resurrect the member once its replacer (the only
        # record naming it dead) is itself merged away
        try:
            os.remove(os.path.join(d, "segmeta.json"))
        except OSError:
            pass
        shutil.rmtree(d, ignore_errors=True)
    return info


def compact_stream(
    spark, out_dir: str, fanout: int = DEFAULT_FANOUT,
    max_hole_ratio: float = MAX_HOLE_RATIO, max_merges: int = 64,
) -> int:
    """Run tier merges until the planner finds nothing (or max_merges).
    Returns the number of merges performed."""
    n = 0
    while n < max_merges:
        plan = plan_tier_merge(list_segments(out_dir), fanout, max_hole_ratio)
        if plan is None:
            return n
        merge_segments(spark, out_dir, plan)
        n += 1
    return n
