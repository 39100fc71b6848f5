"""Block writer parity (operators/merge.build_blocks, build_blocks_grouped).

The non-grouped writer range-partitions raw postings on ONE composed 8-byte
key and numpy-lexsorts inside the blockify kernel.  Decoding its blocks per
(term, bucket) must give back the source postings — docids, tfs, fieldnorm
ids, positions — and every row's tpart must be the term's stable partition.
"""

import numpy as np
import pytest

from frankensearch_spark.operators.build import build_index
from frankensearch_spark.operators.merge import (
    DEFAULT_BUCKET_SHIFT,
    build_blocks,
    decode_blocks_pdf,
    term_partition,
)
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df


@pytest.fixture(scope="module")
def built(spark):
    corpus = synthetic_corpus_df(spark, 3000)
    b = build_index(corpus, CORPUS_KEY, docid_mode="lease")
    b.postings.count()
    return b


def test_kernel_presort_blocks_decode_to_postings(built):
    from frankensearch_spark.contract import fieldnorm_to_id
    from frankensearch_spark.functions.vbyte import vbyte_decode

    pdf = build_blocks(built.postings_full, positions=built.positions).toPandas()
    got = {}
    for (t, bk), grp in pdf.groupby(["term", "bucket"], sort=True):
        docs, tfs, fids, _rows, pos = decode_blocks_pdf(
            grp.sort_values("first_doc"), with_positions=True
        )
        got[(t, bk)] = (
            docs.tolist(),
            tfs.tolist(),
            fids.tolist(),
            [list(p) for p in pos],
        )

    src = built.postings_full.toPandas().sort_values(["term", "docid"])
    src["bucket"] = src["docid"].to_numpy() >> DEFAULT_BUCKET_SHIFT
    want = {}
    for (t, bk), grp in src.groupby(["term", "bucket"], sort=True):
        want[(t, bk)] = (
            grp["docid"].tolist(),
            grp["tf"].tolist(),
            fieldnorm_to_id(grp["doclen"].to_numpy(np.int64)).tolist(),
            [vbyte_decode(bytes(p)).tolist() for p in grp["positions"]],
        )
    assert set(got) == set(want)
    mismatches = [k for k in want if got[k] != want[k]]
    assert mismatches == []
    # crc32 tpart computed in-kernel == the query planner's term_partition
    assert all(
        tp == term_partition(t) for t, tp in zip(pdf.term, pdf.tpart)
    )


def test_grouped_layout_matches_rows_layout(spark, built):
    """layout='grouped' (batch-term array rows, concat-only merge) must
    reproduce the rows layout MODULO the lease docid relabeling: the
    fused span assignment (assign_docids_fused_spans) samples its own
    lease bounds, so docid VALUES may differ from the map-based path,
    but the docid ORDER must follow the same global key sort, and the
    per-key postings (tf, fieldnorm, positions, doclen), decoded blocks
    and termstats must be identical."""
    corpus = synthetic_corpus_df(spark, 3000)
    bg = build_index(corpus, CORPUS_KEY, docid_mode="lease", layout="grouped")
    from frankensearch_spark.operators.merge import build_blocks_grouped

    key_of_r = {
        r["docid"]: (r["repo"], r["path"], r["commit"])
        for r in built.docmeta.collect()
    }
    key_of_g = {
        r["docid"]: (r["repo"], r["path"], r["commit"])
        for r in bg.docmeta.collect()
    }
    # rank invariance: ascending docids visit the keys in the same order
    assert [key_of_r[d] for d in sorted(key_of_r)] == [
        key_of_g[d] for d in sorted(key_of_g)
    ]

    # exploded postings parity (keyed)
    def norm(df, key_of):
        pdf = df.toPandas()
        pdf["key"] = pdf["docid"].map(key_of)
        pdf["positions"] = pdf["positions"].map(
            lambda b: bytes(b) if b is not None else None
        )
        return (
            pdf.sort_values(["term", "key"]).reset_index(drop=True)
            [["key", "term", "tf", "positions", "doclen"]]
        )

    assert norm(built.postings_full, key_of_r).equals(
        norm(bg.postings_full, key_of_g)
    )

    # block decode parity: per-key posting streams (bucket boundaries
    # follow the docids, so compare the flattened keyed multiset)
    def decoded_by_key(pdf_blocks, key_of):
        rows = []
        for (t, _bk), grp in pdf_blocks.groupby(["term", "bucket"], sort=True):
            docs, tfs, fids, _r, pos = decode_blocks_pdf(
                grp.sort_values("first_doc"), with_positions=True
            )
            for d, tf, fid, p in zip(
                docs.tolist(), tfs.tolist(), fids.tolist(), pos
            ):
                rows.append(
                    (t, key_of[d], tf, fid,
                     None if p is None else tuple(p))
                )
        return sorted(rows)

    a_blocks = build_blocks(
        built.postings_full, positions=built.positions
    ).toPandas()
    g_blocks = build_blocks_grouped(bg.postings_grouped).toPandas()
    assert decoded_by_key(a_blocks, key_of_r) == decoded_by_key(
        g_blocks, key_of_g
    )

    # docmeta parity modulo docid; termstats exactly
    dr = (
        built.docmeta.toPandas()
        .sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    )
    dgm = (
        bg.docmeta.toPandas()
        .sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    )
    assert dr.drop(columns=["docid"]).equals(dgm.drop(columns=["docid"]))
    assert (
        built.termstats.orderBy("term").toPandas()
        .equals(bg.termstats.orderBy("term").toPandas())
    )


def test_fused_lease_contract(spark):
    """assign_docids_fused_spans: duplicate external keys are rejected
    (adjacent in the sorted stream — incl. across batch boundaries),
    rebuilds reproduce identical docids, and two parallelism levels
    yield the same docid RANK order."""
    from frankensearch_spark.operators.build import (
        assign_docids_fused_spans,
    )

    corpus = synthetic_corpus_df(spark, 400, partitions=3)
    a = assign_docids_fused_spans(corpus, CORPUS_KEY, 4).persist()
    rows = a.select("docid", *CORPUS_KEY).collect()
    assert len({r["docid"] for r in rows}) == len(rows)
    by_docid = [tuple(r[c] for c in CORPUS_KEY)
                for r in sorted(rows, key=lambda r: r["docid"])]
    assert by_docid == sorted(by_docid)  # docid order == key order
    b = assign_docids_fused_spans(corpus, CORPUS_KEY, 2).persist()
    by_docid2 = [tuple(r[c] for c in CORPUS_KEY)
                 for r in sorted(b.collect(),
                                 key=lambda r: r["docid"])]
    assert by_docid2 == by_docid  # rank invariance across parallelism
    a.unpersist(); b.unpersist()

    dup = corpus.limit(1).union(corpus.limit(1))
    with pytest.raises(Exception, match="duplicate external key"):
        assign_docids_fused_spans(dup, CORPUS_KEY, 2).count()


def test_grouped_auto_vector_match_rows_on_mixed_corpus(spark):
    """Grouped layout under the auto analyzer: the regroup adapter must
    preserve the posting table bit-for-bit, with the router's two
    sub-batches (RE2 vector + contract over the SAME docid span)
    regrouped together.  Mixed ASCII/Unicode corpus so both routes
    actually run."""
    from frankensearch_spark.operators.build import (
        assign_docids,
        build_postings_fused_auto,
        build_postings_grouped,
        explode_grouped_postings,
    )

    base = synthetic_corpus_df(spark, 60, partitions=2)
    extra = spark.createDataFrame(
        [
            ("u", "h.txt", "c0", "txt", "héllo wörld héllo"),
            ("u", "j.txt", "c0", "txt", "日本語 テスト 2024"),
            ("u", "n.txt", "c0", "txt", None),
            ("u", "x.txt", "c0", "txt", "①②③ enclosed ¼ vulgar"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    corpus = assign_docids(base.unionByName(extra), CORPUS_KEY).persist()
    spans = corpus.repartitionByRange(4, "docid").sortWithinPartitions(
        "docid"
    )

    def canon(df):
        pdf = df.toPandas()
        pdf["positions"] = pdf["positions"].map(
            lambda b: bytes(b) if b is not None else None
        )
        return sorted(
            map(tuple, pdf[["docid", "term", "tf", "positions", "doclen"]]
                .itertuples(index=False))
        )

    rows_auto = canon(build_postings_fused_auto(corpus))
    grp_auto = canon(explode_grouped_postings(build_postings_grouped(spans)))
    assert grp_auto == rows_auto
    corpus.unpersist()


def test_kernel_presort_no_positions(built):
    blocks = build_blocks(built.postings).toPandas()
    assert blocks.pos_bytes.isna().all()
    # decoded tf totals must equal the postings tf sum
    total = 0
    for (_t, _bk), grp in blocks.groupby(["term", "bucket"], sort=True):
        _d, tfs, _f, _r = decode_blocks_pdf(grp.sort_values("first_doc"))
        total += int(np.sum(tfs))
    expected = built.postings.groupBy().sum("tf").collect()[0][0]
    assert total == expected
