"""Block writer and build parity (operators/merge.build_blocks,
build_blocks_grouped, build.build_index).

The per-posting writer range-partitions raw postings on ONE composed 8-byte
key and numpy-lexsorts inside the blockify kernel.  Decoding its blocks per
(term, bucket) must give back the source postings — docids, tfs, fieldnorm
ids, positions — and every row's tpart must be the term's stable partition.
The default build's grouped postings and blocks must equal the reference
tokenize path keyed by external key.
"""

import numpy as np
import pytest

from frankensearch_spark.operators.build import (
    build_index,
    explode_grouped_postings,
)
from frankensearch_spark.operators.merge import (
    DEFAULT_BUCKET_SHIFT,
    build_blocks,
    build_blocks_grouped,
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

    pdf = build_blocks(explode_grouped_postings(built.postings_grouped), positions=built.positions).toPandas()
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

    src = explode_grouped_postings(built.postings_grouped).toPandas().sort_values(["term", "docid"])
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


def test_default_build_matches_reference_postings(spark, built):
    """The default build (fused lease spans, grouped batch-term rows,
    concat-only merge) must reproduce the reference path
    ``build_postings(build_token_rows(...))`` keyed by external key:
    docid ORDER follows the key sort, and the per-key postings (tf,
    positions, doclen), the decoded blocks (tf, fieldnorm, positions),
    docmeta and termstats are identical."""
    from frankensearch_spark.contract import fieldnorm_to_id
    from frankensearch_spark.functions.vbyte import vbyte_decode
    from frankensearch_spark.operators.build import (
        assign_docids,
        build_docmeta,
        build_postings,
        build_termstats,
        build_token_rows,
    )

    corpus = synthetic_corpus_df(spark, 3000)
    ref_corpus = assign_docids(corpus, CORPUS_KEY).persist()
    ref = build_postings(build_token_rows(ref_corpus)).persist()

    def key_map(docmeta):
        return {
            r["docid"]: (r["repo"], r["path"], r["commit"])
            for r in docmeta.collect()
        }

    key_of_b = key_map(built.docmeta)
    key_of_r = key_map(ref_corpus)
    # rank invariance: ascending docids visit the keys in key order
    order_b = [key_of_b[d] for d in sorted(key_of_b)]
    assert order_b == [key_of_r[d] for d in sorted(key_of_r)]
    assert order_b == sorted(order_b)

    # exploded postings parity (keyed)
    def norm(df, key_of):
        pdf = df.toPandas()
        pdf["key"] = pdf["docid"].map(key_of)
        pdf["positions"] = pdf["positions"].map(
            lambda p: tuple(int(x) for x in (
                vbyte_decode(bytes(p))
                if isinstance(p, (bytes, bytearray)) else p
            ))
        )
        return (
            pdf.sort_values(["term", "key"]).reset_index(drop=True)
            [["key", "term", "tf", "positions", "doclen"]]
        )

    want = norm(ref, key_of_r)
    assert norm(explode_grouped_postings(built.postings_grouped), key_of_b).equals(want)

    # block decode parity: the grouped writer's blocks decode to the
    # reference postings (bucket boundaries follow the docids, so
    # compare the flattened keyed multiset)
    blocks = build_blocks_grouped(built.postings_grouped).toPandas()
    got = []
    for (t, _bk), grp in blocks.groupby(["term", "bucket"], sort=True):
        docs, tfs, fids, _r, pos = decode_blocks_pdf(
            grp.sort_values("first_doc"), with_positions=True
        )
        for d, tf, fid, p in zip(
            docs.tolist(), tfs.tolist(), fids.tolist(), pos
        ):
            got.append((t, key_of_b[d], tf, fid, tuple(p)))
    fids_want = fieldnorm_to_id(want["doclen"].to_numpy(np.int64)).tolist()
    assert sorted(got) == sorted(
        (t, k, tf, fid, p)
        for t, k, tf, fid, p in zip(
            want["term"], want["key"], want["tf"], fids_want,
            want["positions"],
        )
    )

    # docmeta parity modulo docid; termstats exactly
    def by_key(dm):
        return (
            dm.toPandas().sort_values(["repo", "path", "commit"])
            .drop(columns=["docid"]).reset_index(drop=True)
        )

    ref_meta = build_docmeta(ref_corpus, CORPUS_KEY, ref)
    assert by_key(built.docmeta).equals(
        by_key(ref_meta.select(*built.docmeta.columns))
    )
    assert (
        built.termstats.orderBy("term").toPandas()
        .equals(build_termstats(ref).orderBy("term").toPandas())
    )
    ref.unpersist()
    ref_corpus.unpersist()


def test_default_build_fills_one_bucket(built):
    """3,000 docs at local[4]: the lease count is sized to the input
    (one lease per docid bucket of rows), so the whole build lands in
    bucket 0 — not one sparse bucket per core."""
    ids = [r["docid"] for r in built.docmeta.select("docid").collect()]
    assert sorted(ids) == list(range(3000))
    blocks = build_blocks_grouped(built.postings_grouped)
    assert [r["bucket"] for r in blocks.select("bucket").distinct()
            .collect()] == [0]


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
        build_postings_fused,
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

    contract = canon(build_postings_fused(corpus))
    grp_auto = canon(explode_grouped_postings(build_postings_grouped(spans)))
    assert grp_auto == contract
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
