"""FrameOfReference bitpacked block codec (quiver.rs:395-430 kind
FrameOfReference, freq sub-encodings at :892-920): full 128-posting
blocks bitpack, tails stay canonical LEB128.  The codec changes bytes,
never semantics — every query class must be bit-identical to the vint
build and the numpy oracle, from memory and from disk."""

import shutil
import tempfile

import numpy as np
import pytest

from frankensearch_spark.corpus import corpus_docs
from frankensearch_spark.operators.build import build_index
from frankensearch_spark.operators.serving_exec import serving_search_bits
from frankensearch_spark.operators.wand import serving_from_built
from frankensearch_spark.oracle import OracleIndex
from frankensearch_spark.plans.manifest import read_index, write_index
from frankensearch_spark.query_ast import ENGINE_SCHEMA, parse_lenient
from frankensearch_spark.sources.corpus import CORPUS_KEY, synthetic_corpus_df

# >128 postings for the mega-terms ('fn', 'import') so FULL blocks exist
N_DOCS = 400

QUERIES = [
    "fn import",                      # mega terms -> FOR blocks on the hot path
    "term00001 term00002 term00003",
    "+fn -term00002 term00003",
    '"term00001 term00002"',          # positions sidecar unaffected by codec
    "term000*",
    "missingkeywordzzz",
]


@pytest.fixture(scope="module")
def pair(spark):
    corpus = synthetic_corpus_df(spark, N_DOCS, partitions=4)
    built = build_index(corpus, CORPUS_KEY, docid_mode="global")
    vint = serving_from_built(built, cache=True)
    fo = serving_from_built(built, cache=True, codec="for")
    yield built, vint, fo


@pytest.fixture(scope="module")
def oracle():
    return OracleIndex(corpus_docs(N_DOCS))


def test_for_blocks_shrink_and_mark(pair):
    """Codec-marking law, byte shrink, and posting-stream equality.

    Block ROWS are not run-to-run comparable (a (term, bucket) group
    that spans an Arrow batch boundary splits into two decode-correct
    blocks, and batch slicing is not pinned), so the comparison is at
    the POSTING level — the only level the codec is allowed to
    preserve."""
    from frankensearch_spark.functions.bitpack import CODEC_FOR, CODEC_VINT
    from frankensearch_spark.operators.merge import decode_blocks_pdf

    _built, vint, fo = pair
    vb = vint.blocks.toPandas()
    fb = fo.blocks.toPandas()
    full = fb["n"].to_numpy() == 128
    assert full.any(), "corpus too small: no full blocks to exercise FOR"
    assert (fb["codec"].to_numpy() == np.where(full, CODEC_FOR, CODEC_VINT)).all()
    assert (vb["codec"].to_numpy() == CODEC_VINT).all()

    def stream_bytes(pdf):
        return int(
            pdf["doc_bytes"].map(len).sum() + pdf["tf_bytes"].map(len).sum()
        )

    # aggregate doc+tf stream must shrink (FREQ_ALL_ONE alone saves 127
    # bytes per full block; minimal-width deltas shrink the doc stream)
    assert stream_bytes(fb) < stream_bytes(vb)
    # posting streams identical
    d1, t1, f1, r1 = decode_blocks_pdf(vb)
    d2, t2, f2, r2 = decode_blocks_pdf(fb)
    assert sorted(zip(vb["term"].to_numpy()[r1], d1, t1, f1)) == sorted(
        zip(fb["term"].to_numpy()[r2], d2, t2, f2)
    )


@pytest.mark.parametrize("text", QUERIES)
def test_for_serving_bit_parity(pair, oracle, text):
    _built, vint, fo = pair
    ast = parse_lenient(text, ENGINE_SCHEMA).query
    exp = [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search_ast(ast, 10)
    ]
    assert serving_search_bits(fo, text, k=10) == exp, text
    assert serving_search_bits(vint, text, k=10) == exp, text


def test_for_durable_roundtrip(spark, pair, oracle):
    """A FOR-coded index -> write_index -> read_index serves
    bit-identical; the manifest records the codec; WAND's pruned path
    decodes FOR blocks."""
    _built, _vint, fo = pair
    path = tempfile.mkdtemp(prefix="fsx_for_")
    try:
        m = write_index(fo, path, n_groups=2, source="test")
        assert m.codec == "for"
        sidx = read_index(spark, path)
        fb = sidx.blocks.toPandas()
        assert (fb.loc[fb["n"] == 128, "codec"] == 1).all()
        for text in QUERIES:
            ast = parse_lenient(text, ENGINE_SCHEMA).query
            exp = [
                (d, int(np.float32(s).view(np.uint32)))
                for d, s in oracle.search_ast(ast, 10)
            ]
            assert serving_search_bits(sidx, text, k=10) == exp, text
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_for_wand_pruned_parity(pair, oracle):
    """The block-max pruned path reads FOR blocks through the same
    decode dispatch — pruned == exhaustive == oracle."""
    from frankensearch_spark.operators.wand import QuerySpec
    from frankensearch_spark.operators.wand import wand_topk

    _built, _vint, fo = pair
    spec = QuerySpec(should=["fn", "term00001", "term00002"])
    got = [(d, int(np.float32(s).view(np.uint32)))
           for d, s in wand_topk(fo, spec, k=10)]
    exp = [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search("fn term00001 term00002", k=10)
    ]
    assert got == exp


# ---------------------------------------------------------------------------
# Bitmap block kind (quiver.rs:395-430 kind Bitmap): codec="bitmap" is
# the reference's full three-kind dispatch — dense full blocks (docid
# span < 512) store a fixed 64-byte bitmap, other full blocks FOR, tails
# Vint.  Same law as FOR: bytes change, bits never do.


@pytest.fixture(scope="module")
def bitmap_srv(pair):
    built, _vint, _fo = pair
    return serving_from_built(built, cache=True, codec="bitmap")


def test_bitmap_roundtrip_unit():
    """Pure-numpy encode/decode law, incl. the frame-of-reference rule
    (bit 0 always set; first offset rides the block columns)."""
    import numpy as np

    from frankensearch_spark.functions.bitpack import (
        bitmap_decode_doc,
        bitmap_encode_rows,
    )

    rng = np.random.default_rng(42)
    rows = []
    for _ in range(20):
        offs = np.sort(rng.choice(511, size=128, replace=False)) + rng.integers(0, 7000)
        rows.append(offs.astype(np.uint64))
    mat = np.stack(rows)
    bufs = bitmap_encode_rows(mat)
    assert all(len(b) == 64 for b in bufs)
    for i, b in enumerate(bufs):
        rel = bitmap_decode_doc(b, 128)
        assert rel[0] == 0  # first offset is frame-of-reference
        assert (mat[i][0] + rel == mat[i]).all()


def test_bitmap_blocks_mark_and_equal(pair, bitmap_srv):
    """Dense mega-term blocks mark CODEC_BITMAP (fn/import appear in
    every doc, so a full block spans 127 docids < 512); posting streams
    stay identical to vint."""
    import numpy as np

    from frankensearch_spark.functions.bitpack import CODEC_BITMAP
    from frankensearch_spark.operators.merge import decode_blocks_pdf

    _built, vint, _fo = pair
    vb = vint.blocks.toPandas()
    bb = bitmap_srv.blocks.toPandas()
    n_bm = int((bb["codec"].to_numpy() == CODEC_BITMAP).sum())
    assert n_bm > 0, "no bitmap blocks on a corpus with df=N mega terms"
    # a bitmap block's doc stream is exactly 64 bytes
    assert (bb.loc[bb["codec"] == CODEC_BITMAP, "doc_bytes"].map(len) == 64).all()
    d1, t1, f1, r1 = decode_blocks_pdf(vb)
    d2, t2, f2, r2 = decode_blocks_pdf(bb)
    assert sorted(zip(vb["term"].to_numpy()[r1], d1, t1, f1)) == sorted(
        zip(bb["term"].to_numpy()[r2], d2, t2, f2)
    )


@pytest.mark.parametrize("text", QUERIES)
def test_bitmap_serving_bit_parity(bitmap_srv, oracle, text):
    ast = parse_lenient(text, ENGINE_SCHEMA).query
    exp = [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search_ast(ast, 10)
    ]
    assert serving_search_bits(bitmap_srv, text, k=10) == exp, text


def test_bitmap_durable_roundtrip(spark, bitmap_srv, oracle):
    path = tempfile.mkdtemp(prefix="fsx_bm_")
    try:
        m = write_index(bitmap_srv, path, n_groups=2, source="test")
        assert m.codec == "bitmap"
        sidx = read_index(spark, path)
        for text in QUERIES:
            ast = parse_lenient(text, ENGINE_SCHEMA).query
            exp = [
                (d, int(np.float32(s).view(np.uint32)))
                for d, s in oracle.search_ast(ast, 10)
            ]
            assert serving_search_bits(sidx, text, k=10) == exp, text
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_bitmap_wand_pruned_parity(bitmap_srv, oracle):
    from frankensearch_spark.operators.wand import QuerySpec
    from frankensearch_spark.operators.wand import wand_topk

    spec = QuerySpec(should=["fn", "term00001", "term00002"])
    got = [(d, int(np.float32(s).view(np.uint32)))
           for d, s in wand_topk(bitmap_srv, spec, k=10, min_cost=0)]
    exp = [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search("fn term00001 term00002", k=10)
    ]
    assert got == exp


def test_bitmap_rejects_unsorted_offsets():
    """Unsorted offsets previously wrapped via numpy negative indexing
    into the top of the bitmap and round-tripped with a matching
    popcount — wrong docids, silently."""
    import numpy as np
    import pytest

    from frankensearch_spark.functions.bitpack import bitmap_encode_rows

    with pytest.raises(ValueError, match="ascending"):
        bitmap_encode_rows(
            np.array([[10, 5, 11, 12]], dtype=np.uint64)
        )
