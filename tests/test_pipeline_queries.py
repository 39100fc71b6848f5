"""Near-dup / dedup-cluster / as-of-join driver queries vs the DuckDB oracle.

Beyond the driver's sf0.01 gate this pins the two properties the driver
cannot see:

* the connected-components loop in ``dedup_clusters`` genuinely iterates —
  a crafted 6-doc chain corpus (adjacent shingle-Jaccard ~0.85, distance-2
  ~0.72) has graph diameter 5, so min-label propagation needs 5 rounds to
  converge to ONE cluster; and
* ``events_asof_join`` is session-timezone invariant (its epoch-micros key
  is built from the tz-invariant ``unix_timestamp`` + fractional-second
  ``date_part``, not a zone-coerced cast).
"""

import os

import duckdb
import pandas as pd
import pytest

from frankensearch_spark.driver_queries import ORACLE_SQL, QUERIES

SF = "/root/testdata/sf0.001"

PIPELINE_QUERIES = [
    "near_dup_pairs",
    "dedup_clusters",
    "dedup_keep_list",
    "events_asof_join",
    "multimodal_frames",
    "stratified_sample",
    "multimodal_resize",
    "ann_ivf_recall",
    "hybrid_rrf_fusion",
    "doclen_percentiles",
    "tfidf_top_terms",
    "doc_repetition_ratio",
    "embedding_int8_quantize",
    "decontaminate",
    "ppl_unigram",
    "ppl_bigram",
    "boilerplate_ngrams",
    "latest_event_per_user",
    "lsh_bucket_skew",
    "near_dup_recall",
]


def _oracle(name: str, sf_dir: str = SF) -> pd.DataFrame:
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con.execute(ORACLE_SQL[name]).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", PIPELINE_QUERIES)
def test_pipeline_query_matches_oracle(spark, name):
    got = _canon(QUERIES[name](spark, SF).toPandas())
    exp = _canon(_oracle(name))
    assert list(got.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@pytest.mark.parametrize(
    "name,max_split",
    [
        ("boilerplate_ngrams", 1),
        ("doc_repetition_ratio", 1),
        ("ppl_unigram", 2),  # freq + score-join scans; total derives from freq
        ("ppl_bigram", 2),  # model + score-join scans; cf1 derives from cf2
    ],
)
def test_tokenizer_evaluates_once_per_scan(spark, name, max_split):
    """Pin the CollapseProject guard: the word tokenizer must appear at
    most once per corpus scan in the PHYSICAL plan.  Passing the raw
    split() expression into the n-gram builder inlined it once per
    element_at reference (measured 7 copies in the Generate) — the alias
    + multi-reference pattern in _word_ngrams is what prevents that."""
    plan = (
        QUERIES[name](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("split(lower(") <= max_split, plan[:2000]


def test_asof_join_tz_invariant(spark):
    base = _canon(QUERIES["events_asof_join"](spark, SF).toPandas())
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        shifted = _canon(QUERIES["events_asof_join"](spark, SF).toPandas())
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)
    pd.testing.assert_frame_equal(base, shifted)


# ---------------------------------------------------------------------------
# chain corpus: label propagation must cross 5 hops


def _chain_corpus(tmp_path) -> str:
    """6 sliding-window docs over a 140-token unique stream (window 100,
    step 8): adjacent pairs share 90/106 shingles (J~0.849 >= 0.8), any
    distance-2 pair only 82/114 (J~0.719 < 0.8) — a pure chain."""
    toks = [f"tk{i:04d}" for i in range(140)]
    # n_chars values crafted so the keep-list law is non-trivial: doc 3
    # is the unique max (kept), docs 2 and 4 tie below it
    n_chars = [10, 20, 30, 99, 30, 20]
    rows = []
    for k in range(6):
        rows.append((k, " ".join(toks[8 * k : 8 * k + 100]), n_chars[k]))
    # plus one isolated doc: no near-dup partner, must not appear at all
    rows.append((99, " ".join(f"zz{i:03d}" for i in range(60)), 5))
    df = pd.DataFrame(rows, columns=["doc_id", "text", "n_chars"])
    d = tmp_path / "chain"
    d.mkdir()
    df.to_parquet(d / "documents.parquet")
    return str(d)


def test_dedup_clusters_chain_transitivity(spark, tmp_path):
    sf_dir = _chain_corpus(tmp_path)
    pairs = _canon(QUERIES["near_dup_pairs"](spark, sf_dir).toPandas())
    # exactly the 5 adjacent chain edges survive the >= 0.8 verify
    assert list(zip(pairs["d1"], pairs["d2"])) == [(k, k + 1) for k in range(5)]
    got = _canon(QUERIES["dedup_clusters"](spark, sf_dir).toPandas())
    exp = _canon(_oracle("dedup_clusters", sf_dir))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # one transitive cluster spanning the whole chain: labels crossed
    # 5 hops, so the propagation loop demonstrably ran to fixpoint
    assert got.to_dict("records") == [
        {"cluster_id": 0, "n_docs": 6, "min_docid": 0, "max_docid": 5}
    ]
    # retention policy over the same cluster: doc 3 has the unique max
    # n_chars (99), so it is kept and the other 5 chain members drop;
    # the isolated doc 99 never appears (no cluster membership)
    keep = _canon(QUERIES["dedup_keep_list"](spark, sf_dir).toPandas())
    assert keep.to_dict("records") == [
        {"cluster_id": 0, "keep_docid": 3, "keep_chars": 99, "n_dropped": 5}
    ]


def test_dedup_clusters_reliable_checkpoint_path(spark, tmp_path):
    """FSX_CHECKPOINT_DIR routes the CC loop's lineage truncation
    through the RELIABLE Dataset.checkpoint (cluster-safe) instead of
    localCheckpoint; same chain corpus, same fixpoint, and the
    checkpoint dir actually receives RDD snapshots."""
    sf_dir = _chain_corpus(tmp_path)
    ckpt = tmp_path / "ckpt"
    os.environ["FSX_CHECKPOINT_DIR"] = str(ckpt)
    try:
        got = _canon(QUERIES["dedup_clusters"](spark, sf_dir).toPandas())
    finally:
        del os.environ["FSX_CHECKPOINT_DIR"]
    assert got.to_dict("records") == [
        {"cluster_id": 0, "n_docs": 6, "min_docid": 0, "max_docid": 5}
    ]
    # the reliable path genuinely wrote checkpoints to the given dir
    assert any(ckpt.rglob("*")), "no files under FSX_CHECKPOINT_DIR"


def test_dedup_keep_list_tie_breaks_to_min_docid(spark, tmp_path):
    """Equal n_chars within a cluster -> lowest docid is canonical
    (deterministic retention, no engine-order dependence)."""
    toks = [f"tk{i:04d}" for i in range(108)]
    rows = [
        (7, " ".join(toks[0:100]), 50),
        (3, " ".join(toks[8:108]), 50),  # adjacent window, J ~0.85
    ]
    df = pd.DataFrame(rows, columns=["doc_id", "text", "n_chars"])
    d = tmp_path / "tie"
    d.mkdir()
    df.to_parquet(d / "documents.parquet")
    keep = _canon(QUERIES["dedup_keep_list"](spark, str(d)).toPandas())
    assert keep.to_dict("records") == [
        {"cluster_id": 3, "keep_docid": 3, "keep_chars": 50, "n_dropped": 1}
    ]


def test_lsh_bucket_skew_pair_count_exact_above_2_pow_53(spark):
    """n_candidate_pairs is integer s*(s-1) DIV 2: for a bucket of
    200,000,003 members the count (≈2e16, odd) is above 2^53, where a
    floating-point halving can only hold even values."""
    from frankensearch_spark.driver_queries import bucket_size_histogram

    s = 200_000_003
    want = s * (s - 1) // 2
    assert want > 2**53 and want % 2 == 1
    sizes = spark.createDataFrame(
        [(0, "b0", s), (1, "b1", s), (0, "b2", 3)],
        "band int, bucket string, bucket_size long",
    )
    got = {
        r["bucket_size"]: (r["n_buckets"], r["n_candidate_pairs"])
        for r in bucket_size_histogram(sizes).collect()
    }
    assert got == {s: (2, 2 * want), 3: (1, 3)}


def test_spark_entry_flagship_matches_oracle(spark):
    """``__spark_entry__.entry``'s flagship top-10 (the exhaustive scorer
    over the documents table) equals the numpy oracle's: same docids,
    same f32 score bits, same order."""
    import numpy as np

    import __spark_entry__
    from frankensearch_spark.oracle import OracleIndex
    from frankensearch_spark.query_ast import ENGINE_SCHEMA, parse_lenient

    got = [
        (int(r["docid"]), int(np.float32(r["score"]).view(np.uint32)))
        for r in __spark_entry__.entry(spark).collect()
    ]
    docs = pd.read_parquet(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    oracle = OracleIndex(zip(docs["doc_id"].astype(int), docs["text"]))
    ast = parse_lenient("key order merge", ENGINE_SCHEMA).query
    exp = [
        (d, int(np.float32(s).view(np.uint32)))
        for d, s in oracle.search_ast(ast, 10)
    ]
    assert len(exp) == 10
    assert got == exp
