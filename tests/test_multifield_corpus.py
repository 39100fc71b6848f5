"""Multi-field (content + title^2) parity on the generated corpus, with
``title`` taken from each document's path: the exhaustive scorer over a
MultiFieldIndex, its saved-then-loaded ServingMultiIndex (exhaustive and
routed) and the batch executor over both, all bit-exact against
OracleMultiIndex.  Runs without any external fixture."""

import numpy as np
import pytest

from frankensearch_spark.corpus import multifield_docs
from frankensearch_spark.operators.astexec import search_ast_bits
from frankensearch_spark.operators.batchexec import search_batch_collect
from frankensearch_spark.operators.build import build_multifield_index
from frankensearch_spark.operators.serving_exec import serving_search_bits
from frankensearch_spark.operators.wand import serving_from_built
from frankensearch_spark.oracle import OracleMultiIndex
from frankensearch_spark.plans.manifest import read_index, write_index
from frankensearch_spark.query_ast import (
    NUMERIC,
    TEXT,
    TITLE_BOOST,
    ParserSchema,
    QueryField,
    parse_lenient,
)

N_DOCS = 240

SCHEMA = ParserSchema(
    fields=(
        QueryField("content", 1.0, TEXT),
        QueryField("title", TITLE_BOOST, TEXT),
        QueryField("doclen", 1.0, NUMERIC),
    ),
    default_names=("content", "title"),
)

QUERIES = [
    "term00001 rs",              # bare terms over both fields
    "src fn import",             # a term in every title, skew terms in content
    "title:py",                  # title: scope
    "title:py^3 term00002",      # field scope + boost + bare term
    "term00001 AND py",          # boolean over multi-field leaves
    '"term00001 term00002"',     # phrase scored per field
    '"src m1"',                  # phrase inside the title
    "file1*",                    # glob expanded over both dictionaries
    "-fn",                       # all-negative repair
    "doclen:[40 TO 90] rs",      # metadata range on the primary doclen
]


@pytest.fixture(scope="module")
def docs():
    return multifield_docs(N_DOCS)


@pytest.fixture(scope="module")
def built(spark, docs):
    corpus = spark.createDataFrame(
        [(d, t["title"], t["content"]) for d, t in docs],
        "docid long, title string, content string",
    )
    return serving_from_built(
        build_multifield_index(
            corpus, ["docid"], {"content": "content", "title": "title"}
        ),
        bucket_shift=6, n_term_partitions=8,
    )


@pytest.fixture(scope="module")
def loaded(spark, built, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mf_generated"))
    write_index(built, path, n_groups=1)
    return read_index(spark, path)


@pytest.fixture(scope="module")
def expected(docs):
    oracle = OracleMultiIndex(docs, ["content", "title"])
    return {
        t: oracle.search_ast_bits(parse_lenient(t, SCHEMA).query, k=10)
        for t in QUERIES
    }


def _bits(hits):
    return [(d, int(np.float32(s).view(np.uint32))) for d, s in hits]


@pytest.mark.parametrize("text", QUERIES)
def test_generated_multifield_single_query_bits(built, loaded, expected,
                                                text):
    exp = expected[text]
    assert exp, text  # every shape hits, so an empty answer can't pass
    assert search_ast_bits(built, text, k=10, schema=SCHEMA) == exp
    assert serving_search_bits(
        loaded, text, k=10, schema=SCHEMA, prune=False
    ) == exp
    assert serving_search_bits(loaded, text, k=10, schema=SCHEMA) == exp


def test_generated_multifield_batch_bits(built, loaded, expected):
    want = [expected[t] for t in QUERIES]
    for idx in (built, loaded):
        got = search_batch_collect(idx, QUERIES, k=10, schema=SCHEMA)
        assert [_bits(h) for h in got] == want
