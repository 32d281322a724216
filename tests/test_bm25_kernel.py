"""One BM25 kernel: the formula lives in ``operators/bm25.py`` only, and
every per-range scorer pools a doc's contributions the same way, so the
scorers agree to the last bit.

The exact-sum test guards the pooling: a per-doc sum with
``np.add.reduceat`` runs pairwise for three or more addends and can differ
from the sequential sum in the last bit. The AST guard keeps the BM25
saturation and idf arithmetic from growing a second copy."""

import ast
import pathlib

import pytest

from pyspark.sql import functions as F

import kafka_es_spark
from kafka_es_spark.operators.wand import Searcher
from kafka_es_spark.plans.build_index import build_index

SEG_BITS = 6
# eight head terms of the fixture corpus: most matching docs match 3+
QUERY = "data index search query term document web page"


@pytest.fixture(scope="module")
def idx(spark, pages, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_kernel"))
    build_index(spark, pages, d, seg_bits=SEG_BITS, n_term_buckets=8)
    return d


def test_relational_scorers_sum_exactly_like_topk(spark, idx):
    """relational_scores, synonym_topk without synonyms and terms_set_topk
    with m = 1 score every doc exactly as topk does, unrounded."""
    s = Searcher(spark, idx, cache=False)
    n = s.n_docs
    want = {
        r["doc_id"]: r["score"]
        for r in s.topk(QUERY, k=n, round_to=None).collect()
    }
    # the query must exercise the 3-or-more-addend sums
    assert len(want) > 100

    rel = {r["doc_id"]: r["score"] for r in s.relational_scores(QUERY).collect()}
    syn = {
        r["doc_id"]: r["score"]
        for r in s.synonym_topk(QUERY, synonyms={}, k=n, round_to=None).collect()
    }
    ones = spark.read.parquet(f"{idx}/docmap").select(
        "url", F.lit(1).cast("long").alias("m")
    )
    tset = {
        r["doc_id"]: r["score"]
        for r in s.terms_set_topk(QUERY, ones, "m", k=n, round_to=None).collect()
    }
    for name, got in (("relational_scores", rel), ("synonym_topk", syn),
                      ("terms_set_topk", tset)):
        diff = sorted(d for d in want if got.get(d) != want[d])
        assert got.keys() == want.keys() and not diff, (
            f"{name}: {len(diff)} docs differ from topk, e.g. "
            + ", ".join(f"{d}: {got.get(d)!r} vs {want[d]!r}" for d in diff[:3])
        )


# (module, function) pairs allowed to spell out the formula
SATURATION_HOME = {("operators/bm25.py", "contrib"),
                   ("operators/bm25.py", "contrib_col")}
IDF_HOME = {("operators/bm25.py", "idf"), ("operators/bm25.py", "idf_col")}


def _names_k1(node) -> bool:
    """``K1``/``k1`` or ``F.lit(K1)``."""
    if isinstance(node, ast.Call) and len(node.args) == 1:
        node = node.args[0]
    return (isinstance(node, ast.Name) and node.id.lower() == "k1") or (
        isinstance(node, ast.Attribute) and node.attr.lower() == "k1"
    )


def _is_half(node) -> bool:
    """``0.5`` or ``F.lit(0.5)``."""
    if isinstance(node, ast.Call) and len(node.args) == 1:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == 0.5


def _formula_sites():
    """(saturation lines, idf lines) outside their homes, as path:line.

    Saturation: ``K1 + ...`` or ``K1 * ...`` (the ``k1 + 1`` numerator and
    the ``k1 * (1 - b + b * dl / avgdl)`` norm). idf: a division by
    ``df + 0.5``."""
    root = pathlib.Path(kafka_es_spark.__file__).parent
    entry = root.parent / "__spark_entry__.py"
    sat, idf = [], []
    for path in sorted(root.rglob("*.py")) + [entry]:
        rel = path.name if path == entry else path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        home = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef):
                for sub in ast.walk(node):
                    home.setdefault(id(sub), set()).add((rel, node.name))
        for node in ast.walk(tree):
            if not isinstance(node, ast.BinOp):
                continue
            owners = home.get(id(node), set())
            if isinstance(node.op, (ast.Add, ast.Mult)) and (
                _names_k1(node.left) or _names_k1(node.right)
            ) and not owners & SATURATION_HOME:
                sat.append(f"{rel}:{node.lineno}")
            if (
                isinstance(node.op, ast.Div)
                and isinstance(node.right, ast.BinOp)
                and isinstance(node.right.op, ast.Add)
                and _is_half(node.right.right)
                and not owners & IDF_HOME
            ):
                idf.append(f"{rel}:{node.lineno}")
    return sorted(set(sat)), sorted(set(idf))


def test_bm25_formula_has_one_home():
    """The BM25 arithmetic appears only in ``bm25.contrib``/``contrib_col``
    (saturation) and ``bm25.idf``/``idf_col``; every scorer calls them."""
    sat, idf = _formula_sites()
    assert not sat, (
        f"{len(sat)} lines of BM25 saturation outside bm25.contrib/contrib_col: "
        + ", ".join(sat)
    )
    assert not idf, (
        f"{len(idf)} lines of idf outside bm25.idf/idf_col: " + ", ".join(idf)
    )
