"""Kernel tests mirroring the reference's template suite
(reference: tests/test_conversion_utils.py:27-102)."""

import urllib.parse

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.templates import (
    expand_template_py,
    invert_template_py,
    parse_template,
    template_columns,
    templates_compatible,
)

TPL = "http://localhost:8890/Demo/orders/{OrderID}"
TPL2 = "http://localhost:8890/Demo/order_details/{OrderID}/{ProductID}"


def test_parse_template():
    parts = parse_template(TPL2)
    assert template_columns(TPL2) == ["OrderID", "ProductID"]
    assert parts[0].prefix == "http://localhost:8890/Demo/order_details/"


def test_expand_basic():
    assert expand_template_py(TPL, {"OrderID": 1}) == "http://localhost:8890/Demo/orders/1"
    assert expand_template_py(TPL2, {"OrderID": 10, "ProductID": 42}).endswith("/10/42")


def test_expand_null_gives_none():
    assert expand_template_py(TPL, {"OrderID": None}) is None


def test_expand_iri_encodes():
    out = expand_template_py("http://ex.org/c/{name}", {"name": "a b/c"})
    assert out == "http://ex.org/c/a%20b%2Fc"


def test_iri_safe_matches_urllib():
    for s in ["a b/c", "x:y;z", "100%", "a&b=c+d", "plain", "(1,2)", "q?!"]:
        assert terms.iri_safe_py(s) == urllib.parse.quote(s, safe="")


def test_invert_roundtrip():
    s = expand_template_py(TPL2, {"OrderID": 10, "ProductID": 42})
    assert invert_template_py(s, TPL2) == {"OrderID": "10", "ProductID": "42"}


def test_invert_mismatch():
    assert invert_template_py("http://other/1", TPL) is None


def test_templates_compatible():
    assert templates_compatible(TPL, TPL)
    assert not templates_compatible(TPL, TPL2)


def test_bnode_skolem_stable():
    a = terms.skolem_bnode_py("t1", "1", "x")
    b = terms.skolem_bnode_py("t1", "1", "x")
    c = terms.skolem_bnode_py("t1", "2", "x")
    assert a == b and a != c and a.startswith("_:b")


def test_nt_term():
    assert terms.term_to_nt("<http://x>") == "<http://x>"
    assert terms.term_to_nt("_:b1") == "_:b1"
    assert terms.term_to_nt("hi", None, "en") == '"hi"@en'
    assert terms.term_to_nt("5", terms.XSD_INTEGER) == '"5"^^<http://www.w3.org/2001/XMLSchema#integer>'
    assert terms.term_to_nt('say "hi"\n') == '"say \\"hi\\"\\n"'


def test_template_spark_expr_fast_path_parity(spark):
    # the Spark render of a template (SQL text with the RLIKE-gated
    # encoder, parsed by one F.expr) must produce the bytes of the
    # independent Python reference expand_template_py, including
    # percent-unsafe chars, quotes, and backslashes in both the column
    # VALUES and the template PREFIX text, and NULL for a NULL slot
    from pyspark.sql import functions as F

    from rdflib_r2r_spark.templates import template_to_sql

    rows = [("a b/c", 1), ("x'y\"z", 2), ("back\\slash", 3), ("plain", 4),
            (None, 5)]
    df = spark.createDataFrame(rows, "v string, k int").alias("t")
    cases = [
        ("http://ex.org/{v}/{k}", True, True),
        ("pre'fix\\x-{v}", False, False),
        ("{k}-{v}", True, False),
    ]
    for tpl, iri, wrap in cases:
        sql = template_to_sql(tpl, lambda c: f"`t`.`{c}`", iri=iri, wrap=wrap,
                              safe=terms.iri_safe_sql_spark)
        got = [r[0] for r in df.select(F.expr(sql)).collect()]
        want = []
        for v, k in rows:
            e = expand_template_py(tpl, {"v": v, "k": k}, iri=iri)
            want.append(None if e is None else (f"<{e}>" if wrap and iri else e))
        assert got == want, (tpl, got, want)
