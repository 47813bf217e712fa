"""Raw-shadow ("late IRI render") invariants.

The round-7 optimization keys SPARQL GROUP BY / frame joins / DISTINCT /
EXISTS on the raw template-slot columns instead of the rendered IRI string
(evaluator.BindingFrame.raw_vars, bgp.RawBinding).  These tests pin:

- the plan property actually delivered (exchanges keyed on ``__raw``
  bigints, no template render inside scan filters);
- the eligibility guards (injectivity: no floats, no duplicated slots);
- the NULL semantics of raw equality vs lexical equality.

Value parity with DuckDB is covered by the oracle contract sweep; these
are the structural pins that keep the optimization from silently
regressing or over-applying.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from hypothesis import given, settings, strategies as st

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entry

    return entry.queries()


def test_bi3_groups_and_joins_on_raw_keys(registry, spark):
    # both subquery aggregations must key their exchange on the raw bigint
    # (product__raw0), and the old agg->join re-exchange must be gone:
    # the group key IS the join key, so 2 keyed exchanges total
    plan = plan_of(registry["bsbm_bi3"](spark, SF_DIR))
    keyed = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert len(keyed) == 2, f"bsbm_bi3 plans {len(keyed)} keyed exchanges"
    for l in keyed:
        assert "__raw0" in l, f"bsbm_bi3 exchange lost its raw key: {l.strip()}"


def test_bi3_scan_filters_never_render(registry, spark):
    # constraint inference must produce isnotnull on the raw column, not
    # isnotnull(concat(<full template render>)) — the render chain may
    # appear in output projections but never in a Filter/Scan condition
    plan = plan_of(registry["bsbm_bi3"](spark, SF_DIR))
    for line in plan.splitlines():
        if line.strip().startswith("Condition") or "PushedFilters" in line:
            assert "concat(" not in line, f"render inside a filter: {line[:120]}"


def test_bi7_exists_matches_on_raw(registry, spark):
    # the NOT EXISTS semi side must join on the renamed raw shadow
    plan = plan_of(registry["bsbm_bi7"](spark, SF_DIR))
    assert "__raw0__exr" in plan, "bsbm_bi7 EXISTS fell back to lexical match"


def test_raw_binding_eligibility_guards(spark):
    from pyspark.sql import types as T

    from rdflib_r2r_spark.mapping import TermMap
    from rdflib_r2r_spark.sparql.bgp import BGPCompiler, Occurrence, Slot

    comp = BGPCompiler.__new__(BGPCompiler)  # _raw_binding needs no state
    comp.compiler = None

    def occ_for(template, types):
        slot = Slot(alias="t0", df=None, types=types)
        return Occurrence(tm=TermMap(template=template, term_type="IRI"),
                          slot=slot, position="S")

    # two integral slots: eligible, two raw shadows
    rb = comp._raw_binding("v", occ_for("http://x/{a}-{b}",
                                        {"a": T.LongType(), "b": T.IntegerType()}))
    assert rb is not None and len(rb[1].cols) == 2

    # float slot: grouping normalizes -0.0/NaN while lexicals differ — out
    assert comp._raw_binding("v", occ_for("http://x/{a}",
                                          {"a": T.DoubleType()})) is None

    # multi-slot with a string slot: separator could alias — out
    assert comp._raw_binding("v", occ_for("http://x/{a}-{b}",
                                          {"a": T.StringType(),
                                           "b": T.LongType()})) is None

    # single string slot: percent-encoding is injective — eligible
    rb = comp._raw_binding("v", occ_for("http://x/{a}", {"a": T.StringType()}))
    assert rb is not None and len(rb[1].cols) == 1

    # duplicated slot breaks the slot<->raw arity correspondence — out
    assert comp._raw_binding("v", occ_for("http://x/{a}/{a}",
                                          {"a": T.LongType()})) is None

    # empty or digit-only separator: (1,23)/(12,3) both render .../123 and
    # (11,23)/(1,123) both render .../11123 — out
    longs = {"a": T.LongType(), "b": T.LongType()}
    for tpl in ("http://x/{a}{b}", "http://x/{a}1{b}"):
        assert comp._raw_binding("v", occ_for(tpl, longs)) is None, tpl


def _integral_parses(template: str, lexical: str) -> list[tuple]:
    """Every tuple of integers whose canonical render under ``template`` is
    ``lexical`` (exhaustive: each slot tries every canonical ``-?[0-9]+``
    token at its position)."""
    import re

    from rdflib_r2r_spark.templates import parse_template

    parts = parse_template(template)
    out: list[tuple] = []

    def walk(i: int, pos: int, acc: tuple) -> None:
        if i == len(parts):
            if pos == len(lexical):
                out.append(acc)
            return
        part = parts[i]
        if not lexical.startswith(part.prefix, pos):
            return
        pos += len(part.prefix)
        if part.column is None:
            walk(i + 1, pos, acc)
            return
        for end in range(pos + 1, len(lexical) + 1):
            tok = lexical[pos:end]
            if re.fullmatch(r"-?[0-9]+", tok) and str(int(tok)) == tok:
                walk(i + 1, end, acc + (int(tok),))

    walk(0, 0, ())
    return out


_SEP = st.text(alphabet="0123456789-/_a.", max_size=3)
_INT = st.integers(min_value=-2000, max_value=200000)


@settings(max_examples=300, deadline=None)
@given(seps=st.lists(_SEP, min_size=1, max_size=3), suffix=_SEP,
       wide=st.lists(st.booleans(), min_size=4, max_size=4), data=st.data())
def test_raw_binding_injective_property(seps, suffix, wide, data):
    # whenever _raw_binding accepts an integral multi-slot template, raw
    # equality <=> lexical equality: no other integral tuple renders the
    # same IRI (checked exhaustively per drawn tuple), and two drawn tuples
    # render equal exactly when they are equal
    from pyspark.sql import types as T

    from rdflib_r2r_spark.mapping import TermMap
    from rdflib_r2r_spark.sparql.bgp import BGPCompiler, Occurrence, Slot
    from rdflib_r2r_spark.templates import expand_template_py

    cols = [f"c{i}" for i in range(len(seps) + 1)]
    template = "http://x/{c0}" + "".join(
        sep + "{" + c + "}" for sep, c in zip(seps, cols[1:])) + suffix
    types = {c: T.LongType() if w else T.IntegerType() for c, w in zip(cols, wide)}
    comp = BGPCompiler.__new__(BGPCompiler)  # _raw_binding needs no state
    comp.compiler = None
    occ = Occurrence(tm=TermMap(template=template, term_type="IRI"),
                     slot=Slot(alias="t0", df=None, types=types), position="S")
    if comp._raw_binding("v", occ) is None:
        return
    t1 = data.draw(st.tuples(*[_INT] * len(cols)))
    t2 = data.draw(st.tuples(*[_INT] * len(cols)))
    lex1 = expand_template_py(template, dict(zip(cols, t1)))
    lex2 = expand_template_py(template, dict(zip(cols, t2)))
    assert (t1 == t2) == (lex1 == lex2)
    assert _integral_parses(template, lex1) == [t1], (template, t1, lex1)


def test_raw_eq_null_semantics(spark):
    # raw equality must be NULL (not false) whenever a raw input is NULL,
    # exactly like the lexical comparison it replaces
    from pyspark.sql import functions as F

    from rdflib_r2r_spark.sparql.evaluator import Evaluator

    df = spark.createDataFrame(
        [(1, 2, 2, 5), (1, None, 2, 5), (None, None, None, None), (1, 2, 1, 2)],
        "a1 long, a2 long, b1 long, b2 long",
    )
    eq = Evaluator._raw_eq((F.col("a1"), F.col("a2")), (F.col("b1"), F.col("b2")))
    got = [r[0] for r in df.select(eq.alias("e")).collect()]
    assert got == [False, None, None, True]


def test_raw_keyed_group_matches_lex_group(registry, spark):
    # belt over the oracle sweep: bi3 through the raw-keyed path equals a
    # per-row computation of the same aggregate keyed on the rendered IRI
    df = registry["bsbm_bi3"](spark, SF_DIR).toPandas()
    assert len(df) > 0
    assert df["product"].str.startswith("<http://").all()
    assert df["product"].is_unique
