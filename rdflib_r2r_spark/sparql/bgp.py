"""Compile SPARQL basic graph patterns directly against the R2RML mapping.

This is the reference's core query algorithm (reference:
rdflib_r2r/sql_converter.py:291-329 ``queryBGP``: enumerate every consistent
assignment of triple patterns to triples-map arms, emit one SELECT per
assignment, UNION ALL them) re-expressed as DataFrame plans:

- **Predicate index**: a pattern with a constant predicate only ever touches
  the arms that can produce that predicate — no scan of the full dump.
- **Star merging**: all patterns sharing a subject term and assigned to the
  same triples-map read ONE scan of the logical source (the reference's
  same-alias merge, sql_converter.py:427-455); a referencing-object arm's
  parent slot merges with the star of the object variable when the parent
  map matches, so ``?n ex:inRegion ?r . ?r ex:name ?rn`` is a single
  child->parent join, not a three-way self-join.
- **Constant pushdown**: constant subjects/objects are inverted through the
  term-map template (reference: rdflib_r2r/sql_converter.py:148-161,
  conversion_utils.py:517-531) into typed filters on raw columns, so the
  parquet scan sees ``o_orderkey = 1317``, never a string-concat comparison.
- **Raw-key joins**: shared variables between slots join on raw columns
  whenever both renders are the same template skeleton or same-typed columns
  (the reference's template-aware equality, conversion_utils.py:293-353);
  rendered-lexical equality is the fallback.

Variables surface as term-encoded columns ``{v}`` plus ``{v}__dt`` /
``{v}__lang`` / ``{v}__num`` (numeric shadow for typed filters/aggregates).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.compiler import SparkMappingCompiler, backtick
from rdflib_r2r_spark.mapping import TermMap, TriplesMap, xsd_for_spark_type
from rdflib_r2r_spark.sparql.ast_nodes import BNodeT, IRI, Lit, Var
from rdflib_r2r_spark.sparql.parser import RDF_TYPE, SparqlNotImplemented
from rdflib_r2r_spark.templates import (
    invert_template_py,
    parse_template,
    templates_compatible,
)
from rdflib_r2r_spark.terms import iri_unsafe_py

MAX_ASSIGNMENTS = 5000

_NUMERIC_XSD = {
    terms.XSD_INTEGER, terms.XSD_DOUBLE, terms.XSD_DECIMAL,
    terms.XSD + "float", terms.XSD + "int", terms.XSD + "long",
}

_NUMERIC_SPARK = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


class _Prune(Exception):
    """Assignment is inconsistent — contributes no rows."""


# --------------------------------------------------------------------------
# arm model (one per (triples-map, predicate, object) like the dump compiler)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Arm:
    tmap: TriplesMap
    pred_tm: TermMap  # constant for class arms (rdf:type)
    obj_tm: TermMap
    graph_tm: TermMap | None
    parent: TriplesMap | None  # set for referencing-object arms


def enumerate_arms(tmaps: list[TriplesMap]) -> list[Arm]:
    by_name = {tm.name: tm for tm in tmaps}
    arms: list[Arm] = []
    for tmap in tmaps:
        graphs = tuple(tmap.subject_map.graphs)
        for cls in tmap.subject_map.classes:
            for g in (list(graphs) or [None]):
                arms.append(
                    Arm(
                        tmap=tmap,
                        pred_tm=TermMap(constant=RDF_TYPE, term_type="IRI"),
                        obj_tm=TermMap(constant=cls, term_type="IRI"),
                        graph_tm=g,
                        parent=None,
                    )
                )
        for pom in tmap.pomaps:
            pgraphs = tuple(pom.graphs) + graphs
            for pred in pom.predicates:
                for obj in pom.objects:
                    for g in (list(pgraphs) or [None]):
                        parent = (
                            by_name[obj.parent_triples_map]
                            if obj.parent_triples_map is not None
                            else None
                        )
                        arms.append(Arm(tmap, pred, obj, g, parent))
    return arms


# --------------------------------------------------------------------------
# slots: one aliased scan of a logical source per (term, tmap) group
# --------------------------------------------------------------------------

@dataclass
class Slot:
    alias: str
    df: DataFrame
    types: dict  # column -> spark DataType

    def col(self, name: str) -> Column:
        return F.col(f"{self.alias}.{name}")

    def sql(self, name: str) -> str:
        return backtick(self.alias, name)


@dataclass
class Occurrence:
    """One rendering of a variable: a term map evaluated in a slot."""

    tm: TermMap
    slot: Slot
    position: str  # S/P/O/G


@dataclass(frozen=True)
class RawBinding:
    """Raw-key provenance of a term variable: the variable's lexical is an
    INJECTIVE render of the listed raw shadow columns (guide §2.3 "shuffle
    keys and metadata instead of payloads").  Downstream algebra (GROUP BY,
    frame-level joins) can key on the raws — 8-byte bigints — instead of
    the rendered IRI string, and re-render AFTER the exchange; Catalyst
    then prunes the per-row render entirely.  Two bindings with equal
    ``prov`` render identically, so raw equality <=> lexical equality
    (same template skeleton + same slot types; the injectivity argument is
    the template-aware raw-key join bgp-internal equality already relies
    on, restricted to one slot, or to integral slots with a non-digit in
    every separator, so renders cannot collide across slot boundaries —
    see :meth:`BGPCompiler._raw_binding`).

    ``cols``   — the raw shadow column names present in the frame's df.
    ``prov``   — hashable provenance key; equal prov => same render fn.
    ``render`` — () -> (lex, dt, lang, num) Columns over the ``cols``
                 names, byte-identical to the BGP-boundary render of the
                 same raws.
    """

    cols: tuple
    prov: tuple
    render: object  # Callable[[], tuple[Column, Column, Column, Column]]


_RAW_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _term_key(t) -> tuple:
    if isinstance(t, Var):
        return ("v", t.name)
    if isinstance(t, BNodeT):
        return ("v", "__bn_" + t.label)
    if isinstance(t, IRI):
        return ("c", t.value)
    return ("l", getattr(t, "value", str(t)), getattr(t, "datatype", None))


def _tm_render_kind(tm: TermMap, position: str) -> str:
    return tm.inferred_term_type(position)


def _effective_dt(tm: TermMap, slot: Slot) -> str | None:
    if tm.datatype:
        return tm.datatype
    if tm.column is not None and tm.column in slot.types:
        return xsd_for_spark_type(slot.types[tm.column])
    return None


class BGPCompiler:
    """Compiles a list of (s, p_iri, o) patterns (constant predicates) into
    one DataFrame of variable bindings."""

    def __init__(self, spark: SparkSession, tmaps: list[TriplesMap],
                 compiler: SparkMappingCompiler):
        self.spark = spark
        self.tmaps = tmaps
        self.compiler = compiler
        self.arms = enumerate_arms(tmaps)
        self._alias_n = 0

    # -- candidate matching ---------------------------------------------------

    def _pred_matches(self, arm: Arm, p) -> bool:
        if isinstance(p, Var):
            return True
        assert isinstance(p, IRI)
        if arm.pred_tm.constant is not None:
            return arm.pred_tm.constant == p.value
        # template/column predicate maps can in principle produce any IRI;
        # keep the arm and add a render-equality condition later
        return True

    def _subject_static_ok(self, arm: Arm, s) -> bool:
        if isinstance(s, (Var, BNodeT)):
            return True
        if isinstance(s, Lit):
            return False
        sm = arm.tmap.subject_map
        if sm.inferred_term_type("S") != "IRI":
            return False
        if sm.constant is not None:
            return sm.constant == s.value
        if sm.template is not None:
            return invert_template_py(s.value, sm.template) is not None
        return True  # column-IRI: runtime filter

    def _object_static_ok(self, arm: Arm, o) -> bool:
        if isinstance(o, (Var, BNodeT)):
            return True
        if arm.parent is not None:
            # referencing-object arm renders the parent subject IRI
            if not isinstance(o, IRI):
                return False
            psm = arm.parent.subject_map
            if psm.template is not None:
                return invert_template_py(o.value, psm.template) is not None
            return True
        tm = arm.obj_tm
        kind = tm.inferred_term_type("O")
        if isinstance(o, IRI):
            if kind != "IRI":
                return False
            if tm.constant is not None:
                return tm.constant == o.value
            if tm.template is not None:
                return invert_template_py(o.value, tm.template) is not None
            return True
        # literal object
        if kind != "Literal":
            return False
        if tm.constant is not None:
            return tm.constant == o.value
        return True

    def candidates(self, s, p, o, g, dataset=None) -> list[Arm]:
        out = []
        for arm in self.arms:
            if not self._pred_matches(arm, p):
                continue
            if not self._subject_static_ok(arm, s):
                continue
            if not self._object_static_ok(arm, o):
                continue
            if dataset is None:
                # graph dispatch: GRAPH-scoped patterns only match arms with
                # a graph map; default-graph patterns only match arms
                # without one
                if g is None and arm.graph_tm is not None:
                    continue
                if g is not None and arm.graph_tm is None:
                    continue
                if isinstance(g, IRI) and arm.graph_tm is not None and \
                        arm.graph_tm.constant is not None and arm.graph_tm.constant != g.value:
                    continue
            else:
                # FROM / FROM NAMED (13.2): the default graph is EXACTLY the
                # FROM merge (graph-less arms are excluded), GRAPH ranges
                # over the FROM NAMED list only.  Dispatch is static, so the
                # arm's graph map must be constant.
                if arm.graph_tm is None:
                    continue
                const = arm.graph_tm.constant
                if const is None:
                    from rdflib_r2r_spark.sparql.parser import SparqlNotImplemented

                    raise SparqlNotImplemented(
                        "non-constant graph map under a dataset clause"
                    )
                if g is None:
                    if const not in dataset.default:
                        continue
                else:
                    if const not in dataset.named:
                        continue
                    if isinstance(g, IRI) and const != g.value:
                        continue
            out.append(arm)
        return out

    # -- one assignment -> DataFrame -------------------------------------------

    def _new_slot(self, source) -> Slot:
        self._alias_n += 1
        alias = f"bgp{self._alias_n}"
        # the compiler memoizes one source DataFrame per logical source for
        # the store's lifetime; slots alias it
        return Slot(alias=alias, df=self.compiler.source_df(source).alias(alias),
                    types=self.compiler.source_types(source))

    def _typed_lit(self, value: str, col: str, slot: Slot) -> Column:
        dtype = slot.types.get(col)
        lit = F.lit(value)
        if dtype is not None:
            if isinstance(dtype, _NUMERIC_SPARK):
                try:
                    num = float(value) if "." in value or "e" in value.lower() else int(value)
                except ValueError:
                    # non-numeric lexical can never equal a numeric column
                    raise _Prune() from None
                return F.lit(num).cast(dtype)
            return lit.cast(dtype)
        return lit

    def _invert_filters(self, const: str, template: str, slot: Slot) -> list[Column]:
        binding = invert_template_py(const, template)
        if binding is None:
            raise _Prune()
        return [
            slot.col(c) == self._typed_lit(iri_unsafe_py(raw), c, slot)
            for c, raw in binding.items()
        ]

    def _const_conditions(self, term, tm: TermMap, slot: Slot, position: str) -> list[Column]:
        """Conditions binding a constant pattern term to a term map."""
        kind = tm.inferred_term_type(position)
        if isinstance(term, IRI):
            if kind != "IRI":
                raise _Prune()
            if tm.constant is not None:
                if tm.constant != term.value:
                    raise _Prune()
                return []
            if tm.template is not None:
                return self._invert_filters(term.value, tm.template, slot)
            if tm.column is not None:
                return [slot.col(tm.column).cast("string") == F.lit(term.value)]
            raise _Prune()
        if isinstance(term, Lit):
            if kind != "Literal":
                raise _Prune()
            if tm.constant is not None:
                if tm.constant != term.value:
                    raise _Prune()
                return []
            if tm.column is not None:
                return [slot.col(tm.column) == self._typed_lit(term.value, tm.column, slot)]
            if tm.template is not None:
                return self._invert_filters(term.value, tm.template, slot)
        raise _Prune()

    def _unify(self, a: Occurrence, b: Occurrence) -> list[Column]:
        """Equality conditions making two renderings of one variable agree.

        Raw-column equality whenever the renders share a template skeleton or
        are same-typed columns (equality of raw values <=> equality of the
        injective rendered lexical); rendered-lexical equality otherwise.
        """
        ta, tb = a.tm, b.tm
        ka = _tm_render_kind(ta, a.position)
        kb = _tm_render_kind(tb, b.position)
        if {ka, kb} == {"IRI", "Literal"} or "BlankNode" in (ka, kb) and ka != kb:
            raise _Prune()
        if ta.constant is not None and tb.constant is not None:
            if ta.constant != tb.constant:
                raise _Prune()
            return []
        if ta.constant is not None:
            term = IRI(ta.constant) if ka == "IRI" else Lit(ta.constant)
            return self._const_conditions(term, tb, b.slot, b.position)
        if tb.constant is not None:
            term = IRI(tb.constant) if kb == "IRI" else Lit(tb.constant)
            return self._const_conditions(term, ta, a.slot, a.position)
        if ta.template is not None and tb.template is not None:
            if not templates_compatible(ta.template, tb.template):
                # different skeletons never render equal IRIs in practice —
                # the reference prunes these assignments too
                # (conversion_utils.py try_match_templates)
                raise _Prune()
            args_a = [p.column for p in parse_template(ta.template) if p.column]
            args_b = [p.column for p in parse_template(tb.template) if p.column]
            return [
                c
                for ca, cb in zip(args_a, args_b)
                if (c := self._col_eq(a.slot, ca, b.slot, cb)) is not None
            ]
        if ta.column is not None and tb.column is not None:
            c = self._col_eq(a.slot, ta.column, b.slot, tb.column)
            return [] if c is None else [c]
        # mixed template/column: fall back to rendered equality
        lex_a = self._render(a)[0]
        lex_b = self._render(b)[0]
        return [lex_a == lex_b]

    def _col_eq(self, sa: Slot, ca: str, sb: Slot, cb: str) -> Column | None:
        if sa.alias == sb.alias and ca == cb:
            # same slot + same column: two occurrences of a shared variable
            # already unified to one physical expression — emitting the
            # condition would put a trivially-true `x == x` filter in every
            # star-pattern plan (dead work + Spark WARN spam)
            return None
        if type(sa.types.get(ca)) is type(sb.types.get(cb)):
            return sa.col(ca) == sb.col(cb)
        return sa.col(ca).cast("string") == sb.col(cb).cast("string")

    def _raw_null_guards(self, occ: Occurrence) -> list[str]:
        """IS NOT NULL conditions (SQL text) on the raw inputs of one term
        map; none when the term can never be NULL (constants)."""
        tm = occ.tm
        if tm.column is not None:
            cols = [tm.column]
        elif tm.template is not None:
            cols = [p.column for p in parse_template(tm.template) if p.column]
        else:
            cols = []
        return [f"{occ.slot.sql(c)} IS NOT NULL" for c in cols]

    def _render(self, occ: Occurrence) -> tuple[Column, Column, Column]:
        return self.compiler.term_columns(
            occ.tm, occ.position, occ.slot.sql, occ.slot.types)

    def _num_col(self, occ: Occurrence, lex: Column) -> Column:
        tm = occ.tm
        if tm.column is not None and isinstance(occ.slot.types.get(tm.column), _NUMERIC_SPARK):
            return occ.slot.col(tm.column).cast("double")
        dt = _effective_dt(tm, occ.slot)
        if _tm_render_kind(tm, occ.position) == "Literal" and (dt is None or dt in _NUMERIC_XSD):
            return lex.try_cast("double")
        return F.lit(None).cast("double")

    def _statically_consistent(self, patterns: list, assignment) -> bool:
        """Cheap metadata-only unification check so impossible assignments
        (the big product of the reference's queryBGP) never build slots or
        plans — the reference's try_match_templates pruning, done eagerly."""
        occs: dict[str, list[tuple[TermMap, str]]] = {}

        def add(term, tm: TermMap, position: str) -> None:
            if isinstance(term, Var):
                occs.setdefault(term.name, []).append((tm, position))
            elif isinstance(term, BNodeT):
                occs.setdefault("__bn_" + term.label, []).append((tm, position))

        for (s, p, o), arm in zip(patterns, assignment):
            add(s, arm.tmap.subject_map, "S")
            add(p, arm.pred_tm, "P")
            if arm.parent is not None:
                add(o, arm.parent.subject_map, "S")
            else:
                add(o, arm.obj_tm, "O")

        for _name, olist in occs.items():
            ta, pa = olist[0]
            for tb, pb in olist[1:]:
                if not self._tm_compatible(ta, pa, tb, pb):
                    return False
        return True

    def _tm_compatible(self, ta: TermMap, pa: str, tb: TermMap, pb: str) -> bool:
        ka, kb = ta.inferred_term_type(pa), tb.inferred_term_type(pb)
        if ka != kb and ({ka, kb} == {"IRI", "Literal"} or "BlankNode" in (ka, kb)):
            return False
        if ta.constant is not None and tb.constant is not None:
            return ta.constant == tb.constant
        if ta.constant is not None and tb.template is not None:
            return invert_template_py(ta.constant, tb.template) is not None
        if tb.constant is not None and ta.template is not None:
            return invert_template_py(tb.constant, ta.template) is not None
        if ta.template is not None and tb.template is not None:
            return templates_compatible(ta.template, tb.template)
        return True

    def compile_assignment(self, patterns: list, assignment: list[Arm],
                           graph_term) -> tuple[DataFrame, dict] | None:
        """One consistent assignment -> (joined/filtered DataFrame, raw
        bindings per variable), or None if statically inconsistent."""
        # slot keying merges stars AND parent slots with object-variable stars
        slots: dict[tuple, Slot] = {}
        occurrences: dict[str, list[Occurrence]] = {}
        conditions: list[tuple[Slot | None, Slot | None, Column]] = []
        null_guards: list[tuple[Occurrence]] = []

        def slot_for(term, tmap: TriplesMap) -> Slot:
            key = (_term_key(term), tmap.name, tmap.source.key())
            if key not in slots:
                slots[key] = self._new_slot(tmap.source)
            return slots[key]

        def add_occ(term, tm: TermMap, slot: Slot, position: str) -> None:
            occ = Occurrence(tm=tm, slot=slot, position=position)
            if isinstance(term, (Var, BNodeT)):
                name = term.name if isinstance(term, Var) else "__bn_" + term.label
                occurrences.setdefault(name, []).append(occ)
            else:
                for cond in self._const_conditions(term, tm, slot, position):
                    conditions.append((slot, slot, cond))
            null_guards.append((occ,))

        try:
            for (s, p, o), arm in zip(patterns, assignment):
                child = slot_for(s, arm.tmap)
                add_occ(s, arm.tmap.subject_map, child, "S")
                add_occ(p, arm.pred_tm, child, "P")
                if graph_term is not None and arm.graph_tm is not None:
                    add_occ(graph_term, arm.graph_tm, child, "G")
                if arm.parent is not None:
                    if arm.obj_tm.join_conditions:
                        parent = slot_for(o, arm.parent)
                        for jc in arm.obj_tm.join_conditions:
                            jcond = self._col_eq(child, jc.child, parent, jc.parent)
                            if jcond is not None:
                                conditions.append((child, parent, jcond))
                        add_occ(o, arm.parent.subject_map, parent, "S")
                    else:
                        # same-table referencing map: same row, no join
                        add_occ(o, arm.parent.subject_map, child, "S")
                else:
                    add_occ(o, arm.obj_tm, child, "O")

            # unify shared variables (pairwise against the first occurrence)
            for _name, occs in occurrences.items():
                first = occs[0]
                for other in occs[1:]:
                    for cond in self._unify(first, other):
                        conditions.append((first.slot, other.slot, cond))
        except _Prune:
            return None

        # fold slots along the condition graph (equality conds become join
        # conditions; single-slot conds become filters; disconnected slots
        # cross-join, which only happens for genuinely disconnected patterns)
        slot_list = list(slots.values())
        parent_of: dict[str, str] = {s.alias: s.alias for s in slot_list}

        def find(a: str) -> str:
            while parent_of[a] != a:
                parent_of[a] = parent_of[parent_of[a]]
                a = parent_of[a]
            return a

        frames: dict[str, DataFrame] = {s.alias: s.df for s in slot_list}
        pending = list(conditions)
        while True:
            # same-component conditions become filters (applied and dropped);
            # all conditions between the same two components become ONE join
            # with an ANDed condition
            by_pair: dict[tuple, list] = {}
            same: dict[str, list[Column]] = {}
            for sa, sb, cond in pending:
                ra, rb = find(sa.alias), find(sb.alias)
                if ra == rb:
                    same.setdefault(ra, []).append(cond)
                else:
                    by_pair.setdefault(tuple(sorted((ra, rb))), []).append((sa, sb, cond))
            for r, conds in same.items():
                frames[r] = frames[r].filter(_and_all(conds))
            if not by_pair:
                break
            # merge exactly one pair per round, then re-bucket (other pairs
            # may have become same-component and must turn into filters)
            (ra, rb), items = sorted(by_pair.items())[0]
            frames[ra] = frames[ra].join(
                frames[rb], on=_and_all([c for _, _, c in items]), how="inner"
            )
            parent_of[rb] = ra
            pending = [t for pair, its in by_pair.items() if pair != (ra, rb) for t in its]

        roots = {find(s.alias) for s in slot_list}
        if not roots:
            df = self.spark.range(1).select(F.lit(1).alias("__one"))
        else:
            it = iter(sorted(roots))
            df = frames[next(it)]
            for r in it:
                df = df.crossJoin(frames[r])

        # project variables (first occurrence; all are condition-equal)
        out_cols: list[Column] = []
        raws: dict[str, RawBinding] = {}
        for name, occs in occurrences.items():
            occ = occs[0]
            lex, dt, lang = self._render(occ)
            out_cols.extend(
                [
                    lex.alias(name),
                    dt.alias(f"{name}__dt"),
                    lang.alias(f"{name}__lang"),
                    self._num_col(occ, lex).alias(f"{name}__num"),
                ]
            )
            rb = self._raw_binding(name, occ)
            if rb is not None:
                raw_cols, binding = rb
                out_cols.extend(col.alias(rc) for rc, col in raw_cols)
                raws[name] = binding
        # R2RML NULL guard: every term of every matched triple is non-NULL.
        # Guard on the RAW source columns, not the rendered lexical — a
        # render is NULL iff some referenced column is NULL (cast/template
        # concat/canonicalization all propagate NULL), and guarding on the
        # raw input lets Catalyst PRUNE the rendered expression entirely when
        # a query never reads the lexical (e.g. aggregates over the numeric
        # shadow: the canonical-double render would otherwise be evaluated
        # per row just to feed this filter).
        # All guards AND into ONE filter: one DataFrame op (one Catalyst
        # analysis) per frame instead of one per guard.
        guards = list(dict.fromkeys(
            g for (occ,) in null_guards for g in self._raw_null_guards(occ)))
        if not out_cols:
            out_cols = [F.lit(1).alias("__one")]
        out = df.filter(" AND ".join(guards)) if guards else df
        return out.select(*out_cols), raws

    def _raw_binding(
        self, name: str, occ: Occurrence
    ) -> tuple[list[tuple[str, Column]], RawBinding] | None:
        """Raw-key provenance for one variable occurrence, or None when the
        render is not provably injective from raw columns.

        Eligible: IRI template whose slots are all integral columns, or a
        single integral/string column.  An integral slot renders as
        ``-?[0-9]+``, so a multi-slot render is injective only when every
        separator between two slots contains a character outside ``[0-9]``:
        with an empty or digit-only separator, digits migrate across the
        slot boundary (``{a}{b}`` renders (1,23) and (12,3) both as
        ``123``; ``{a}1{b}`` renders (11,23) and (1,123) both as
        ``11123``).  With a non-digit in every separator, a slot cannot end
        at two different places: the digits between the two ends would
        have to repeat the separator periodically, making it all digits.
        String slots are percent-encoded (injective) but only single-slot,
        because an unencoded separator character inside a string value
        could otherwise alias the separator.  Floating-point slots are
        excluded outright: grouping normalizes -0.0/NaN while their
        rendered lexicals stay distinct.
        """
        tm, pos, slot = occ.tm, occ.position, occ.slot
        if tm.template is None or tm.inferred_term_type(pos) != "IRI":
            return None
        parts = parse_template(tm.template)
        all_slots = [p.column for p in parts if p.column]
        cols = list(dict.fromkeys(all_slots))
        # a repeated column would break the slot<->raw correspondence that
        # prov-based pairing relies on (arity is part of the provenance)
        if not cols or len(cols) != len(all_slots):
            return None
        types = [slot.types.get(c) for c in cols]
        if len(cols) == 1:
            ok = isinstance(types[0], _RAW_INTEGRAL + (T.StringType,))
        else:
            first = next(i for i, p in enumerate(parts) if p.column)
            ok = all(isinstance(t, _RAW_INTEGRAL) for t in types) and all(
                any(ch not in "0123456789" for ch in p.prefix)
                for p in parts[first + 1:] if p.column
            )
        if not ok:
            return None
        raw_names = tuple(f"{name}__raw{i}" for i in range(len(cols)))
        # provenance keys on the template SKELETON (literal parts), not the
        # full template: the render is lit0+enc(cast(raw0))+lit1+... — a
        # function of the literals and slot types only, so two arms that
        # render the same skeleton from different source columns (e.g.
        # Product{p_partkey} vs Product{l_partkey}) are raw-comparable.
        # This is templates_compatible's equivalence, narrowed to equal
        # slot types.
        skeleton = tuple(p.prefix for p in parts)
        prov = ("tmpl", skeleton, tuple(t.simpleString() for t in types))
        types_by_name = dict(zip(cols, types))
        raw_of = {c: backtick(rn) for c, rn in zip(cols, raw_names)}
        compiler = self.compiler

        def render() -> tuple[Column, Column, Column, Column]:
            lex, dt, lang = compiler.term_columns(
                tm, pos, lambda c: raw_of[c], types_by_name
            )
            return lex, dt, lang, F.expr("CAST(NULL AS DOUBLE)")

        return (
            [(rn, slot.col(c)) for rn, c in zip(raw_names, cols)],
            RawBinding(cols=raw_names, prov=prov, render=render),
        )

    def compile(self, patterns: list, graph_term=None,
                dataset=None) -> tuple[DataFrame, set[str], dict]:
        """All consistent assignments, UNION ALLed.

        Returns (df, var names, raw bindings).  Raw bindings (see
        :class:`RawBinding`) are only reported for a single-assignment BGP:
        across a union of arms the same variable can be rendered from
        different templates, so the raw columns would not be comparable."""
        var_names: set[str] = set()
        for s, p, o in patterns:
            for t in (s, p, o):
                if isinstance(t, Var):
                    var_names.add(t.name)
                elif isinstance(t, BNodeT):
                    var_names.add("__bn_" + t.label)
        if isinstance(graph_term, Var):
            var_names.add(graph_term.name)

        cand_lists = [self.candidates(s, p, o, graph_term, dataset)
                      for (s, p, o) in patterns]
        n_assignments = 1
        for c in cand_lists:
            n_assignments *= max(len(c), 1)
        if n_assignments > MAX_ASSIGNMENTS:
            raise SparqlNotImplemented(
                f"BGP has {n_assignments} arm assignments (> {MAX_ASSIGNMENTS})"
            )

        parts: list[tuple[DataFrame, dict]] = []
        for assignment in itertools.product(*cand_lists):
            if len(assignment) != len(patterns):
                continue
            if not self._statically_consistent(patterns, assignment):
                continue  # pruned before any DataFrame work
            res = self.compile_assignment(patterns, list(assignment), graph_term)
            if res is not None:
                parts.append(res)

        if not parts:
            return self._empty(var_names), var_names, {}
        if len(parts) == 1:
            df, raws = parts[0]
            return df, var_names, raws
        # multi-arm union: a variable keeps its raw shadows only when EVERY
        # arm binds it with the same provenance (same skeleton + slot
        # types) — the raw columns then line up by name and raw equality
        # still implies lexical equality across arms; anything else drops
        first_raws = parts[0][1]
        keep: dict[str, RawBinding] = {
            v: rb for v, rb in first_raws.items()
            if all(v in r and r[v].prov == rb.prov for _, r in parts[1:])
        }
        dfs = []
        for df, raws in parts:
            raw_cols = [c for v, rb in raws.items() if v not in keep
                        for c in rb.cols]
            dfs.append(df.drop(*raw_cols) if raw_cols else df)
        out = dfs[0]
        for p in dfs[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out, var_names, keep

    def _empty(self, var_names: set[str]) -> DataFrame:
        fields = []
        for v in sorted(var_names):
            fields.extend(
                [
                    T.StructField(v, T.StringType()),
                    T.StructField(f"{v}__dt", T.StringType()),
                    T.StructField(f"{v}__lang", T.StringType()),
                    T.StructField(f"{v}__num", T.DoubleType()),
                ]
            )
        if not fields:
            fields = [T.StructField("__one", T.IntegerType())]
        return self.spark.createDataFrame([], T.StructType(fields))


def _and_all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out
