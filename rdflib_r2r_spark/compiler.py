"""Compile R2RML-style triples-maps into Spark DataFrame plans.

The reference compiles SPARQL BGPs against the mapping into one SELECT per
consistent assignment and UNION ALLs them (reference:
rdflib_r2r/sql_converter.py:291-329 ``queryBGP``); its legacy dump engine
emitted every (triples-map x predicate-object-map) as one arm of a giant
UNION ALL (reference: docs/test-results/sqlite-rdb2rdf/R2RMLTC0000.md:7-15).
This engine materializes that dump semantics at scale.

Scale design (the part that matters at 100 TB):

- **One scan per logical source, not per arm.** All join-free arms over the
  same table are folded into a single pass with
  ``explode(array(struct(...per-arm...)))`` — N projections over one scan
  instead of N scans UNIONed. This subsumes the reference's
  subordinate-map self-join elimination (rdflib_r2r/sql_converter.py:427-455)
  and scan-sharing rewrites.
- **Joins on raw key columns, never on rendered IRIs** — referencing-object
  maps join on their rr:joinCondition columns directly, the reference's
  template-aware-equality trick (rdflib_r2r/conversion_utils.py:293-353)
  applied at materialization time. Narrow shuffle keys, cheap hashing.
- **NULL guards** (R2RML: a NULL input column produces no triple) ride on
  concat's NULL propagation and one post-explode filter — no Python, fully
  codegen'd.
- Small parent tables can be broadcast (``broadcast_parents``); otherwise
  AQE picks the join strategy at runtime.

Output schema: ``subj, pred, obj, obj_dt, obj_lang, graph`` — all strings;
term encoding per ``terms`` module.
"""

from __future__ import annotations

from collections import defaultdict
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdflib_r2r_spark import terms
from rdflib_r2r_spark.canonical import canonical_datetime_sql, canonical_double_sql
from rdflib_r2r_spark.mapping import (
    LogicalSource,
    TermMap,
    TriplesMap,
    xsd_for_spark_type,
)
from rdflib_r2r_spark.templates import sql_str_lit, template_to_sql
from rdflib_r2r_spark.terms import iri_safe_sql_spark

TRIPLE_COLS = ["subj", "pred", "obj", "obj_dt", "obj_lang", "graph"]


class MappingError(ValueError):
    pass


NULL_STR_SQL = "CAST(NULL AS STRING)"
# R2RML NULL guard on an output triple
_NOT_NULL_SPO = "subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL"

# R2RML §7.4: a column IRI value is absolute iff it starts with a scheme
_ABSOLUTE_IRI_RX = "^[A-Za-z][A-Za-z0-9+.-]*:"


def _null_str() -> Column:
    return F.expr(NULL_STR_SQL)


def backtick(*parts: str) -> str:
    """Spark-SQL identifier text: ``a``.``b`` with embedded backticks doubled."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def _term_sql(tm: TermMap, position: str, qualify, schema_types: dict) -> tuple[str, str, str]:
    """SQL text of :meth:`SparkMappingCompiler.term_columns`."""
    ttype = tm.inferred_term_type(position)
    dt = sql_str_lit(tm.datatype) if tm.datatype else NULL_STR_SQL
    lang = sql_str_lit(tm.language) if tm.language else NULL_STR_SQL

    def q(c: str) -> str:
        # binary columns render as uppercase hex (xsd:hexBinary lexical)
        if isinstance(schema_types.get(c), T.BinaryType):
            return f"hex({qualify(c)})"
        return qualify(c)

    if tm.constant is not None:
        if ttype == "RawIRI":  # pre-rendered lexical (chain predicates)
            return sql_str_lit(tm.constant), NULL_STR_SQL, NULL_STR_SQL
        if ttype == "IRI":
            return sql_str_lit(terms.wrap_iri(tm.constant)), NULL_STR_SQL, NULL_STR_SQL
        if ttype == "BlankNode":
            return sql_str_lit("_:" + tm.constant), NULL_STR_SQL, NULL_STR_SQL
        return sql_str_lit(tm.constant), dt, lang

    if tm.column is not None:
        val = f"CAST({q(tm.column)} AS STRING)"
        if ttype == "IRI":
            # rr:termType rr:IRI on a column: value IS the IRI (no
            # encoding); RELATIVE values resolve against the mapping base
            # (R2RML §7.4), absolute ones pass through
            if tm.base_iri:
                val = (
                    f"(CASE WHEN {val} RLIKE '{_ABSOLUTE_IRI_RX}' THEN {val} "
                    f"ELSE concat({sql_str_lit(tm.base_iri)}, {val}) END)"
                )
            return f"concat('<', {val}, '>')", NULL_STR_SQL, NULL_STR_SQL
        if ttype == "BlankNode":
            return f"concat('_:', {iri_safe_sql_spark(q(tm.column))})", NULL_STR_SQL, NULL_STR_SQL
        if tm.datatype is None:
            inferred = xsd_for_spark_type(schema_types[tm.column]) if tm.column in schema_types else None
            dt = sql_str_lit(inferred) if inferred else NULL_STR_SQL
        # natural RDF lexical form = canonical XSD lexical of the column
        # VALUE (R2RML §10.2; W3C TC0005a/b, TC0012a/e, TC0016b/c) —
        # doubles render scientific (2.0E1), dateTimes get the 'T'
        src_t = schema_types.get(tm.column)
        if isinstance(src_t, (T.DoubleType, T.FloatType)):
            return canonical_double_sql(q(tm.column)), dt, lang
        if isinstance(src_t, T.TimestampType):
            return canonical_datetime_sql(q(tm.column)), dt, lang
        return val, dt, lang

    if tm.template is not None:
        def render(iri: bool, wrap: bool) -> str:
            return template_to_sql(tm.template, q, iri=iri, wrap=wrap,
                                   safe=iri_safe_sql_spark)
        if ttype == "IRI":
            return render(True, True), NULL_STR_SQL, NULL_STR_SQL
        if ttype == "BlankNode":
            return f"concat('_:', {render(True, False)})", NULL_STR_SQL, NULL_STR_SQL
        return render(False, False), dt, lang

    raise MappingError(f"term map has no constant/column/template: {tm}")


class SparkMappingCompiler:
    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame] | None = None,
        strategy: str = "explode",
        broadcast_parents: bool = False,
    ):
        self.spark = spark
        self.tables = dict(tables or {})
        if strategy not in ("explode", "union"):
            raise MappingError(f"unknown strategy {strategy!r}")
        self.strategy = strategy
        self.broadcast_parents = broadcast_parents
        # LogicalSource.key() -> (DataFrame, {column: DataType}); every query
        # compiled against this compiler shares one analyzed source plan
        self._sources: dict[str, tuple[DataFrame, dict]] = {}

    # -- sources ------------------------------------------------------------

    def register(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df
        self._sources.clear()

    def source_df(self, source: LogicalSource) -> DataFrame:
        """rr:tableName -> registered/catalog table; rr:sqlQuery -> Spark SQL
        view (reference: rdflib_r2r/r2r_mapping.py:28-40 ``_get_table``).

        Memoized per ``source.key()`` until the next :meth:`register`: a
        sqlQuery source otherwise re-registers every temp view and
        re-analyzes its SQL on every fresh SPARQL request."""
        key = source.key()
        hit = self._sources.get(key)
        if hit is not None:
            return hit[0]
        if source.table is not None:
            if source.table in self.tables:
                df = self.tables[source.table]
            else:
                df = self.spark.table(source.table)
        elif source.sql_query is not None:
            for name, tdf in self.tables.items():
                tdf.createOrReplaceTempView(name)
            df = self.spark.sql(source.sql_query)
        else:
            raise MappingError("logical source needs table or sql_query")
        self._sources[key] = (df, {f.name: f.dataType for f in df.schema.fields})
        return df

    def source_types(self, source: LogicalSource) -> dict:
        """{column: Spark DataType} of :meth:`source_df` (memoized with it)."""
        self.source_df(source)
        return self._sources[source.key()][1]

    # -- term maps ----------------------------------------------------------

    def term_columns(
        self,
        tm: TermMap,
        position: str,
        qualify,
        schema_types: dict,
    ) -> tuple[Column, Column, Column]:
        """(lexical, datatype, language) Columns for one term map.

        Mirrors the constant/column/template dispatch of
        ``match_node_to_term_map`` (reference: rdflib_r2r/sql_converter.py:81-176).

        ``qualify(colname) -> str`` returns the Spark-SQL text addressing a
        source column (a backticked name, ``alias``.``col``, or a raw shadow
        name).  Every branch renders as SQL text, so each term costs one
        ``F.expr`` parse instead of a Column-API chain of Py4J round trips
        (the iri-safe chain alone is hundreds).  The text is the Spark
        flavour of ``oracle.term_sql``: same bytes per row, with the
        RLIKE-gated percent encoder (terms.iri_safe_sql_spark) and RLIKE in
        place of DuckDB's regexp_matches.
        """
        lex, dt, lang = _term_sql(tm, position, qualify, schema_types)
        return F.expr(lex), F.expr(dt), F.expr(lang)

    # -- arms ---------------------------------------------------------------

    def _graph_terms(self, tmap: TriplesMap, pom) -> list[TermMap | None]:
        graphs = tuple(pom.graphs) + tuple(tmap.subject_map.graphs)
        return list(graphs) if graphs else [None]

    def validate(self, tmaps: list[TriplesMap]) -> None:
        """Reject invalid mappings the way a conforming R2RML processor must
        (W3C negative test cases): literal subjects, non-IRI graphs."""
        for tmap in tmaps:
            if tmap.subject_map.inferred_term_type("S") == "Literal":
                raise MappingError(
                    f"triples map {tmap.name}: subject map must be IRI or "
                    "BlankNode, not Literal (R2RML §6)"
                )
            graph_tms = list(tmap.subject_map.graphs)
            for pom in tmap.pomaps:
                graph_tms.extend(pom.graphs)
            for g in graph_tms:
                if g is not None and g.inferred_term_type("G") != "IRI":
                    raise MappingError(
                        f"triples map {tmap.name}: graph map must be an IRI "
                        "(R2RML §9)"
                    )

    def compile(self, tmaps: list[TriplesMap]) -> DataFrame:
        """Full-dump materialization: every arm of every triples-map."""
        self.validate(tmaps)
        by_name = {tm.name: tm for tm in tmaps}
        scan_arms: dict[str, list[tuple[TriplesMap, TermMap | None, TermMap, TermMap | None]]] = defaultdict(list)
        join_parts: list[DataFrame] = []

        for tmap in tmaps:
            # class triples: subject rdf:type class (sql_converter.py:340-345);
            # they inherit the subject map's graphMap (R2RML §9)
            for cls in tmap.subject_map.classes:
                for g in (list(tmap.subject_map.graphs) or [None]):
                    scan_arms[tmap.source.key()].append(
                        (tmap, None, terms_const_iri_typeobj(cls), g)
                    )
            for pom in tmap.pomaps:
                for pred in pom.predicates:
                    for obj in pom.objects:
                        for g in self._graph_terms(tmap, pom):
                            if obj.parent_triples_map is not None:
                                join_parts.append(
                                    self._compile_join_arm(tmap, pred, obj, g, by_name)
                                )
                            else:
                                scan_arms[tmap.source.key()].append((tmap, pred, obj, g))

        parts: list[DataFrame] = []
        for _key, arms in scan_arms.items():
            parts.append(self._compile_scan_arms(arms))
        parts.extend(join_parts)
        if not parts:
            raise MappingError("no arms to compile")
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _compile_scan_arms(self, arms) -> DataFrame:
        """All join-free arms over one logical source: ONE scan + explode."""
        source = arms[0][0].source
        df = self.source_df(source)
        schema_types = self.source_types(source)

        structs: list[Column] = []
        for tmap, pred, obj, g in arms:
            subj, _, _ = self.term_columns(tmap.subject_map, "S", backtick, schema_types)
            if pred is None:  # class arm
                p = F.lit(terms.wrap_iri(terms.RDF_TYPE))
                o, odt, olang = F.lit(terms.wrap_iri(obj.constant)), _null_str(), _null_str()
            else:
                p, _, _ = self.term_columns(pred, "P", backtick, schema_types)
                o, odt, olang = self.term_columns(obj, "O", backtick, schema_types)
            gcol = (
                self.term_columns(g, "G", backtick, schema_types)[0]
                if g is not None
                else _null_str()
            )
            structs.append(
                F.struct(
                    subj.alias("subj"),
                    p.alias("pred"),
                    o.alias("obj"),
                    odt.alias("obj_dt"),
                    olang.alias("obj_lang"),
                    gcol.alias("graph"),
                )
            )
        if self.strategy == "explode" and len(structs) > 1:
            out = df.select(F.explode(F.array(*structs)).alias("t")).select("t.*")
        else:
            parts = [df.select(*[s[c].alias(c) for c in TRIPLE_COLS]) for s in structs]
            out = reduce(lambda a, b: a.unionByName(b), parts)
        return out.filter(_NOT_NULL_SPO)

    def _compile_join_arm(self, tmap, pred, obj, g, by_name) -> DataFrame:
        """Referencing-object map: equi-join child->parent on
        rr:joinCondition columns (reference: rdflib_r2r/sql_converter.py:164-176),
        parent subject rendered from parent-side columns. Joining on raw key
        columns, not rendered IRIs."""
        parent_name = obj.parent_triples_map
        if parent_name not in by_name:
            raise MappingError(f"unknown parentTriplesMap {parent_name!r}")
        parent_tmap = by_name[parent_name]
        # both sides are aliased: child and parent can be the same (memoized)
        # source DataFrame, and only the alias tells their columns apart
        child_df = self.source_df(tmap.source).alias("__c")
        child_types = self.source_types(tmap.source)
        q_child = lambda c: backtick("__c", c)  # noqa: E731

        same_table = (
            not obj.join_conditions
            and parent_tmap.source.key() == tmap.source.key()
        )
        if same_table:
            # R2RML: no joinCondition + same logical table => same row, no join.
            o, _, _ = self.term_columns(parent_tmap.subject_map, "S", q_child, child_types)
            joined = child_df
        else:
            if not obj.join_conditions:
                raise MappingError("cross-table referencing map needs joinCondition")
            parent_df = self.source_df(parent_tmap.source).alias("__p")
            if self.broadcast_parents:
                parent_df = F.broadcast(parent_df)
            parent_types = self.source_types(parent_tmap.source)
            q_parent = lambda c: backtick("__p", c)  # noqa: E731
            cond = " AND ".join(
                f"{q_child(jc.child)} = {q_parent(jc.parent)}" for jc in obj.join_conditions
            )
            o, _, _ = self.term_columns(parent_tmap.subject_map, "S", q_parent, parent_types)
            joined = child_df.join(parent_df, F.expr(cond), "inner")

        subj, _, _ = self.term_columns(tmap.subject_map, "S", q_child, child_types)
        p, _, _ = self.term_columns(pred, "P", q_child, child_types)
        gcol = (
            self.term_columns(g, "G", q_child, child_types)[0]
            if g is not None
            else _null_str()
        )
        return joined.select(
            subj.alias("subj"),
            p.alias("pred"),
            o.alias("obj"),
            _null_str().alias("obj_dt"),
            _null_str().alias("obj_lang"),
            gcol.alias("graph"),
        ).filter(_NOT_NULL_SPO)


def terms_const_iri_typeobj(cls: str) -> TermMap:
    return TermMap(constant=cls, term_type="IRI")
