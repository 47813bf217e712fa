"""R2RML IRI/literal templates: parse, expand, invert — in Python and as
SQL text (which Spark parses through one ``F.expr`` and DuckDB runs as the
oracle).

Semantics mirror the reference exactly:

- parsing/expansion = ``string.Formatter().parse`` over ``.../{col}...``
  (reference: rdflib_r2r/conversion_utils.py:497-514 ``format_template``);
- inversion = regex fullmatch with one greedy ``(.*)`` group per column
  (reference: rdflib_r2r/conversion_utils.py:517-531 ``parse_with_template``).

Inversion is the reference's key optimizer trick (SURVEY.md §4): a concrete
IRI compared against a template collapses to typed comparisons on the raw key
columns — we reuse it at mapping-compile time so joins/filters run on narrow
key columns, never on rendered concat() strings.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from string import Formatter

from rdflib_r2r_spark.terms import iri_safe_py, iri_safe_sql


@dataclass(frozen=True)
class TemplatePart:
    prefix: str
    column: str | None


def parse_template(template: str) -> list[TemplatePart]:
    # R2RML allows \{ and \} escapes in templates (R2RML §7.3); shield them
    # from the Formatter and restore them as literal braces in prefixes
    shielded = template.replace("\\{", "\x00").replace("\\}", "\x01")
    parts: list[TemplatePart] = []
    for prefix, colname, _spec, _conv in Formatter().parse(shielded):
        prefix = (prefix or "").replace("\x00", "{").replace("\x01", "}")
        parts.append(TemplatePart(prefix=prefix, column=colname or None))
    return parts


def template_columns(template: str) -> list[str]:
    return [p.column for p in parse_template(template) if p.column]


def expand_template_py(template: str, row: dict, iri: bool = True) -> str | None:
    """Expand with Python values; IRI templates percent-encode each slot.
    Returns None if any referenced value is NULL (R2RML: no term, no triple)."""
    out: list[str] = []
    for part in parse_template(template):
        out.append(part.prefix)
        if part.column:
            v = row.get(part.column)
            if v is None:
                return None
            s = _canonical_str(v)
            out.append(iri_safe_py(s) if iri else s)
    return "".join(out)


def _canonical_str(v) -> str:
    # bool before int (bool is an int subclass)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer():
        return str(v)  # keep '20.0' — matches str(float) on both engines
    return str(v)


def sql_str_lit(s: str) -> str:
    """Engine-neutral SQL string literal: Spark C-escapes backslashes inside
    quotes, DuckDB does not — emit backslash as chr(92) so the same text
    parses identically in both (see terms.iri_safe_sql)."""
    parts = s.split("\\")
    quoted = ["'" + p.replace("'", "''") + "'" for p in parts]
    return " || chr(92) || ".join(quoted) if len(quoted) > 1 else quoted[0]


def template_to_sql(
    template: str,
    qualify=lambda c: f'"{c}"',
    iri: bool = True,
    wrap: bool = True,
    safe=iri_safe_sql,
) -> str:
    """SQL text rendering the template; the same bytes as
    :func:`expand_template_py` (plus the ``<...>`` IRI wrapper of our term
    encoding when ``wrap``).

    ``qualify(colname) -> str`` returns the SQL text of a source column.
    ``||`` concatenation propagates NULL, so a NULL in any slot renders NULL
    (R2RML: no term, no triple).  The default text is the FROZEN oracle
    dialect that both DuckDB and Spark parse; the Spark compiler passes
    ``safe=terms.iri_safe_sql_spark``, the RLIKE-gated encoder (never
    reaches DuckDB, value-identical)."""
    exprs: list[str] = []
    for part in parse_template(template):
        if part.prefix:
            exprs.append(sql_str_lit(part.prefix))
        if part.column:
            c = f"CAST({qualify(part.column)} AS STRING)"
            exprs.append(safe(c) if iri else c)
    if wrap and iri:
        exprs = ["'<'", *exprs, "'>'"]
    if not exprs:
        return "''"
    return " || ".join(exprs)


def invert_template_py(s: str, template: str) -> dict[str, str] | None:
    """Match a concrete string against the template; greedy ``(.*)`` per
    column, full match (reference parse_with_template semantics). Returns
    still-percent-encoded captured strings."""
    pattern: list[str] = []
    columns: list[str] = []
    for part in parse_template(template):
        if part.prefix:
            pattern.append(re.escape(part.prefix))
        if part.column:
            columns.append(part.column)
            pattern.append("(.*)")
    m = re.fullmatch("".join(pattern), s)
    if not m:
        return None
    return {col: m.group(i + 1) for i, col in enumerate(columns)}


def templates_compatible(t1: str, t2: str) -> bool:
    """Can two templates ever render the same string? Conservative check used
    for impossible-branch pruning and template-aware equality
    (reference: rdflib_r2r/conversion_utils.py:293-353 ``try_match_templates``):
    equal skeletons (prefixes) => compare keys; different skeletons => treat
    as never-equal only when neither could match the other's shape."""
    skel1 = [p.prefix for p in parse_template(t1)]
    skel2 = [p.prefix for p in parse_template(t2)]
    return skel1 == skel2
