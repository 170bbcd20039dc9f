"""PNode -> SQL / CQL / CDDL render codecs (P7 in SURVEY §2.2).

SQL has three dialects:

- ``reference``: byte-conformant with the reference's PNodeSqlCodec
  (PNodeSqlCodec.java:44-129): ``F0 > 42``, ``name IN ('a', 'b')``,
  parenthesized conjugates joined by `` AND ``/`` OR ``, `=`/`!=`, text
  quoting ``'it''s'``, TRUE/FALSE, NULL, and (notably) MATCHES rendered as
  LIKE — the reference renders regex predicates as LIKE even though its
  evaluator does full regex; we preserve that quirk in this dialect only.
- ``duckdb`` (also valid ANSI for most engines): semantically faithful
  rendering for oracle-differencing — MATCHES becomes
  ``regexp_full_match(col, 'pattern')`` and EQ-with-NULL becomes
  ``col IS NULL``, matching the evaluator's actual behavior.
- ``spark``: the expression ``predicates.compiler`` hands to Spark's parser,
  with the evaluator's exact semantics (PredicateEvaluator.java) — see
  ``_render_spark_leaf``.
"""

from __future__ import annotations

import math

from nbdatatools_spark.predicates.pnode import Conjugate, PNode, PredicateLeaf

_SQL_OP = {"GT": ">", "LT": "<", "EQ": "=", "NE": "!=", "GE": ">=", "LE": "<="}


def _render_value(v) -> str:
    """Literal rendering per PNodeSqlCodec.java:121-129."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(v)


def _render_duckdb_value(v) -> str:
    """Semantic-dialect literal: as ``_render_value``, plus the non-finite
    floats, which have no bare SQL spelling."""
    if isinstance(v, float) and not math.isfinite(v):
        return f"CAST('{v!r}' AS DOUBLE)"
    return _render_value(v)


def _field_ref(leaf: PredicateLeaf) -> str:
    """fieldName if present else F<index> (PNodeSqlCodec.java:83-85)."""
    return leaf.field_name if leaf.field_name is not None else f"F{leaf.field}"


def _spark_string(v: str) -> str:
    """Spark SQL string literal: the parser unescapes backslash sequences
    (``\\n``, ``\\u0041``), so backslashes and quotes are escaped."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _spark_value(v) -> str:
    """Typed Spark literal with the evaluator's promotion rules: int ->
    BIGINT, float -> DOUBLE (PredicateEvaluator.java:33-35,146-187). Floats go
    through their repr, which round-trips exactly and names inf/nan."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"{v}L"
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return _spark_string(v)
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    raise ValueError(f"unsupported comparand for Spark SQL: {v!r}")


def _spark_field(leaf: PredicateLeaf) -> str:
    """Backtick-quote each dotted part, so ``a.b`` resolves as ``F.col("a.b")``
    does (struct field b of column a) and keywords stay names."""
    if leaf.field_name is None:
        raise ValueError(
            "unresolved positional predicate; pass columns= to resolve "
            "(mirrors PredicateEvaluator.java:74-81 which requires named predicates)"
        )
    return ".".join("`" + p.replace("`", "``") + "`" for p in leaf.field_name.split("."))


def _render_spark_leaf(leaf: PredicateLeaf) -> str:
    op = leaf.op
    first = leaf.values[0]
    ref = _spark_field(leaf)
    if first is None:
        # Null comparand: only EQ-with-null can ever match, and it matches
        # exactly the null-field rows (PredicateEvaluator.java:82-99).
        return f"{ref} IS NULL" if op == "EQ" else "false"
    if op == "MATCHES":
        # Pattern.matches is full-match (PredicateEvaluator.java:207);
        # RLIKE is find() — anchor with a non-capturing group.
        return f"{ref} RLIKE {_spark_string(f'^(?:{first})$')}"
    # IntVal comparand: the reference narrows the FIELD value to long
    # (fieldVal.longValue(), truncation toward zero — PredicateEvaluator.
    # java:148-150), so field=45.5 GT 45 is FALSE there. Spark would instead
    # widen the long literal to double. Cast the field to BIGINT to match
    # (Spark's double->long cast also truncates toward zero). The cast is a
    # no-op (elided) on integral columns; on double columns it trades parquet
    # pushdown for exact reference semantics — use float comparands when you
    # want a pushable range scan over doubles. (ADVICE r1.)
    if isinstance(first, int) and not isinstance(first, bool):
        ref = f"CAST({ref} AS BIGINT)"
    if op == "IN":
        vals = ", ".join(_spark_value(v) for v in leaf.values if v is not None)
        return f"{ref} IN ({vals})"
    return f"{ref} {_SQL_OP[op]} {_spark_value(first)}"


def render_sql(node: PNode, dialect: str = "reference") -> str:
    if isinstance(node, Conjugate):
        sep = f" {node.op} "
        return "(" + sep.join(render_sql(c, dialect) for c in node.nodes) + ")"
    assert isinstance(node, PredicateLeaf)
    if dialect == "spark":
        return _render_spark_leaf(node)
    ref = _field_ref(node)
    op = node.op
    first = node.values[0]
    value = _render_value if dialect == "reference" else _render_duckdb_value
    if op == "IN":
        vals = ", ".join(value(v) for v in node.values)
        return f"{ref} IN ({vals})"
    if op == "MATCHES":
        if dialect == "reference":
            return f"{ref} LIKE {value(first)}"
        return f"regexp_full_match({ref}, {value(first)})"
    if first is None and dialect != "reference":
        # semantic dialect: EQ NULL == IS NULL; other ops never match
        return f"{ref} IS NULL" if op == "EQ" else "FALSE"
    return f"{ref} {_SQL_OP[op]} {value(first)}"


def render_cql(node: PNode) -> str:
    """CQL WHERE-fragment renderer, conformant with the reference's
    PNodeCqlCodec (PNodeCqlCodec.java:48-113): conjugates join children
    with the bare op and NO parenthesized grouping (CQL has no OR/paren
    grouping); MATCHES is not a CQL keyword and renders as
    ``field /* MATCHES */ 'pattern'`` with the raw pattern unescaped;
    comparands otherwise use SQL literal quoting."""
    if isinstance(node, Conjugate):
        sep = f" {node.op} "
        return sep.join(render_cql(c) for c in node.nodes)
    assert isinstance(node, PredicateLeaf)
    ref = _field_ref(node)
    if node.op == "IN":
        return f"{ref} IN ({', '.join(_render_value(v) for v in node.values)})"
    if node.op == "MATCHES":
        raw = node.values[0] if node.values else ""
        return f"{ref} /* MATCHES */ '{raw}'"
    return f"{ref} {_SQL_OP[node.op]} {_render_value(node.values[0])}"


def _cddl_type(v) -> str:
    """CDDL type keyword of the first comparand (PNodeCddlCodec.java:81-92);
    bool precedes int — Python bools are ints."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "tstr"
    if isinstance(v, (bytes, bytearray)):
        return "bstr"
    if v is None:
        return "null"
    return "int"


def _cddl_value(v) -> str:
    """CDDL literal (PNodeCddlCodec.java:120-128): double-quoted text with
    escaped quotes, lowercase booleans, bare numbers, h'...' bytes."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return '"' + v.replace('"', '\\"') + '"'
    if isinstance(v, (bytes, bytearray)):
        return "h'...'"
    return str(v)


_CDDL_OP = dict(_SQL_OP, IN="IN", MATCHES="MATCHES")


def render_cddl(node: PNode) -> str:
    """CDDL-style renderer, conformant with the reference's PNodeCddlCodec
    (PNodeCddlCodec.java:47-117): conjugates as ``AND { a, b }``, leaves as
    ``field: <type> <op> <value|[values]>``."""
    if isinstance(node, Conjugate):
        return f"{node.op} {{ " + ", ".join(render_cddl(c) for c in node.nodes) + " }"
    assert isinstance(node, PredicateLeaf)
    first = node.values[0] if node.values else 0
    vals = (
        _cddl_value(node.values[0])
        if len(node.values) == 1
        else "[" + ", ".join(_cddl_value(v) for v in node.values) + "]"
    )
    return f"{_field_ref(node)}: {_cddl_type(first)} {_CDDL_OP[node.op]} {vals}"
