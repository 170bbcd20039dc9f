"""PNode -> pyspark Column compiler (P2-P6 in SURVEY §2.2).

Semantics mirror spec/predicates/PredicateEvaluator.java exactly:

- comparisons GT/LT/EQ/NE/GE/LE on numeric/string/bool fields with numeric
  promotion: int comparand -> compare as long, float comparand -> as double
  (PredicateEvaluator.java:146-187)
- IN membership (:159-166), MATCHES = FULL-string regex
  (``Pattern.matches``, :207) -> compiled to an anchored ``RLIKE``
- null field matches only EQ-with-NullVal (:82-99); all other ops on a null
  field are false. The compiled Column therefore wraps in coalesce(..., false)
  so three-valued SQL nulls collapse to the reference's two-valued logic.
- AND = all children, OR = any child (:54-71)
- bool fields only support EQ/NE (:212-221)

Evaluation and rendering are two views of one structure, as in the
reference (SURVEY §3.3): the tree renders to one Spark SQL expression
(``sqlcodec.render_sql(node, "spark")``, which holds every rule above) and
Spark parses it once. Building the Column node by node instead costs a
driver<->JVM round trip per Column operation, ~35 per tree node.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nbdatatools_spark.predicates.pnode import PNode
from nbdatatools_spark.predicates.sqlcodec import render_sql


def compile_pnode(
    node: PNode, columns: list[str] | None = None, two_valued: bool = True
) -> Column:
    """Compile a PNode tree to a Column predicate.

    ``columns`` resolves positional field indices (P6); ``two_valued`` wraps
    the result in coalesce(expr, false) so null propagation matches the
    reference's boolean evaluator in SELECT/CASE contexts.

    PERF: for WHERE filtering pass ``two_valued=False`` (or use
    ``where_pnode``): observable semantics are identical (Spark drops
    null-result rows), but the coalesce wrapper BLOCKS parquet predicate
    pushdown — measured as ``PushedFilters: []`` vs pushed comparisons.
    """
    if columns is not None:
        node = node.resolve(columns)
    sql = render_sql(node, "spark")
    return F.expr(f"coalesce({sql}, false)" if two_valued else sql)


def where_pnode(df, node: PNode, columns: list[str] | None = None):
    """Filter a DataFrame by a PNode with pushdown-friendly compilation."""
    return df.where(compile_pnode(node, columns or df.columns, two_valued=False))


def result_indices(
    meta_df, node: PNode, ordinal: str = "ordinal", columns: list[str] | None = None
):
    """P8: the matching-ordinal set for one predicate, ascending — the
    hybrid-query ground-truth facet (specs/ordinal_predicate_writers_v1.md:
    24-33). Returns DataFrame (ordinal) sorted."""
    return where_pnode(meta_df, node, columns).select(ordinal).orderBy(ordinal)
