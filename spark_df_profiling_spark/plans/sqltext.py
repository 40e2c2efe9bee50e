"""SQL-text building blocks for plans built with ``selectExpr``/``F.expr``.

Building a Column costs py4j socket round trips for every node of its
tree (a ``F.when(...).otherwise(...)`` alone is several), while a SQL
string costs nothing until the one call that parses it.  The operators
on the per-batch ingest path (``text_features``, the incremental state,
``knn_bruteforce``, ``two_phase_topk``, ``exact_dedup``) therefore write
each rule once as a private SQL-fragment builder; the public Column
helpers are ``F.expr`` wrappers around the same fragment.

Pitfalls of SQL text that Column objects do not have, and the helper
that closes each one:

* names: a column name is not SQL — ``a.b`` would be a struct field and
  ``x`y`` a syntax error.  :func:`ident` quotes every name.
* string literals: ``'`` and ``\\`` must be escaped — :func:`slit`.
* numeric literals: a bare ``200.0`` parses as DECIMAL, not DOUBLE —
  write ``200.0D`` or :func:`dlit`.
* regexes: SQL string literals unescape backslashes, so ``\\s+`` is
  written ``'\\\\s+'`` in the SQL text.
* lambda variables shadow columns of the same name inside the lambda
  body, so a fragment's lambda bodies reference only their own
  variables, never a column.
"""

from __future__ import annotations

import re
from typing import Union

from pyspark.sql import Column

# a (possibly dotted) column reference as Column.toString renders it
_REF = re.compile(r"(?:`(?:[^`]|``)+`|[A-Za-z_]\w*)"
                  r"(?:\.(?:`(?:[^`]|``)+`|[A-Za-z_]\w*))*")


def ident(name: str) -> str:
    """``name`` as a quoted SQL identifier (embedded backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _esc(ch: str) -> str:
    if ch in "\\'":
        return "\\" + ch
    # control characters as \uXXXX: the SQL text stays printable
    if ord(ch) < 0x20 or 0x7f <= ord(ch) <= 0x9f:
        return f"\\u{ord(ch):04x}"
    return ch


def slit(s: str) -> str:
    """``s`` as a SQL string literal (quote, backslash and control
    characters escaped; Spark's parser unescapes them back)."""
    return "'" + "".join(map(_esc, s)) + "'"


def dlit(v: float) -> str:
    """Exact DOUBLE literal: ``repr(float)`` is shortest-round-trip and
    Java's ``Double.parseDouble`` reads it back bit-exact."""
    return f"double('{v!r}')"


def operand(col: Union[str, Column]) -> str:
    """SQL text of a helper's operand: a column name (quoted with
    :func:`ident`) or a Column that references a column (``F.col(...)``,
    ``df[...]``), rendered as the reference Spark prints for it.  Any
    other Column raises ``TypeError``: its tree has no SQL form."""
    if isinstance(col, str):
        return ident(col)
    text = col._jc.toString()
    if not _REF.fullmatch(text):
        raise TypeError("expected a column name or a column reference, "
                        f"got the expression {text}")
    return text
