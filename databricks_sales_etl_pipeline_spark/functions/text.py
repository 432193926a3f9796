r"""The token rule of the text queries, one spelling per engine.

A token is a lowercased run of non-whitespace. ``words`` splits the
lowercased text on whitespace and keeps the empty strings that leading
whitespace and the empty document give, so positions match the raw split;
``tokens`` drops them; ``normalized`` folds each whitespace run to one space
and lowercases, the key of the exact-duplicate fingerprints.

Whitespace is the explicit class ``WS`` = ``[ \t\n\x0B\f\r]+`` because
each engine's own ``\s`` differs: Java's (Spark ``split(c, r"\s+")``)
includes ``\x0B``, RE2's (DuckDB ``'\\s+'``, pyarrow) does not, and Python's
``str.split()`` also splits on ``\xa0`` and the other Unicode spaces. ``WS``
is exactly Java's ``\s``, so ``words`` equals Spark's own ``\s`` split on
every input, and the DuckDB (``*_sql``) and Python (``py_tokens``) twins give
the same lists.

Callers keep their physical shape: a site that explodes ``words`` and then
filters ``tok != ""`` stays that way (``F.filter`` is CodegenFallback, see
``extensions/dedup.py::shingle_rows``), and an expression that is already
lowercased or rewritten is split with ``WS`` directly.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: One whitespace run: Java's ``\s`` spelled out for every regex engine.
WS = r"[ \t\n\x0B\f\r]+"

#: ``WS`` as the body of a Spark SQL string literal (``spark.sql``/``F.expr``).
WS_SPARK_SQL = WS.replace("\\", "\\\\")

_WS_RE = re.compile(WS)


def words(col: Column | str) -> Column:
    """``split(lower(col), WS)``, empty strings kept."""
    return F.split(F.lower(col), WS)


def tokens(col: Column | str) -> Column:
    """:func:`words` without the empty strings."""
    return F.filter(words(col), lambda x: x != "")


def normalized(col: Column | str) -> Column:
    """Each whitespace run of ``col`` folded to one space, then lowercased."""
    return F.lower(F.regexp_replace(col, WS, " "))


def words_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`words` over the text expression ``expr``."""
    return f"string_split_regex(lower({expr}), '{WS}')"


def tokens_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`tokens`; its lambda binds ``x``."""
    return f"list_filter({words_sql(expr)}, x -> x <> '')"


def normalized_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`normalized`."""
    return f"lower(regexp_replace({expr}, '{WS}', ' ', 'g'))"


def py_tokens(s: str) -> list[str]:
    """Python twin of :func:`tokens`, for Python UDFs and UDTFs."""
    return [t for t in _WS_RE.split(s.lower()) if t]
