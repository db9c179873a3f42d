"""T9 text trim — all native, zero UDFs.

The reference's entire text normalization is a leading/trailing whitespace
strip (setTextEquiv, tesseract-recognize.cc:205-212: the std::regex replace
of "^\\s+|\\s+$" with a reference to a nonexistent group — i.e. with "").
``regexp_replace`` matches those semantics exactly (Java and std \\s agree
on ASCII whitespace); Spark's ``trim`` would strip spaces only, so it is
deliberately NOT used.

The SQL text holds no backslash: an ordinary literal's backslashes are
unescaped or not depending on ``spark.sql.parser.escapedStringLiterals``
(a raw ``r'...'`` literal under that setting keeps its leading quote), and
a wrongly escaped pattern still runs but matches a literal backslash
instead of whitespace. The pattern is spelled with ``#`` for each
backslash and ``replace``'d to ``chr(92)``; the optimizer folds that to the
one constant pattern.
"""

from __future__ import annotations

__all__ = ["trim_sql"]

# '^\s+|\s+$' under either escaping setting
_PATTERN = "replace('^#s+|#s+$', '#', chr(92))"


def trim_sql(col: str) -> str:
    """The T9 trim as a SQL expression over column ``col``."""
    return f"regexp_replace({col}, {_PATTERN}, '')"
