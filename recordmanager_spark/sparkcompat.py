"""Small shims over PySpark API asymmetries.

``F.element_at(col, 1)`` accepts a literal index, but under an ANSI-enabled
session (the Spark 4 default, and what the driver's oracle harness uses) it
throws ``INVALID_ARRAY_INDEX_IN_ELEMENT_AT`` on an empty array instead of
returning NULL.  ``F.try_element_at`` has the permissive semantics this
engine wants (the reference coerces and never errors), but its Python
wrapper only accepts a Column for the index/key argument.  This shim gives
``try_element_at`` the same literal-friendly signature ``element_at`` has,
so call sites read identically.

Spark SQL also has no ``let``: :func:`let1` supplies one for the
extractor specs.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def try_element_at(col: Column | str, extraction) -> Column:
    """``F.try_element_at`` accepting literal indexes / map keys.

    A non-Column ``extraction`` (int index, str map key, ...) is wrapped in
    ``F.lit`` — mirroring ``F.element_at``'s treatment — instead of being
    misread as a column name.
    """
    if not isinstance(extraction, Column):
        extraction = F.lit(extraction)
    return F.try_element_at(col, extraction)


def let1(value: Column, body) -> Column:
    """Let-bind ``value``: evaluate ``body(v)`` with ``v`` a lambda
    variable holding ``value``, through a one-element array transform.

    Expression trees duplicate per reference, in the Column API and in
    the SQL-text twin alike, so a value a spec function reads ``n`` times
    costs ``n`` copies of its subtree in the parser, the analyzer and
    (higher-order functions run interpreted) every record's evaluation.
    Bound, however many times ``body`` reads ``v`` the value's tree
    appears in the plan once.

    The rule: a Column value that a spec function reads more than once
    must be bound. Exempt are column, field and lambda-variable
    references, literals, and scalar expressions over them shorter than
    200 characters of SQL, where a copy costs less than the binding;
    ``tests/test_sqltwin.py`` enforces that line on the MARC Solr
    columns. Bind several values at once through a ``F.struct`` of
    aliased fields.
    ``body`` takes exactly one argument: ``F.transform`` passes the
    element index to a two-argument callable.
    """
    return try_element_at(F.transform(F.array(value), body), 1)
