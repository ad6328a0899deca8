"""Expression-composition helpers shared across the function library."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["let_col"]


def let_col(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``value`` once per row,
    bind it as a lambda variable in ``body``.

    Composing multi-step pipelines in one Column duplicates every subtree
    at each reference site — trees explode combinatorially and evaluation
    goes off the codegen path (a 20k-row query took 208 s before this was
    applied to ``make_source_name``). A bound lambda variable is a cheap
    attribute read, keeping the tree linear in pipeline length.

    CAUTION: the lambda passed to ``body`` must take exactly ONE argument.
    PySpark gives a two-argument lambda ``(element, index)`` — a default-
    argument trick like ``lambda x, i=i:`` silently receives the array
    index as ``i``.
    """
    return F.element_at(F.transform(F.array(value), body), 1)
