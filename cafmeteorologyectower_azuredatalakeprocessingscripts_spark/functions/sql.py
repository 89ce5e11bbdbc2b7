"""Helpers for building one-parse ``F.expr`` SQL strings."""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into SQL text.

    Backticks inside the name are doubled, so ``we`ird`` stays one
    identifier, and dots or spaces stay part of the name (``a.b`` is the
    column called ``a.b``, not field ``b`` of struct ``a``)."""
    return "`" + name.replace("`", "``") + "`"
