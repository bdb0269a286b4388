"""Scalar expression library (SURVEY.md §2.8).

Pure Column->Column builders — every one stays JVM-side inside whole-stage
codegen (no Python UDFs). Mirrors the reference's scalar surface:
key normalization (`glue.py:131-132`), `.SA` suffix strip
(`webscrapping.py:49`), date building from partition ints (`glue.py:85-86`),
cyclic calendar encoding (`glue.py:174-178`, `preprocessing.py:194-215`).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

TWO_PI = 2.0 * math.pi


def normalize_key(c: Column | str) -> Column:
    """lower(trim(cast(string))) — join-key hygiene (`glue.py:131-132`)."""
    return F.lower(F.trim(F.col(c).cast("string") if isinstance(c, str) else c.cast("string")))


def strip_suffix(c: Column | str, suffix: str) -> Column:
    """Remove a literal suffix (e.g. ticker '.SA', `webscrapping.py:49`)."""
    col = F.col(c) if isinstance(c, str) else c
    import re

    return F.regexp_replace(col, re.escape(suffix) + "$", "")


def date_from_parts(ano: Column | str, mes: Column | str, dia: Column | str) -> Column:
    """Partition ints -> DateType.

    The reference string-concats then casts (`glue.py:85-86`); `make_date`
    is the direct, codegen'd form.
    """
    a = F.col(ano) if isinstance(ano, str) else ano
    m = F.col(mes) if isinstance(mes, str) else mes
    d = F.col(dia) if isinstance(dia, str) else dia
    return F.make_date(a, m, d)


def business_dayofweek(date_col: Column | str) -> Column:
    """0=Monday .. 6=Sunday (ISO-ish; pandas `.dayofweek` convention).

    The reference uses two conflicting conventions (Spark 1=Sunday at
    `glue.py:174` vs pandas 0=Monday at `preprocessing.py:184`); the engine
    standardizes on 0=Monday, documented in SURVEY.md §1.2.
    """
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.weekday(c).cast("int")


def cyclic_encode(c: Column | str, period: int, prefix: str) -> list[Column]:
    """sin/cos cyclic embedding of an integer cycle position.

    `glue.py:175-178` (mod-5 business-day rebase) and
    `preprocessing.py:194-215` (month/12) both reduce to this.
    """
    col = F.col(c) if isinstance(c, str) else c
    angle = col.cast("double") * F.lit(TWO_PI / period)
    return [F.sin(angle).alias(f"{prefix}_sin"), F.cos(angle).alias(f"{prefix}_cos")]


def coalesce_zero(c: Column | str) -> Column:
    """NULL -> 0.0 (window warm-up fill, `glue.py:199-214`)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col, F.lit(0.0))


def rnd_nudged(c: Column, n: int = 4) -> Column:
    """Nudged rounding bridge for columns measured to land exactly on
    decimal half-boundaries (SCALE.md §8): Spark rounds the shortest-
    decimal repr HALF_UP while DuckDB rounds the binary double, so a
    bit-identical value can round differently. Adding sign(x)·1e-9 —
    far above any summation jitter, far below data resolution — moves
    the value off the boundary the same way on BOTH engines. Mirror with
    ``suite._util.sql_rnd_nudged`` in the oracle."""
    return F.round(c + F.signum(c) * F.lit(1e-9), n) + F.lit(0.0)
