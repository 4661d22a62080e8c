"""Scalar expression helpers mirroring the reference's Python-dict /
datetime / arithmetic idioms (SURVEY.md §2.8).

Everything here is a built-in Spark expression — no UDFs.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F

# Interaction weights — reference: recommendation-trainer.py:34-43 and the
# duplicate map at api_gateway_service.py:268-270.
INTERACTION_SCORES = {"like": 1.0, "read": 0.01, "share": 0.5, "click": 0.1}


def event_score(event_type: Column | str, scores: dict[str, float] | None = None) -> Column:
    """Map event_type -> weight with 0.0 default (A11).

    Implemented as a map literal lookup so it stays one codegen'd
    expression; unknown event types fall through to 0.0 exactly like the
    reference's ``dict.get(..., 0)``.
    """
    scores = scores if scores is not None else INTERACTION_SCORES
    col = F.col(event_type) if isinstance(event_type, str) else event_type
    m = F.create_map(*[F.lit(x) for x in chain.from_iterable(scores.items())])
    return F.coalesce(m[col], F.lit(0.0))


def epoch_us(col: Column | str) -> Column:
    """Microseconds since epoch, robust to the column arriving as
    TIMESTAMP_NTZ (fixture rounds have shipped events.ts as NANOS-long,
    NTZ-us, and ltz-us — see tables._normalize_ts). The session TZ is
    pinned UTC, so casting NTZ → TIMESTAMP is value-preserving and the
    cast is a no-op when the input is already TIMESTAMP. Keeping every
    ts-arithmetic call site on this one helper means the next fixture
    encoding change breaks one function, not seven queries.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def sql_name(name: str) -> str:
    """A column name as a backtick-quoted Spark SQL identifier, for
    interpolation into expression text: a caller's name may hold a dot
    or a space, and quoting reads it as one top-level column."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """A Python number as a Spark SQL DOUBLE literal. A bare ``0.5``
    reads as DECIMAL(1,1); ``0.5D`` is what ``F.lit(0.5)`` builds."""
    return f"{float(x)!r}D"


def safe_div(num: Column, denom: Column, default: float = 0.0) -> Column:
    """num/denom with explicit 0-denominator handling (F9; the reference's
    drift formula divides by a possibly-zero historical mean)."""
    return F.when(denom != 0, num / denom).otherwise(F.lit(default))


def let(value: Column, body) -> Column:
    """Let-binding for SQL expressions: evaluate ``value`` ONCE per row
    and hand it to ``body`` as a lambda variable. Spark re-evaluates any
    non-trivial expression referenced from inside a higher-order-function
    lambda once per array ELEMENT — a captured split()/aggregate turns a
    linear rebuild quadratic (the 8x replication harness measured the
    span-removal variant of this at 42x). Wrapping the expression in a
    1-element transform makes it a bound lambda variable, which element
    evaluation reads for free:

        let(F.split(text, " "), lambda toks: F.transform(..., uses toks))

    Pure expression plumbing (one 1-element array per row); values are
    bit-identical to the inlined form.
    """
    return F.element_at(F.transform(F.array(value), body), 1)
