"""C4-style LINE-QUALITY filtering: drop boilerplate/junk lines inside a
document, keep the document if anything survives.

This is the *quality* sibling of the line-level *dedup* in
``operators/dedup.py:dedup_lines``: dedup needs a global groupBy on the line
fingerprint (cross-document state), while line-quality filtering is decided
per line from the line alone — so the whole operator is MAP-ONLY: one
``split`` + HOF ``filter`` + ``array_join`` per document, zero explode, zero
shuffle, whole-stage codegen end to end.  At 10^12 documents that difference
is the plan: this stage adds no exchange to the pipeline it joins.

Rules (C4 / Raffel et al. 2020 §2.2, adapted to the corpus at hand; each
line must):

* have at least ``MIN_WORDS`` and at most ``MAX_WORDS`` whitespace tokens;
* contain at least one stopword (C4 uses a terminal-punctuation rule; the
  synthetic corpus has no punctuation, so the published alternative
  "natural-language evidence" gate — a closed-class stopword hit — is used;
  the stopword list is a dial);
* not match the boilerplate blacklist regex (cookie banners, JS warnings,
  subscribe prompts, copyright lines).

Reasons are attributed first-fail in that order (short → long → no_stopword
→ boilerplate) and surfaced as per-document counts for the funnel metrics.

Every predicate has a DuckDB twin rendered from the SAME constants so the
q58 oracle value-hashes cleaned text and per-reason counts; a pure-Python
twin backs the unit tests.  Reference ancestor: the F14 validity
conjunction (`additional_charge_checks.py` rule chain) applied per line
instead of per record.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX

MIN_WORDS = 20
MAX_WORDS = 80
STOPWORDS: tuple[str, ...] = ("the", "a")
# RE2-compatible (no lookaround) so Java regex and DuckDB agree byte-for-byte
BOILER_PATTERN = r"(cookie|javascript|subscribe|all rights reserved)"


def tokens(line: Column) -> Column:
    """Lower-cased whitespace tokens (``TX.tokens``; a blank line has
    none) — the tokenizer the DSIR sampler shares (DuckDB twin
    :func:`tokens_sql`)."""
    return TX.tokens(F.lower(line))


def line_flags(line: Column) -> dict[str, Column]:
    """First-fail drop-reason booleans for ONE line (mutually exclusive)."""
    wc = F.size(tokens(line))
    short = wc < MIN_WORDS
    long_ = ~short & (wc > MAX_WORDS)
    no_stop = (
        ~short
        & ~long_
        & ~F.arrays_overlap(
            tokens(line), F.array(*[F.lit(s) for s in STOPWORDS])
        )
    )
    boiler = (
        ~short & ~long_ & ~no_stop & F.lower(line).rlike(BOILER_PATTERN)
    )
    keep = ~short & ~long_ & ~no_stop & ~boiler
    return {
        "keep": keep,
        "short": short,
        "long": long_,
        "no_stopword": no_stop,
        "boilerplate": boiler,
    }


def filter_lines(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Per-document line-quality pass (map-only; see module docstring).

    Adds: ``<out_col>`` (cleaned text, NULL when every line dropped),
    ``lines_in``, ``lines_kept`` and per-reason ``lines_<reason>`` counts.
    """
    out_col = out_col or text_col
    lines = F.split(F.col(text_col), "\n", -1)

    def n_where(reason: str) -> Column:
        return F.size(
            F.filter(lines, lambda l: line_flags(l)[reason])
        ).cast("long")

    kept = F.filter(lines, lambda l: line_flags(l)["keep"])
    return (
        df.withColumn("lines_in", F.size(lines).cast("long"))
        .withColumn("lines_kept", F.size(kept).cast("long"))
        .withColumn("lines_short", n_where("short"))
        .withColumn("lines_long", n_where("long"))
        .withColumn("lines_no_stopword", n_where("no_stopword"))
        .withColumn("lines_boilerplate", n_where("boilerplate"))
        .withColumn(
            out_col,
            F.when(F.size(kept) > 0, F.array_join(kept, "\n")),
        )
    )


# ---------------------------------------------------------------------------
# DuckDB twins (rendered from the same constants)
# ---------------------------------------------------------------------------


def tokens_sql(l: str) -> str:
    return TX.tokens_sql(f"lower({l})")


def line_flag_sql(l: str, reason: str) -> str:
    """DuckDB boolean for one line + reason (same first-fail order)."""
    wc = f"len({tokens_sql(l)})"
    stop_list = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    short = f"({wc} < {MIN_WORDS})"
    long_ = f"(NOT {short} AND {wc} > {MAX_WORDS})"
    has_stop = f"len(list_intersect({tokens_sql(l)}, {stop_list})) > 0"
    no_stop = f"(NOT {short} AND NOT {long_} AND NOT ({has_stop}))"
    boiler = (
        f"(NOT {short} AND NOT {long_} AND NOT {no_stop} "
        f"AND regexp_matches(lower({l}), '{BOILER_PATTERN}'))"
    )
    keep = f"(NOT {short} AND NOT {long_} AND NOT {no_stop} AND NOT {boiler})"
    return {
        "keep": keep,
        "short": short,
        "long": long_,
        "no_stopword": no_stop,
        "boilerplate": boiler,
    }[reason]


# ---------------------------------------------------------------------------
# Pure-Python twin (unit tests)
# ---------------------------------------------------------------------------


def _flags_python(line: str) -> str:
    toks = TX.tokens_python(line.lower())
    wc = len(toks)
    if wc < MIN_WORDS:
        return "short"
    if wc > MAX_WORDS:
        return "long"
    if not any(s in toks for s in STOPWORDS):
        return "no_stopword"
    if re.search(BOILER_PATTERN, line.lower()):
        return "boilerplate"
    return "keep"


def filter_lines_python(text: str | None) -> tuple[str | None, dict[str, int]]:
    """(cleaned_text_or_None, counts) twin of :func:`filter_lines`."""
    counts = {
        k: 0 for k in ("short", "long", "no_stopword", "boilerplate", "keep")
    }
    if text is None:
        return None, counts
    kept = []
    for line in text.split("\n"):
        r = _flags_python(line)
        counts[r] += 1
        if r == "keep":
            kept.append(line)
    return ("\n".join(kept) if kept else None), counts
