"""Canonical text normalization (reference parity).

Re-implements, with identical observable semantics, the reference's
normalization chain ``normalize_ref_text`` (ref: src/match_utils.py:128-146)
and its helpers ``strip_comments``/``normalize_spaces`` (:33-45),
``protect_math`` (:48-72) and ``cleanup_formatting`` (:75-125).  This is the
single canonical normalizer of the engine (the reference ships two divergent
variants; we expose only the match_utils one — see SURVEY.md §5.4).

Per the north rule, per-turn text equality with the reference under this
normalizer is an invariant: ``normalize_text(s) == reference(s)`` for all s.
Golden tests in tests/test_normalize.py pin adversarial cases.

Execution model: NFKD accent stripping and math-placeholder protection are not
expressible as native Catalyst expressions, so the full chain runs as ONE
Arrow-batched pandas UDF (never per-row Python through Spark).  Cheap id/year
normalizers are provided as native column expressions so they stay inside
whole-stage codegen.
"""

from __future__ import annotations

import re
import string
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# --------------------------------------------------------------------------
# Pure-Python canonical normalizer (used inside the pandas UDF and in tests)
# --------------------------------------------------------------------------

# Math regions are protected (stashed behind placeholders) while layout noise
# is cleaned, then restored verbatim (ref: src/match_utils.py:48-72).
_MATH_REGION_RES = [
    re.compile(p, re.S)
    for p in (
        r"\$\$[\s\S]*?\$\$",
        r"\\\[[\s\S]*?\\\]",
        r"\\\(.*?\\\)",
        r"\$(?:\\.|[^\$\\])+\$",
        r"\\begin\{(?P<env>align\*?|gather\*?|equation\*?|multline\*?|flalign\*?"
        r"|alignat\*?|eqnarray\*?|displaymath)\}[\s\S]*?\\end\{(?P=env)\}",
    )
]

# Layout commands dropped outright (case-insensitive), in order
# (ref: src/match_utils.py:77-97).
_LAYOUT_DROP_RES = [
    re.compile(p, re.IGNORECASE)
    for p in (
        r"\\centering", r"\\raggedright", r"\\raggedleft", r"\\hfill",
        r"\\linebreak", r"\\pagebreak", r"\\newpage", r"\\clearpage",
        r"\\midrule", r"\\toprule", r"\\bottomrule", r"\\hline",
        r"\\vspace\{[^}]*\}", r"\\hspace\{[^}]*\}", r"\[[htpb!]+\]",
        r"\\noindent", r"\\\\+", r"\\\[\.\d+cm\]", r"\[\.\d+cm\]",
    )
]

# Unwrap/stitch passes applied after the drops (ref: src/match_utils.py:104-123).
_POST_CLEAN_SUBS: list[tuple[re.Pattern[str], str]] = [
    (re.compile(r"\\\s*\n\s*"), "\n"),
    (re.compile(r"\\textbf\{([^}]*)\}"), r"\1"),
    (re.compile(r"\btextbf\{([^}]*)\}"), r"\1"),
    (re.compile(r"\\emph\{([^}]*)\}"), r"\1"),
    (re.compile(r"\bemph\{([^}]*)\}"), r"\1"),
    (re.compile(r"\\cite\w*\{([^}]+)\}"), r"\1"),
    (re.compile(r"\\ref\w*\{([^}]+)\}"), r"\1"),
    (re.compile(r"\\[a-zA-Z@]+\*?(?:\[[^]]*\])?\{([^{}]+)\}"), r"\1"),
    (
        re.compile(r"(?is)keywords:\s*(.+?)\s+msc 2020 subject classifications:"),
        r"Keywords: \1. MSC 2020 subject classifications:",
    ),
    (re.compile(r"(?i)(?<![\.\?!])\s+(keywords:)"), r". \1"),
]

_COMMENT_RE = re.compile(r"(?<!\\)%.*")
_HSPACE_RE = re.compile(r"[ \t]+")
_BLANKLINES_RE = re.compile(r"\n{2,}")
_BARE_CMD_RE = re.compile(r"\\[a-zA-Z@]+")
_BRACES_RE = re.compile(r"[{}]")
_WS_RE = re.compile(r"\s+")

# Unicode dash/ellipsis unified BEFORE accent strip (ref: src/match_utils.py:137).
# NOTE the reference's curly-quote unification (its line 136) is DEAD CODE: the
# expression `text.replace(""", '"')...` tokenizes as a triple-quoted string, so
# the runtime behavior is `text.replace(", '\"').replace(", '"')` \u2014 a no-op on
# any real text \u2014 followed by `'`->`'` no-ops.  Curly quotes therefore SURVIVE
# normalization in the reference.  We replicate that observable behavior
# exactly (per-turn text-equality invariant), including the pathological
# literal-substring replacement.
_REF_LINE136_NEEDLE = ", '\"').replace("
_UNICODE_UNIFY = str.maketrans({"\u2013": "-", "\u2014": "-"})
# ASCII punctuation removed, keeping ':' and '/' (ref: src/match_utils.py:28-29).
_PUNCT_DELETE = str.maketrans(
    {ch: "" for ch in string.punctuation if ch not in (":", "/")}
)


def _shield_math(text: str) -> tuple[str, list[str]]:
    """Swap math regions for __MATHi__ placeholders; return (text, stash)."""
    stash: list[str] = []

    def keep(m: re.Match[str]) -> str:
        stash.append(m.group(0))
        return f"__MATH{len(stash) - 1}__"

    for rx in _MATH_REGION_RES:
        text = rx.sub(keep, text)
    return text, stash


def _unshield_math(text: str, stash: list[str]) -> str:
    for i, orig in enumerate(stash):
        text = text.replace(f"__MATH{i}__", orig)
    return text


def strip_latex_layout(text: str) -> str:
    """Drop layout commands / unwrap formatting, math regions untouched.

    Parity with reference ``cleanup_formatting`` (src/match_utils.py:75-125).
    """
    shielded, stash = _shield_math(text)
    for rx in _LAYOUT_DROP_RES:
        shielded = rx.sub("", shielded)
    for rx, repl in _POST_CLEAN_SUBS:
        shielded = rx.sub(repl, shielded)
    return _unshield_math(shielded, stash)


def collapse_whitespace(text: str) -> str:
    """Strip %-comments and canonicalize whitespace to single spaces.

    Parity with reference ``normalize_spaces`` (src/match_utils.py:38-45).
    """
    text = _COMMENT_RE.sub("", text)
    text = text.replace("\r", "")
    text = _HSPACE_RE.sub(" ", text)
    text = _BLANKLINES_RE.sub("\n", text)
    return text.replace("\n", " ").strip()


def normalize_text(text: str, strip_token_edges: bool = False) -> str:
    """Canonical normalizer: LaTeX-noise strip -> unicode fold -> punct strip.

    Observable parity with reference ``normalize_ref_text``
    (src/match_utils.py:128-146); ``strip_token_edges`` mirrors its
    ``remove_stop`` flag (strip ':'/'/' from token edges, drop empties).
    """
    if not text:
        return ""
    text = strip_latex_layout(text)
    text = collapse_whitespace(text).replace("\n", " ")
    text = _BARE_CMD_RE.sub(" ", text)
    text = _BRACES_RE.sub(" ", text)
    text = text.replace(_REF_LINE136_NEEDLE, '"')
    text = text.translate(_UNICODE_UNIFY).replace("\u2026", "...")
    text = text.lower()
    text = unicodedata.normalize("NFKD", text)
    text = "".join(ch for ch in text if not unicodedata.combining(ch))
    text = text.translate(_PUNCT_DELETE)
    text = _WS_RE.sub(" ", text).strip()
    if strip_token_edges:
        text = " ".join(w.strip(":/") for w in text.split() if w.strip(":/"))
    return text


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------


def normalize_text_udf(strip_token_edges: bool = False):
    """Arrow-batched pandas UDF applying :func:`normalize_text` per batch.

    Built per call, never cached: a UDF object kept across SparkContexts
    holds the first context's Python accumulator, and every task of a later
    context then fails to update it (an ERROR log line per task)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def _norm(batch: pd.Series) -> pd.Series:
        return batch.map(lambda s: normalize_text(s, strip_token_edges) if s is not None else None)

    return _norm


def norm_id_col(c: Column | str) -> Column:
    """Exact-id normalizer: drop non-word chars, lowercase.

    Parity with reference ``norm_arxiv`` (src/match_utils.py:149-153), as a
    native Catalyst expression (stays in whole-stage codegen).
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.lower(F.regexp_replace(col.cast("string"), r"\W+", ""))


def parse_year_col(c: Column | str) -> Column:
    """First 4-digit group as int, else NULL.

    Parity with reference ``parse_year_int``
    (src/feature_engineering_utils.py:12-22), native expression.
    """
    col = F.col(c) if isinstance(c, str) else c
    extracted = F.regexp_extract(col.cast("string"), r"\d{4}", 0)
    return F.when(extracted != "", extracted.cast("int"))


def sha1_id_col(c: Column | str, length: int = 6) -> Column:
    """Stable short content id: first ``length`` hex chars of sha1.

    Parity with the reference's element-id scheme (src/parse_util.py:1117-1119).
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.substring(F.sha1(col.cast("string")), 1, length)
