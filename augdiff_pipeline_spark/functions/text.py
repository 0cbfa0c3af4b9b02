"""Text-analysis functions with exact ANSI-SQL twins.

Each Column-expression function here has a ``*_sql`` twin producing the
IDENTICAL arithmetic/regex expression for DuckDB, so the driver's oracle
can value-hash-compare them.  Only integer arithmetic and shared-regex
string ops are used — bit-stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PUNCT_CLASS = r"[.,;:!?]"

# language-id stopwords (tiny n-gram heuristic; public approach)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "que", "de"],
}


def token_count(text: Column) -> Column:
    """Whitespace tokenization count."""
    return F.size(F.split(F.trim(text), r"\s+"))


def token_count_sql(col: str) -> str:
    return f"len(regexp_split_to_array(trim({col}), '\\s+'))"


# BPE-ish pre-tokenization classes (the GPT-2 pattern's skeleton):
# letter runs, digit runs, and single non-alphanumeric marks each count
# as one subword unit.  ASCII classes only — Java regex (Spark) and RE2
# (DuckDB) agree on them byte-for-byte; non-ASCII letters fall into the
# per-character mark class identically in both engines.
SUBWORD_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def subword_count(text: Column) -> Column:
    """BPE-ish subword unit count (pre-tokenizer granularity) — the
    cost estimator a training-data pipeline budgets tokens with."""
    return F.regexp_count(text, F.lit(SUBWORD_PATTERN))


def subword_count_sql(col: str) -> str:
    return f"len(regexp_extract_all({col}, '{SUBWORD_PATTERN}'))"


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, PUNCT_CLASS, ""))


def punct_count_sql(col: str) -> str:
    return f"(length({col}) - length(regexp_replace({col}, '{PUNCT_CLASS}', '', 'g')))"


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0,1]: length term, low-punct
    term, word-length term — identical expression tree to the SQL twin."""
    chars = F.length(text).cast("double")
    toks = token_count(text).cast("double")
    punct = punct_count(text).cast("double")
    len_term = F.least(F.lit(1.0), chars / F.lit(500.0))
    punct_term = F.lit(1.0) - F.least(F.lit(1.0), (punct * F.lit(10.0)) / chars)
    awl_term = F.least(F.lit(1.0), (chars / toks) / F.lit(8.0))
    return F.round(
        F.lit(0.4) * len_term + F.lit(0.3) * punct_term + F.lit(0.3) * awl_term, 6
    )


def quality_score_sql(col: str) -> str:
    chars = f"cast(length({col}) as double)"
    toks = f"cast({token_count_sql(col)} as double)"
    punct = f"cast({punct_count_sql(col)} as double)"
    len_term = f"least(1.0, {chars} / 500.0)"
    punct_term = f"(1.0 - least(1.0, ({punct} * 10.0) / {chars}))"
    awl_term = f"least(1.0, ({chars} / {toks}) / 8.0)"
    return f"round(0.4 * {len_term} + 0.3 * {punct_term} + 0.3 * {awl_term}, 6)"


def _kw_count(text: Column, kw: str) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    needle = f" {kw} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def _kw_count_sql(col: str, kw: str) -> str:
    padded = f"(' ' || lower({col}) || ' ')"
    needle = f" {kw} "
    return f"cast((length({padded}) - length(replace({padded}, '{needle}', ''))) / {len(needle)} as bigint)"


def lang_scores(text: Column) -> dict[str, Column]:
    out = {}
    for lang, kws in LANG_STOPWORDS.items():
        s = None
        for kw in kws:
            c = _kw_count(text, kw)
            s = c if s is None else s + c
        out[lang] = s
    return out


def lang_id(text: Column) -> Column:
    """argmax language, ties broken by language-code order (en<de<fr<es
    evaluation order — first max wins, mirrored exactly in SQL)."""
    scores = lang_scores(text)
    langs = list(LANG_STOPWORDS)
    best = F.lit(langs[0])
    best_s = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best_s
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_s = F.when(cond, scores[lang]).otherwise(best_s)
    return F.when(F.greatest(*[scores[l] for l in langs]) <= 0, F.lit("unknown")).otherwise(best)


def lang_id_sql(col: str) -> str:
    scores = {
        lang: "(" + " + ".join(_kw_count_sql(col, kw) for kw in kws) + ")"
        for lang, kws in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    best = f"'{langs[0]}'"
    best_s = scores[langs[0]]
    for lang in langs[1:]:
        cond = f"{scores[lang]} > {best_s}"
        best = f"(case when {cond} then '{lang}' else {best} end)"
        best_s = f"(case when {cond} then {scores[lang]} else {best_s} end)"
    all_scores = ", ".join(scores[l] for l in langs)
    return f"(case when greatest({all_scores}) <= 0 then 'unknown' else {best} end)"


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (md5 is available and identical in Spark and DuckDB)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def fingerprint_sql(col: str) -> str:
    return f"md5(lower(regexp_replace(trim({col}), '\\s+', ' ', 'g')))"
