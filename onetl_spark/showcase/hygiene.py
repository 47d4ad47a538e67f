"""Unicode / script hygiene showcase — the multilingual-corpus cleaning
audits (`llm/hygiene.py`) as driver-checkable queries. A NEW operator
class for round 10 (VERDICT r9 #4 candidate (b)): nothing in the
registry previously examined text at the code-point level.

The committed `documents` corpus is pure ASCII, so each query first
derives a DETERMINISTIC Unicode-decorated text column — per-lang word
substitutions (composed and decomposed accents, Han ideographs,
sharp-s) plus doc_id-keyed injection of zero-width, bidi-control, and
Cyrillic-confusable sequences — mirrored token-for-token in the DuckDB
oracle, so the audits run against non-degenerate input while staying
hash-exact. The operators themselves are generic single-scan column
expressions; decoration is a showcase concern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from onetl_spark.llm.hygiene import (
    combining_mark_audit,
    confusable_screen,
    control_char_audit,
    nfc_normalize_latin1,
    script_profile,
)
from onetl_spark.showcase.registry import register
from onetl_spark.showcase.util import ensure_views


# Decoration alphabet (all BMP, so Spark/DuckDB length() agree);
# spelled as \\u escapes so this source stays printable.
_E_ACUTE = "\u00e9"      # composed e-acute
_COMB_ACUTE = "\u0301"   # combining acute (makes decomposed sequences)
_SHARP_S = "\u00df"
_HAN_DATA = "\u6570\u636e"
_HAN_TABLE = "\u8868"
_CYR_A = "\u0430"        # Cyrillic a -- Latin-a confusable
_ZWSP = "\u200b"
_RLO = "\u202e"
_PDF = "\u202c"


def _decorated_col() -> Column:
    """The deterministic decoration, Spark side. Keep in lockstep with
    ``_DECO_SQL`` below — every branch, replacement string, and modulus
    must match token-for-token or the oracles hash-mismatch."""
    t = F.col("text")
    by_lang = (
        F.when(
            F.col("lang") == "fr",
            F.regexp_replace(
                F.regexp_replace(t, r"\bvalue\b", "valu" + _E_ACUTE),
                r"\bmerge\b",
                "merge" + _COMB_ACUTE,
            ),
        )
        .when(
            F.col("lang") == "es",
            F.regexp_replace(t, r"\bfast\b", "ra" + _COMB_ACUTE + "pido"),
        )
        .when(
            F.col("lang") == "zh",
            F.regexp_replace(
                F.regexp_replace(t, r"\bdata\b", _HAN_DATA), r"\btable\b", _HAN_TABLE
            ),
        )
        .when(
            F.col("lang") == "de",
            F.regexp_replace(t, r"\bbig\b", "gro" + _SHARP_S),
        )
        .otherwise(t)
    )
    with_zw = F.when(
        F.col("doc_id") % 37 == 0,
        F.concat(by_lang, F.lit(" " + _ZWSP + "hidden" + _ZWSP)),
    ).otherwise(by_lang)
    with_bidi = F.when(
        F.col("doc_id") % 53 == 0,
        F.concat(with_zw, F.lit(" " + _RLO + "txt" + _PDF)),
    ).otherwise(with_zw)
    return F.when(
        F.col("doc_id") % 41 == 0,
        F.regexp_replace(with_bidi, r"\bspark\b", "sp" + _CYR_A + "rk"),
    ).otherwise(with_bidi)


def _decorated(spark: SparkSession) -> DataFrame:
    return spark.table("documents").select(
        "doc_id", "lang", "source", _decorated_col().alias("text")
    )


# DuckDB mirror of _decorated_col. NOTE the 'g' flag: Spark's
# regexp_replace replaces ALL occurrences; DuckDB defaults to first-only.
_DECO_SQL = f"""
deco AS (
  SELECT doc_id, lang, source,
         CASE WHEN doc_id % 41 = 0
              THEN regexp_replace(s2, '\\bspark\\b', 'sp{_CYR_A}rk', 'g')
              ELSE s2 END AS text
  FROM (
    SELECT doc_id, lang, source,
           CASE WHEN doc_id % 53 = 0
                THEN s1 || ' {_RLO}txt{_PDF}' ELSE s1 END AS s2
    FROM (
      SELECT doc_id, lang, source,
             CASE WHEN doc_id % 37 = 0
                  THEN s0 || ' {_ZWSP}hidden{_ZWSP}' ELSE s0 END AS s1
      FROM (
        SELECT doc_id, lang, source,
               CASE lang
                 WHEN 'fr' THEN regexp_replace(
                     regexp_replace(text, '\\bvalue\\b', 'valu{_E_ACUTE}', 'g'),
                     '\\bmerge\\b', 'merge{_COMB_ACUTE}', 'g')
                 WHEN 'es' THEN regexp_replace(
                     text, '\\bfast\\b', 'ra{_COMB_ACUTE}pido', 'g')
                 WHEN 'zh' THEN regexp_replace(
                     regexp_replace(text, '\\bdata\\b', '{_HAN_DATA}', 'g'),
                     '\\btable\\b', '{_HAN_TABLE}', 'g')
                 WHEN 'de' THEN regexp_replace(text, '\\bbig\\b', 'gro{_SHARP_S}', 'g')
                 ELSE text
               END AS s0
        FROM documents)))
)
"""


def _rc(pat: str) -> str:
    """DuckDB match-count for a pattern (regexp_count equivalent)."""
    return f"len(regexp_extract_all(text, '{pat}'))"


# Character classes, oracle side — the same strings the Spark operators
# use (RE2 and Java treat explicit code-point ranges identically).
from onetl_spark.llm.hygiene import (  # noqa: E402
    BIDI_CONTROLS as _BIDI_CLS,
    C0_CONTROLS as _C0_CLS,
    COMBINING_MARKS as _MARK_CLS,
    CYRILLIC as _CYR_CLS,
    HAN as _HAN_CLS,
    LATIN_LETTER as _LATIN_CLS,
    ODD_SPACES as _SPACE_CLS,
    ZERO_WIDTH as _ZW_CLS,
)


def doc_script_mix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language script census of the decorated corpus
    (`llm/hygiene.py script_profile`): how many documents mix scripts,
    and the Han/Cyrillic/combining-mark mass per language — the
    segmentation-or-quarantine signal for a multilingual cleaning
    pipeline (Unicode TR#36 §2.2). Single scan + one 5-group aggregate."""
    ensure_views(spark, sf_dir)
    prof = script_profile(_decorated(spark))
    return (
        prof.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("is_mixed_script").cast("int")).cast("long").alias("n_mixed"),
            F.sum("n_han").cast("long").alias("han_chars"),
            F.sum("n_cyrillic").cast("long").alias("cyrillic_chars"),
            F.sum("n_combining").cast("long").alias("combining_marks"),
        )
        .orderBy("lang")
    )


register(doc_script_mix_profile, f"""
WITH {_DECO_SQL.strip().rstrip()}
, prof AS (
  SELECT lang,
         {_rc(_LATIN_CLS)} AS n_latin,
         {_rc(_HAN_CLS)} AS n_han,
         {_rc(_CYR_CLS)} AS n_cyr,
         {_rc(_MARK_CLS)} AS n_comb
  FROM deco
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN (CASE WHEN n_latin > 0 THEN 1 ELSE 0 END
                          + CASE WHEN n_han > 0 THEN 1 ELSE 0 END
                          + CASE WHEN n_cyr > 0 THEN 1 ELSE 0 END) >= 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
       CAST(SUM(n_han) AS BIGINT) AS han_chars,
       CAST(SUM(n_cyr) AS BIGINT) AS cyrillic_chars,
       CAST(SUM(n_comb) AS BIGINT) AS combining_marks
FROM prof
GROUP BY lang
ORDER BY lang
""")


def doc_unicode_hygiene_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invisible-character audit per source (`llm/hygiene.py
    control_char_audit`): documents carrying zero-width characters, bidi
    controls, C0 controls, or odd spaces — the Trojan-Source /
    watermark-smuggling channels a corpus must strip before training.
    Single scan + one source-keyed aggregate."""
    ensure_views(spark, sf_dir)
    audit = control_char_audit(_decorated(spark))
    return (
        audit.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((~F.col("is_clean")).cast("int")).cast("long").alias("n_flagged"),
            F.sum("n_zero_width").cast("long").alias("zero_width_total"),
            F.sum("n_bidi").cast("long").alias("bidi_total"),
        )
        .orderBy("source")
    )


register(doc_unicode_hygiene_audit, f"""
WITH {_DECO_SQL.strip().rstrip()}
, audit AS (
  SELECT source,
         {_rc(_ZW_CLS)} AS zw,
         {_rc(_BIDI_CLS)} AS bd,
         {_rc(_C0_CLS)} AS c0,
         {_rc(_SPACE_CLS)} AS sp
  FROM deco
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN zw + bd + c0 + sp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(zw) AS BIGINT) AS zero_width_total,
       CAST(SUM(bd) AS BIGINT) AS bidi_total
FROM audit
GROUP BY source
ORDER BY source
""")


def doc_confusable_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homoglyph-spoofing screen (`llm/hygiene.py confusable_screen`):
    documents containing Latin↔Cyrillic adjacencies inside a word, with
    the seam count and the first offending 2-character sequence — the
    TR#39 confusable audit that protects exact dedup and token stats.
    Single scan, filter, bounded offender list."""
    ensure_views(spark, sf_dir)
    scr = confusable_screen(_decorated(spark))
    return (
        scr.filter(F.col("n_confusable_seams") > 0)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.col("n_confusable_seams").cast("long").alias("n_confusable_seams"),
            "first_confusable",
        )
        .orderBy("doc_id")
    )


register(doc_confusable_screen, f"""
WITH {_DECO_SQL.strip().rstrip()}
, scr AS (
  SELECT doc_id, lang,
         {_rc(f"{_CYR_CLS}[A-Za-z]|[A-Za-z]{_CYR_CLS}")} AS n_seams,
         COALESCE(regexp_extract(text, '{_CYR_CLS}[A-Za-z]|[A-Za-z]{_CYR_CLS}', 0), '') AS first_confusable
  FROM deco
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       CAST(n_seams AS BIGINT) AS n_confusable_seams,
       first_confusable
FROM scr
WHERE n_seams > 0
ORDER BY doc_id
""")


def doc_nfc_normalization_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC-normalization ledger per language (`llm/hygiene.py
    combining_mark_audit` + `nfc_normalize_latin1`): how many documents
    carry decomposed Latin sequences, the total composable count, and —
    as a built-in self-check — the length actually removed by the
    subset normalizer, which must equal the audited delta row-for-row.
    Two expressions over one scan, one 5-group aggregate."""
    ensure_views(spark, sf_dir)
    deco = _decorated(spark)
    audited = combining_mark_audit(deco).withColumn(
        "_applied_delta",
        F.length(F.col("text")) - F.length(nfc_normalize_latin1(F.col("text"))),
    )
    return (
        audited.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_composable") > 0).cast("int"))
            .cast("long")
            .alias("n_denormalized"),
            F.sum("n_composable").cast("long").alias("composable_total"),
            F.sum("n_marks_residual").cast("long").alias("residual_marks_total"),
            F.sum("nfc_len_delta").cast("long").alias("nfc_len_delta_total"),
            F.sum("_applied_delta").cast("long").alias("normalizer_delta_total"),
        )
        .orderBy("lang")
    )


def _composable_sql() -> str:
    from onetl_spark.llm.hygiene import NFC_LATIN1_PAIRS

    return "(?:" + "|".join(d for d, _ in NFC_LATIN1_PAIRS) + ")"


def _nfc_replace_sql(col: str) -> str:
    from onetl_spark.llm.hygiene import NFC_LATIN1_PAIRS

    out = col
    for d, c in NFC_LATIN1_PAIRS:
        out = f"replace({out}, '{d}', '{c}')"
    return out


register(doc_nfc_normalization_delta, f"""
WITH {_DECO_SQL.strip().rstrip()}
, audit AS (
  SELECT lang,
         {_rc(_composable_sql())} AS n_comp,
         {_rc(_MARK_CLS)} AS n_marks,
         length(text) - length({_nfc_replace_sql('text')}) AS applied
  FROM deco
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_comp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_denormalized,
       CAST(SUM(n_comp) AS BIGINT) AS composable_total,
       CAST(SUM(n_marks - n_comp) AS BIGINT) AS residual_marks_total,
       CAST(SUM(n_comp) AS BIGINT) AS nfc_len_delta_total,
       CAST(SUM(applied) AS BIGINT) AS normalizer_delta_total
FROM audit
GROUP BY lang
ORDER BY lang
""")


def doc_sanitize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fix-side of the hygiene class (`llm/hygiene.py sanitize_text`):
    strip zero-width/bidi/C0 characters, collapse odd spaces, compose the
    Latin-1 NFC subset — then PROVE the cleaning per language: documents
    changed, characters removed, and a built-in idempotence check
    (sanitizing twice must equal once; the re-audit of sanitized text
    must count zero strippable characters). Meaning-changing classes
    (confusables, residual marks) are audit-only by design."""
    ensure_views(spark, sf_dir)
    from onetl_spark.llm.hygiene import sanitize_text

    deco = _decorated(spark)
    cleaned = deco.select(
        "doc_id",
        "lang",
        F.length("text").alias("_len0"),
        sanitize_text(F.col("text")).alias("_clean"),
        sanitize_text(sanitize_text(F.col("text"))).alias("_clean2"),
    )
    audit = control_char_audit(
        cleaned.select("doc_id", "lang", "_len0", "_clean", "_clean2",
                       F.col("_clean").alias("text"))
    )
    return (
        audit.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("_len0") != F.length("_clean")).cast("int"))
            .cast("long")
            .alias("n_changed"),
            F.sum(F.col("_len0") - F.length("_clean")).cast("long").alias("chars_removed"),
            F.sum((F.col("_clean") != F.col("_clean2")).cast("int"))
            .cast("long")
            .alias("n_not_idempotent"),
            F.sum(
                F.col("n_zero_width") + F.col("n_bidi") + F.col("n_control")
            ).cast("long").alias("strippable_after"),
        )
        .orderBy("lang")
    )


def _sanitize_sql(col: str) -> str:
    out = f"regexp_replace({col}, '{_ZW_CLS}', '', 'g')"
    out = f"regexp_replace({out}, '{_BIDI_CLS}', '', 'g')"
    out = f"regexp_replace({out}, '{_C0_CLS}', '', 'g')"
    out = f"regexp_replace({out}, '{_SPACE_CLS}', ' ', 'g')"
    return _nfc_replace_sql(out)


register(doc_sanitize_report, f"""
WITH {_DECO_SQL.strip().rstrip()}
, cleaned AS (
  SELECT doc_id, lang, length(text) AS len0,
         {_sanitize_sql('text')} AS clean,
         {_sanitize_sql(_sanitize_sql('text'))} AS clean2
  FROM deco
), audited AS (
  SELECT lang, len0, clean, clean2,
         len(regexp_extract_all(clean, '{_ZW_CLS}')) +
         len(regexp_extract_all(clean, '{_BIDI_CLS}')) +
         len(regexp_extract_all(clean, '{_C0_CLS}')) AS strippable
  FROM cleaned
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN len0 <> length(clean) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(len0 - length(clean)) AS BIGINT) AS chars_removed,
       CAST(SUM(CASE WHEN clean <> clean2 THEN 1 ELSE 0 END) AS BIGINT) AS n_not_idempotent,
       CAST(SUM(strippable) AS BIGINT) AS strippable_after
FROM audited
GROUP BY lang
ORDER BY lang
""")
