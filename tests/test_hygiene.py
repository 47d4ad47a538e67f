"""Unicode/script hygiene operators: hand-built code-point cases.

All non-ASCII characters are spelled as \\u escapes — composed vs
decomposed accents are indistinguishable to the eye, and these tests
exist precisely to tell them apart.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from onetl_spark.llm.hygiene import (
    combining_mark_audit,
    confusable_screen,
    control_char_audit,
    nfc_normalize_latin1,
    script_profile,
)

ACUTE = "\u0301"          # combining acute
TILDE = "\u0303"          # combining tilde
E_ACUTE = "\u00e9"        # composed
N_TILDE = "\u00f1"        # composed
ZWSP = "\u200b"
ZWNJ = "\u200c"
RLO = "\u202e"
PDF = "\u202c"
NBSP = "\u00a0"
IDEO_SPACE = "\u3000"
CYR_A = "\u0430"
ODD_MARK = "\u0359"       # combining asterisk below -- no NFC composition


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_script_profile_counts_and_dominance(spark):
    rows = {r["doc_id"]: r for r in script_profile(_docs(spark, [
        "plain ascii words",                               # latin only
        "mixed 数据 here",                         # latin + han
        "привет",           # cyrillic only
        f"caf{E_ACUTE} r{E_ACUTE}sum{E_ACUTE}",            # accented latin
        f"e{ACUTE}clair",                                  # ascii + combining mark
        "12345 !!",                                        # no letters at all
    ])).collect()}
    assert rows[0]["dominant_script"] == "latin" and not rows[0]["is_mixed_script"]
    assert rows[1]["n_han"] == 2 and rows[1]["is_mixed_script"]
    assert rows[2]["dominant_script"] == "cyrillic" and rows[2]["n_latin"] == 0
    assert rows[3]["n_latin"] == 10  # composed accents count as latin letters
    assert rows[4]["n_combining"] == 1
    assert rows[5]["dominant_script"] == "none"


def test_control_char_audit_flags_each_class(spark):
    rows = {r["doc_id"]: r for r in control_char_audit(_docs(spark, [
        "clean text with tab\tand newline\n",
        f"zero{ZWSP}width{ZWNJ}",
        f"bidi {RLO}attack{PDF}",
        "bell\x07 and esc\x1b",
        f"nbsp{NBSP}and ideographic{IDEO_SPACE}space",
    ])).collect()}
    assert rows[0]["is_clean"]
    assert rows[1]["n_zero_width"] == 2 and not rows[1]["is_clean"]
    assert rows[2]["n_bidi"] == 2
    assert rows[3]["n_control"] == 2
    assert rows[4]["n_odd_space"] == 2


def test_confusable_screen_seams(spark):
    rows = {r["doc_id"]: r for r in confusable_screen(_docs(spark, [
        f"sp{CYR_A}rk engine",  # Cyrillic a inside a Latin word
        "всё latin-free",  # whole Cyrillic words, no seams
        "ascii only",
    ])).collect()}
    # non-overlapping match semantics (regexp_count / regexp_extract_all
    # in BOTH engines): "p<CYR_A>" consumes the shared Cyrillic char, so a
    # single confusable letter flanked by Latin yields ONE seam
    assert rows[0]["n_confusable_seams"] == 1
    assert rows[0]["first_confusable"] == "p" + CYR_A
    assert rows[1]["n_confusable_seams"] == 0
    assert rows[2]["first_confusable"] == ""


def test_combining_mark_audit_matches_normalizer(spark):
    texts = [
        f"caf{E_ACUTE}",                               # composed: delta 0
        f"cafe{ACUTE} and pin{TILDE}a",                # two decomposed
        f"x{ODD_MARK}y",                               # non-composable mark
        f"mixed e{ACUTE} plus x{ODD_MARK}",            # one of each
    ]
    df = combining_mark_audit(_docs(spark, texts)).withColumn(
        "applied",
        F.length("text") - F.length(nfc_normalize_latin1(F.col("text"))),
    )
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[0]["nfc_len_delta"] == 0 and rows[0]["is_nfc_normalized"]
    assert rows[1]["n_composable"] == 2 and rows[1]["nfc_len_delta"] == 2
    assert rows[2]["n_composable"] == 0 and rows[2]["n_marks_residual"] == 1
    assert rows[3]["n_composable"] == 1 and rows[3]["n_marks_residual"] == 1
    # the audited delta must equal what the normalizer actually removes
    for r in rows.values():
        assert r["nfc_len_delta"] == r["applied"]


def test_nfc_normalize_latin1_values(spark):
    out = (
        _docs(spark, [f"cafe{ACUTE}", f"pin{TILDE}a", "no marks"])
        .select(nfc_normalize_latin1(F.col("text")).alias("t"))
        .collect()
    )
    assert [r["t"] for r in out] == [
        "caf" + E_ACUTE, "pi" + N_TILDE + "a", "no marks",
    ]


def test_sanitize_text_strips_and_composes(spark):
    from onetl_spark.llm.hygiene import sanitize_text

    rows = _docs(spark, [
        f"a{ZWSP}b{RLO}c{PDF}d\x07e",     # invisibles + control stripped
        f"x{NBSP}y{IDEO_SPACE}z",          # odd spaces -> plain space
        f"cafe{ACUTE} pin{TILDE}a",        # NFC subset composed
        "already clean",
    ])
    out = [r["t"] for r in rows.select(sanitize_text(F.col("text")).alias("t")).collect()]
    assert out[0] == "abcde"
    assert out[1] == "x y z"
    assert out[2] == "caf" + E_ACUTE + " pi" + N_TILDE + "a"
    assert out[3] == "already clean"


def test_sanitize_text_idempotent_and_audit_clean(spark):
    from onetl_spark.llm.hygiene import control_char_audit, sanitize_text

    dirty = _docs(spark, [
        f"{ZWSP}{RLO}mixed{PDF} {NBSP}stuff\x1b e{ACUTE}",
        f"{ZWNJ}{IDEO_SPACE}more{ACUTE}",
    ])
    once = dirty.select("doc_id", sanitize_text(F.col("text")).alias("text"))
    twice = once.select("doc_id", sanitize_text(F.col("text")).alias("text2"))
    joined = once.join(twice, "doc_id").collect()
    assert all(r["text"] == r["text2"] for r in joined)
    audited = control_char_audit(once).collect()
    assert all(r["n_zero_width"] == r["n_bidi"] == r["n_control"] == 0 for r in audited)
