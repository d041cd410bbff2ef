"""Parity gate for the SQL-text compilation path.

Every Solr column the twin compiles (and the work-key tree) must be
BYTE-IDENTICAL to the Column-API build on an adversarial MARC corpus —
880 linkage, analytical entries, non-filing indicators, ISBN-10
upgrades, OCLC prefixes, unbalanced trailing brackets, abbreviation /
numeric / initial trailing periods, DOIs in 856, 264-ind2 publisher
fallback, Cyrillic + kana normalize_key folds, 034 DMS coordinates,
empty/missing fields. The twin path is the DEFAULT in to_solr_columns,
so this sweep is what licenses it.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import recordmanager_spark.extractors.marc as MARC
import recordmanager_spark.sqlalg as S
import recordmanager_spark.sqltwin as TW


def _rec(fields, leader="00000cam a22000004i 4500"):
    return json.dumps({"leader": leader, "fields": fields})


def _df(tag, sub):
    ind1, ind2 = sub.pop("__ind1", " "), sub.pop("__ind2", " ")
    return {
        tag: {
            "ind1": ind1,
            "ind2": ind2,
            "subfields": [{k: v} for k, v in sub.items()],
        }
    }


RECORDS = [
    # the everything record: 880 links, relators, facets, DOI, OCLC, geo
    _rec(
        [
            {"001": "rec1"},
            {"003": "FI-NL"},
            {"008": "970101s1999    xxua               eng d"},
            _df("100", {"a": "Writer, Wendy-Ann B.", "4": "aut"}),
            _df("700", {"a": "Helper, H.", "e": "edt.", "__ind2": "2"}),
            _df("700", {"a": "Second, S.", "e": "trl"}),
            _df("110", {"a": "Corp Inc.", "b": "Division"}),
            _df(
                "245",
                {"__ind1": "1", "__ind2": "4", "a": "The Title :",
                 "b": "subtitle /", "n": "Part 1.", "6": "880-01"},
            ),
            _df(
                "880",
                {"__ind1": "1", "__ind2": "4", "6": "245-01",
                 "a": "Тайтл кириллицей"},
            ),
            _df("240", {"a": "Uniform work", "n": "no. 2", "__ind2": "0"}),
            _df("130", {"a": "Master uniform", "p": "Pt"}),
            _df("650", {"a": "Topic.", "x": "Sub", "v": "genreform",
                        "z": "Helsinki", "y": "1900s", "0": "id0"}),
            _df("655", {"a": "fiction", "__ind2": "7"}),
            _df("651", {"a": "Finland", "z": "North"}),
            _df("648", {"a": "20th century", "y": "1950"}),
            _df("035", {"a": "(OCoLC)ocm00012345"}),
            _df("035", {"a": "ocn987654321"}),
            _df("020", {"a": "0-306-40615-2"}),
            _df("022", {"a": "1234-5678"}),
            _df("010", {"a": "  lccn42  ", "b": "nucmc7"}),
            _df("015", {"a": "FIN-1", "2": "skl"}),
            _df("024", {"a": "979-0-1234-5678-5", "__ind1": "2"}),
            _df("260", {"b": "PubHouse,", "c": "c1999."}),
            _df("300", {"a": "123 pages :", "b": "ill. ;", "c": "24 cm"}),
            _df("250", {"a": "2nd ed. ="}),
            _df("490", {"a": "Series A ["}),
            _df("505", {"a": "Contents here", "r": "Writer", "t": "T1"}),
            _df("362", {"a": "Vol. 1 (1999)-"}),
            _df("856", {"u": "https://doi.org/10.1/ab%20c?x=1", "q": "pdf"}),
            _df("852", {"b": "MAIN", "c": "STACK"}),
            _df("034", {"d": "E0793000", "e": "E0794500",
                        "f": "N0400000", "g": "N0395900", "__ind1": "1"}),
            _df("041", {"a": "fineng", "h": "swe"}),
            _df("773", {"z": "0-306-40615-2", "w": "(FI-NL)123", "6": "x"}),
            _df("780", {"a": "Old title (", "t": "old"}),
            _df("785", {"a": "New title :", "t": "new"}),
            _df("246", {"a": "Alt form", "b": "b."}),
            _df("730", {"a": "Related uniform"}),
            _df("740", {"a": "Added title"}),
        ]
    ),
    # trailing-punctuation traps: initials, numerics, abbreviations,
    # unbalanced brackets; non-personal comma-less author; kana title
    _rec(
        [
            {"001": "rec2"},
            {"008": "120101s2012    fi                  fin d"},
            _df("100", {"a": "Smith, A."}),
            _df("700", {"a": "One-Two, Jean-Luc Xavier"}),
            _df("245", {"__ind2": "0", "a": "Numbers 123.", "b": "x Mr."}),
            _df("246", {"a": "ひらがなのタイトル"}),
            _df("260", {"b": "Press)"}),
            _df("264", {"__ind2": "1", "b": "Fallback Pub"}),
            _df("050", {"a": "QA76.5", "b": ".A1", "__ind1": "0"}),
            _df("082", {"a": "005.133", "__ind1": "0"}),
            _df("083", {"a": "004.2"}),
            _df("024", {"a": "IAN123 TAIL", "__ind1": "3"}),
            _df("016", {"a": "  BN-77  ", "2": "dnb"}),
            _df("655", {"v": "poetry]"}),
        ]
    ),
    # minimal control-only record + 264-only publisher, no 008 year
    _rec(
        [
            {"001": "rec3"},
            {"008": "990101s19uu    xx                  und d"},
            _df("264", {"__ind2": "1", "b": "Only264", "c": "[2005]"}),
            _df("245", {"a": "..."}),
            _df("041", {"a": "GER", "d": " eng ", "j": "fre"}),
        ]
    ),
    # empty fields edge: no 245, 240 fallback; 006 illustrated; 363?
    _rec(
        [
            {"001": "rec4"},
            {"006": "a    b    "},
            {"008": "000000n"},
            _df("240", {"a": "Only Uniform", "__ind2": "3"}),
            _df("100", {"a": "von Goethe, Johann Wolfgang"}),
            _df("856", {"u": "http://dx.doi.org/10.99/z#frag"}),
            _df("024", {"a": "10.5/direct", "2": "doi", "__ind1": "7"}),
            _df("035", {"a": "(CONSER)co-1"}),
        ],
        leader="00000cem a22000004i 4500",
    ),
    # linking/host edges (ADVICE r12): no 001 so the Koha 999$c id
    # fallback fires, 003 agency for prepend_003, multiple 773$w with
    # one already parenthesized, comma-less ind1=0 author flip
    _rec(
        [
            {"003": "FI-X"},
            {"008": "050101s2005    fi                  fin d"},
            _df("999", {"c": "koha77"}),
            _df("773", {"w": "(FI-NL)h1", "t": "Host A"}),
            _df("773", {"w": "h2"}),
            _df("035", {"a": "(OCoLC)555"}),
            _df("100", {"__ind1": "0", "a": "Mononym Author"}),
            _df("245", {"a": "Linked title"}),
        ]
    ),
]


@pytest.fixture(scope="module")
def parsed(spark):
    df = spark.createDataFrame([(r,) for r in RECORDS], "raw string")
    out = df.select(MARC.parse_marc_in_json("raw").alias("marc"))
    return out.localCheckpoint(eager=True)


def _all_names():
    builders = MARC._solr_col_builders(F.col("marc"), None, {})
    return [n for n in builders if n not in MARC._TWIN_SKIP]


def test_twin_column_parity(spark, parsed):
    """Every twin-compiled Solr column == the Column-API build, on every
    adversarial record."""
    twin = TW.marc_twin()._solr_col_builders(S.col("marc"), None, {})
    colb = MARC._solr_col_builders(F.col("marc"), None, {})
    mismatches = []
    names = _all_names()
    a_cols = [F.expr(str(twin[n]())).cast("string").alias(f"t_{i}")
              for i, n in enumerate(names)]
    b_cols = [colb[n]().cast("string").alias(f"c_{i}")
              for i, n in enumerate(names)]
    rows = parsed.select(*a_cols, *b_cols).collect()
    for r in rows:
        for i, n in enumerate(names):
            if r[f"t_{i}"] != r[f"c_{i}"]:
                mismatches.append((n, r[f"t_{i}"], r[f"c_{i}"]))
    assert not mismatches, mismatches[:5]


def test_twin_host_linking_author_parity(spark, parsed):
    """marc_main_author / marc_host_record_ids / linking_ids (every
    prepend_003 / id_in_999 variant) — the renormalize twin paths that
    have no _solr_col_builders entry, so the column sweep above never
    exercises them (ADVICE r12)."""
    tw = TW.marc_twin()
    cases: dict = {
        "main_author": (
            lambda: MARC.marc_main_author(F.col("marc")),
            lambda: tw.marc_main_author(S.col("marc")),
        ),
    }
    for p3 in (False, True):
        cases[f"host_ids_p3={p3}"] = (
            lambda p3=p3: MARC.marc_host_record_ids(
                F.col("marc"), prepend_003=p3
            ),
            lambda p3=p3: tw.marc_host_record_ids(
                S.col("marc"), prepend_003=p3
            ),
        )
        for i9 in (False, True):
            cases[f"linking_p3={p3}_i9={i9}"] = (
                lambda p3=p3, i9=i9: MARC.linking_ids(
                    F.col("marc"), prepend_003=p3, id_in_999=i9
                ),
                lambda p3=p3, i9=i9: tw.linking_ids(
                    S.col("marc"), prepend_003=p3, id_in_999=i9
                ),
            )
    names = list(cases)
    t_cols = [
        F.expr(str(cases[n][1]())).cast("string").alias(f"t_{i}")
        for i, n in enumerate(names)
    ]
    c_cols = [
        cases[n][0]().cast("string").alias(f"c_{i}")
        for i, n in enumerate(names)
    ]
    mismatches = []
    for r in parsed.select(*t_cols, *c_cols).collect():
        for i, n in enumerate(names):
            if r[f"t_{i}"] != r[f"c_{i}"]:
                mismatches.append((n, r[f"t_{i}"], r[f"c_{i}"]))
    assert not mismatches, mismatches[:5]


def test_twin_work_keys_parity(spark, parsed):
    a = parsed.select(MARC.work_keys("marc").cast("string").alias("v"))
    b = parsed.select(
        MARC.work_keys(F.col("marc")).cast("string").alias("v")
    )
    assert [r["v"] for r in a.collect()] == [r["v"] for r in b.collect()]


def test_twin_id_prefix(spark, parsed):
    out = MARC.to_solr_columns(parsed, "marc", id_prefix="src", only=["id"])
    ids = sorted(r["id"] for r in out.select("id").collect())
    # "src." is the 001-less Koha record (999$c ids are a renormalize
    # setting, not a to_solr_columns default) — prefix + empty 001.
    assert ids == ["src.", "src.rec1", "src.rec2", "src.rec3", "src.rec4"]


def test_twin_is_the_default_path(spark, parsed):
    """to_solr_columns must route non-skip columns through F.expr (the
    twin) — pin by checking the cache holds a parsed-SQL column whose
    plan matches the Column build."""
    MARC._SOLR_COLS_CACHE.clear()
    out = MARC.to_solr_columns(parsed, "marc", only=["title", "isbn"])
    vals = out.select("title", F.array_join("isbn", "|").alias("i")).collect()
    assert vals[0]["title"] == "The Title : subtitle / Part 1."
    assert vals[0]["i"] == "9780306406157"


def test_sqlalg_literal_escaping(spark):
    """Control chars, quotes, backslashes and unicode survive the SQL
    literal round trip byte-for-byte."""
    import recordmanager_spark.sqlalg as SA

    samples = [
        "a'b", "a\\b", "a\\'b", "tab\there", "nl\nthere", "nul\x00x",
        "käsekuchen", "Тайтл", "ひらがな", "[^a-z0-9]+", "\\p{P}+",
        "(?i)(?<! .)\\.\\z",
    ]
    cols = [F.expr(str(SA.lit(s))).alias(f"c{i}") for i, s in enumerate(samples)]
    row = spark.range(1).select(*cols).collect()[0]
    for i, s in enumerate(samples):
        assert row[f"c{i}"] == s, (row[f"c{i}"], s)


def test_sqlalg_case_when_chain(spark):
    import recordmanager_spark.sqlalg as SA

    x = SA.col("id")
    e = SA.when(x == 0, "zero").when(x == 1, "one").otherwise("many")
    rows = spark.range(3).select(F.expr(str(e)).alias("v")).collect()
    assert [r["v"] for r in rows] == ["zero", "one", "many"]


def test_twin_normalize_key_parity(spark):
    """keys.py twin: the table fold (incl. kana + Cyrillic paths) matches
    the Column build on non-Latin input."""
    import recordmanager_spark.functions.keys as K

    ktw = TW.keys_twin()
    samples = [
        "Tämä on Österreich", "Щедрик два", "ひらがな ノ題", "Mixed Тест x",
        "plain ascii!", "", None,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    a = df.select(F.expr(str(ktw.normalize_key(S.col("s")))).alias("v"))
    b = df.select(K.normalize_key(F.col("s")).alias("v"))
    assert [r["v"] for r in a.collect()] == [r["v"] for r in b.collect()]


def test_parser_conf_pinned_and_asserted(spark):
    """The session factory pins escapedStringLiterals=false (ADVICE r6)
    and assert_parser_conf fails fast under the legacy mode."""
    from recordmanager_spark import sqlalg as SA

    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    SA.assert_parser_conf(spark)  # no raise
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        import pytest

        with pytest.raises(RuntimeError, match="escapedStringLiterals"):
            SA.assert_parser_conf(spark)
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")


def _subtrees(text: str):
    """Every parenthesized subtree of rendered twin SQL, with the function
    name before its parenthesis; string literals are skipped."""
    open_at, i = [], 0
    while i < len(text):
        ch = text[i]
        if ch == "'":
            i += 1
            while text[i] != "'":
                i += 2 if text[i] == "\\" else 1
        elif ch == "(":
            j = i
            while j and (text[j - 1].isalnum() or text[j - 1] == "_"):
                j -= 1
            open_at.append(j)
        elif ch == ")":
            yield text[open_at.pop(): i + 1]
        i += 1


def test_twin_sql_has_no_repeated_subtree():
    """Duplication guard: every Column value a spec function reads more
    than once is let-bound (sparkcompat.let1), so no subtree of 200+
    characters occurs twice in one twin-compiled Solr column or hidden
    companion, and all of them together stay under 130 KB of SQL — the
    text a fresh JVM parses on every deduplicate / update-index run. No
    literal is exempt: the kana map of normalize_key appears once, as
    unique_ids normalizes all its inputs in one transform."""
    import collections

    memo = {"__src": "marc", "__hide__": True}
    twin = MARC._twin_builders("marc", None, memo)
    texts = {n: str(b()) for n, b in twin.items() if n not in MARC._TWIN_SKIP}
    texts.update(memo["__hidden__"])
    repeated = {}
    for name, text in texts.items():
        counts = collections.Counter(
            t for t in _subtrees(text) if len(t) >= 200
        )
        dups = [t for t, c in counts.items() if c > 1]
        if dups:
            repeated[name] = max(dups, key=len)[:120]
    assert not repeated, repeated
    total = sum(map(len, texts.values()))
    assert total < 130_000, total
