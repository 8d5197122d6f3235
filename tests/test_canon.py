"""Canonicalization table tests (SURVEY.md §5.2.2) — cases straight
from RFC 3986 §6 and XSD 1.1 §3.2 canonical mappings."""

from __future__ import annotations

import pytest

from tripleforge.canon import (
    _canon_boolean,
    _canon_datetime,
    _canon_decimal,
    _canon_double,
    _canon_integer,
    normalize_iri_str,
)

IRI_CASES = [
    # FIXTURES.md canon_edge: scheme/host case, default port, dot segments, %XX case
    ("HTTP://EX.ORG:80/a/../b%2f", "http://ex.org/b%2F"),
    ("http://Example.COM/x", "http://example.com/x"),
    ("https://ex.org:443/x", "https://ex.org/x"),
    ("https://ex.org:8443/x", "https://ex.org:8443/x"),
    ("http://ex.org/a/./b", "http://ex.org/a/b"),
    ("http://ex.org/%7Euser", "http://ex.org/~user"),
    ("http://ex.org/%41%2F", "http://ex.org/A%2F"),
    ("http://ex.org", "http://ex.org/"),
    ("urn:uuid:ABC", "urn:uuid:ABC"),  # opaque path untouched
    ("http://ex.org/a?q=%2f#f%2f", "http://ex.org/a?q=%2F#f%2F"),
]


@pytest.mark.parametrize("raw,expected", IRI_CASES)
def test_iri_normalization(raw, expected):
    assert normalize_iri_str(raw) == expected


def test_iri_nfc():
    # e + combining acute (NFD) → precomposed é (NFC)
    assert normalize_iri_str("http://ex.org/café") == "http://ex.org/café"


INT_CASES = [("007", "7"), ("+01", "1"), ("-0", "0"), ("42", "42"), ("-042", "-42"), ("0", "0")]
DEC_CASES = [("2.50", "2.5"), ("+01.10", "1.1"), ("5", "5"), (".5", "0.5"), ("-0.0", "0"), ("10", "10")]
DBL_CASES = [
    ("1e0", "1.0E0"),
    ("1E0", "1.0E0"),
    ("0.1", "1.0E-1"),
    ("-12.3e2", "-1.23E3"),
    ("0", "0.0E0"),
    ("INF", "INF"),
    ("-INF", "-INF"),
    ("NaN", "NaN"),
]
BOOL_CASES = [("0", "false"), ("1", "true"), ("true", "true"), ("false", "false")]
DT_CASES = [
    ("2024-01-02T03:04:05+05:00", "2024-01-01T22:04:05Z"),
    ("2024-01-02T03:04:05Z", "2024-01-02T03:04:05Z"),
    ("2024-01-02T03:04:05.500Z", "2024-01-02T03:04:05.5Z"),
    ("2024-01-02T03:04:05", "2024-01-02T03:04:05"),  # tz-less stays local
]


@pytest.mark.parametrize("raw,expected", INT_CASES)
def test_canon_integer(raw, expected):
    assert _canon_integer(raw) == expected


@pytest.mark.parametrize("raw,expected", DEC_CASES)
def test_canon_decimal(raw, expected):
    assert _canon_decimal(raw) == expected


@pytest.mark.parametrize("raw,expected", DBL_CASES)
def test_canon_double(raw, expected):
    assert _canon_double(raw) == expected


@pytest.mark.parametrize("raw,expected", BOOL_CASES)
def test_canon_boolean(raw, expected):
    assert _canon_boolean(raw) == expected


@pytest.mark.parametrize("raw,expected", DT_CASES)
def test_canon_datetime(raw, expected):
    assert _canon_datetime(raw) == expected


def test_canonicalize_dataframe(spark):
    """End-to-end A9+A11 over a statement DataFrame (one mapInArrow pass
    over canonicalize_table)."""
    from tripleforge.canon import canonicalize
    from tripleforge.schema import XSD_DECIMAL, XSD_INTEGER, XSD_NS, XSD_STRING

    df = spark.createDataFrame(
        [
            ("HTTP://EX.ORG:80/a/../s", "http://ex.org/p", "007", "literal", XSD_INTEGER, None, None),
            ("http://ex.org/s", "http://ex.org/p", "2.50", "literal", XSD_DECIMAL, None, None),
            ("http://ex.org/s", "http://ex.org/p", "HTTP://EX.ORG/O", "iri", None, None, None),
            ("http://ex.org/s", "http://ex.org/p", "keep", "literal", XSD_STRING, None, None),
            ("http://ex.org/t", "http://ex.org/p", "13:20:00-05:00", "literal", XSD_NS + "time", None, "HTTP://EX.ORG"),
            ("http://ex.org/t", "http://ex.org/p", "PT90M", "literal", XSD_NS + "duration", None, "urn:g"),
            ("http://ex.org/caf\u0065\u0301", "http://ex.org/p", "x", "literal", XSD_STRING, None, None),
        ],
        "subj string, pred string, obj string, obj_kind string, obj_dt string, obj_lang string, graph string",
    )
    out = canonicalize(df)
    assert out.schema == df.schema
    rows = {(r.subj, r.obj, r.graph) for r in out.collect()}
    assert ("http://ex.org/s", "7", None) in rows
    assert ("http://ex.org/s", "2.5", None) in rows
    assert ("http://ex.org/s", "http://ex.org/O", None) in rows
    assert ("http://ex.org/s", "keep", None) in rows
    assert ("http://ex.org/t", "18:20:00Z", "http://ex.org/") in rows
    assert ("http://ex.org/t", "PT1H30M", "urn:g") in rows
    assert ("http://ex.org/caf\u00e9", "x", None) in rows  # NFC


# --- ADVICE r1: fast-path detector must flag authority-with-empty-path ----
EMPTY_PATH_CASES = [
    "http://ex.org",           # lower-case, empty path → slow path must fire
    "HTTP://ex.org",           # upper scheme → slow path (already did)
    "http://ex.org?q=1",       # empty path + query
    "http://ex.org#f",         # empty path + fragment
    "http://ex.org/",          # already canonical — either path, same output
    "urn:uuid:abc",            # no authority — not promoted
]


@pytest.mark.parametrize("raw", EMPTY_PATH_CASES)
def test_fast_path_detector_table_matches_slow_path(raw):
    """Equivalent IRIs must reach ONE canonical form regardless of which
    path (vectorized fast skip vs full normalize) handles them — in
    every IRI position of a statement table."""
    import pyarrow as pa

    from tripleforge.canon import canonicalize_table

    tbl = pa.table(
        {
            "subj": [raw], "pred": [raw], "obj": [raw], "obj_kind": ["iri"],
            "obj_dt": pa.array([None], pa.string()), "graph": [raw],
        }
    )
    row = canonicalize_table(tbl).to_pylist()[0]
    want = normalize_iri_str(raw)
    assert (row["subj"], row["pred"], row["obj"], row["graph"]) == (want,) * 4


@pytest.mark.parametrize("raw", EMPTY_PATH_CASES)
def test_fast_path_detector_arrow_matches_slow_path(raw):
    import pyarrow as pa

    from tripleforge.canon import _norm_iri_arrow

    got = _norm_iri_arrow(pa.chunked_array([pa.array([raw])])).to_pylist()[0]
    assert got == normalize_iri_str(raw)


def test_empty_path_equivalents_converge():
    assert normalize_iri_str("http://ex.org") == "http://ex.org/"
    import pyarrow as pa

    from tripleforge.canon import _norm_iri_arrow

    s = _norm_iri_arrow(pa.array(["http://ex.org", "HTTP://ex.org"])).to_pylist()
    assert s[0] == s[1] == "http://ex.org/"


# --- r5: date / time / gYear / gYearMonth / duration (VERDICT r4 #6) ---
from tripleforge.canon import (  # noqa: E402
    _canon_date,
    _canon_duration,
    _canon_gyear,
    _canon_gyearmonth,
    _canon_time,
)

DATE_CASES = [
    ("2024-01-02", "2024-01-02"),
    (" 2024-01-02Z ", "2024-01-02Z"),
    ("2024-01-02+00:00", "2024-01-02Z"),
    ("2024-01-02-00:00", "2024-01-02Z"),
    ("2024-01-02+05:30", "2024-01-02+05:30"),  # nonzero offset is value
    ("02024-01-02", "2024-01-02"),  # excess leading year zeros
    ("-0044-03-15", "-0044-03-15"),
    ("not-a-date", "not-a-date"),  # invalid lexical passes through
]

TIME_CASES = [
    ("03:04:05", "03:04:05"),
    ("03:04:05.500", "03:04:05.5"),
    ("03:04:05.000", "03:04:05"),
    ("03:04:05+00:00", "03:04:05Z"),
    ("13:20:00-05:00", "18:20:00Z"),  # XSD 1.0 canonical example
    ("01:00:00+02:00", "23:00:00Z"),  # wraps past midnight
    ("24:00", "24:00"),  # invalid lexical passes through
]

GYEAR_CASES = [
    ("2024", "2024"),
    ("02024", "2024"),
    ("-0044", "-0044"),
    ("2024+00:00", "2024Z"),
    ("2024+05:00", "2024+05:00"),
]

GYM_CASES = [
    ("2024-03", "2024-03"),
    ("02024-03-00:00", "2024-03Z"),
    ("2024-03+01:00", "2024-03+01:00"),
]

DURATION_CASES = [
    ("P1Y", "P1Y"),
    ("P13M", "P1Y1M"),  # months carry into years
    ("PT90M", "PT1H30M"),  # minutes carry into hours
    ("P1DT25H", "P2DT1H"),  # hours carry into days
    ("PT3661.50S", "PT1H1M1.5S"),
    ("P0Y", "PT0S"),  # zero duration
    ("PT0S", "PT0S"),
    ("-P1Y13M", "-P2Y1M"),
    ("P1M", "P1M"),  # months never convert to days
    ("P", "P"),  # invalid lexical passes through
    ("P1YT", "P1YT"),  # trailing T is invalid
]


@pytest.mark.parametrize("raw,expected", DATE_CASES)
def test_canon_date(raw, expected):
    assert _canon_date(raw) == expected


@pytest.mark.parametrize("raw,expected", TIME_CASES)
def test_canon_time(raw, expected):
    assert _canon_time(raw) == expected


@pytest.mark.parametrize("raw,expected", GYEAR_CASES)
def test_canon_gyear(raw, expected):
    assert _canon_gyear(raw) == expected


@pytest.mark.parametrize("raw,expected", GYM_CASES)
def test_canon_gyearmonth(raw, expected):
    assert _canon_gyearmonth(raw) == expected


@pytest.mark.parametrize("raw,expected", DURATION_CASES)
def test_canon_duration(raw, expected):
    assert _canon_duration(raw) == expected


# --- r5 completion: gMonthDay / gDay / gMonth (the rest of the XSD
# calendar family) ---
from tripleforge.canon import (  # noqa: E402
    _canon_gday,
    _canon_gmonth,
    _canon_gmonthday,
)


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("--12-25", "--12-25"),
        (" --12-25Z ", "--12-25Z"),
        ("--12-25+00:00", "--12-25Z"),
        ("--12-25-05:00", "--12-25-05:00"),  # nonzero offset is value
        ("--1-5", "--1-5"),  # invalid (un-padded) passes through
        ("12-25", "12-25"),  # missing -- prefix passes through
    ],
)
def test_canon_gmonthday(raw, expected):
    assert _canon_gmonthday(raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("---07", "---07"),
        ("---07-00:00", "---07Z"),
        ("---07+10:00", "---07+10:00"),
        ("--07", "--07"),  # that's a gMonth lexical, not gDay
    ],
)
def test_canon_gday(raw, expected):
    assert _canon_gday(raw) == expected


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("--02", "--02"),
        ("--02+00:00", "--02Z"),
        ("--02Z", "--02Z"),
        ("---02", "---02"),  # gDay lexical passes through untouched
    ],
)
def test_canon_gmonth(raw, expected):
    assert _canon_gmonth(raw) == expected


def test_canonicalize_frame_new_datatypes(spark):
    """The new datatypes ride the same masked residue path end-to-end
    through the Arrow table kernel."""
    import pyarrow as pa

    from tripleforge.canon import canonicalize_table

    xsd = "http://www.w3.org/2001/XMLSchema#"
    tbl = pa.table(
        {
            "subj": ["urn:s"] * 4,
            "pred": ["urn:p"] * 4,
            "obj": ["13:20:00-05:00", "P13M", "02024", "2024-01-02+00:00"],
            "obj_kind": ["literal"] * 4,
            "obj_dt": [xsd + "time", xsd + "duration", xsd + "gYear", xsd + "date"],
            "graph": pa.array([None] * 4, pa.string()),
        }
    )
    out = canonicalize_table(tbl).column("obj").to_pylist()
    assert out == ["18:20:00Z", "P1Y1M", "2024", "2024-01-02Z"]
