"""Canonicalization (SURVEY.md §2.A9-A11).

- A9  IRI normalization to RFC 3986 §6 normal form (+ Unicode NFC).
- A10 blank-node skolemization — performed at the parse boundary
  (tripleforge/parse/common.py) because the skolem hash needs
  (repo, path, local-id); re-exported here for API completeness.
- A11 literal canonicalization per RDF 1.1 / XSD 1.1 canonical lexical
  mappings.

One implementation, ``canonicalize_table``, over a pyarrow Table: the
parse dispatcher fuses it into its mapInArrow stage, and
``canonicalize`` runs it as a mapInArrow over a statement DataFrame
(SPARQL INSERT/DELETE). Rows already in normal form (the overwhelming
majority of real IRIs / literals) are detected with RE2 masks in Arrow
C++ and passed through untouched; only the residue pays per-row Python
— consistent with the north_star's "no per-row Python anywhere on the
hot path".

Reference analogs: RDF4J ``ParsedIRI.normalize()`` and the Rio literal
canonicalization setting; rebuilt from RFC 3986 / XSD 1.1, not
translated.
"""

from __future__ import annotations

import re
import unicodedata
from datetime import datetime, timezone
from decimal import Decimal, InvalidOperation

from pyspark.sql import DataFrame

from tripleforge.parse.common import skolem_iri, skolemize_series  # noqa: F401 (A10)
from tripleforge.schema import (
    XSD_BOOLEAN,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_NS,
)

# ---------------------------------------------------------------------------
# A9 — IRI normalization
# ---------------------------------------------------------------------------
_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*):(.*)$", re.S)
_AUTH_RE = re.compile(r"^//([^/?#]*)(.*)$", re.S)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21", "ws": "80", "wss": "443"}


def _norm_pct(s: str) -> str:
    """Uppercase %XX; decode escapes of unreserved characters."""

    def repl(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    # preserve trailing slash semantics of /. and /..
    if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
        out.append("")
    return "/".join(out)


def normalize_iri_str(iri: str) -> str:
    """RFC 3986 §6.2.2 syntax-based normalization of one IRI."""
    iri = unicodedata.normalize("NFC", iri)
    m = _SCHEME_RE.match(iri)
    if not m:
        return _norm_pct(iri)  # relative ref: percent-normalize only
    scheme, rest = m.group(1).lower(), m.group(2)
    am = _AUTH_RE.match(rest)
    if am:
        auth, tail = am.groups()
        userinfo, host = ("", auth)
        if "@" in auth:
            userinfo, host = auth.rsplit("@", 1)
            userinfo += "@"
        port = ""
        hm = re.match(r"^(\[[^\]]*\]|[^:]*)(?::(\d*))?$", host)
        if hm:
            hostname, p = hm.group(1), hm.group(2)
            if p and p != _DEFAULT_PORTS.get(scheme, None):
                port = ":" + p
            host = hostname.lower()
        else:
            host = host.lower()
        # split tail into path / query+fragment
        qm = re.search(r"[?#]", tail)
        path, qf = (tail[: qm.start()], tail[qm.start() :]) if qm else (tail, "")
        path = _remove_dot_segments(_norm_pct(path))
        if not path:
            path = "/"  # http://ex.org → http://ex.org/
        return f"{scheme}://{userinfo}{host}{port}{path}{_norm_pct(qf)}"
    return f"{scheme}:{_norm_pct(rest)}"


# ---------------------------------------------------------------------------
# A11 — literal canonicalization (XSD 1.1 canonical lexical mappings)
# ---------------------------------------------------------------------------
_INT_RE = re.compile(r"^[+-]?\d+$")
_DEC_RE = re.compile(r"^[+-]?(?:\d+\.?\d*|\.\d+)$")
_BOOL_MAP = {"0": "false", "1": "true", "true": "true", "false": "false"}


def _canon_integer(lex: str) -> str:
    s = lex.strip()
    if not _INT_RE.match(s):
        return lex
    neg = s.startswith("-")
    digits = s.lstrip("+-").lstrip("0") or "0"
    return ("-" + digits) if (neg and digits != "0") else digits


def _canon_decimal(lex: str) -> str:
    s = lex.strip()
    if not _DEC_RE.match(s):
        return lex
    neg = s.startswith("-")
    s = s.lstrip("+-")
    if "." in s:
        ip, fp = s.split(".", 1)
    else:
        ip, fp = s, ""
    ip = ip.lstrip("0") or "0"
    fp = fp.rstrip("0")
    out = ip + ("." + fp if fp else "")
    return ("-" + out) if (neg and out not in ("0",)) else out


def _canon_double(lex: str) -> str:
    s = lex.strip()
    u = s.upper()
    if u in ("INF", "+INF"):
        return "INF"
    if u == "-INF":
        return "-INF"
    if u == "NAN":
        return "NaN"
    try:
        d = Decimal(s)
    except InvalidOperation:
        return lex
    if d == 0:
        return "-0.0E0" if d.is_signed() else "0.0E0"
    sign, digits, exp = d.as_tuple()
    ds = "".join(map(str, digits)).rstrip("0") or "0"
    # mantissa m.mmm with exactly one nonzero digit before the point
    point_exp = exp + len("".join(map(str, digits))) - 1
    mant = ds[0] + "." + (ds[1:] or "0")
    return f"{'-' if sign else ''}{mant}E{point_exp}"


def _canon_boolean(lex: str) -> str:
    return _BOOL_MAP.get(lex.strip(), lex)


_DT_TZ_RE = re.compile(r"(Z|[+-]\d{2}:\d{2})$")


def _canon_datetime(lex: str) -> str:
    s = lex.strip()
    if not _DT_TZ_RE.search(s):
        return s  # timezone-less stays as written (XSD: local value)
    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return lex
    dt = dt.astimezone(timezone.utc)
    frac = f".{dt.microsecond:06d}".rstrip("0") if dt.microsecond else ""
    return dt.strftime("%Y-%m-%dT%H:%M:%S") + frac + "Z"


_TZ_RE = re.compile(r"(Z|[+-]\d{2}:\d{2})$")
_DATE_RE = re.compile(r"^(-?)(\d{4,})-(\d{2})-(\d{2})(Z|[+-]\d{2}:\d{2})?$")
_TIME_RE = re.compile(
    r"^(\d{2}):(\d{2}):(\d{2})(\.\d+)?(Z|[+-]\d{2}:\d{2})?$"
)
_GYEAR_RE = re.compile(r"^(-?)(\d{4,})(Z|[+-]\d{2}:\d{2})?$")
_GYM_RE = re.compile(r"^(-?)(\d{4,})-(\d{2})(Z|[+-]\d{2}:\d{2})?$")
_DURATION_RE = re.compile(
    r"^(-?)P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)D)?"
    r"(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?$"
)


def _canon_year(digits: str) -> str:
    """Year field: no leading zeros beyond four digits (XSD 1.1
    yearCanonicalFragmentMap)."""
    return digits[:-4].lstrip("0") + digits[-4:] if len(digits) > 4 else digits


def _canon_tz(tz: str | None) -> str:
    """Zero offsets render as Z (XSD 1.1 timezoneCanonicalFragmentMap);
    nonzero offsets are part of the 7-property value and stay."""
    if tz in (None, ""):
        return ""
    if tz in ("Z", "+00:00", "-00:00"):
        return "Z"
    return tz


def _canon_date(lex: str) -> str:
    s = lex.strip()
    m = _DATE_RE.match(s)
    if not m:
        return lex
    sign, year, month, day, tz = m.groups()
    return f"{sign}{_canon_year(year)}-{month}-{day}{_canon_tz(tz)}"


def _canon_time(lex: str) -> str:
    """Times with a nonzero offset shift to UTC (the XSD 1.0 canonical
    form, e.g. 13:20:00-05:00 → 18:20:00Z — same discipline as this
    engine's xsd:dateTime canonicalization); timezone-less stays as
    written (local value)."""
    s = lex.strip()
    m = _TIME_RE.match(s)
    if not m:
        return lex
    hh, mm, ss, frac, tz = m.groups()
    frac = ("." + frac[1:].rstrip("0")) if frac and frac[1:].rstrip("0") else ""
    if tz in (None, ""):
        return f"{hh}:{mm}:{ss}{frac}"
    if tz not in ("Z", "+00:00", "-00:00"):
        off_min = int(tz[1:3]) * 60 + int(tz[4:6])
        if tz[0] == "-":
            off_min = -off_min
        total = (int(hh) * 60 + int(mm) - off_min) % (24 * 60)
        hh, mm = f"{total // 60:02d}", f"{total % 60:02d}"
    return f"{hh}:{mm}:{ss}{frac}Z"


def _canon_gyear(lex: str) -> str:
    s = lex.strip()
    m = _GYEAR_RE.match(s)
    if not m:
        return lex
    sign, year, tz = m.groups()
    return f"{sign}{_canon_year(year)}{_canon_tz(tz)}"


def _canon_gyearmonth(lex: str) -> str:
    s = lex.strip()
    m = _GYM_RE.match(s)
    if not m:
        return lex
    sign, year, month, tz = m.groups()
    return f"{sign}{_canon_year(year)}-{month}{_canon_tz(tz)}"


_GMD_RE = re.compile(r"^--(\d{2})-(\d{2})(Z|[+-]\d{2}:\d{2})?$")
_GDAY_RE = re.compile(r"^---(\d{2})(Z|[+-]\d{2}:\d{2})?$")
_GMONTH_RE = re.compile(r"^--(\d{2})(Z|[+-]\d{2}:\d{2})?$")


def _canon_gmonthday(lex: str) -> str:
    s = lex.strip()
    m = _GMD_RE.match(s)
    if not m:
        return lex
    month, day, tz = m.groups()
    return f"--{month}-{day}{_canon_tz(tz)}"


def _canon_gday(lex: str) -> str:
    s = lex.strip()
    m = _GDAY_RE.match(s)
    if not m:
        return lex
    day, tz = m.groups()
    return f"---{day}{_canon_tz(tz)}"


def _canon_gmonth(lex: str) -> str:
    s = lex.strip()
    m = _GMONTH_RE.match(s)
    if not m:
        return lex
    month, tz = m.groups()
    return f"--{month}{_canon_tz(tz)}"


def _canon_duration(lex: str) -> str:
    """XSD 1.1 duration canonical form: months carry into years,
    seconds/minutes/hours carry upward (days never convert to months);
    zero components are omitted; the zero duration is PT0S."""
    s = lex.strip()
    m = _DURATION_RE.match(s)
    if not m or (m.group(0).endswith("P")) or (s.endswith("T")):
        return lex
    sign, y, mo, d, h, mi, sec = m.groups()
    if not any((y, mo, d, h, mi, sec)):
        return lex
    months = int(y or 0) * 12 + int(mo or 0)
    sec_dec = Decimal(sec) if sec else Decimal(0)
    total_sec = (
        int(d or 0) * 86400 + int(h or 0) * 3600 + int(mi or 0) * 60 + sec_dec
    )
    out = [sign or "", "P"]
    yy, rm = divmod(months, 12)
    if yy:
        out.append(f"{yy}Y")
    if rm:
        out.append(f"{rm}M")
    days, rem = divmod(total_sec, 86400)
    hours, rem = divmod(rem, 3600)
    mins, secs = divmod(rem, 60)
    if days:
        out.append(f"{int(days)}D")
    if hours or mins or secs:
        out.append("T")
        if hours:
            out.append(f"{int(hours)}H")
        if mins:
            out.append(f"{int(mins)}M")
        if secs:
            lex_s = _canon_decimal(str(secs))
            out.append(f"{lex_s}S")
    if out[-1] == "P":  # all-zero components
        out.append("T0S")
    return "".join(out)


_CANON_FNS = {
    XSD_INTEGER: _canon_integer,
    XSD_NS + "long": _canon_integer,
    XSD_NS + "int": _canon_integer,
    XSD_NS + "short": _canon_integer,
    XSD_NS + "byte": _canon_integer,
    XSD_NS + "nonNegativeInteger": _canon_integer,
    XSD_NS + "positiveInteger": _canon_integer,
    XSD_DECIMAL: _canon_decimal,
    XSD_DOUBLE: _canon_double,
    XSD_NS + "float": _canon_double,
    XSD_BOOLEAN: _canon_boolean,
    XSD_DATETIME: _canon_datetime,
    XSD_NS + "date": _canon_date,
    XSD_NS + "time": _canon_time,
    XSD_NS + "gYear": _canon_gyear,
    XSD_NS + "gYearMonth": _canon_gyearmonth,
    XSD_NS + "gMonthDay": _canon_gmonthday,
    XSD_NS + "gDay": _canon_gday,
    XSD_NS + "gMonth": _canon_gmonth,
    XSD_NS + "duration": _canon_duration,
    XSD_NS + "dayTimeDuration": _canon_duration,
    XSD_NS + "yearMonthDuration": _canon_duration,
}


# ---------------------------------------------------------------------------
# Arrow-native canonicalization (the mapInArrow hot path): every fast
# path stays in Arrow C++; Python touches only masked residues via
# pc.replace_with_mask. ASCII text is NFC by definition, so NFC applies
# only to the non-ASCII residue.
# ---------------------------------------------------------------------------
# Fast-path detector: IRIs with no percent-escapes, no dot segments, no
# upper-case scheme/host, no default port, and a non-empty path after
# the authority are already normal. The last alternative flags
# scheme://authority with NO path (e.g. <http://ex.org>), which the
# slow path rewrites to path "/" — without it, <http://ex.org> and
# <HTTP://ex.org> canonicalized to different forms (ADVICE r1).
_NEEDS_WORK_RE2 = (
    "%|/\\.\\.?(/|$)|^[^:/]*[A-Z][^:/]*:|^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*[A-Z:]"
    "|^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([?#]|$)"
)
_NON_ASCII_RE2 = "[^\\x00-\\x7f]"
# r6: ONE scan instead of two — the union of _NEEDS_WORK_RE2 and
# _NON_ASCII_RE2 as alternation (identical match set; RE2 compiles the
# union to a single DFA, halving the per-column regex passes in the
# fused parse+canon stage).
_IRI_WORK_RE2 = f"(?:{_NEEDS_WORK_RE2})|(?:{_NON_ASCII_RE2})"
_CANON_INT_RE2 = "^(0|-?[1-9][0-9]*)$"


def _replace_masked(arr, mask, fn):
    """Apply python ``fn`` only to rows where mask is true (Arrow
    scatter via replace_with_mask)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n_hits = pc.sum(pc.cast(mask, pa.int64())).as_py() or 0
    if n_hits == 0:
        return arr
    hits = pc.filter(arr, mask)
    repl = pa.array([fn(v) for v in hits.to_pylist()], pa.string())
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if isinstance(mask, pa.ChunkedArray):
        mask = mask.combine_chunks()
    return pc.replace_with_mask(arr, mask, repl)


def _norm_iri_arrow(arr):
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = pc.fill_null(pc.match_substring_regex(arr, _IRI_WORK_RE2), False)
    return _replace_masked(arr, mask, normalize_iri_str)


def canonicalize_table(tbl):
    """A9+A11 over a pyarrow Table with statement columns (subj, pred,
    obj, obj_kind, obj_dt, graph); other columns pass through. Error
    rows have null terms, on which every op below is a no-op."""
    import pyarrow as pa
    import pyarrow.compute as pc

    subj = _norm_iri_arrow(tbl.column("subj"))
    pred = _norm_iri_arrow(tbl.column("pred"))

    kind = tbl.column("obj_kind")
    obj = tbl.column("obj")
    dt = tbl.column("obj_dt")
    is_iri = pc.fill_null(pc.equal(kind, "iri"), False)
    iri_mask = pc.and_(
        is_iri,
        pc.fill_null(pc.match_substring_regex(obj, _IRI_WORK_RE2), False),
    )
    obj = _replace_masked(obj, iri_mask, normalize_iri_str)
    # r6 (guide §1.2 per-task work): dictionary-encode obj_dt once, then
    # dispatch on the handful of DISTINCT datatypes actually present —
    # the old loop string-compared the full obj_dt column against all
    # 21 canonicalizable datatype IRIs (21 × 40-byte compares per row);
    # now absent datatypes cost nothing and present ones an int32
    # compare over the index array. Masks (and therefore outputs) are
    # identical.
    if isinstance(dt, pa.ChunkedArray):
        dt = dt.combine_chunks()
    dt_dict = dt.dictionary_encode()
    present = {v: i for i, v in enumerate(dt_dict.dictionary.to_pylist())}
    indices = dt_dict.indices
    for dtype, fn in _CANON_FNS.items():
        idx = present.get(dtype)
        if idx is None:
            continue
        m = pc.fill_null(pc.equal(indices, idx), False)
        if dtype == XSD_INTEGER:
            m = pc.and_(
                m,
                pc.invert(
                    pc.fill_null(pc.match_substring_regex(obj, _CANON_INT_RE2), True)
                ),
            )
        obj = _replace_masked(obj, m, fn)

    graph = tbl.column("graph")
    g_mask = pc.and_(
        graph.is_valid() if not isinstance(graph, pa.ChunkedArray) else pc.is_valid(graph),
        pc.fill_null(pc.match_substring_regex(graph, _IRI_WORK_RE2), False),
    )
    graph = _replace_masked(graph, g_mask, normalize_iri_str)

    out = tbl
    for name, col in (("subj", subj), ("pred", pred), ("obj", obj), ("graph", graph)):
        out = out.set_column(out.schema.get_field_index(name), name, col)
    return out


def canonicalize(df: DataFrame) -> DataFrame:
    """A9+A11 over a statement DataFrame: ``canonicalize_table`` as one
    mapInArrow pass, schema unchanged."""

    def canon(batches):
        import pyarrow as pa

        for batch in batches:
            yield from canonicalize_table(pa.Table.from_batches([batch])).to_batches()

    return df.mapInArrow(canon, df.schema)
