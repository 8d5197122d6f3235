"""Shared term machinery for all RDF parsers.

Everything here runs INSIDE the parse dispatcher's ``mapInArrow`` batch
— in the Python worker, over whole files — either on the pandas frames
the Turtle/RDF-XML/JSON-LD/TriX kernels build from the batch (and the
``ntnq`` reference kernel the tests compare against), or as scalar
helpers the Arrow NT/NQ kernel applies to its residues. Vectorized ops
are the hot path and per-row Python is confined to rare residues
(escape sequences, blank nodes), per BASELINE.json north_star: "no
per-row Python anywhere on the hot path".

Reference analog: RDF4J Rio parser helpers (NTriplesUtil, the shared
RioSetting machinery) — re-expressed columnar (SURVEY.md §2.A4-A8).
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd

from tripleforge.schema import (
    RDF_LANGSTRING,
    SKOLEM_PREFIX,
    XSD_STRING,
)

# --- N-Triples / Turtle string escapes (ECHAR + UCHAR) ---------------------
_ESCAPE_RE = re.compile(
    r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|([tbnrf\"'\\]))"
)
_ECHAR = {
    "t": "\t",
    "b": "\b",
    "n": "\n",
    "r": "\r",
    "f": "\f",
    '"': '"',
    "'": "'",
    "\\": "\\",
}


def _unescape_one(s: str) -> str:
    def repl(m: re.Match) -> str:
        u4, u8, e = m.groups()
        if u4 is not None:
            return chr(int(u4, 16))
        if u8 is not None:
            return chr(int(u8, 16))
        return _ECHAR[e]

    return _ESCAPE_RE.sub(repl, s)


def unescape_series(s: pd.Series) -> pd.Series:
    """Decode ECHAR/UCHAR escapes; fast path skips rows without ``\\``."""
    mask = s.str.contains("\\", regex=False, na=False)
    if not mask.any():
        return s
    out = s.copy()
    out.loc[mask] = s.loc[mask].map(_unescape_one)
    return out


# --- Blank-node skolemization (SURVEY §2.A10) -------------------------------
# Deterministic across runs and partitions: the skolem IRI is a pure
# function of (repo, path, bnode-local-id). RDF 1.1 Concepts §3.5
# sanctions replacing blank nodes with skolem IRIs. The reference (RDF4J)
# assigns session-scoped nondeterministic bnode ids; determinism is this
# engine's added requirement (BASELINE.json north_star).
_SKOLEM_SEP = "\x1f"


def skolem_iri(repo: str, path: str, local: str) -> str:
    h = hashlib.sha256(
        (repo + _SKOLEM_SEP + path + _SKOLEM_SEP + local).encode("utf-8")
    ).hexdigest()
    return SKOLEM_PREFIX + h


def skolemize_series(repo: pd.Series, path: pd.Series, local: pd.Series) -> pd.Series:
    """Vector apply of :func:`skolem_iri` over aligned series."""
    prefix = repo.str.cat(path, sep=_SKOLEM_SEP).str.cat(local, sep=_SKOLEM_SEP)
    return prefix.map(
        lambda s: SKOLEM_PREFIX + hashlib.sha256(s.encode("utf-8")).hexdigest()
    )


# --- Literal datatype defaulting (RDF 1.1) ----------------------------------
def finalize_literal_columns(
    obj_dt: pd.Series, obj_lang: pd.Series, is_literal: pd.Series
) -> tuple[pd.Series, pd.Series]:
    """RDF 1.1: plain literal → xsd:string; lang-tagged → rdf:langString
    with the tag lowercased (BCP-47 case-insensitivity)."""
    obj_lang = obj_lang.str.lower()
    has_lang = is_literal & obj_lang.notna()
    plain = is_literal & obj_dt.isna() & ~has_lang
    obj_dt = obj_dt.mask(has_lang, RDF_LANGSTRING).mask(plain, XSD_STRING)
    return obj_dt, obj_lang


def empty_raw_frame() -> pd.DataFrame:
    """An empty frame in STATEMENT_RAW column order."""
    cols = [
        "subj",
        "pred",
        "obj",
        "obj_kind",
        "obj_dt",
        "obj_lang",
        "graph",
        "src_repo",
        "src_path",
        "src_commit",
        "parser",
        "error",
    ]
    return pd.DataFrame({c: pd.Series(dtype="object") for c in cols})


RAW_COLS = list(empty_raw_frame().columns)
