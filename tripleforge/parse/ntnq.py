"""Reference N-Triples / N-Quads parser kernel (SURVEY.md §2.A4-A5).

The engine parses NT/NQ with the Arrow kernel (``arrow_ntnq``); this
pandas kernel is kept only as the independent reference that
tests/test_arrow_kernel.py compares it against.

One pandas pass over an Arrow batch of whole files: split lines →
explode → a single compiled-regex ``Series.str.extract`` → columnar
post-processing. Zero per-row Python on the match path; escapes and
blank nodes are handled on masked residues only.

Reference analog: RDF4J Rio ``NTriplesParser`` / ``NQuadsParser``
(line-oriented recursive parse, one statement per line) — re-expressed
as a columnar batch kernel per BASELINE.json north_star.

Grammar: W3C RDF 1.1 N-Triples / N-Quads (REC 2014). Line comments
(``# ...``) and blank lines are skipped; a trailing comment after the
terminating ``.`` is tolerated. A non-matching, non-blank line becomes
one row on the error channel (A8) carrying the line number — the job
never dies on malformed input (the reference rolls back the whole
transaction instead; we must be resumable).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from tripleforge.parse.common import (
    RAW_COLS,
    empty_raw_frame,
    finalize_literal_columns,
    skolemize_series,
    unescape_series,
)

# IRIREF: '<' ([^\x00-\x20<>"{}|^`\] | UCHAR)* '>'  — we admit backslash so
# UCHAR escapes survive to the unescape pass.
_IRI = r'[^\x00-\x20<>"{}|^`]*'
# BLANK_NODE_LABEL may contain '.' but not start or end with it.
_BNODE = r"[A-Za-z0-9_](?:[A-Za-z0-9_.\-À-￿]*[A-Za-z0-9_\-À-￿])?"
_LANG = r"[A-Za-z]+(?:-[A-Za-z0-9]+)*"
_LIT = r'(?:[^"\\]|\\.)*'

_NT_PATTERN = re.compile(
    rf"""^
    (?:<(?P<s_iri>{_IRI})>|_:(?P<s_bn>{_BNODE}))
    [\ \t]+
    <(?P<p_iri>{_IRI})>
    [\ \t]+
    (?:
        <(?P<o_iri>{_IRI})>
      | _:(?P<o_bn>{_BNODE})
      | "(?P<o_lit>{_LIT})"
        (?: \^\^<(?P<o_dt>{_IRI})> | @(?P<o_lang>{_LANG}) )?
    )
    [\ \t]*\.[\ \t]*(?:\#.*)?
    $""",
    re.VERBOSE,
)

_NQ_PATTERN = re.compile(
    rf"""^
    (?:<(?P<s_iri>{_IRI})>|_:(?P<s_bn>{_BNODE}))
    [\ \t]+
    <(?P<p_iri>{_IRI})>
    [\ \t]+
    (?:
        <(?P<o_iri>{_IRI})>
      | _:(?P<o_bn>{_BNODE})
      | "(?P<o_lit>{_LIT})"
        (?: \^\^<(?P<o_dt>{_IRI})> | @(?P<o_lang>{_LANG}) )?
    )
    (?: [\ \t]+ (?:<(?P<g_iri>{_IRI})>|_:(?P<g_bn>{_BNODE})) )?
    [\ \t]*\.[\ \t]*(?:\#.*)?
    $""",
    re.VERBOSE,
)


def parse_batch(pdf: pd.DataFrame, quads: bool, parser_name: str) -> pd.DataFrame:
    """Parse a pandas batch of corpus rows into STATEMENT_RAW rows.

    ``pdf`` columns: repo, path, commit, content. Output columns:
    :data:`tripleforge.parse.common.RAW_COLS` (statements + error rows).
    """
    if len(pdf) == 0:
        return empty_raw_frame()

    lines = pdf["content"].str.split("\n")
    n_lines = lines.str.len().fillna(0).astype("int64")
    base = pd.DataFrame(
        {
            "src_repo": pdf["repo"].to_numpy().repeat(n_lines),
            "src_path": pdf["path"].to_numpy().repeat(n_lines),
            "src_commit": pdf["commit"].to_numpy().repeat(n_lines),
            "line": np.concatenate(lines.to_numpy()) if len(lines) else [],
        }
    )
    # lineno within each file, for error messages
    base["lineno"] = base.groupby(
        (base["src_path"] != base["src_path"].shift()).cumsum()
    ).cumcount() + 1

    line = base["line"].str.strip()
    nonempty = (line != "") & ~line.str.startswith("#")
    base = base.loc[nonempty]
    line = line.loc[nonempty]
    if len(base) == 0:
        return empty_raw_frame()

    pattern = _NQ_PATTERN if quads else _NT_PATTERN
    ext = line.str.extract(pattern)

    matched = ext["p_iri"].notna()
    out = pd.DataFrame(index=base.index[matched])
    m = ext.loc[matched]
    mb = base.loc[matched]

    # --- subject: IRI or skolemized bnode
    subj = unescape_series(m["s_iri"])
    s_bn = m["s_bn"].notna()
    if s_bn.any():
        subj = subj.mask(
            s_bn,
            skolemize_series(
                mb["src_repo"], mb["src_path"], m["s_bn"].fillna("")
            ),
        )
    out["subj"] = subj
    out["pred"] = unescape_series(m["p_iri"])

    # --- object: IRI | bnode | literal
    o_is_lit = m["o_lit"].notna()
    o_is_bn = m["o_bn"].notna()
    obj = unescape_series(m["o_iri"])
    obj = obj.mask(o_is_lit, unescape_series(m["o_lit"]))
    if o_is_bn.any():
        obj = obj.mask(
            o_is_bn,
            skolemize_series(
                mb["src_repo"], mb["src_path"], m["o_bn"].fillna("")
            ),
        )
    out["obj"] = obj
    out["obj_kind"] = np.where(o_is_lit, "literal", "iri")
    obj_dt, obj_lang = finalize_literal_columns(
        unescape_series(m["o_dt"]), m["o_lang"], o_is_lit
    )
    out["obj_dt"] = obj_dt
    out["obj_lang"] = obj_lang

    # --- graph: quad-carried context wins over per-repo injection (A19);
    # non-quad formats leave it null for ops.assign_graph to fill.
    if quads:
        graph = unescape_series(m["g_iri"])
        g_bn = m["g_bn"].notna()
        if g_bn.any():
            graph = graph.mask(
                g_bn,
                skolemize_series(
                    mb["src_repo"], mb["src_path"], m["g_bn"].fillna("")
                ),
            )
        out["graph"] = graph
    else:
        out["graph"] = None

    out["src_repo"] = mb["src_repo"]
    out["src_path"] = mb["src_path"]
    out["src_commit"] = mb["src_commit"]
    out["parser"] = parser_name
    out["error"] = None

    # --- error channel (A8): non-matching, non-blank lines
    bad = base.loc[~matched]
    if len(bad):
        errs = pd.DataFrame(
            {
                "src_repo": bad["src_repo"],
                "src_path": bad["src_path"],
                "src_commit": bad["src_commit"],
                "parser": parser_name,
                "error": "line "
                + bad["lineno"].astype(str)
                + ": malformed "
                + ("N-Quads" if quads else "N-Triples")
                + " statement",
            }
        )
        for c in RAW_COLS:
            if c not in errs.columns:
                errs[c] = None
        out = pd.concat([out[RAW_COLS], errs[RAW_COLS]], ignore_index=True)
        return out

    return out[RAW_COLS]


def parse_nt(pdf: pd.DataFrame) -> pd.DataFrame:
    return parse_batch(pdf, quads=False, parser_name="nt")


def parse_nq(pdf: pd.DataFrame) -> pd.DataFrame:
    return parse_batch(pdf, quads=True, parser_name="nq")
