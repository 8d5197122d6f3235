"""Arrow-native N-Triples / N-Quads kernel (the 100 TB hot path).

Why not pandas: pandas object-array string ops allocate a Python object
per line/term; at 32 concurrent workers the allocator becomes the
bottleneck and throughput *anti-scales* (measured: fixed-size
``str.extract`` work got 3× slower going 8→32 local cores). This kernel
keeps every hot operation in Arrow C++ (``pyarrow.compute``): split,
flatten, trim, filter, one RE2 ``extract_regex`` per line, and
``if_else``/``coalesce`` column assembly — contiguous buffers, no
per-row Python objects. Python touches only the cold residues:
UCHAR/ECHAR unescaping (lines containing ``\\``) and blank-node
skolemization (rows with ``_:`` terms).

RE2 quirk handled here: ``extract_regex`` yields an EMPTY STRING (not
null) for non-participating alternation groups, so every term group
captures its delimiters too (``<iri>``, ``"lit"``, ``@lang``,
``^^<dt>``, ``_:label``) — participation is then simply "non-empty" —
and delimiters are stripped afterwards with ``utf8_slice_codeunits``.

Feeds ``DataFrame.mapInArrow`` (Spark 3.3+) and is the only NT/NQ
kernel the engine runs. Grammar and outputs are IDENTICAL to
tripleforge.parse.ntnq, the pandas reference kernel that
tests/test_arrow_kernel.py calls directly to check this one.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from tripleforge.parse.common import _unescape_one, skolem_iri
from tripleforge.schema import RDF_LANGSTRING, XSD_STRING

# RE2 syntax (no free-spacing); groups capture WITH delimiters.
_IRI = '[^\\x00-\\x20<>"{}|^`]*'
_BNODE = "_:[A-Za-z0-9_](?:[A-Za-z0-9_.\\-\\x{00C0}-\\x{FFFF}]*[A-Za-z0-9_\\-\\x{00C0}-\\x{FFFF}])?"
_LANG = "@[A-Za-z]+(?:-[A-Za-z0-9]+)*"
_LIT = '"(?:[^"\\\\]|\\\\.)*"'


def _pattern(quads: bool) -> str:
    # r6 (guide §1.2): 6 capture groups instead of 9 — each IRI-or-bnode
    # position is ONE combined group (RE2's capture extraction cost
    # grows with alternation-carrying groups; measured 0.58 s → 0.47 s
    # per 300k lines). The iri/bnode split happens after the fact from
    # the first character (`<` vs `_`), which the grammar makes
    # unambiguous.
    subj = f"(?P<s><{_IRI}>|{_BNODE})"
    pred = f"(?P<p_iri><{_IRI}>)"
    obj = (
        f"(?:(?P<o_term><{_IRI}>|{_BNODE})"
        f"|(?P<o_lit>{_LIT})"
        f"(?:(?P<o_dt>\\^\\^<{_IRI}>)|(?P<o_lang>{_LANG}))?)"
    )
    graph = f"(?:[ \\t]+(?P<g><{_IRI}>|{_BNODE}))?" if quads else ""
    return f"^{subj}[ \\t]+{pred}[ \\t]+{obj}{graph}[ \\t]*\\.[ \\t]*(?:#.*)?$"


_NT_RE2 = _pattern(False)
_NQ_RE2 = _pattern(True)


def _departicipate(arr: pa.Array) -> pa.Array:
    """'' (non-participating group) → null."""
    return pc.if_else(pc.equal(arr, ""), pa.scalar(None, pa.string()), arr)


def _strip(arr: pa.Array, start: int, stop: int | None) -> pa.Array:
    return (
        pc.utf8_slice_codeunits(arr, start, stop)
        if stop is not None
        else pc.utf8_slice_codeunits(arr, start)
    )


def _unescape_arrow(arr: pa.Array) -> pa.Array:
    """Decode ECHAR/UCHAR on the residue only (values containing ``\\``)."""
    has_esc = pc.fill_null(pc.match_substring(arr, "\\"), False)
    if (pc.sum(pc.cast(has_esc, pa.int64())).as_py() or 0) == 0:
        return arr
    hits = pc.filter(arr, has_esc)
    repl = pa.array([_unescape_one(v) for v in hits.to_pylist()], pa.string())
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    return pc.replace_with_mask(arr, has_esc, repl)


def _skolem_masked(
    bn: pa.Array, repo: pa.Array, path: pa.Array
) -> pa.Array:
    """Skolem IRIs for blank-node labels (null where bn is null);
    per-row Python only over the bnode residue."""
    mask = bn.is_valid()
    if (pc.sum(pc.cast(mask, pa.int64())).as_py() or 0) == 0:
        return pa.nulls(len(bn), pa.string())
    bns = pc.filter(bn, mask).to_pylist()
    repos = pc.filter(repo, mask).to_pylist()
    paths = pc.filter(path, mask).to_pylist()
    repl = pa.array(
        [skolem_iri(r, p, b) for b, r, p in zip(bns, repos, paths)], pa.string()
    )
    return pc.replace_with_mask(pa.nulls(len(bn), pa.string()), mask, repl)


def _term(
    iri_raw: pa.Array, bn_raw: pa.Array, repo: pa.Array, path: pa.Array
) -> pa.Array:
    iri = _unescape_arrow(_strip(_departicipate(iri_raw), 1, -1))
    bn = _strip(_departicipate(bn_raw), 2, None)
    return pc.coalesce(iri, _skolem_masked(bn, repo, path))


def _split_term(raw: pa.Array) -> tuple[pa.Array, pa.Array]:
    """Combined ``<iri>|_:bnode`` capture → (iri_raw, bn_raw) with the
    other position null — the same convention the old per-kind groups
    produced ('' = non-participating → null)."""
    t = _departicipate(raw)
    is_iri = pc.fill_null(pc.starts_with(t, "<"), False)
    none = pa.scalar(None, pa.string())
    return pc.if_else(is_iri, t, none), pc.if_else(is_iri, none, t)


def parse_batch_arrow(batch: pa.RecordBatch, quads: bool, parser_name: str) -> pa.Table:
    """(repo, path, commit, content) RecordBatch → STATEMENT_RAW table."""
    empty = _empty_table()
    if batch.num_rows == 0:
        return empty

    content = batch.column(batch.schema.get_field_index("content"))
    lines_list = pc.split_pattern(content, "\n")
    parent = pc.list_parent_indices(lines_list)
    repo = pc.take(batch.column(batch.schema.get_field_index("repo")), parent)
    path = pc.take(batch.column(batch.schema.get_field_index("path")), parent)
    commit = pc.take(batch.column(batch.schema.get_field_index("commit")), parent)
    line = pc.utf8_trim_whitespace(pc.list_flatten(lines_list))
    # per-file 1-based line numbers (one numpy pass; used by error rows)
    import numpy as np

    lengths = pc.list_value_length(lines_list).to_numpy(zero_copy_only=False)
    total = int(lengths.sum())
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    lineno = pa.array(np.arange(1, total + 1, dtype=np.int64) - starts, pa.int64())

    keep = pc.and_(
        pc.invert(pc.equal(line, "")),
        pc.invert(pc.starts_with(line, "#")),
    )
    line = pc.filter(line, keep)
    lineno = pc.filter(lineno, keep)
    repo, path, commit = (pc.filter(x, keep) for x in (repo, path, commit))
    if len(line) == 0:
        return empty

    ext = pc.extract_regex(line, _NQ_RE2 if quads else _NT_RE2)
    matched = ext.is_valid()
    m = pc.filter(ext, matched)
    mrepo, mpath, mcommit = (pc.filter(x, matched) for x in (repo, path, commit))
    if isinstance(m, pa.ChunkedArray):
        m = m.combine_chunks()

    def g(name: str) -> pa.Array:
        return m.field(name)

    subj = _term(*_split_term(g("s")), mrepo, mpath)
    pred = _unescape_arrow(_strip(_departicipate(g("p_iri")), 1, -1))

    o_lit_raw = _departicipate(g("o_lit"))  # participates even as `""`
    is_lit = o_lit_raw.is_valid()
    o_lit = _unescape_arrow(_strip(o_lit_raw, 1, -1))
    obj = pc.coalesce(o_lit, _term(*_split_term(g("o_term")), mrepo, mpath))
    obj_kind = pc.if_else(is_lit, pa.scalar("literal"), pa.scalar("iri"))

    o_lang = pc.utf8_lower(_strip(_departicipate(g("o_lang")), 1, None))
    o_dt = _unescape_arrow(_strip(_departicipate(g("o_dt")), 3, -1))
    has_lang = o_lang.is_valid()
    obj_dt = pc.if_else(
        has_lang,
        pa.scalar(RDF_LANGSTRING),
        pc.if_else(
            pc.and_(is_lit, o_dt.is_valid()),
            o_dt,
            pc.if_else(
                is_lit, pa.scalar(XSD_STRING), pa.scalar(None, pa.string())
            ),
        ),
    )

    if quads:
        graph = _term(*_split_term(g("g")), mrepo, mpath)
    else:
        graph = pa.nulls(len(subj), pa.string())

    size = len(subj)
    stmt_tbl = pa.table(
        {
            "subj": subj,
            "pred": pred,
            "obj": obj,
            "obj_kind": obj_kind,
            "obj_dt": obj_dt,
            "obj_lang": o_lang,
            "graph": graph,
            "src_repo": mrepo,
            "src_path": mpath,
            "src_commit": mcommit,
            "parser": pa.array([parser_name] * size, pa.string()),
            "error": pa.nulls(size, pa.string()),
        }
    )

    # error channel: non-matching, non-blank lines
    bad = pc.invert(matched)
    n_bad = pc.sum(pc.cast(bad, pa.int64())).as_py() or 0
    if n_bad:
        brepo, bpath, bcommit = (pc.filter(x, bad) for x in (repo, path, commit))
        blineno = pc.filter(lineno, bad)
        fmt_name = "N-Quads" if quads else "N-Triples"
        msg = pc.binary_join_element_wise(
            pa.array(["line"] * n_bad),
            pc.cast(blineno, pa.string()),
            pa.scalar(" "),
        )
        msg = pc.binary_join_element_wise(
            msg, pa.array([f": malformed {fmt_name} statement"] * n_bad), pa.scalar("")
        )
        err_tbl = pa.table(
            {
                "subj": pa.nulls(n_bad, pa.string()),
                "pred": pa.nulls(n_bad, pa.string()),
                "obj": pa.nulls(n_bad, pa.string()),
                "obj_kind": pa.nulls(n_bad, pa.string()),
                "obj_dt": pa.nulls(n_bad, pa.string()),
                "obj_lang": pa.nulls(n_bad, pa.string()),
                "graph": pa.nulls(n_bad, pa.string()),
                "src_repo": brepo,
                "src_path": bpath,
                "src_commit": bcommit,
                "parser": pa.array([parser_name] * n_bad, pa.string()),
                "error": msg,
            }
        )
        return pa.concat_tables([stmt_tbl, err_tbl])
    return stmt_tbl


def _empty_table() -> pa.Table:
    cols = [
        "subj", "pred", "obj", "obj_kind", "obj_dt", "obj_lang",
        "graph", "src_repo", "src_path", "src_commit", "parser", "error",
    ]
    return pa.table({c: pa.array([], pa.string()) for c in cols})
