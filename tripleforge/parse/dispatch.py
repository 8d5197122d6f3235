"""Parse dispatcher: one ``mapInArrow`` pass over the corpus that routes
each Arrow batch's files to the right per-format kernel and emits the
unioned statement+error stream (SURVEY.md §2.A8).

The reference's Rio throws ``RDFParseException`` and the loader rolls
back the whole transaction; a 10^12-file pipeline must instead keep
going and report — so malformed input becomes rows on an error channel,
split out with two cheap filters.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from tripleforge.detect import (
    FORMAT_JSONLD,
    FORMAT_NQ,
    FORMAT_NT,
    FORMAT_RDFXML,
    FORMAT_TRIG,
    FORMAT_TRIX,
    FORMAT_TTL,
)
from tripleforge.parse.jsonld import parse_jsonld
from tripleforge.parse.rdfxml import parse_rdfxml
from tripleforge.parse.trix import parse_trix
from tripleforge.parse.ttl import parse_trig, parse_ttl
from tripleforge.schema import PARSE_ERROR, STATEMENT_RAW


def _parse_batches(batches, canonicalize: bool = False):
    """mapInArrow kernel: NT/NQ go through the Arrow-native fast path
    (pyarrow.compute, no per-row Python objects); Turtle/RDF-XML rows
    convert to pandas for their recursive-descent kernels (inherently
    per-file) and convert back. One Python stage for everything."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from tripleforge.canon import canonicalize_table
    from tripleforge.parse.arrow_ntnq import _empty_table, parse_batch_arrow

    target_schema = _empty_table().schema

    for batch in batches:
        if batch.num_rows == 0:
            continue
        fmt = batch.column(batch.schema.get_field_index("format"))
        parts: list[pa.Table] = []
        for f, quads in ((FORMAT_NT, False), (FORMAT_NQ, True)):
            sub = batch.filter(pc.equal(fmt, f))
            if sub.num_rows:
                parts.append(parse_batch_arrow(sub, quads, f))
        pandas_mask = pc.is_in(
            fmt, value_set=pa.array([FORMAT_TTL, FORMAT_TRIG, FORMAT_RDFXML, FORMAT_JSONLD, FORMAT_TRIX])
        )
        sub = batch.filter(pandas_mask)
        if sub.num_rows:
            pdf = sub.to_pandas()
            frames = []
            for f, kernel in (
                (FORMAT_TTL, parse_ttl),
                (FORMAT_TRIG, parse_trig),
                (FORMAT_RDFXML, parse_rdfxml),
                (FORMAT_JSONLD, parse_jsonld),
                (FORMAT_TRIX, parse_trix),
            ):
                grp = pdf[pdf["format"] == f]
                if len(grp):
                    frames.append(kernel(grp))
            if frames:
                out_pdf = pd.concat(frames, ignore_index=True)
                parts.append(
                    pa.Table.from_pandas(
                        out_pdf, schema=target_schema, preserve_index=False
                    )
                )
        if not parts:
            continue
        tbl = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
        if canonicalize:
            tbl = canonicalize_table(tbl)
        yield from tbl.to_batches()


def parse_corpus(
    corpus_with_format: DataFrame, canonicalize: bool = False
) -> DataFrame:
    """Corpus (with ``format`` column) → raw statement/error stream, as
    one mapInArrow pass.

    Column pruning matters at scale: only the five columns the kernels
    need cross the Arrow boundary — `content` never survives past this
    operator (SURVEY §4 "never drag content past stage 4").

    ``canonicalize=True`` fuses A9-A11 into the same Python stage (one
    round-trip for parse+canon instead of five).
    """
    def fused(batches):
        return _parse_batches(batches, canonicalize=canonicalize)

    slim = corpus_with_format.select("repo", "path", "commit", "format", "content")
    return slim.mapInArrow(fused, STATEMENT_RAW)


def split_errors(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(statements, errors) from the unioned stream — two filters."""
    stmts = raw.where(raw.error.isNull()).drop("error")
    errors = raw.where(raw.error.isNotNull()).select(
        [f.name for f in PARSE_ERROR.fields]
    )
    return stmts, errors
