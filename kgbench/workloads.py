"""The closed-loop workloads: one client, each op waits for its reply.

A workload stages its seeded inputs (``stage``, repeated per set-up),
builds its starting state and warms up (``prepare``), then yields its
fixed op sequence one cycle at a time (``cycles``). The run executes
whole cycles until its seconds have passed, so every run of a workload
executes the same sequence prefix in the same proportions. Ops are
made lazily, just before they run, so each sees the state its
predecessors left.

Every completed op is checked after the timed window (``check_all``),
so checks cost the window nothing; each op keeps what its check needs
(its result, the snapshot files it committed or read).

The session is held in ``self.spark``, set by the runner; set-up
repetitions restart it.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass
from typing import Callable, Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from tripleforge import sparql
from tripleforge.catalog import ParquetSnapshotCatalog
from tripleforge.pipeline import BuildConfig, build
from tripleforge.schema import CORPUS
from tripleforge.sparql_update import execute_update

from kgbench import expect, inputs


@dataclass
class Op:
    kind: str  # build | point | agg | join | update | append (set-up)
    run: Callable[[], object]
    check: Callable[[object], str | None]
    latency_s: float = 0.0
    result: object = None
    error: str | None = None


def timed(op: Op) -> Op:
    t0 = time.perf_counter()
    try:
        op.result = op.run()
    except Exception:  # an op that raises is a failed op; the loop goes on
        op.error = traceback.format_exc()
    op.latency_s = time.perf_counter() - t0
    return op


def check_all(ops: list[Op]) -> int:
    """Run each op's check; → number of failed ops (raised or wrong)."""
    failed = 0
    for op in ops:
        if op.error is None:
            try:
                op.error = op.check(op.result)
            except Exception:
                op.error = traceback.format_exc()
        failed += op.error is not None
    return failed


def write_corpus(rows, path: str) -> str:
    """Corpus rows → one parquet file whose small row groups let the
    scan split it across cores."""
    os.makedirs(path)
    cols = list(zip(*rows))
    table = pa.table({f.name: pa.array(c, pa.string()) for f, c in zip(CORPUS.fields, cols)})
    pq.write_table(table, os.path.join(path, "part-0.parquet"), row_group_size=64)
    return path


class Workload:
    name = ""
    op_kinds: tuple[str, ...] = ()
    trace_cycles: int  # cycles the traced run alternates over

    def __init__(self, seed: int, scale_name: str, work: str, corrupt: bool):
        self.seed, self.scale_name, self.work = seed, scale_name, work
        self.sc = inputs.SCALES[scale_name]
        self.corrupt = corrupt  # make one expected answer wrong (smoke test)
        self.spark = None
        self.catalog: ParquetSnapshotCatalog | None = None
        self.tracer = None  # set for the traced window only
        self.setup_ops: list[Op] = []  # checked like timed ops, not timed

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def _catalog(self, name: str) -> ParquetSnapshotCatalog:
        return ParquetSnapshotCatalog(self.spark, os.path.join(self.work, name))

    def _build(self, corpus_path: str, catalog: ParquetSnapshotCatalog):
        return build(self.spark, self.spark.read.parquet(corpus_path), catalog, BuildConfig())

    def _pinned(self, rows) -> None:
        err = inputs.check_digest(self.name, self.seed, self.scale_name, rows)
        if err:
            raise SystemExit(err)

    def stage(self, rep: int) -> None:
        """Generate, pin-check and stage the inputs."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Starting state and warm-up, once per run, before timing."""

    def cycles(self) -> Iterator[Iterator[Op]]:
        raise NotImplementedError

    def after_window(self) -> None:
        """Engine reads the checks need, made after the window."""

    def close(self) -> None:
        pass

    def ladder_input(self) -> tuple[str, ParquetSnapshotCatalog]:
        """→ (corpus parquet path, catalog) for the traced layer ladder."""
        raise NotImplementedError


# --------------------------------------------------------------------------
class BulkNT(Workload):
    """Each op is one ``build()`` of the same N-Triples corpus into an
    empty catalog."""

    name = "bulk_nt"
    op_kinds = ("build",)
    trace_cycles = 4  # builds untraced, traced, traced, untraced

    def stage(self, rep):
        rows = inputs.bulk_rows(self.seed, self.sc)
        self._pinned(rows)
        self.corpus = write_corpus(rows, os.path.join(self.work, f"bulk_corpus{rep}"))
        self.expected = inputs.bulk_expected(self.sc) + (1 if self.corrupt else 0)

    def prepare(self):
        # warm up with a full build: after a smaller one the JIT is still
        # compiling during the timed build, whose latency then follows
        # host CPU steal (spread across seeds 0.12-0.16 after a
        # quarter-corpus warm-up, 0.03 after a full one)
        cat = self._catalog("bulk_warmup")
        self._build(self.corpus, cat)
        shutil.rmtree(cat.root)
        self.n_ops = 0

    def _op(self):
        cat = self._catalog(f"bulk_cat{self.n_ops}")
        self.n_ops += 1
        return cat, self._build(self.corpus, cat)

    def _check(self, out):
        cat, res = out
        # keep only the newest store on disk; it is the one measured
        if self.catalog is not None and self.catalog.root != cat.root:
            shutil.rmtree(self.catalog.root)
        self.catalog = cat
        store = expect.Store(cat.root)
        try:
            n = store.count(cat.live_paths())
        finally:
            store.close()
        if (res.n_statements, res.n_errors, n) != (self.expected, 0, self.expected):
            return (f"build reported {res.n_statements} statements, {res.n_errors} errors, "
                    f"committed {n}; expected {self.expected}, 0, {self.expected}")
        return None

    def cycles(self):
        while True:
            yield iter([Op("build", self._op, self._check)])

    def ladder_input(self):
        return self.corpus, self._catalog("bulk_cat_ladder")


# --------------------------------------------------------------------------
class ServeMix(Workload):
    """SPARQL point lookups, GROUP BY aggregates and two-pattern joins,
    interleaved with INSERT DATA / DELETE DATA updates, against a store
    built in set-up.

    Set-up builds the store from N-Triples, then appends one small
    mixed-format batch with ``build()`` (the loader committing files as
    they arrive: seven formats, duplicates, ``owl:sameAs`` chains and
    malformed files), checked against the oracle. The append also warms
    the write path, so no op in the window is a first of its kind.

    One cycle: READS reads, an INSERT DATA, READS reads, the DELETE DATA
    of what it inserted, READS reads. A cycle's reads are shuffled, an
    equal number of each shape."""

    name = "serve_mix"
    op_kinds = ("point", "agg", "join", "update")
    trace_cycles = 2  # updates untraced, traced, traced, untraced
    READS = 3
    UPDATE_TRIPLES = 3

    def stage(self, rep):
        rows = inputs.serve_rows(self.seed, self.sc)
        batches = inputs.append_batches(self.seed, self.sc)
        self._pinned(rows + [r for b in batches for r in b])
        self.corpus = write_corpus(rows, os.path.join(self.work, f"serve_corpus{rep}"))
        # batch 0 is the set-up append, batch 1 the traced ladder's input
        self.batch_paths = [
            write_corpus(b, os.path.join(self.work, f"append{rep}", f"batch{k}"))
            for k, b in enumerate(batches)
        ]
        self.expected = expect.append_expectations(batches[:1])[0]
        if self.corrupt:
            self.expected.committed += 1
        self.total = len(rows) * self.sc.serve_subjects_per_graph * self.sc.serve_stmts_per_subject
        self.catalog_name = f"serve_cat{rep}"

    def prepare(self):
        self.catalog = self._catalog(self.catalog_name)
        res = self._build(self.corpus, self.catalog)
        if (res.n_statements, res.n_errors) != (self.total, 0):
            raise RuntimeError(f"serve store: {res} != {self.total} statements")
        self.store = expect.Store(self.catalog.root)
        self.setup_ops.append(timed(self._append()))
        rng = random.Random(~self.seed)
        for kind in ("point", "agg", "join"):  # warm-up, unchecked
            timed(self._read(kind, rng))

    def close(self):
        if hasattr(self, "store"):
            self.store.close()

    def _query(self, text: str):
        st = self.catalog.read_statements()
        df = sparql.query(st, text, n_buckets=self.catalog.n_buckets)
        with self.span("sparql.collect"):
            rows = df.collect()
        return sorted(tuple(str(v) for v in r) for r in rows)

    def _read(self, kind: str, rng: random.Random) -> Op:
        sc = self.sc
        if kind == "point":
            s = inputs.serve_subject(rng.randrange(sc.serve_graphs),
                                     rng.randrange(sc.serve_subjects_per_graph))
            text = f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}"
            answer = lambda live: expect.point_answer(self.store, live, s)
        elif kind == "agg":
            g = inputs.serve_graph(rng.randrange(sc.serve_graphs))
            text = f"SELECT ?p (COUNT(*) AS ?n) WHERE {{ GRAPH <{g}> {{ ?s ?p ?o }} }} GROUP BY ?p"
            answer = lambda live: expect.agg_answer(self.store, live, g)
        else:
            a, o = inputs.serve_pred(0), inputs.serve_object(rng.randrange(sc.serve_join_objects))
            b = inputs.serve_pred(rng.randrange(1, 16))
            text = f"SELECT ?s ?v WHERE {{ ?s <{a}> <{o}> . ?s <{b}> ?v }}"
            answer = lambda live: expect.join_answer(self.store, live, a, o, b)
        live = self.catalog.live_paths()  # the snapshot this read will see

        def check(rows):
            return None if rows == answer(live) else f"{text}: {len(rows)} rows differ from DuckDB's"

        return Op(kind, lambda: self._query(text), check)

    def _update(self, c: int, g: int, insert: bool) -> Op:
        """A few triples about a new subject of graph g: inserted, then
        deleted again by the cycle's DELETE DATA."""
        s = f"http://example.org/s/g{g}/upd{c}"
        triples = " ".join(
            f'<{s}> <{inputs.serve_pred(1 + j)}> "u{c}-{j}" .' for j in range(self.UPDATE_TRIPLES)
        )
        verb = "INSERT" if insert else "DELETE"
        text = f"{verb} DATA {{ GRAPH <{inputs.serve_graph(g)}> {{ {triples} }} }}"
        self.total += self.UPDATE_TRIPLES if insert else -self.UPDATE_TRIPLES
        want = (self.UPDATE_TRIPLES if insert else 0, self.total)

        def run():
            execute_update(self.spark, self.catalog, text)
            return self.catalog.live_paths()

        def check(live):
            got = (self.store.count(live, "subj = ?", [s]), self.store.count(live))
            return None if got == want else f"{verb} DATA: follow-up counts {got} != {want}"

        return Op("update", run, check)

    def _append(self) -> Op:
        """The set-up append. Its subjects are disjoint from the served
        store's, so the oracle's expectation holds against this store."""
        exp = self.expected
        self.total += exp.committed

        def run():
            before = set(self.catalog.live_paths())
            res = self._build(self.batch_paths[0], self.catalog)
            return res, [p for p in self.catalog.live_paths() if p not in before]

        def check(out):
            res, new = out
            got = (res.n_statements, res.n_errors, self.store.count(new))
            want = (exp.n_triples, exp.n_errors, exp.committed)
            if got != want:
                return f"append: (statements, errors, committed) {got} != {want}"
            for unit, (parser, n_triples, n_errors) in exp.units.items():
                lin = self.lineage.get(unit, (parser, 0, 0))
                # RDF/XML is outside the oracle's formats: errors only
                if lin[2] != n_errors or (parser != "rdfxml" and lin[1] != n_triples):
                    return f"append: unit {unit} lineage {lin} != {(parser, n_triples, n_errors)}"
            return None

        return Op("append", run, check)

    def after_window(self):
        self.lineage = {
            (r["repo"], r["commit"]): (r["parser"], r["n_triples"], r["n_errors"])
            for r in self.catalog.read_lineage().collect()
        }

    def _cycle(self, c: int, rng: random.Random) -> Iterator[Op]:
        reads = ["point", "agg", "join"] * self.READS
        rng.shuffle(reads)
        g = rng.randrange(self.sc.serve_graphs)
        for i, kind in enumerate(reads):
            yield self._read(kind, rng)
            if i == self.READS - 1:
                yield self._update(c, g, insert=True)
            elif i == 2 * self.READS - 1:
                yield self._update(c, g, insert=False)

    def cycles(self):
        rng = random.Random(self.seed)
        for c in itertools.count():
            yield self._cycle(c, rng)

    def ladder_input(self):
        return self.batch_paths[1], self.catalog


WORKLOADS = {w.name: w for w in (BulkNT, ServeMix)}
