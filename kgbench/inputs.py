"""Seeded inputs of the three workloads, and their pinned digests.

Everything here is plain Python: the engine never sees a seed, only the
rows these functions return. The digest of each workload's rows is
pinned per seed in ``digests.json`` so a change to
``tripleforge.datagen`` (or to this file) that alters a workload fails
the run instead of quietly changing what is measured.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

from tripleforge.datagen import CorpusSpec, generate_corpus

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
# every seed in this range has its digests pinned; any other seed is
# still run, and the pinned reference seed is regenerated to guard it
PINNED_SEEDS = range(100)
REFERENCE_SEED = 0

APPEND_FORMATS = ("ttl", "trig", "rdfxml", "jsonld", "trix", "nq", "nt")
# datagen's injected malformed line, as every format carries it (the
# N-Quads form drops its last character)
BAD_LINE = "<http://bad truncated lin"

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"


@dataclass(frozen=True)
class Scale:
    """Sizes of every workload. ``full`` is what BENCHMARK.json runs;
    ``smoke`` keeps the same shapes at a size the smoke tests can
    afford."""

    bulk_repos: int
    bulk_files_per_repo: int
    bulk_stmts_per_file: int
    append_repos: int
    append_files_per_repo: int
    append_stmts_per_file: int
    serve_graphs: int
    serve_subjects_per_graph: int
    serve_stmts_per_subject: int
    serve_join_objects: int


SCALES = {
    "full": Scale(
        bulk_repos=20, bulk_files_per_repo=12, bulk_stmts_per_file=200,
        append_repos=3, append_files_per_repo=7,
        append_stmts_per_file=40,
        serve_graphs=8, serve_subjects_per_graph=300,
        serve_stmts_per_subject=10, serve_join_objects=500,
    ),
    "smoke": Scale(
        bulk_repos=4, bulk_files_per_repo=5, bulk_stmts_per_file=20,
        append_repos=2, append_files_per_repo=7,
        append_stmts_per_file=10,
        serve_graphs=4, serve_subjects_per_graph=50,
        serve_stmts_per_subject=6, serve_join_objects=20,
    ),
}

Row = tuple[str, str, str, str, str]  # (repo, path, commit, lang, content)


def bulk_rows(seed: int, sc: Scale) -> list[Row]:
    """One N-Triples corpus. Every subject is distinct, so the committed
    count has a closed form: repos × files × statements."""
    return generate_corpus(CorpusSpec(
        n_repos=sc.bulk_repos, files_per_repo=sc.bulk_files_per_repo,
        stmts_per_file=sc.bulk_stmts_per_file, seed=seed, formats=("nt",),
    ))


def bulk_expected(sc: Scale) -> int:
    return sc.bulk_repos * sc.bulk_files_per_repo * sc.bulk_stmts_per_file


def append_batches(seed: int, sc: Scale) -> list[list[Row]]:
    """Two small mixed-format batches. Repos are renamed per batch (and
    their commits re-derived) so each batch is new work for the resume
    filter; content IRIs keep datagen's names, so quads carried in
    N-Quads/TriG/TriX graphs can repeat across batches and reach the
    anti-join against the live store."""
    rng = random.Random(seed)
    out = []
    for k in range(2):
        rows = generate_corpus(CorpusSpec(
            n_repos=sc.append_repos, files_per_repo=sc.append_files_per_repo,
            stmts_per_file=sc.append_stmts_per_file, seed=rng.randrange(2**31),
            formats=APPEND_FORMATS, dup_rate=0.1, link_rate=0.1, error_rate=0.2,
        ))
        batch = []
        for repo, path, _commit, lang, content in rows:
            repo = f"b{k}/{repo}"
            commit = hashlib.sha1(f"{repo}:{path}:rev0".encode()).hexdigest()
            batch.append((repo, path, commit, lang, content))
        out.append(batch)
    return out


def serve_rows(seed: int, sc: Scale) -> list[Row]:
    """The served store: one N-Triples file per graph, each subject with
    several statements (so two-pattern subject joins return rows), IRI
    objects on ``p0`` drawn from a small pool (so a bound ``p0`` object
    selects a handful of subjects)."""
    rng = random.Random(seed)
    rows = []
    for g in range(sc.serve_graphs):
        repo = f"serve/g{g}"
        lines = []
        for i in range(sc.serve_subjects_per_graph):
            s = f"<{serve_subject(g, i)}>"
            lines.append(f"{s} <{RDF_TYPE}> <http://example.org/v/T{rng.randrange(8)}> .")
            lines.append(f"{s} <{serve_pred(0)}> <{serve_object(rng.randrange(sc.serve_join_objects))}> .")
            # distinct predicates per subject: no statement repeats
            for j in rng.sample(range(1, 16), sc.serve_stmts_per_subject - 2):
                if j % 3 == 0:
                    o = f'"{rng.randrange(100000)}"^^<{XSD_INT}>'
                elif j % 3 == 1:
                    o = f'"w{rng.randrange(5000)}"@en'
                else:
                    o = f'"v{rng.randrange(100000)}"'
                lines.append(f"{s} <{serve_pred(j)}> {o} .")
        path = f"data/g{g}.nt"
        commit = hashlib.sha1(f"{repo}:{path}:rev0".encode()).hexdigest()
        rows.append((repo, path, commit, "N-Triples", "\n".join(lines) + "\n"))
    return rows


def serve_subject(g: int, i: int) -> str:
    return f"http://example.org/s/g{g}/e{i}"


def serve_pred(j: int) -> str:
    return f"http://example.org/v/p{j}"


def serve_object(k: int) -> str:
    return f"http://example.org/o/{k}"


def serve_graph(g: int) -> str:
    return f"urn:repo:serve/g{g}"


# --------------------------------------------------------------------------
# digests
# --------------------------------------------------------------------------
def digest(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        for field in row:
            h.update(field.encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()


def workload_rows(workload: str, seed: int, sc: Scale) -> list[Row]:
    if workload == "bulk_nt":
        return bulk_rows(seed, sc)
    if workload == "serve_mix":
        return serve_rows(seed, sc) + [r for b in append_batches(seed, sc) for r in b]
    raise ValueError(workload)


def check_digest(workload: str, seed: int, scale: str, rows) -> str | None:
    """→ None when the inputs match their pin, else an error message.
    A seed outside the pinned range is checked through the reference
    seed, which is regenerated for the purpose."""
    with open(DIGESTS) as fh:
        pins = json.load(fh)[scale][workload]
    if str(seed) not in pins:
        seed, rows = REFERENCE_SEED, workload_rows(workload, REFERENCE_SEED, SCALES[scale])
    got = digest(rows)
    want = pins[str(seed)]
    if got != want:
        return f"{workload} inputs for seed {seed} changed: digest {got[:16]} != pinned {want[:16]}"
    return None


def pin_all() -> None:
    """Rewrite ``digests.json`` from the current generators. Run it only
    when a workload is meant to change: ``python3 kgbench/run.py
    --pin-digests``."""
    pins = {
        scale: {
            w: {str(s): digest(workload_rows(w, s, sc)) for s in PINNED_SEEDS}
            for w in ("bulk_nt", "serve_mix")
        }
        for scale, sc in SCALES.items()
    }
    with open(DIGESTS, "w") as fh:
        json.dump(pins, fh, indent=0, sort_keys=True)
        fh.write("\n")

