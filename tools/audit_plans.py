"""Physical-plan audit: `.explain("formatted")` on the engine's key
operators, asserting the structural properties the 100 TB design relies
on, and writing the plans to PLANS.md for review.

Checked properties:
- pruned scan: PushedFilters non-empty + ReadSchema excludes unused cols
- parse: exactly ONE Python map stage (MapInArrow), no `content` above it
- broadcast dims actually broadcast (BroadcastHashJoin)
- lineage: one aggregate, so exactly one exchange
- a DATA update's live-store probe: one bucket-pruned scan, no exchange
- dedup: partial_ + final HashAggregate around one exchange
- rewrite joins broadcast the CC mapping, with no hint
- resume: the anti-join against committed units is a broadcast
- topk: TakeOrderedAndProject (no global sort)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> int:
    import __spark_entry__ as em
    from tripleforge.session import get_spark

    spark = get_spark(master="local[8]", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, list[str]]] = []
    failures: list[str] = []

    def audit(name, df, checks):
        p = plan_of(df)
        notes = []
        for desc, pattern, want in checks:
            ok = bool(re.search(pattern, p)) == want
            notes.append(f"{'OK ' if ok else 'FAIL'} {desc}")
            if not ok:
                failures.append(f"{name}: {desc}")
        sections.append((name, p, notes))
        print(name, "|", " | ".join(notes), flush=True)

    # 1. pruned scan
    audit(
        "pruned_scan",
        em.q_pruned_scan(spark, SF),
        [
            ("filter pushed to parquet", r"PushedFilters: \[.*GreaterThan", True),
            ("only 3 cols read", r"ReadSchema:.*l_orderkey.*l_linenumber.*l_quantity", True),
            ("extendedprice NOT read", r"ReadSchema:.*l_extendedprice", False),
        ],
    )
    # 2. parse pipeline: one python stage, content below it only
    from tripleforge.datagen import CorpusSpec, corpus_df
    from tripleforge.pipeline import BuildConfig, transform

    stmts, _ = transform(
        corpus_df(spark, CorpusSpec(n_repos=2, files_per_repo=2)),
        BuildConfig(link_entities=False),
    )
    p = plan_of(stmts.groupBy("graph").count())
    n_python = len(re.findall(r"\(\d+\) (?:MapInArrow|ArrowEvalPython|MapInPandas|BatchEvalPython)", p))
    ok = n_python == 1
    sections.append(("kg_parse_fused", p, [f"{'OK ' if ok else 'FAIL'} exactly one Python stage (found {n_python})"]))
    if not ok:
        failures.append("kg_parse_fused: python stages != 1")
    print("kg_parse_fused | one python stage:", ok, flush=True)

    # 2b. lineage: one aggregate over statements ∪ error rows, so the
    # parsed corpus crosses exactly one exchange on its way to the rows
    from tripleforge import lineage
    from tripleforge.pipeline import parse_step

    _, parsed, errors = parse_step(
        corpus_df(spark, CorpusSpec(n_repos=2, files_per_repo=2)),
        BuildConfig(link_entities=False),
    )
    audit(
        "lineage_one_exchange",
        lineage.collect(parsed, errors),
        [("an exchange", r"\(\d+\) Exchange", True),
         ("no second exchange", r"\(\d+\) Exchange[\s\S]*\(\d+\) Exchange", False)],
    )

    # 3. broadcast join of dims
    audit(
        "join_broadcast",
        em.q_join_broadcast(spark, SF),
        [("dims broadcast", r"BroadcastHashJoin", True)],
    )
    # 4. dedup = partial+final hash aggregate
    from tripleforge.ops import dedup

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    audit(
        "dedup",
        dedup(li.select("l_returnflag", "l_linestatus"), ["l_returnflag", "l_linestatus"]),
        [
            ("hash aggregate", r"HashAggregate", True),
            ("exchange on key", r"hashpartitioning\(l_returnflag", True),
        ],
    )
    # 5. CC-mapping rewrite broadcasts the mapping: the planner does,
    # from the driver-built mapping's exact size, with no hint
    from tripleforge.link import connected_components, rewrite

    mapping = connected_components(
        spark.createDataFrame([("http://a", "http://b")], "u string, v string")
    )
    audit(
        "rewrite_broadcast",
        rewrite(stmts, mapping),
        [("mapping broadcast", r"BroadcastHashJoin", True)],
    )
    # 6. top-k avoids global sort
    audit(
        "topk",
        em.q_topk(spark, SF),
        [("TakeOrderedAndProject", r"TakeOrderedAndProject", True),
         ("no global Sort node", r"\n\(?\d*\)? ?Sort ", False)],
    )
    # 6b. MinHash verified mode is candidate-restricted (VERDICT r1):
    # every join touching the shingle column must also key on a doc
    # column — the full posting self-join (bare `sh` equi-join) is gone.
    from tripleforge.text import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    mh_df = minhash_lsh_pairs(docs, verify_threshold=0.1)
    mh_plan = mh_df._jdf.queryExecution().optimizedPlan().toString()
    bare_sh_join = any(
        "Join " in line
        and re.search(r"\(sh#\d+L? = sh#\d+L?\)", line)
        and not re.search(r"\(doc(_[ab])?#\d+L? = doc(_[ab])?#\d+L?\)", line)
        for line in mh_plan.split("\n")
    )
    ok = not bare_sh_join
    sections.append(
        ("minhash_verify_candidate_restricted", mh_plan,
         [f"{'OK ' if ok else 'FAIL'} no full posting self-join (bare-shingle key)"])
    )
    if not ok:
        failures.append("minhash: full posting self-join present")
    print("minhash_verify_candidate_restricted | no bare-shingle join:", ok, flush=True)

    # 6d. embedding-cosine near-dup (r4): LSH-blocked — the plan must
    # join on the bucket hash and contain NO cartesian product; verify
    # runs on candidates only (cos filter sits above the bucket join)
    from tripleforge.ann import cosine_near_dup_pairs

    emdf = spark.read.parquet(f"{SF}/embeddings.parquet")
    nd_df = cosine_near_dup_pairs(emdf, threshold=0.2, n_bits=8, dim=64)
    nd_plan = plan_of(nd_df)
    checks_nd = [
        ("bucket equi-join present", r"bucket#\d+", True),
        ("no cartesian product", r"CartesianProduct", False),
        ("no broadcast nested loop", r"BroadcastNestedLoopJoin", False),
    ]
    notes = []
    for desc, pattern, want in checks_nd:
        ok = bool(re.search(pattern, nd_plan)) == want
        notes.append(f"{'OK ' if ok else 'FAIL'} {desc}")
        if not ok:
            failures.append(f"cosine_near_dup: {desc}")
    sections.append(("cosine_near_dup_lsh_blocked", nd_plan, notes))
    print("cosine_near_dup_lsh_blocked |", " | ".join(notes), flush=True)

    # 6c. bound-graph queries partition-prune on the bucketed layout
    import shutil
    import tempfile

    from tripleforge.catalog import ParquetSnapshotCatalog
    from tripleforge.query import match
    from tripleforge.update import insert_data

    cat_root = tempfile.mkdtemp(prefix="tfaudit_")
    try:
        cat = ParquetSnapshotCatalog(spark, cat_root, n_buckets=8)
        rows = spark.createDataFrame(
            [(f"urn:s{i}", "urn:p", "urn:o", "iri", f"urn:g{i % 5}") for i in range(20)],
            "subj string, pred string, obj string, obj_kind string, graph string",
        )
        insert_data(cat, rows, run_id="audit")
        pruned = match(
            cat.read_statements(), s="?s", g="urn:g3", n_buckets=cat.n_buckets
        )
        p = pruned._jdf.queryExecution().executedPlan().toString()
        mm = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
        ok = bool(mm and "graph_bucket" in mm.group(1))
        sections.append(
            ("bound_graph_partition_pruning", p,
             [f"{'OK ' if ok else 'FAIL'} graph_bucket in PartitionFilters"])
        )
        if not ok:
            failures.append("bound-graph query does not partition-prune")
        print("bound_graph_partition_pruning | PartitionFilters:", ok, flush=True)

        # 6d. a DATA update's probe of the live store (INSERT: its quads
        # already live; DELETE: the paths holding one) is one scan stage
        # of the batch's graph buckets, with no exchange
        from tripleforge.sparql_update import _data_batch, parse_update
        from tripleforge.update import collect_batch, probe

        _, _, quads = parse_update(
            "INSERT DATA { GRAPH <urn:g3> { <urn:s3> <urn:p> <urn:o> . <urn:s8> <urn:p> <urn:o> } }"
        )
        batch = collect_batch(_data_batch(spark, quads), cat.n_buckets)
        audit(
            "data_update_probe",
            probe(cat, cat.read_statements(), batch),
            [
                ("graph_bucket in PartitionFilters", r"PartitionFilters: \[[^\]]*graph_bucket", True),
                ("subject filter pushed to parquet", r"PushedFilters: \[[^\]]*In\(subj", True),
                ("one scan", r"\(\d+\) Scan parquet[\s\S]*\(\d+\) Scan parquet", False),
                ("no exchange", r"Exchange", False),
            ],
        )

        # 6e. resume on a non-empty catalog: the corpus anti-joins the
        # committed units, which the planner broadcasts with no hint
        from tripleforge.checkpoint import filter_pending

        audit(
            "resume_anti_join_broadcast",
            filter_pending(corpus_df(spark, CorpusSpec(n_repos=2, files_per_repo=2)), cat),
            [("broadcast anti-join", r"BroadcastHashJoin LeftAnti", True)],
        )
    finally:
        shutil.rmtree(cat_root, ignore_errors=True)

    # 7. relational path is pure JVM (codegen-eligible end to end): no
    # Python nodes, hash aggregation, parquet batch scan. (AQE plans
    # print codegen ids only after execution, so assert eligibility.)
    audit(
        "agg_pricing_jvm_only",
        em.q_agg_pricing(spark, SF),
        [
            ("no Python nodes", r"MapInArrow|EvalPython|MapInPandas", False),
            ("hash aggregate", r"HashAggregate", True),
            ("columnar parquet scan", r"Scan parquet", True),
        ],
    )

    # 8 (r3). SPARQL expression layer compiles to pure Catalyst columns
    audit(
        "sparql_expressions_jvm_only",
        em.q_kg_sparql_expr(spark, SF),
        [
            # exactly the parse kernel's ONE Python stage; expressions
            # themselves must not add any EvalPython node
            ("no row/Arrow eval nodes beyond the parser", r"EvalPython|MapInPandas", False),
            ("predicate filter present", r"\(\d+\) Filter", True),
        ],
    )
    # 9 (r3). FILTER [NOT] EXISTS / MINUS compile to semi/anti hash joins
    from tripleforge import sparql as sparql_mod

    kg = em._kg_statements(spark, SF)
    exists_df = sparql_mod.select(
        kg,
        "SELECT ?d WHERE { ?d <urn:p:nchars> ?n . "
        "FILTER EXISTS { ?d <urn:p:type> <urn:t:Doc> } }",
    )
    minus_df = sparql_mod.select(
        kg,
        "SELECT ?d WHERE { ?d <urn:p:nchars> ?n . "
        "MINUS { ?d <urn:p:type> <urn:t:Doc> } }",
    )
    audit("sparql_exists_semi_join", exists_df, [("LeftSemi join", r"LeftSemi", True)])
    audit("sparql_minus_anti_join", minus_df, [("LeftAnti join", r"LeftAnti", True)])
    # 10 (r3). property-path sequence = pure joins (no Python, no
    # cartesian); closure handled separately (iterative, plan-per-round)
    path_df = sparql_mod.select(
        kg, "SELECT ?src ?n WHERE { ?src ^<urn:p:source>/<urn:p:nchars> ?n }"
    )
    audit(
        "sparql_path_sequence",
        path_df,
        [
            ("equi-join (hash or sort-merge)", r"HashJoin|SortMergeJoin", True),
            ("no cartesian product", r"CartesianProduct", False),
        ],
    )
    # 11 (r3). DESCRIBE: resource set broadcast, store only semi-joined
    audit(
        "describe_broadcast_semi",
        sparql_mod.describe(kg, "DESCRIBE <urn:doc:1>"),
        [("broadcast left-semi", r"BroadcastHashJoin.*LeftSemi", True)],
    )
    # 12 (r3b). negated property set: pushed NOT IN predicate scan —
    # no join anywhere in the plan
    nps_df = sparql_mod.select(
        kg, "SELECT ?s ?o WHERE { ?s !(<urn:p:type>|<urn:p:source>) ?o }"
    )
    audit(
        "sparql_nps_predicate_scan",
        nps_df,
        [
            ("no join", r"Join", False),
            ("NOT IN filter", r"NOT pred.* IN|Filter", True),
        ],
    )
    # 13 (r3b). FROM dataset clause: the view is filtered scans — the
    # graph restriction is an IN predicate inside the scan filter, no
    # join is introduced, and an all-empty arm (here: no FROM NAMED)
    # is eliminated by Catalyst entirely (PropagateEmptyRelation), so
    # a FROM-only query plans as ONE filtered scan with no Union
    ds_df = sparql_mod.select(
        kg,
        "SELECT ?d ?n FROM <urn:repo:src0> FROM <urn:repo:src1> "
        "WHERE { ?d <urn:p:nchars> ?n }",
    )
    audit(
        "sparql_from_dataset_view",
        ds_df,
        [
            ("graph IN filter", r" IN \(urn:repo:src0,urn:repo:src1\)", True),
            ("empty named arm eliminated (no union)", r"Union", False),
            ("no join", r"Join", False),
        ],
    )
    # 14 (r3b). Turtle writer: exactly two hash aggregates (per
    # (subj,pred) then per subj), zero Python
    from tripleforge.turtle import turtle_blocks

    audit(
        "turtle_writer_two_aggregates",
        turtle_blocks(kg, {"p": "urn:p:"}),
        [
            ("no Python eval", r"EvalPython|MapInPandas", False),
            ("hash aggregate", r"HashAggregate", True),
            ("object-list collect", r"collect_list", True),
        ],
    )

    # 15 (r5). PII redaction: one codegen projection — no
    # planner-inserted shuffle, no Python, no aggregation anywhere in a
    # corpus-wide scrub. (r6: the narrow-fixture widening repartition is
    # an explicit REPARTITION_BY_NUM exchange, absent at corpus scale —
    # the assertion is that the scrub itself never NEEDS a shuffle,
    # i.e. no ENSURE_REQUIREMENTS exchange.)
    audit(
        "pii_redact_single_projection",
        em.q_pii_redact(spark, SF),
        [
            ("no Python eval", r"EvalPython|MapInPandas", False),
            ("no planner shuffle", r"ENSURE_REQUIREMENTS", False),
            ("no aggregate", r"HashAggregate", False),
        ],
    )
    # 16 (r5). TriX / RDF-XML writers: same two-aggregate zero-Python
    # contract as the Turtle writer
    from tripleforge.rdfxml_out import rdfxml_blocks
    from tripleforge.trix_out import trix_blocks

    audit(
        "trix_writer_blocks",
        trix_blocks(kg),
        [
            ("no Python eval", r"EvalPython|MapInPandas", False),
            ("hash aggregate", r"HashAggregate", True),
        ],
    )
    audit(
        "rdfxml_writer_blocks",
        rdfxml_blocks(kg),
        [
            ("no Python eval", r"EvalPython|MapInPandas", False),
            ("hash aggregate", r"HashAggregate", True),
        ],
    )

    # 16b (r5). Gopher rules: one codegen projection like pii_redact —
    # an entire corpus-quality pass with no planner-inserted shuffle
    # and no Python (r6: same REPARTITION_BY_NUM carve-out as #15)
    audit(
        "gopher_rules_single_projection",
        em.q_gopher_rules(spark, SF),
        [
            ("no Python eval", r"EvalPython|MapInPandas", False),
            ("no planner shuffle", r"ENSURE_REQUIREMENTS", False),
            ("no aggregate", r"HashAggregate", False),
        ],
    )
    # 17 (r5). graph analytics: triangles must be pure equi-joins (the
    # compact-forward wedge join + closing pair join — never a
    # cartesian/BNLJ), all JVM; pagerank's only non-equi joins are the
    # 1-row broadcast scalars (dangling mass / node count)
    from tripleforge import graph as graph_mod

    plain_edges = li.select(
        (li["l_orderkey"] % 1000).alias("src"), li["l_suppkey"].alias("dst")
    )
    audit(
        "graph_triangles_equi_joins",
        graph_mod.triangles(plain_edges),
        [
            ("no Python eval", r"EvalPython|MapInPandas", False),
            ("no cartesian product", r"CartesianProduct", False),
            ("no broadcast nested loop", r"BroadcastNestedLoopJoin", False),
            ("closing semi-join", r"LeftSemi", True),
        ],
    )
    audit(
        "graph_khop_equi_joins",
        graph_mod.khop_counts(plain_edges, hops=3),
        [
            ("no Python eval", r"EvalPython|MapInPandas", False),
            ("no cartesian product", r"CartesianProduct", False),
            ("no broadcast nested loop", r"BroadcastNestedLoopJoin", False),
            ("aggregated counts", r"HashAggregate", True),
        ],
    )
    audit(
        "graph_pagerank_jvm_only",
        em.q_graph_pagerank(spark, SF),
        [
            ("no Python eval", r"EvalPython|MapInPandas", False),
            ("no unbroadcast cartesian", r"CartesianProduct", False),
            ("aggregated contributions", r"HashAggregate", True),
        ],
    )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("# PLANS — physical-plan audit (generated by tools/audit_plans.py)\n\n")
        fh.write("Structural assertions over `.explain('formatted')` output for the\n")
        fh.write("operators whose plans the 100 TB design depends on (SURVEY.md §4).\n\n")
        for name, p, notes in sections:
            fh.write(f"## {name}\n\n")
            for nmsg in notes:
                fh.write(f"- {nmsg}\n")
            fh.write("\n```\n" + p.strip()[:4000] + "\n```\n\n")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nall plan checks OK")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
