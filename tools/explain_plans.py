"""Physical-plan audit: dumps `.explain("formatted")` for the engine's
load-bearing plans into PLANS.md and greps for the properties that
matter at 100 TB:

- parquet scans carry PushedFilters / pruned ReadSchema (no full-width
  scans for narrow projections);
- small dimension joins are BroadcastHashJoin (no fact-side shuffle);
- LWW aggregation shows partial_ + final HashAggregate (map-side
  combine before the shuffle);
- expressions live inside WholeStageCodegen spans;
- the native ingest path contains zero Python (no BatchEvalPython /
  ArrowEvalPython / MapInPandas nodes).

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession, functions as F

    import __spark_entry__ as em
    from kafka_connect_converter_json_spark.operators.dedup import lww_latest
    from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
    from kafka_connect_converter_json_spark.streaming.ingest import (
        convert_events, default_config, infer_envelope_schema,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, list[str]]] = []

    # 1. pushdown + pruning: narrow projection with filter
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    narrow = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    sections.append((
        "Filter pushdown + column pruning (lineitem narrow projection)",
        formatted(narrow),
        ["PushedFilters", "ReadSchema"],
    ))

    # 2. broadcast join
    sections.append((
        "Broadcast join (orders x customer)",
        formatted(em.q_join_broadcast(spark, sf_dir)),
        ["BroadcastHashJoin"],
    ))

    # 3. LWW partial+final aggregation
    ev = gen_events(spark, 10000)
    lww = lww_latest(ev.select("repo", "path", "lsn", "op"), ["repo", "path"], "lsn")
    # max_by carries a var-width (string) aggregation buffer, so Spark
    # plans SortAggregate rather than HashAggregate — the property that
    # matters at scale is partial_max BEFORE the Exchange (map-side
    # combine: shuffle volume bounded by |keys x partitions|, not |events|)
    sections.append((
        "LWW dedup (max_by partial aggregate before the shuffle)",
        formatted(lww),
        ["SortAggregate", "partial_max", "Exchange"],
    ))

    # 4. native ingest path: zero Python
    sch = infer_envelope_schema(spark, ev, "value_json")
    typed = convert_events(ev, default_config(), "native", sch)
    plan4 = formatted(typed)
    # formatted mode marks whole-stage codegen per node as "[codegen id : N]"
    sections.append((
        "Native ingest parse path (from_json, no Python nodes)",
        plan4,
        ["codegen id"],
    ))

    # 5. ANN LSH: query side broadcast; vectors re-joined AFTER the
    # distinct (the candidate distinct must shuffle ids+buckets only)
    plan5 = formatted(em.q_ann_lsh(spark, sf_dir))
    sections.append((
        "ANN LSH bucket join (broadcast query side)",
        plan5,
        ["BroadcastHashJoin"],
    ))

    # 6. cosine near-pairs: the pair-distinct exchange carries no vectors
    plan6 = formatted(em.q_cosine_pairs(spark, sf_dir))
    sections.append((
        "Embedding near-dup pairs (id-only distinct, vectors joined back)",
        plan6,
        ["Exchange"],
    ))

    # 7. as-of join: union-window plan — ONE shuffle, ZERO join operators
    # (the naive range-join form would show a join with fan-out)
    plan7 = formatted(em.q_asof_join(spark, sf_dir))
    sections.append((
        "As-of join (union-window: one shuffle, no join operator)",
        plan7,
        ["Union", "Window"],
    ))

    # 8. TF-IDF: both counts must partial-aggregate map-side. The
    # vocabulary join is left to Catalyst's size estimate: at small SF it
    # broadcasts (vocab fits under the threshold — correct), at corpus
    # scale the estimate exceeds the threshold and it degrades to
    # sort-merge on the term key; the operator pins NEITHER (no
    # broadcast() hint on a side that can outgrow executor memory).
    plan8 = formatted(em.q_tfidf_topk(spark, sf_dir))
    sections.append((
        "TF-IDF top-k (partial counts, size-adaptive vocabulary join)",
        plan8,
        ["partial_count", "Join"],
    ))

    # 9. duplicate spans: the group key must be the 60-bit hashed span
    # (span text never shuffles) with a map-side partial count
    plan9 = formatted(em.q_dup_spans(spark, sf_dir))
    sections.append((
        "Duplicate spans (hashed 60-bit keys, partial aggregate)",
        plan9,
        ["partial_count", "hashpartitioning(span_fp"],
    ))

    # 10. deterministic sampling: pure filter — no Exchange anywhere
    plan10 = formatted(em.q_sample_split(spark, sf_dir))
    sections.append((
        "Deterministic stratified sample + split (zero shuffle)",
        plan10,
        [],
    ))

    # 11. composed corpus pipeline: the dedup kill list is duplicate-
    # group-sized (tiny), so its anti-join must broadcast — the whole
    # dedup filter is map-side against the corpus scan. r6: the final
    # plan truncates at the survivors localCheckpoint (the anti-join
    # executes inside the materialization job), so the anti-join shape
    # is audited on the un-checkpointed survivors subplan and the final
    # plan is asserted to read from the materialized table.
    from kafka_connect_converter_json_spark.operators.text import normalize_text as _nt
    from kafka_connect_converter_json_spark.operators.textdedup import (
        exact_duplicates as _ed,
    )
    from pyspark.sql import functions as _F

    _d = em._docs_with_dups(spark, sf_dir)
    _kill = (
        _d.select("doc_id", _F.md5(_nt(_F.col("text"))).alias("fp"))
        .join(_ed(_d), "fp")
        .filter(_F.col("doc_id") != _F.col("representative"))
        .select("doc_id")
    )
    plan11a = formatted(_d.join(_kill, "doc_id", "left_anti"))
    sections.append((
        "Composed corpus pipeline: survivors subplan (broadcast kill-list anti-join)",
        plan11a,
        ["BroadcastHashJoin LeftAnti"],
    ))
    plan11 = formatted(em.q_corpus_pipeline(spark, sf_dir))
    sections.append((
        "Composed corpus pipeline (tail over materialized survivors)",
        plan11,
        ["ExistingRDD"],
    ))

    # 12. exact cosine top-k is two-level: the level-1 window partitions
    # by (query_id, scan-partition id) — the exchange spreads each
    # query's |corpus| scored rows across every partition instead of
    # funneling them into one task; level 2 re-ranks only the bounded
    # survivors (hashpartitioning(query_id) over <= k * P rows/query)
    plan12 = formatted(em.q_ann_topk(spark, sf_dir))
    sections.append((
        "Exact cosine top-k (two-level rank: spread, then bounded re-rank)",
        plan12,
        ["SPARK_PARTITION_ID"],
    ))

    # 13. sequence packing: the global token offset must NOT be a
    # no-partition window (Exchange SinglePartition = one task holds the
    # corpus). The distributed form shows the per-bucket window exchange
    # plus the broadcast of the <=256-row exclusive-offset table.
    plan13 = formatted(em.q_pack_sequences(spark, sf_dir))
    sections.append((
        "Sequence packing (two-level prefix sum: per-bucket window + broadcast offsets)",
        plan13,
        ["hashpartitioning(bucket", "BroadcastHashJoin"],
    ))

    # 14. decontamination: the benchmark gram set is the small side and
    # must broadcast — the corpus text column never shuffles
    plan14 = formatted(em.q_decontaminate(spark, sf_dir))
    sections.append((
        "Benchmark decontamination (broadcast gram set)",
        plan14,
        ["BroadcastHashJoin"],
    ))

    # 15. cross-doc line dedup: the duplicate-line census groups 60-bit
    # hashes — its exchange must not carry the text/lines payload (text
    # moves only in the final id-keyed join back to the corpus)
    plan15 = formatted(em.q_line_dedup(spark, sf_dir))
    sections.append((
        "Cross-document line dedup (hash-only census shuffle)",
        plan15,
        ["hashpartitioning(h", "partial_count"],
    ))

    # 16. DSIR importance weights: the <=1024-row feature table must
    # broadcast into the scoring pass
    plan16 = formatted(em.q_dsir_weights(spark, sf_dir))
    sections.append((
        "DSIR importance weights (broadcast feature table)",
        plan16,
        ["BroadcastHashJoin"],
    ))

    # 17. SemDeDup: the within-cell pair comparison must be an equi-join
    # KEYED by the cell id (cosine/id predicates as residual condition) —
    # never a nested-loop / cartesian product. At sf0.01 Catalyst
    # broadcasts one side (correct); at corpus scale the same keys give a
    # sort-merge join partitioned by cell.
    plan17 = formatted(em.q_semantic_dedup(spark, sf_dir))
    sections.append((
        "SemDeDup (cell-keyed equi-join for the quadratic compare)",
        plan17,
        # r6: the within-cell compare is salted (guide 2.5 - 8 distinct
        # cells serialized the quadratic work into 8 tasks), so the
        # equi-key is [cell, _salt]; still keyed, never nested-loop.
        ["Left keys [2]: [cell#"],
    ))

    # 18. duplicate-span removal: like line dedup, the span census must
    # shuffle 60-bit hashes only — token arrays never enter an exchange
    plan18 = formatted(em.q_remove_dup_spans(spark, sf_dir))
    sections.append((
        "Duplicate-span removal (hash-only span census)",
        plan18,
        ["hashpartitioning(h", "partial_count"],
    ))

    # 19. code-payload filters: pure projections — the whole family must
    # plan ZERO exchanges (the content column never moves)
    plan19 = "\n\n".join(
        formatted(q(spark, sf_dir))
        for q in (em.q_code_quality, em.q_license_scan, em.q_secret_scan,
                  em.q_comment_stats)
    )
    sections.append((
        "Code filters (quality/license/secret/comment): zero-shuffle projections",
        plan19,
        [],
    ))

    # 20. changelog classification with preimages: the diff join must be
    # evaluated ONCE — preimage rows come from a 1-or-2-struct explode
    # (Generate) over the same join, not a unionByName that re-runs it
    plan20 = formatted(em.q_cdc_changelog(spark, sf_dir))
    sections.append((
        "CDC changelog classify (single-pass preimage explode)",
        plan20,
        ["Generate", "SortMergeJoin FullOuter"],
    ))

    # 21. incremental view, delta strategy: maintaining count/sum/avg
    # from the changelog must plan ZERO joins — signed contributions
    # union with the stored accumulator and re-group (O(changes+view));
    # the sink base table is never on the plan's input list
    import tempfile

    from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events
    from kafka_connect_converter_json_spark.streaming.ingest import ingest
    from kafka_connect_converter_json_spark.streaming.view import IncrementalAggView

    with tempfile.TemporaryDirectory() as vtmp:
        ev = gen_events(spark, 2000, n_repos=10, paths_per_repo=20, seed=7)
        vsink = ingest(spark, ev, f"{vtmp}/sink", 2000, n_epochs=2)
        view = IncrementalAggView(
            spark, f"{vtmp}/view", vsink, ["lang"],
            {"n": ("count", None), "total": ("sum", "lsn")},
            strategy="delta",
        )
        epochs = sorted(vsink.committed_epochs())
        view.refresh(epochs[0])
        # 21b. hybrid min/max: the candidate merge must never plan a
        # cartesian/nested-loop product, and the only base-table access
        # is the left_semi localization of flagged groups
        hview = IncrementalAggView(
            spark, f"{vtmp}/hview", vsink, ["lang"],
            {"mn": ("min", "lsn"), "n": ("count", None)},
            strategy="hybrid", candidates_per_group=2,
        )
        hview.refresh(epochs[0])
        hybrid_plan = formatted(
            hview._hybrid_state(
                vsink.read_changes(
                    epochs[-1], from_epoch=epochs[0], include_preimages=True
                ),
                epochs[-1],
            )
        )
        sections.append((
            "Hybrid view min/max (bounded candidate merge, semi-join localization)",
            hybrid_plan,
            ["LeftSemi"],
        ))
        # materialize the changelog so the audited plan is the VIEW's own
        # work (the claim: maintenance adds no join over the change feed
        # — the delta-vs-prior join visible in a fused plan belongs to
        # read_changes, whose shape section 20 audits)
        vsink.read_changes(
            epochs[-1], from_epoch=epochs[0], include_preimages=True
        ).write.parquet(f"{vtmp}/changes")
        delta_plan = formatted(
            view._delta_state(spark.read.parquet(f"{vtmp}/changes"))
        )
        sections.append((
            "Incremental view delta maintenance (join-free accumulator merge)",
            delta_plan,
            ["partial_sum"],
        ))

    # 22. Z-order compaction: the per-bucket slice rank must plan a
    # Window PARTITIONED on _bucket — never a global (single-partition)
    # sort/window, which would funnel the whole table through one task
    with tempfile.TemporaryDirectory() as ztmp:
        zev = gen_events(spark, 2000, n_repos=10, paths_per_repo=20, seed=9)
        zsink = ingest(spark, zev, f"{ztmp}/sink", 2000, n_epochs=1,
                       compact_every=None)
        zcur = zsink.read()
        zplan = formatted(
            zsink._zorder_clustered(zcur, ["lsn"], 4)
        )
        sections.append((
            "Z-order compaction (per-bucket window rank, no global sort)",
            zplan,
            ["Window", "windowspecdefinition(_bucket#"],
        ))

    checks = []
    for title, plan, must in sections:
        for needle in must:
            ok = needle in plan
            checks.append((title, needle, ok))
    no_python = all(
        marker not in sections[3][1]
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
    )
    checks.append(("Native ingest parse path", "no Python eval nodes", no_python))
    pair_exchanges = [
        ln for ln in plan6.splitlines()
        if "hashpartitioning(id_a" in ln  # formatted mode: Arguments: line
    ]
    no_vec_in_distinct = bool(pair_exchanges) and all(
        "va#" not in ln and "vb#" not in ln and "embedding#" not in ln
        for ln in pair_exchanges
    )
    checks.append((
        "Embedding near-dup pairs", "pair-distinct exchange carries no vectors",
        no_vec_in_distinct,
    ))
    # the as-of core must be join-free; the contract query's purchase
    # pre-aggregation contributes aggregates but no join either
    no_join = not any(
        marker in plan7
        for marker in ("SortMergeJoin", "BroadcastHashJoin",
                       "BroadcastNestedLoopJoin", "CartesianProduct")
    )
    checks.append(("As-of join", "no join operator (union-window form)", no_join))
    checks.append((
        "Deterministic sampling", "no Exchange (pure pushed filter)",
        "Exchange" not in plan10,
    ))
    lvl1_spread = any(
        "hashpartitioning(query_id" in ln and "_pid" in ln
        for ln in plan12.splitlines()
    )
    checks.append((
        "Exact cosine top-k",
        "level-1 exchange keyed by (query_id, scan-partition id)",
        lvl1_spread,
    ))
    checks.append((
        "Sequence packing", "no SinglePartition exchange (global offset never funnels)",
        "SinglePartition" not in plan13,
    ))
    # the decontamination corpus side ships (doc_id, gram-hash) pairs at
    # most — no exchange may carry the text column
    decon_exchanges = [
        ln for ln in plan14.splitlines() if "hashpartitioning(" in ln
    ]
    checks.append((
        "Benchmark decontamination", "no exchange carries the text column",
        all("text#" not in ln for ln in decon_exchanges),
    ))
    # the line-dedup census exchange moves 60-bit hashes only
    census_exchanges = [
        ln for ln in plan15.splitlines() if "hashpartitioning(h#" in ln
    ]
    checks.append((
        "Cross-document line dedup", "census exchange carries no text/lines",
        bool(census_exchanges)
        and all("text#" not in ln and "_lines#" not in ln for ln in census_exchanges),
    ))
    checks.append((
        "SemDeDup", "no nested-loop/cartesian pair comparison",
        not any(m in plan17 for m in ("BroadcastNestedLoopJoin", "CartesianProduct")),
    ))
    checks.append((
        # r6: the scan-spread repartition (RoundRobin) is the ONLY
        # exchange allowed - the claim is that no KEYED shuffle exists
        # in any of the 4 filter plans (pure projections).
        "Code filters", "no keyed shuffle in any of the 4 plans",
        "hashpartitioning" not in plan19 and "rangepartitioning" not in plan19,
    ))
    span_exchanges = [
        ln for ln in plan18.splitlines() if "hashpartitioning(h#" in ln
    ]
    checks.append((
        "Duplicate-span removal", "census exchange carries no text/tokens",
        bool(span_exchanges)
        and all("text#" not in ln and "_toks#" not in ln and "_spans#" not in ln
                for ln in span_exchanges),
    ))
    checks.append((
        "CDC changelog classify",
        "diff join evaluated once (1 FullOuter, preimages via explode)",
        plan20.count("SortMergeJoin FullOuter") == 1,
    ))
    checks.append((
        "Incremental view delta maintenance",
        "zero joins (changelog + accumulator union only)",
        not any(m in delta_plan for m in (
            "SortMergeJoin", "BroadcastHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct",
        )),
    ))
    checks.append((
        "Hybrid view min/max",
        "no cartesian/nested-loop; base access only via LeftSemi",
        "CartesianProduct" not in hybrid_plan
        and "BroadcastNestedLoopJoin" not in hybrid_plan
        and "LeftSemi" in hybrid_plan,
    ))
    checks.append((
        "Z-order compaction (per-bucket window rank, no global sort)",
        "no SinglePartition exchange (cluster rank never funnels)",
        "SinglePartition" not in zplan,
    ))

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("# PLANS — physical-plan audit (`.explain(\"formatted\")`)\n\n")
        f.write("Checks:\n\n")
        for title, needle, ok in checks:
            f.write(f"- [{'x' if ok else ' '}] {title}: `{needle}`\n")
        for title, plan, _ in sections:
            f.write(f"\n## {title}\n\n```\n{plan}\n```\n")
    for title, needle, ok in checks:
        print(("PASS" if ok else "FAIL"), title, "::", needle)


if __name__ == "__main__":
    main()
