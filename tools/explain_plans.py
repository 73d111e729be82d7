"""Dump the physical plans of the headline queries to BENCH/PLANS.md.

The scale checklist, verified per plan and asserted here (exit 1 on
regression), not just eyeballed:

- parquet scan carries ReadSchema with ONLY the needed columns
  (column pruning reached the scan)
- the whole parse+transform chain sits inside WholeStageCodegen spans
  (no Python, no interpreted projections in the hot path)
- exactly the expected number of shuffles (Exchange) per query
- no CartesianProduct / BroadcastNestedLoopJoin anywhere

Usage: python tools/explain_plans.py [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


CHECKS = []  # (name, ok, detail)


def check(name: str, ok: bool, detail: str = "") -> None:
    CHECKS.append((name, ok, detail))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "PLANS.md"))
    args = ap.parse_args()

    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from slog_agent_spark.plans.corpus import DEFAULT_QUERIES as Q
    from slog_agent_spark.plans import pipeline as P
    from slog_agent_spark.session import build_session
    from slog_agent_spark.sources.parser import parse_transcripts
    from slog_agent_spark.sources.transcripts import transcripts_df

    spark = build_session(master="local[8]", shuffle_partitions=16)
    sf = args.sf_dir

    sections: list[tuple[str, str, str]] = []  # (title, commentary, plan text)

    # The pipeline's contracted input is a materialized transcript table
    # (Iceberg/parquet). Deriving transcripts from the events fixture
    # costs one window shuffle (row_number over conv_id) — that is data
    # prep, not the pipeline, so audit plans over the materialized table.
    work = tempfile.mkdtemp(prefix="plan-audit-",
                            dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
    transcripts_df(spark, sf).write.parquet(f"{work}/transcripts")
    transcripts = spark.read.parquet(f"{work}/transcripts")

    # 1. parse + transform chain (the hot path)
    tr = P.transform_transcripts(transcripts)
    p1 = formatted(tr)
    raw1 = plan_of(tr)
    sections.append((
        "parse -> 20-step transform chain (`transform_transcripts`)",
        "The chain must stay map-only (no Exchange) with no Python "
        "evaluation, compiled as EXACTLY TWO whole-stage-codegen spans: "
        "one deliberate observe() span break at the 60% layer keeps the "
        "fused processNext under the HotSpot JIT cliff (r6; "
        "operators/transforms.py CODEGEN_SPAN_MAX_LAYERS — one fused "
        "span measured 3.5x slower at 20M rows, more breaks strictly "
        "worse).",
        p1,
    ))
    check("chain: zero shuffles", "Exchange" not in raw1,
          f"{raw1.count('Exchange')} exchanges")
    # codegen spans show as WholeStageCodegen in formatted output and as
    # `*(n)` prefixes in toString()
    check("chain: whole-stage codegen",
          "WholeStageCodegen" in p1 or "*(" in raw1, "")
    check("chain: exactly one codegen span break (observe barrier)",
          raw1.count("CollectMetrics") == 1,
          f"{raw1.count('CollectMetrics')} CollectMetrics")
    check("chain: no Python in hot path",
          "BatchEvalPython" not in raw1 and "ArrowEvalPython" not in raw1, "")

    # 2. routed counts (the one shuffle)
    rc = (
        tr.where("NOT dropped")
        .groupBy("tag", "tool", "role")
        .agg(F.count("*").alias("routed_records"),
             F.sum("raw_length").alias("routed_bytes"))
    )
    raw2 = plan_of(rc)
    sections.append((
        "routed per-sink counts (groupBy tag+keys over the chain)",
        "groupBy(tag, keys) after the chain: expect exactly ONE shuffle "
        "with a map-side partial aggregate before it.",
        formatted(rc),
    ))
    n_ex = len(re.findall(r"Exchange hashpartitioning", raw2))
    check("routed_counts: exactly one shuffle", n_ex == 1, f"{n_ex} exchanges")
    # plan toString() prints root-first, so the FINAL aggregate always
    # precedes the Exchange textually — the map-side PARTIAL aggregate is
    # the one that must appear BELOW (after) the Exchange line.
    check("routed_counts: partial agg below (before) the shuffle",
          raw2.rindex("HashAggregate") > raw2.index("Exchange")
          if "Exchange" in raw2 and "HashAggregate" in raw2 else False, "")

    # 2b. pushdown-fence evidence (round-4 finding): Catalyst substitutes
    # a filtered column's definition into a Filter below the projection,
    # and Filter predicates get no subexpression elimination — a plain
    # .where("NOT dropped") re-executed the whole chain per input row
    # (measured 4.3s vs 0.58s at 2M rows). fence_filter must keep the
    # Filter ABOVE the projection, testing the computed column.
    pf = P.fence_filter(tr, "NOT dropped")
    raw2b = plan_of(pf)
    sections.append((
        "fenced NOT-dropped filter (`fence_filter`)",
        "The Filter tests the computed `dropped` column (fence blocks "
        "PushDownPredicates); the extraction chain appears exactly once.",
        formatted(pf),
    ))
    fl = [ln for ln in raw2b.splitlines() if "Filter" in ln]
    check("fence: filter tests computed column, chain not substituted",
          bool(fl) and all(
              "__fence" in ln and "rtrim" not in ln and "split(" not in ln
              for ln in fl if "dropped" in ln
          ), "")
    check("fence: extraction chain evaluated once",
          raw2b.count("rtrim(source") == 1,
          f"{raw2b.count('rtrim(source')} occurrences")
    # The parse filter stays an ordinary pushed predicate (its conjuncts
    # reach the scan) — but its inlined form must carry at most ONE
    # split() occurrence (the old __arr-based parse_ok carried six).
    parse_filters = [ln for ln in raw1.splitlines() if "Filter" in ln]
    check("parse filter: inlined parse_ok has at most one split()",
          bool(parse_filters) and all(
              ln.count("split(") <= 1 for ln in parse_filters
          ), "")

    # 2c. sequence packing: the distributed prefix sum must shuffle the
    # corpus-sized relation ONLY on bucket (within-bucket window); the
    # single-partition window runs over the tiny bucket-totals relation.
    pk = Q["corpus_pack_chunks"][0](spark, sf)
    rawpk = plan_of(pk)
    sections.append((
        "sequence packing (`pack_chunks_query`)",
        "Two-phase prefix sum: per-bucket totals (partial agg) → prefix "
        "window over bucket totals only → within-bucket running sum "
        "partitioned by bucket. A naive global-order cumsum would drag "
        "the whole corpus through one partition.",
        formatted(pk),
    ))
    check("pack: corpus window partitioned by bucket",
          "hashpartitioning(bucket" in rawpk, "")
    n_win = rawpk.count("Window ")
    check("pack: exactly two windows (prefix + within-bucket)",
          n_win == 2, f"{n_win} windows")

    # 2d. training cut: retention → mix → pack composed into one job;
    # the final plan must READ the materialized retention stage —
    # signatures/pairs/retention are each computed once, never re-derived
    # inside the composite (the staged-materialization contract).
    tc = Q["corpus_training_cut"][0](spark, sf)
    rawtc = plan_of(tc)
    sections.append((
        "training cut (`corpus_training_cut_query`)",
        "Retention (dedup + quality) → deterministic mix sample → "
        "sequence packing over the selected set, as ONE job. Signatures, "
        "pairs and retention verdicts are materialized stages; the final "
        "plan joins them and adds only the per-row mix draw and the "
        "two-window packing prefix sum.",
        formatted(tc),
    ))
    check("training-cut: no cartesian/nested-loop",
          "Cartesian" not in rawtc and "NestedLoop" not in rawtc, "")
    check("training-cut: reads materialized retention (no sig recompute)",
          "ExistingRDD" in rawtc and "array_join" not in rawtc, "")
    n_win_tc = rawtc.count("Window ")
    check("training-cut: exactly two windows (packing prefix sum only)",
          n_win_tc == 2, f"{n_win_tc} windows")

    # 3. column pruning evidence: a 2-column projection off the parse stage
    two = parse_transcripts(
        spark.read.parquet(f"{sf}/events.parquet").selectExpr(
            "CAST(event_id AS STRING) AS conv_id", "0 AS turn_idx",
            "'info' AS role", "CAST(value AS STRING) AS text", "'t' AS tool",
            "CAST(ts AS TIMESTAMP) AS ts")
    ).select("conv_id", "raw_length")
    p3 = formatted(two)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p3)
    cols = m.group(1) if m else "(no ReadSchema found)"
    sections.append((
        "column pruning to the parquet scan",
        "A 2-column projection must prune the scan to only the source "
        f"columns it needs. ReadSchema: `{cols}`",
        p3,
    ))
    check("pruning: scan reads <= 2 source columns",
          m is not None and len(cols.split(",")) <= 2, cols)

    # 4. ngram-jaccard join shape
    nj = Q["dedup_ngram_jaccard"][0](spark, sf)
    raw4 = plan_of(nj)
    sections.append((
        "n-gram Jaccard dedup (`ngram_jaccard_query`)",
        "Inverted-index self-join: hash exchanges on the shingle key only; "
        "must never degrade to CartesianProduct/BroadcastNestedLoopJoin.",
        formatted(nj),
    ))
    check("ngram: no cartesian/nested-loop",
          "Cartesian" not in raw4 and "NestedLoop" not in raw4, "")
    check("ngram: reads materialized sets/postings (no shingle recompute)",
          "ExistingRDD" in raw4 and "array_join" not in raw4, "")

    # 5. MinHash LSH join shape
    mh = Q["dedup_minhash_lsh"][0](spark, sf)
    raw5 = plan_of(mh)
    check("lsh: no cartesian/nested-loop",
          "Cartesian" not in raw5 and "NestedLoop" not in raw5, "")
    # staged signatures: the pairs plan must read the MATERIALIZED
    # signature relation (ExistingRDD from the localCheckpoint), not
    # re-derive shingles — a multi-referenced CTE re-executes the whole
    # md5 pipeline once per reference (the 24× regression this guards)
    check("lsh: reads materialized signatures (no shingle recompute)",
          "ExistingRDD" in raw5 and "array_join" not in raw5,
          "")
    # block-salted variant: same constraints, plus the candidate join
    # must key on the block columns (a.t = b.blk / b.t = a.blk) so a hot
    # bucket's pairs spread over S² join-key groups — if the block
    # equalities slide into the post-join filter instead of the join key,
    # the salting is decorative and the hot task is back
    mhs = Q["dedup_minhash_lsh_salted"][0](spark, sf)
    raw5s = plan_of(mhs)
    check("lsh-salted: no cartesian/nested-loop",
          "Cartesian" not in raw5s and "NestedLoop" not in raw5s, "")
    check("lsh-salted: reads materialized signatures",
          "ExistingRDD" in raw5s and "array_join" not in raw5s, "")
    import re as _re
    join_keys = _re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
        r"[^\[]*\[([^\]]*)\]", raw5s
    )
    blk_in_key = any("blk#" in k for k in join_keys) or bool(
        _re.search(r"hashpartitioning\([^)]*blk#", raw5s)
    )
    check("lsh-salted: block cols are join/partition keys", blk_in_key, "")

    # 6. SimHash banded-Hamming near-dup join shape
    sn = Q["dedup_simhash_neardup"][0](spark, sf)
    raw6 = plan_of(sn)
    check("simhash-neardup: no cartesian/nested-loop",
          "Cartesian" not in raw6 and "NestedLoop" not in raw6, "")
    check("simhash-neardup: reads materialized sketches",
          "ExistingRDD" in raw6 and "array_join" not in raw6, "")

    # 7. trained IVF: centroid side must broadcast (tiny relation),
    # never a shuffle-heavy sort-merge against the corpus
    iv = Q["ann_topk_ivf_trained"][0](spark, sf)
    raw7 = plan_of(iv)
    check("ivf-trained: centroid joins broadcast",
          "BroadcastHashJoin" in raw7 or "BroadcastNestedLoopJoin" in raw7,
          "")
    check("ivf-trained: no cartesian", "CartesianProduct" not in raw7, "")
    check("ivf-trained: k-means not re-executed (materialized centroids)",
          "ExistingRDD" in raw7, "")

    # 7a. the k-means TRAINING plan itself: the per-bucket vector mean
    # must be the zip_with tree aggregate, never a per-dimension explode
    # (sample × dims rows through a (centroid, pos) shuffle — 10^8-10^9
    # rows/iteration at the documented training budget)
    from slog_agent_spark.functions.dialect import SPARK as SPARK_D
    from slog_agent_spark.operators import similarity as S
    from slog_agent_spark.plans.corpus import _register
    _register(spark, sf, "embeddings")
    tr = spark.sql(S.ivf_centroids_sql(SPARK_D))
    raw7a = plan_of(tr)
    check("kmeans-train: no per-dimension explode (Generate)",
          "Generate" not in raw7a, "")
    sections.append((
        "k-means centroid training",
        "bucket-wise vector mean via two-phase zip_with tree aggregate; "
        "shuffles sample rows once per iteration, no explode",
        formatted(tr),
    ))

    # 8. trained embedding near-dup: assignment staged, so the pair plan
    # must contain NO window (the row_number assignment) and no k-means
    en = Q["embedding_neardup_trained"][0](spark, sf)
    raw8 = plan_of(en)
    check("emb-neardup-trained: assignment materialized (no Window)",
          "ExistingRDD" in raw8 and "Window" not in raw8, "")
    check("emb-neardup-trained: no cartesian",
          "CartesianProduct" not in raw8, "")

    # 8b. batch ANN: query + centroid relations broadcast; candidates
    # come from joins, never a corpus x corpus cartesian
    ab = Q["ann_topk_batch"][0](spark, sf)
    raw8b = plan_of(ab)
    check("ann-batch: broadcasts (query/centroid sides)",
          "BroadcastHashJoin" in raw8b or "BroadcastNestedLoopJoin" in raw8b,
          "")
    check("ann-batch: no cartesian", "CartesianProduct" not in raw8b, "")
    check("ann-batch: centroids materialized", "ExistingRDD" in raw8b, "")
    sections.append((
        "batch ANN top-k",
        "one bucket join feeds per-query ranking windows; centroid "
        "relation read from the materialized training stage",
        formatted(ab),
    ))

    # 8c. contamination scan: postings join on the shingle key, reusing
    # the materialized n-gram sets — no shingle recompute, no cartesian
    ct = Q["corpus_contamination"][0](spark, sf)
    raw8c = plan_of(ct)
    check("contamination: no cartesian/nested-loop",
          "CartesianProduct" not in raw8c and "NestedLoop" not in raw8c, "")
    check("contamination: reads materialized sets (no shingle recompute)",
          "ExistingRDD" in raw8c and "array_join" not in raw8c, "")

    # 8d. boilerplate span removal: both the shingle-frequency count and
    # the hit join read the MATERIALIZED postings (no per-reference
    # re-explode of the corpus); joins are keyed, never cartesian
    bl = Q["corpus_boilerplate"][0](spark, sf)
    raw8d = plan_of(bl)
    sections.append((
        "cross-document boilerplate removal (`corpus_boilerplate`)",
        "frequency count + hit join both read the staged postings "
        "(ExistingRDD); covered-position expansion is per-row array "
        "arithmetic — no second explode, no cartesian.",
        formatted(bl),
    ))
    check("boilerplate: no cartesian/nested-loop",
          "CartesianProduct" not in raw8d and "NestedLoop" not in raw8d, "")
    check("boilerplate: reads materialized postings (no re-explode)",
          "ExistingRDD" in raw8d and raw8d.count("Generate") <= 1, "")

    # 8e. as-of enrich: the union+window formulation must contain NO
    # join operator at all — one shuffle on user_id feeds the window
    ae = Q["events_asof_enrich"][0](spark, sf)
    raw8e = plan_of(ae)
    sections.append((
        "as-of enrich (`events_asof_enrich`)",
        "union(marks, probes) + one window carrying the last non-null "
        "mark: no join operator, exactly one shuffle on user_id — the "
        "as-of plan that survives skew and 100x scale (a range join "
        "would explode; a per-probe lookup would shuffle per row).",
        formatted(ae),
    ))
    check("asof: no join operator at all",
          "Join" not in raw8e, "")
    n_ex8e = len(re.findall(r"Exchange hashpartitioning", raw8e))
    check("asof: exactly one shuffle (the user_id window)",
          n_ex8e == 1, f"{n_ex8e} exchanges")

    # 8e2. segmented as-of: the carry window must be keyed by (user,
    # block) — never user alone (a hot user would serialize into one
    # task); the cross-block carry runs over the tiny block relation
    aes = Q["events_asof_segmented"][0](spark, sf)
    raw8e2 = plan_of(aes)
    sections.append((
        "segmented as-of enrich (`events_asof_segmented`)",
        "the distributed-prefix-sum shape applied to time: within-"
        "(user, block) carry window + per-block last-mark summaries + "
        "a carry-in window over the tiny block relation — a 10^9-row "
        "hot user splits across blocks instead of one straggler task.",
        formatted(aes),
    ))
    import re as _re
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", raw8e2)
    check("asof-segmented: every window keyed beyond bare user_id",
          bool(specs) and all(
              ("block" in s) for s in specs
          ), f"{len(specs)} window specs")
    check("asof-segmented: no cartesian/nested-loop",
          "Cartesian" not in raw8e2 and "NestedLoop" not in raw8e2, "")

    # 8e3. event sessionization: lag + running-sum + rollup must share
    # ONE shuffle (same partition key and ordering throughout)
    es = Q["events_sessionize"][0](spark, sf)
    raw8e3 = plan_of(es)
    n_ex8e3 = len(re.findall(r"Exchange hashpartitioning", raw8e3))
    sections.append((
        "event sessionization (`events_sessionize`)",
        "two windows (lag -> boundary flag -> running sum) and the "
        "session rollup all keyed on user_id: one Exchange serves the "
        "whole chain.",
        formatted(es),
    ))
    check("events-sessionize: one shuffle for both windows + rollup",
          n_ex8e3 == 1, f"{n_ex8e3} exchanges")

    # 8e4. funnel: one aggregate over per-user event arrays — no joins,
    # no per-step corpus re-scan, exactly one shuffle
    fu = Q["events_funnel"][0](spark, sf)
    raw8e4 = plan_of(fu)
    n_ex8e4 = len(re.findall(r"Exchange hashpartitioning", raw8e4))
    sections.append((
        "conversion funnel (`events_funnel`)",
        "per-user sorted event array + per-step array filter/min "
        "expressions: one shuffle, one aggregate, zero joins — k funnel "
        "steps as k self-joins would be k corpus scans.",
        formatted(fu),
    ))
    check("funnel: no join operator", "Join" not in raw8e4, "")
    check("funnel: exactly one shuffle", n_ex8e4 == 1,
          f"{n_ex8e4} exchanges")

    # 8f. bounded-window attribution: bucket equi-join (never an
    # unbounded inequality join / cartesian)
    wa = Q["events_window_attrib"][0](spark, sf)
    raw8f = plan_of(wa)
    sections.append((
        "bounded-window attribution (`events_window_attrib`)",
        "both sides bucketed by floor(epoch/horizon); each probe "
        "equi-joins its own + previous bucket and filters exactly — "
        "join fan-in is 2 buckets per probe at any corpus size.",
        formatted(wa),
    ))
    check("window-attrib: no cartesian/nested-loop",
          "Cartesian" not in raw8f and "NestedLoop" not in raw8f, "")
    check("window-attrib: equi-join on (user, bucket)",
          "join_bucket" in raw8f and "Join" in raw8f, "")

    # 8a. lookup-enrich: the dimension join must broadcast (zero extra
    # shuffles beyond the rollup's own aggregate exchange)
    te = P.team_enrich_rollup_df(spark, sf)
    raw8a = plan_of(te)
    check("team-enrich: dimension join broadcasts",
          "BroadcastHashJoin" in raw8a, "")
    # the enrich itself must add NO shuffle on the join key (the other
    # exchanges in this plan are the fixture's transcript derivation and
    # the rollup's own aggregate — both present without the join)
    check("team-enrich: no shuffle on the join key",
          "Exchange hashpartitioning(app" not in raw8a, "")

    # 8b. sessionization: lag + running-sum windows + session rollup must
    # all reuse ONE conv_id exchange (co-partitioned group-by)
    ss = P.conversation_sessions_df(spark, sf)
    raw8b = plan_of(ss)
    n_ex8b = len(re.findall(r"Exchange hashpartitioning", raw8b))
    check("sessionize: one shuffle shared by windows + rollup",
          n_ex8b == 1, f"{n_ex8b} exchanges")

    # 9. corpus rollup: one shuffle, map-side partial agg before it
    cs = Q["corpus_stats"][0](spark, sf)
    raw9 = plan_of(cs)
    n_ex9 = len(re.findall(r"Exchange hashpartitioning", raw9))
    check("corpus-stats: exactly one shuffle", n_ex9 == 1, f"{n_ex9} exchanges")
    check("corpus-stats: partial agg below (before) the shuffle",
          raw9.rindex("HashAggregate") > raw9.index("Exchange")
          if "Exchange" in raw9 and "HashAggregate" in raw9 else False, "")
    sections.append((
        "Per-language corpus rollup (`corpus_stats_query`)",
        "One codegen projection (language-ID + token counts per doc) into one "
        "groupBy over a low-cardinality key — partial agg makes the shuffle "
        "O(|langs| x tasks) at any corpus size.",
        formatted(cs),
    ))

    qq = Q["doc_length_quantiles"][0](spark, sf)
    raw10 = plan_of(qq)
    n_ex10 = len(re.findall(r"Exchange hashpartitioning", raw10))
    check("length-quantiles: exactly one shuffle", n_ex10 == 1,
          f"{n_ex10} exchanges")
    check("length-quantiles: partial sketch agg below the shuffle",
          raw10.rindex("ObjectHashAggregate") > raw10.index("Exchange")
          if "Exchange" in raw10 and "ObjectHashAggregate" in raw10
          else False, "")
    sections.append((
        "Token-length quantiles (`doc_length_quantiles_query`)",
        "approx_percentile's Greenwald-Khanna sketch aggregates map-side "
        "(ObjectHashAggregate partial below the exchange) and merges at the "
        "reducer — the shuffle carries per-group sketches, never token "
        "lists; no per-group sort or window anywhere.",
        formatted(qq),
    ))

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        f.write("# BENCH/PLANS — physical-plan audit of the headline queries\n\n")
        f.write("Generated by `python tools/explain_plans.py` (re-runs the\n"
                "assertions below; exits 1 on regression). Spark "
                f"{spark.version}, AQE on.\n\n## Assertions\n\n")
        f.write("| check | result | detail |\n|---|---|---|\n")
        for name, ok, detail in CHECKS:
            f.write(f"| {name} | {'PASS' if ok else 'FAIL'} | {detail} |\n")
        for title, comment, plan in sections:
            f.write(f"\n## {title}\n\n{comment}\n\n```\n{plan.strip()}\n```\n")
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)

    failed = [c for c in CHECKS if not c[1]]
    for name, ok, detail in CHECKS:
        print(("PASS " if ok else "FAIL ") + name + (f" [{detail}]" if detail else ""))
    print(f"wrote {args.out}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
