#!/usr/bin/env python3
"""Mutation audit of the oracle gate (SURVEY §8.11, r12 verdict task 1).

The sf0.01 oracle replay proves the 171 twins AGREE with DuckDB on the
committed code; this audit proves they DISCRIMINATE: for each query
family, one seeded, plausible semantic mutation is applied to the
SPARK side only (the oracle SQL / verdict contract is never touched),
the single affected query is re-run via graft.Verify, and its gate
— the DuckDB value-compare for oracle-backed entries, the emitted
verdict booleans for the three contract-permitted no_oracle entries —
must turn RED. A mutation the gate misses (SURVIVED) fails the audit:
a gate that can't fail is not a gate.

Mechanics per mutation:
  1. literal-string substitution in the source (each `old` must occur
     EXACTLY ONCE — a moved/refactored site fails loudly instead of
     silently mutating nothing)
  2. `sbt -batch compile` (a mutation must be PLAUSIBLE, i.e. compile;
     a compile failure is a tooling error, not a kill)
  3. `java -cp target/...classes graft.Verify <sf0.01> out <query>`
  4. gate check:
       oracle  — tools/check_oracle.py over the single dumped query
                 (the EXACT tool the driver's gate replicates);
                 expected outcome: FAIL
       verdict — every boolean verdict column of the dumped parquet;
                 expected outcome: at least one false
       spec    — (boundary mutations the sf0.01 replay cannot see:
                 the m33/m34 formerly-survived drafts) the named
                 ScalaTest suite, whose expectations are hand-derived
                 on a crafted boundary warehouse, must FAIL; steps
                 2-3 are replaced by Test/compile + testOnly
     A Verify crash or a failed dump of the query also counts as
     KILLED (a loud failure is a gate), tallied separately as
     `killed_crash`.
  5. source restored byte-identical (sha-checked), final recompile.

Prereqs: clean work tree on the mutated files, compiled classes.
MUST NOT run concurrently with sbt test (shared Spark temp dirs).
Exit 0 iff every mutation KILLED and no tool errors.

Usage: tools/audit_mutation.sh [--validate] [mutation-id ...]
  --validate: only check the substitution spec against the sources
  (each old-string occurs exactly once); no compile, no runs.
"""
import hashlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"
OUT_ROOT = "/tmp/mutation_audit"

AQ = "src/main/scala/graft/queries/AnalyticalQueries.scala"

# Each entry: one plausible wrong-code edit a reviewer could miss.
# subs = ordered list of (old, new); applied in order, each old must
# occur exactly once at apply time.
MUTATIONS = [
    dict(id="m01_q1a_lag_offset", query="q1a_yoy_growth", gate="oracle",
         file=AQ,
         desc="LAG offset 1→2: YoY growth silently compares to two years prior",
         subs=[('lag($"revenue", 1)', 'lag($"revenue", 2)')]),
    dict(id="m02_q2a_swapped_labels", query="q2a_grouping_sets", gate="oracle",
         file=AQ,
         desc="grouping-flag labels swapped: YEAR TOTAL and MONTH TOTAL rows trade names",
         subs=[('when(grouping($"o_month") === 1, "YEAR TOTAL")',
                'when(grouping($"o_month") === 1, "MONTH TOTAL")'),
               ('when(grouping($"segment") === 1, "MONTH TOTAL")',
                'when(grouping($"segment") === 1, "YEAR TOTAL")')]),
    dict(id="m03_q3b_frame_off_by_one", query="q3b_moving_avg_ytd", gate="oracle",
         file=AQ,
         desc="moving-average frame off by one: 8 rows in the '7-day' window",
         subs=[('Window.orderBy($"ship_day").rowsBetween(-6, 0)',
                'Window.orderBy($"ship_day").rowsBetween(-7, 0)')]),
    dict(id="m04_q5b_ontime_boundary", query="q5b_monthly_kpis", gate="oracle",
         file=AQ,
         desc="on-time boundary <= 30 tightened to < 30: day-30 shipments flip to late",
         subs=[('.when(delay <= 30, 1.0).otherwise(0.0)',
                '.when(delay < 30, 1.0).otherwise(0.0)')]),
    dict(id="m05_q6_good_friday", query="q6_dim_time", gate="oracle",
         file="src/main/scala/graft/functions/Calendar.scala",
         desc="Good Friday computed 1 day before Easter instead of 2",
         subs=[('easterSunday(year).minusDays(2)',
                'easterSunday(year).minusDays(1)')]),
    dict(id="m06_q7b_and_or", query="q7b_error_sink", gate="oracle",
         file="src/main/scala/graft/etl/EtlQueries.scala",
         desc="validity AND-chain weakened to OR: rows failing only one rule pass",
         subs=[('val valid = $"l_discount" <= 0.08 && $"l_tax" <= 0.06',
                'val valid = $"l_discount" <= 0.08 || $"l_tax" <= 0.06')]),
    # NOTE: the first draft of this mutation (drop `isFirst ||` from the
    # keep predicate) SURVIVED the gate — and inspection shows it is an
    # EQUIVALENT mutant, not a gate miss: with the null-safe
    # `!(c <=> lag(c))` comparison, `changed` is already true on each
    # key's first snapshot (lag is null), so `isFirst ||` only guards
    # the all-null-attributes first row. Replaced with a genuinely
    # divergent sort-direction slip; the equivalent mutant is ledgered
    # in SURVEY §8.11.
    dict(id="m07_q8a_version_order", query="q8a_scd2_rebuild", gate="oracle",
         file="src/main/scala/graft/etl/Scd.scala",
         desc="SCD2 versions numbered from the NEWEST snapshot (window sorted desc)",
         subs=[('val wOrd = Window.partitionBy(keyCols: _*).orderBy(col(snapCol))',
                'val wOrd = Window.partitionBy(keyCols: _*).orderBy(col(snapCol).desc)')]),
    dict(id="m08_q9j_auc_orientation", query="q9j_churn_model", gate="verdict",
         file="src/main/scala/graft/analytics/MlQueries.scala",
         desc="pairwise AUC counts positives BELOW each score (1−AUC) — the r12 near-miss",
         subs=[('Seq(col("score").desc), col("pos"), "cpos")',
                'Seq(col("score").asc), col("pos"), "cpos")')]),
    dict(id="m09_q10a_window_width", query="q10a_rolling_active", gate="oracle",
         file="src/main/scala/graft/analytics/DaxMeasures.scala",
         desc="3-month rolling-active window built from 2 offsets",
         subs=[('val offsets = Seq(0, 1, 2).toDF("off")',
                'val offsets = Seq(0, 1).toDF("off")')]),
    dict(id="m10_q11_except_swap", query="q11_set_ops", gate="oracle",
         file="src/main/scala/graft/analytics/DaxMeasures.scala",
         desc="EXCEPT operands swapped: customers-lost becomes customers-gained",
         subs=[('one("except_95_96", a.except(b))',
                'one("except_95_96", b.except(a))')]),
    dict(id="m11_q12y_bm25_coeff", query="q12y_bm25_topk", gate="oracle",
         file="src/main/scala/graft/text/TfIdfQueries.scala",
         desc="BM25 rationalized numerator mis-derived: 22·tf·TL becomes 21·tf·TL",
         subs=[('THEN (idf_q6 * 22 * tf * tl)',
                'THEN (idf_q6 * 21 * tf * tl)'),
               ('ELSE (cast(idf_q6 as decimal(38,0)) * 22 * tf * tl)',
                'ELSE (cast(idf_q6 as decimal(38,0)) * 21 * tf * tl)')]),
    dict(id="m12_q13a_keep_max", query="q13a_exact_dedup", gate="oracle",
         file="src/main/scala/graft/text/DedupQueries.scala",
         desc="exact dedup keeps MAX doc_id (last copy) instead of min",
         subs=[('min($"doc_id").as("keep_doc_id")',
                'max($"doc_id").as("keep_doc_id")')]),
    dict(id="m13_q13c_self_pairs", query="q13c_minhash_lsh", gate="oracle",
         file="src/main/scala/graft/text/DedupQueries.scala",
         desc="LSH pair explode off by one: each doc pairs with itself",
         subs=[("""s\"\"\"flatten(transform(ms, (a, i) ->
               |  transform(slice(ms, i + 2, size(ms)),""",
                """s\"\"\"flatten(transform(ms, (a, i) ->
               |  transform(slice(ms, i + 1, size(ms)),""")]),
    dict(id="m14_q14b_drop_exact_probe", query="q14b_ann_lsh", gate="oracle",
         file="src/main/scala/graft/text/SimilarityQueries.scala",
         desc="multiprobe drops the exact-bucket probe (only Hamming-1 neighbors searched)",
         subs=[('val offsets = spark.range(-1, NumPlanes)',
                'val offsets = spark.range(0, NumPlanes)')]),
    dict(id="m15_q26c_log_base", query="q26c_entropy", gate="oracle",
         file="src/main/scala/graft/analytics/ProfileQueries.scala",
         desc="entropy computed in bits (log2) while the contract is nats (ln)",
         subs=[('round(-sum(floor(p * log(p) * 1e12 + 0.5).cast("long"))',
                'round(-sum(floor(p * log(2.0, p) * 1e12 + 0.5).cast("long"))')]),
    dict(id="m16_q15a_window_offset", query="q15a_event_kpis_tumbling",
         gate="oracle",
         file="src/main/scala/graft/streaming/EventKpis.scala",
         desc="tumbling windows misaligned by a 15-minute start offset",
         subs=[('.groupBy(window($"ts", "1 hour"), $"event_type")',
                '.groupBy(window($"ts", "1 hour", "1 hour", "15 minutes"), $"event_type")')]),
    dict(id="m17_q16c_copy_paste_dim", query="q16c_resize_plan", gate="oracle",
         file="src/main/scala/graft/multimodal/Multimodal.scala",
         desc="resize plan copy-paste: out_h computed from the width",
         subs=[('fit("w").as("out_w"), fit("h").as("out_h")',
                'fit("w").as("out_w"), fit("w").as("out_h")')]),
    dict(id="m18_q9k_stray_regularization", query="q9k_elasticity_lr",
         gate="verdict",
         file="src/main/scala/graft/analytics/MlQueries.scala",
         desc="L2 regularization left on the elasticity fit: slope shrinks off the closed form",
         subs=[('val model = lr.fit(assembled)',
                'val model = lr.setRegParam(0.1).fit(assembled)')]),
    dict(id="m19_q9d_median_as_tertile", query="q9d_segmentation_approx",
         gate="verdict",
         file="src/main/scala/graft/analytics/AnalyticsQueries.scala",
         desc="hi-tertile cut computed at the median (2/3 → 1/2)",
         subs=[('percentile_approx($"spend", lit(2.0 / 3), lit(10000)).as("spend_hi")',
                'percentile_approx($"spend", lit(0.5), lit(10000)).as("spend_hi")')]),
    # ---- r13 additions: one mutation per family the r12 set left
    # uncovered (q4 semi-join, q17 lakehouse, q18 warehouse, q19 geo,
    # q20 gap-fill, q21 top-k heap, q22 incremental, q24 funnel,
    # q25 basket, q27 smoothing, q28 RFM, q29 BPE) ----
    # NOTE: the first draft of this mutation (>= 3 distinct orders
    # tightened to > 3) SURVIVED — not an equivalent mutant but an
    # UNEXERCISED boundary: at sf0.01 every part that clears the
    # 0.3 return-rate gate ships in >= 15 distinct orders, so the
    # popularity cut never binds (DuckDB-checked; min qualifying
    # n_ord = 15). Replaced with a predicate inversion on the binding
    # gate; the unexercised boundary is ledgered in SURVEY §8.11 and
    # now spec-gated by m33 over BoundaryFixtureSpec's warehouse.
    dict(id="m20_q4a_returnflag_inverted", query="q4a_semi_join_chain",
         gate="oracle", file=AQ,
         desc="return-rate counts NON-returned lines (predicate inverted)",
         subs=[('.agg(count(when($"l_returnflag" === "R", 1)).as("n_ret"),',
                '.agg(count(when($"l_returnflag" =!= "R", 1)).as("n_ret"),')]),
    dict(id="m21_q18_key_bucketing", query="q18_warehouse_build",
         gate="oracle", file="src/main/scala/graft/etl/Warehouse.scala",
         desc="surrogate key space compacted mod 1000: collisions fan the fact join out",
         subs=[('.withColumn("customer_key", xxhash64($"customer_id", $"version"))',
                '.withColumn("customer_key", pmod(xxhash64($"customer_id", $"version"), lit(1000)))')]),
    dict(id="m22_q19b_jitter_multiplier", query="q19b_geo_gridjoin",
         gate="oracle", file="src/main/scala/graft/plans/GeoQueries.scala",
         desc="Spark-side lat jitter multiplier 31 -> 37: coordinates drift off the oracle's",
         subs=[('+ (pmod($"c_custkey" * 31, lit(97)) / 100.0 - 0.485)).as("lat")',
                '+ (pmod($"c_custkey" * 37, lit(97)) / 100.0 - 0.485)).as("lat")')]),
    dict(id="m23_q20e_interp_wrong_end", query="q20e_gapfill_interp",
         gate="oracle",
         file="src/main/scala/graft/queries/OlapExtras.scala",
         desc="linear interpolation weighted from the NEXT anchor instead of the previous",
         subs=[('.otherwise($"pv" + expr("((nv - pv) * (day_i - pd)) div (nd - pd)"))',
                '.otherwise($"pv" + expr("((nv - pv) * (nd - day_i)) div (nd - pd)"))')]),
    dict(id="m24_q21_heap_k_off_by_one", query="q21_topk_per_nation",
         gate="oracle",
         file="src/main/scala/graft/queries/OlapExtras.scala",
         desc="top-k heap sized 4 while the contract cut is 3",
         subs=[('    val top3 = graft.functions.TopK.topk(3)\n'
                '    rev',
                '    val top3 = graft.functions.TopK.topk(4)\n'
                '    rev')]),
    dict(id="m25_q22_merge_max", query="q22_incremental_agg",
         gate="oracle",
         file="src/main/scala/graft/queries/OlapExtras.scala",
         desc="state+delta count merge takes MAX instead of SUM",
         subs=[('.agg(sum($"n_orders").as("n_orders"),',
                '.agg(max($"n_orders").as("n_orders"),')]),
    # NOTE: the first draft of this mutation (chain s4 off s2,
    # skipping the click step) SURVIVED — an UNEXERCISED rewiring, not
    # a gate miss: the sf0.01 funnel is saturated (all 150 users carry
    # ~67 events spanning every type, so every chaining variant still
    # admits all 150 at every stage; DuckDB-checked). Replaced with a
    # min->max slip on the stage-1 anchor, which the data does
    # exercise (150/150/150/150 -> 150/79/36/19); ledgered in
    # SURVEY §8.11. The rewiring itself is now spec-gated by m34
    # over BoundaryFixtureSpec's non-saturated funnel.
    dict(id="m26_q24b_funnel_anchor_max", query="q24b_event_funnel",
         gate="oracle",
         file="src/main/scala/graft/analytics/BehaviorQueries.scala",
         desc="funnel anchored at the LAST signup instead of the first",
         subs=[('.groupBy($"user_id").agg(min($"ts").as("t"))',
                '.groupBy($"user_id").agg(max($"ts").as("t"))')]),
    dict(id="m27_q25_confidence_denominator", query="q25_basket_rules",
         gate="oracle",
         file="src/main/scala/graft/analytics/BasketQueries.scala",
         desc="confidence divided by the consequent count instead of the antecedent",
         subs=[('round($"n_ab".cast("double") / $"n_a", 6).as("confidence")',
                'round($"n_ab".cast("double") / $"n_b", 6).as("confidence")')]),
    dict(id="m28_q27_alpha_swap", query="q27_exp_smoothing",
         gate="oracle",
         file="src/main/scala/graft/queries/OlapExtras.scala",
         desc="EMA weights swapped: alpha applied to the carried state, not the new value",
         subs=[("'ema', 0.25D * x.rev + 0.75D * element_at(acc, -1).ema",
                "'ema', 0.75D * x.rev + 0.25D * element_at(acc, -1).ema")]),
    dict(id="m29_q28_recency_direction", query="q28_rfm_segments",
         gate="oracle",
         file="src/main/scala/graft/analytics/RfmQueries.scala",
         desc="recency quartile ranked descending: 1 = stalest customer",
         subs=[('struct(lit("r").as("kind"), $"recency_days".as("v"))',
                'struct(lit("r").as("kind"), (-$"recency_days").as("v"))')]),
    dict(id="m30_q29_bpe_rarest_pair", query="q29_bpe_train",
         gate="oracle",
         file="src/main/scala/graft/text/BpeQueries.scala",
         desc="BPE merge picks the RAREST pair each round (argmax direction slip)",
         subs=[('counts.minBy { case ((a, b), n) => (-n, a, b) }',
                'counts.minBy { case ((a, b), n) => (n, a, b) }')]),
    dict(id="m32_q23_probe_neighborhood", query="q23_proximity_join",
         gate="oracle",
         file="src/main/scala/graft/operators/RangeJoin.scala",
         desc="band-join probe spread drops the bin-1 neighbor: boundary-crossing pairs missed",
         subs=[('explode(array(Seq(-1, 0, 1).map(d =>',
                'explode(array(Seq(0, 1).map(d =>')]),
    dict(id="m31_q17e_skip_dim_mixup", query="q17e_skipping_audit",
         gate="oracle",
         file="src/main/scala/graft/sources/Sources.scala",
         desc="skip predicate copy-paste: day bands tested against quantity stats",
         subs=[('when($"dim" === "day", $"dmax" < $"lo" || $"dmin" >= $"hi")',
                'when($"dim" === "day", $"qmax" < $"lo" || $"qmin" >= $"hi")')]),
    # The two UNEXERCISED-at-sf0.01 first drafts from the r13 audit
    # (ledgered beside m07/m20/m26): real behavior changes the driver
    # replay can't see on its data shapes. gate="spec" replays them
    # against BoundaryFixtureSpec's hand-crafted boundary warehouse,
    # whose expectations are derived from the algebra, not an engine.
    dict(id="m33_q4a_popularity_cut", query="q4a_semi_join_chain",
         gate="spec", spec="graft.BoundaryFixtureSpec", file=AQ,
         desc="popularity cut >= 3 tightened to > 3: parts with exactly "
              "3 distinct orders silently drop",
         subs=[('.filter($"n_ord" >= 3 && $"ret_rate" > 0.3)',
                '.filter($"n_ord" > 3 && $"ret_rate" > 0.3)')]),
    dict(id="m34_q24b_stage_rewiring", query="q24b_event_funnel",
         gate="spec", spec="graft.BoundaryFixtureSpec",
         file="src/main/scala/graft/analytics/BehaviorQueries.scala",
         desc="funnel stage rewiring: click chained off signup instead "
              "of view — view-skippers count at click/purchase",
         subs=[('val s3 = nextStage(ev, s2, "click")',
                'val s3 = nextStage(ev, s1, "click")')]),
    dict(id="m35_q14c_argmin_cell", query="q14c_ann_ivf", gate="oracle",
         file="src/main/scala/graft/text/SimilarityQueries.scala",
         desc="IVF assignment fold inverted to argMIN cosine: every "
              "vector lands in its WORST cell (regression tripwire for "
              "the r13 SortAggregate-to-fold rewrite of assignCells)",
         subs=[('when(cs > acc.getField("bs"),',
                'when(cs < acc.getField("bs"),')]),
    # Tripwires for the r13 session-4 census rewrite of q13i's argmax
    # (max(struct) SortAggregate -> max_by over a packed decimal
    # ordering). m36 inverts the argmax orientation — kills on the
    # oracle hash (every >=2-member component flips canonical to the
    # shortest member). m37 flips the tie-break SLOT direction, which
    # the sf0.01 replay cannot see (measured zero len-tied components
    # there) — gated by CanonicalArgmaxSpec's crafted tie fixture,
    # the m33/m34 pattern.
    dict(id="m36_q13i_argmin_canonical", query="q13i_canonical_docs",
         gate="oracle",
         file="src/main/scala/graft/text/DedupQueries.scala",
         desc="canonical argmax inverted to min_by: every component "
              "keeps its SHORTEST member",
         subs=[('max_by($"doc_id", enc).as("canonical_doc_id")',
                'min_by($"doc_id", enc).as("canonical_doc_id")')]),
    dict(id="m37_q13i_tiebreak_slot", query="q13i_canonical_docs",
         gate="spec", spec="graft.CanonicalArgmaxSpec",
         file="src/main/scala/graft/text/DedupQueries.scala",
         desc="decimal id-slot direction flipped (2^63-1 - doc_id -> "
              "+ doc_id): len ties break to the LARGEST doc_id",
         subs=[('val enc =\n'
                '      coalesce($"len", lit(-1L)) * idSlotBase'
                ' + (maxLong - $"doc_id")',
                'val enc =\n'
                '      coalesce($"len", lit(-1L)) * idSlotBase'
                ' + (maxLong + $"doc_id")')]),
    # The exact regression the r13 session-4 degenerate-audit re-run
    # caught live: the k-means assign fold seeded with a -1 sentinel
    # instead of the smallest cell, so all-null vectors vanished from
    # the per-cell counts (clean sf0.01 data can't see it — null
    # embeddings only exist in the dirty fixtures).
    dict(id="m38_q14h_null_sentinel", query="q14h_kmeans_step",
         gate="spec", spec="graft.KMeansSpec",
         file="src/main/scala/graft/text/KMeansQueries.scala",
         desc="assign fold seed reverted to the -1 sentinel: null-code "
              "vectors drop out of every cell count",
         subs=[('coalesce(get($"cents", lit(0)).getField("cell"), lit(-1))\n'
                '          .as("cell")',
                'lit(-1).as("cell")')]),
    dict(id="m39_q14h_mean_denominator", query="q14h_kmeans_step",
         gate="spec", spec="graft.KMeansSpec",
         file="src/main/scala/graft/text/KMeansQueries.scala",
         desc="centroid-mean explode drops null codes: the mean's "
              "denominator excludes null members, shifting every "
              "mixed null/valid cell (the twin's UNNEST counts them)",
         subs=[('posexplode(coalesce($"cs",\n'
                '        array_repeat(lit(null).cast("long"), Dim)))',
                'posexplode($"cs")')]),
    # The exact pre-fix state the r14 `heavy` fixture exhibited live
    # (SURVEY §8.12): without the null-quantity exclusion, the null
    # cell's weight rides the cumulative window nulls-FIRST under
    # Spark but nulls-LAST under DuckDB, shifting every real cell's
    # 2*cw >= tw pick. Clean sf0.01 data has no null quantities, so
    # the driver replay cannot see it — gated by WeightedMedianSpec's
    # hand-derived expectation on the heavy warehouse (median 2,
    # tw 3000, 3 cells; the mutant reads median 1, tw 13000, 4 cells).
    dict(id="m40_q9q_null_cell_rides", query="q9q_weighted_median",
         gate="spec", spec="graft.WeightedMedianSpec",
         file="src/main/scala/graft/queries/OlapExtras.scala",
         desc="q9q null-quantity exclusion dropped: the heavy null "
              "cell's weight shifts the cumulative 2*cw >= tw pick",
         subs=[('      .filter($"l_quantity".isNotNull)\n'
                '      .groupBy($"l_returnflag", $"l_linestatus",',
                '      .groupBy($"l_returnflag", $"l_linestatus",')]),
    # The exact pre-fix state the r15 `heavyprice` fixture exhibited
    # live (monetary axis of the q9q class): without the null-price
    # exclusion the NULL value cell rides q9u's lower-median walks
    # nulls-FIRST under Spark vs nulls-LAST under DuckDB. Clean
    # sf0.01 data has no null o_totalprice, so the driver replay
    # cannot see it — gated by MadOutliersSpec's hand-derived
    # heavyprice expectation (n_rows 4; the mutant counts the null
    # row and reads 5).
    dict(id="m41_q9u_null_price_cell", query="q9u_mad_outliers",
         gate="spec", spec="graft.MadOutliersSpec",
         file="src/main/scala/graft/queries/OlapExtras.scala",
         desc="q9u null-price exclusion dropped: the NULL value cell "
              "shifts every lower-median cumulative pick engine-"
              "asymmetrically and rides n_rows",
         subs=[('      .filter($"o_totalprice".isNotNull)\n'
                '      .join(t.customer, $"o_custkey" === $"c_custkey")',
                '      .join(t.customer, $"o_custkey" === $"c_custkey")')]),
    # The exact pre-fix state the r15 `heavytie` linked star exhibited
    # live: with the Spark asc default (nulls FIRST) a revenue tie
    # between a NULL-name and a named nation ranks the nameless group
    # first, while the DuckDB twin's nulls-last default ranks it last.
    # Clean sf0.01 has no null names — gated by HeavyTieSpec's
    # hand-derived tie ranks.
    dict(id="m42_q9f_tiebreak_nulls_first", query="q9f_revenue_share",
         gate="spec", spec="graft.HeavyTieSpec",
         file="src/main/scala/graft/analytics/AnalyticsQueries.scala",
         desc="q9f tiebreak NULLS LAST pin dropped: a tied NULL-name "
              "nation ranks first under Spark, last under DuckDB",
         subs=[('rank().over(Window.orderBy($"revenue".desc, $"n_name".asc_nulls_last))',
                'rank().over(Window.orderBy($"revenue".desc, $"n_name"))')]),
    # The exact pre-fix state of q9o's rank-check rejoin: a plain
    # equi-join on the group key cannot match a NULL n_name group back
    # to its own stats row, so Spark silently drops the whole group
    # while the twin's direct GROUP BY keeps it. Clean sf0.01 has no
    # null names — gated by HeavyTieSpec (the mutant emits 2 rows
    # instead of 3).
    dict(id="m43_q9o_nullsafe_rejoin", query="q9o_grouped_quantiles",
         gate="spec", spec="graft.HeavyTieSpec",
         file="src/main/scala/graft/analytics/AnalyticsQueries.scala",
         desc="q9o group-key rejoin made null-UNSAFE: the NULL-name "
              "group's quantile row vanishes on the Spark side only",
         subs=[('    val checked = cust.join(broadcast(stats.withColumnRenamed("n_name", "__sn")),\n'
                '        $"n_name" <=> $"__sn")\n'
                '      .drop("__sn")\n'
                '      .groupBy($"n_name")',
                '    val checked = cust.join(broadcast(stats), Seq("n_name"))\n'
                '      .groupBy($"n_name")')]),
    # The r15 linkedmixed catch, RETOOLED in r16: the original sub
    # (drop q21's null-revenue filter) became an EQUIVALENT mutant
    # when the TopKAggregator itself was hardened to ignore null
    # scores (boxed-input encoder) — with either defense alone the
    # output is identical, which is exactly what defense-in-depth
    # means. The pin therefore moved to the OPERATOR branch: restore
    # the pre-fix NULL→0.0 coercion semantics inside reduce. q21's
    # call-site filter stays (convention statement + cheaper plan),
    # so the query-level gate is the linkedmixed shape replay; the
    # operator gate is TopKSpec's null-input case (an all-null group
    # must finish EMPTY, and the mutant emits a 0.0 row for it).
    dict(id="m44_q21_null_revenue_heap", query="q21_topk_per_nation",
         gate="spec", spec="graft.TopKSpec",
         file="src/main/scala/graft/functions/TopK.scala",
         desc="TopKAggregator null-ignore branch dropped: a NULL "
              "score re-enters the heap as 0.0 ('no data' ranks as "
              "'zero')",
         subs=[('      if (e._1 == null) b else push(b, (e._1.doubleValue, e._2))',
                '      push(b, (if (e._1 == null) 0.0 else e._1.doubleValue, e._2))')]),
    # Engine-side sibling of the q26c twin fix (the twin's null-safe
    # rejoin is ratcheted by the linkedmixed replay in the degenerate
    # audit): a plausible "clean up null segments" filter drops the
    # NULL-segment group the profile must keep.
    dict(id="m45_q26c_drop_null_seg", query="q26c_entropy",
         gate="spec", spec="graft.LinkedMixedSpec",
         file="src/main/scala/graft/analytics/ProfileQueries.scala",
         desc="q26c drops the NULL-segment group before the entropy "
              "profile: 2 rows instead of 3",
         subs=[('      .groupBy($"c_mktsegment".as("seg"), $"o_orderpriority".as("cat"))',
                '      .filter($"c_mktsegment".isNotNull)\n'
                '      .groupBy($"c_mktsegment".as("seg"), $"o_orderpriority".as("cat"))')]),
    dict(id="m46_q26d_drop_null_seg", query="q26d_psi_drift",
         gate="spec", spec="graft.LinkedMixedSpec",
         file="src/main/scala/graft/analytics/ProfileQueries.scala",
         desc="q26d drops the NULL-segment group before the PSI "
              "profile: 2 rows instead of 3",
         subs=[('      .groupBy($"seg", $"cat")',
                '      .filter($"seg".isNotNull)\n'
                '      .groupBy($"seg", $"cat")')]),
    # The exact pre-fix state the r16 `linkedseq` fixture exhibited
    # live: without the right-side NULL-ts drop, the null-ts click
    # rides Spark's nulls-first window order to the partition head and
    # becomes the 10:00 purchase's "latest preceding" carry
    # ('click_older') while DuckDB's native ASOF can never match a
    # NULL ts ('organic'). Operator-level fix, so q15f/q15h inherit.
    # Clean sf0.01 has no null event timestamps — gated by
    # LinkedSeqSpec (and AsofJoinSpec's unit pin).
    dict(id="m47_asof_null_ts_carry", query="q24d_attribution",
         gate="spec", spec="graft.LinkedSeqSpec",
         file="src/main/scala/graft/operators/AsofJoin.scala",
         desc="AsofJoin right-side NULL-ts drop removed: a null-ts "
              "click becomes every early purchase's backward carry",
         subs=[('      val base = right.filter(col(tsCol).isNotNull).select(',
                '      val base = right.select(')]),
    # The exact pre-fix state of q25c on linkedseq: the undateable
    # order ranks FIRST in Spark's per-customer sequence (asc =
    # nulls-first) and LAST in DuckDB's, shifting every transition
    # pair in that customer's chain. Clean sf0.01 has no null order
    # dates — gated by LinkedSeqSpec's hand-derived transitions.
    dict(id="m48_q25c_null_date_seq", query="q25c_next_item",
         gate="spec", spec="graft.LinkedSeqSpec",
         file="src/main/scala/graft/analytics/BasketQueries.scala",
         desc="q25c null-date exclusion dropped: the undateable order "
              "re-enters the next-item sequence engine-asymmetrically",
         subs=[('    val seq = t.orders\n'
                '      .filter($"o_orderdate".isNotNull)\n'
                '      .select($"o_custkey", $"o_orderkey",',
                '    val seq = t.orders\n'
                '      .select($"o_custkey", $"o_orderkey",')]),
    # The exact pre-fix state of q27 on linkedseq: the NULL-month
    # bucket sorts FIRST inside array_sort's struct ordering (an
    # EXPRESSION-level sort the NullOrderCensus cannot see) and SEEDS
    # the EMA recurrence, while DuckDB's ROW_NUMBER ranks it last.
    # q27b shares the convention via its own filter (same class, one
    # engine-side pin suffices — the shape replay ratchets both).
    dict(id="m49_q27_null_month_seed", query="q27_exp_smoothing",
         gate="spec", spec="graft.LinkedSeqSpec",
         file="src/main/scala/graft/queries/OlapExtras.scala",
         desc="q27 null-month exclusion dropped: the NULL-mon bucket "
              "seeds the EMA chain on the Spark side only",
         subs=[('      val monthly = t.orders\n'
                '        .filter($"o_orderdate".isNotNull)\n'
                '        .join(t.customer, $"o_custkey" === $"c_custkey")',
                '      val monthly = t.orders\n'
                '        .join(t.customer, $"o_custkey" === $"c_custkey")')]),
    # Engine-side sibling of the q15d TWIN boundary fix (>= → >, the
    # r16 linkedseq exact-gap catch; twin edits can't be mutated —
    # this pins the same boundary class on q15c's engine side, where
    # both engines use strict >): flipping the island test to >= splits
    # the exact-30-min pair into two sessions on the Spark side only.
    # Clean sf0.01 micros-grain timestamps never produce an exact-gap
    # pair — gated by LinkedSeqSpec's hand-derived session counts.
    dict(id="m50_q15c_gap_boundary", query="q15c_sessionization",
         gate="spec", spec="graft.LinkedSeqSpec",
         file="src/main/scala/graft/streaming/EventKpis.scala",
         desc="q15c island boundary widened to >=: an exact-gap event "
              "opens a new session on the Spark side only",
         subs=[('usec($"ts") - usec(lag($"ts", 1).over(w)) > 1800000000L',
                'usec($"ts") - usec(lag($"ts", 1).over(w)) >= 1800000000L')]),
    # Gates the r16 census RATCHET itself (PlanAuditSpec's triaged
    # nulls-first allowlist): a plausible polarity slip blinds the
    # shared collector to nullable children — every triaged entry
    # goes stale AND the non-nullable nulls-first sites it now flags
    # are untriaged, so the ratchet trips in both directions. Proves
    # a future query with an untriaged ordering site cannot pass.
    dict(id="m51_census_blinded", query="q9f_revenue_share",
         gate="spec", spec="graft.PlanAuditSpec",
         file="src/main/scala/graft/NullOrderCensus.scala",
         desc="null-order census collector polarity flipped: nullable "
              "ordering sites become invisible to the ratchet",
         subs=[('        case so if so.nullOrdering == NullsFirst && so.child.nullable =>',
                '        case so if so.nullOrdering == NullsFirst && !so.child.nullable =>')]),
    # PrefixSum.scan's internal sort (behind both PrefixSum and
    # DistributedRank) takes whatever order its caller passes, so the
    # scan normalizes its null ordering to NULLS LAST
    # (DuckDB's default) at the ColumnNode level — one call guards
    # both operators. A plausible "preserve the caller's ordering"
    # slip restores Spark's nulls-first asc default — a nullable ASC
    # order value then ranks FIRST on the Spark side only. Clean
    # sf0.01 never feeds the operators a null ordering value — gated
    # by DistributedRankSpec's null-rank pin (and PrefixSumSpec's
    # prefix pin of the same class).
    dict(id="m52_rank_nulls_first", query="q3a_rank_ntile_dist",
         gate="spec", spec="graft.DistributedRankSpec",
         file="src/main/scala/org/apache/spark/sql/GraftColumnBridge.scala",
         desc="rank/prefix NULLS LAST normalization dropped for sort "
              "columns: a nullable ASC order ranks nulls first, "
              "engine-asymmetrically",
         subs=[('      Column(so.copy(nullOrdering = internal.SortOrder.NullsLast))',
                '      Column(so)')]),
    # r17 `boundary` fixture catch: approx_count_distinct's error has
    # an ABSOLUTE floor (integer estimate + register-collision bias)
    # that the old relative-only 5% verdict band cannot cover — 12
    # distinct doubles estimate as 11 and the engine's sketch_ok read
    # False while the oracle said TRUE. Removing the +2 absolute term
    # restores the rel-only band; clean sf0.01 cardinalities never sit
    # in the violating range, so the gate is ProfileSpec's pinned
    # 12-double case (and the committed boundary shape's replay).
    dict(id="m53_sketch_rel_only", query="q26a_profile",
         gate="spec", spec="graft.ProfileSpec",
         file="src/main/scala/graft/analytics/ProfileQueries.scala",
         desc="sketch verdict absolute term dropped: HLL small-n "
              "off-by-one reads as sketch failure, boundary-shape "
              "twin diverges",
         subs=[("          col(s\"${f.name}__nd\") * 0.05 + 2).as(\"sketch_ok\"),",
                "          col(s\"${f.name}__nd\") * 0.05).as(\"sketch_ok\"),")]),
    # Stateful sibling of m50 (session-boundary class, r17): the
    # flatMapGroupsWithState walk splits on STRICT `>` so an event
    # landing exactly GapMicros after the stored session's end MERGES
    # — the same merge-on-touch contract session_window and the
    # corrected islands twins implement. The plausible `>=` slip
    # splits on touch; clean event data never lands on the exact
    # micro boundary, so the gate is StreamingSpec's exact-gap pin.
    dict(id="m54_session_touch_splits", query="q15c_sessionization",
         gate="spec", spec="graft.StreamingSpec",
         file="src/main/scala/graft/streaming/Sessionize.scala",
         desc="stateful sessionizer splits on touch (>= for >): an "
              "exact-gap event opens a new session, diverging from "
              "session_window and the islands twins",
         subs=[('                case Some(c) if s.start_us - c.last_us > GapMicros =>',
                '                case Some(c) if s.start_us - c.last_us >= GapMicros =>')]),
    # q19's bbox prefilter is composed in Geo.withinRadiusKm; a box
    # tighter than r/KmPerDegLat loses pairs the oracle's plain
    # haversine keeps.
    dict(id="m55_q19_bbox_halved", query="q19_geo_radius",
         gate="oracle", file="src/main/scala/graft/functions/Geo.scala",
         desc="radius bbox halved: the latitude prefilter drops in-radius pairs the haversine keeps",
         subs=[('abs(lat1 - lat2) <= radiusKm / KmPerDegLat',
                'abs(lat1 - lat2) <= radiusKm / (2 * KmPerDegLat)')]),
    dict(id="m56_q28_frequency_ascending", query="q28_rfm_segments",
         gate="oracle",
         file="src/main/scala/graft/analytics/RfmQueries.scala",
         desc="frequency quartile ranked ascending: 1 = rarest buyer",
         subs=[('struct(lit("f").as("kind"), (-$"frequency").as("v"))',
                'struct(lit("f").as("kind"), $"frequency".as("v"))')]),
    # No sf0.01 training doc shares >= 0.3 of its shingles with the
    # holdout (the largest share is 0.11), so the oracle replay cannot
    # see q12k's contamination gate and this mutant passes it. The
    # spec gate replays it against CurationSpec's crafted corpus, which
    # holds a doc at exactly 0.3.
    dict(id="m57_q12k_every_gram_a_shingle", query="q12k_curation_pipeline",
         gate="spec", spec="graft.CurationSpec",
         file="src/main/scala/graft/text/CurationQueries.scala",
         desc="contamination denominator counts tokens and 2-grams as shingles",
         subs=[('sum(when(sh, 1L)).as("n_shingles")',
                'count(lit(1)).as("n_shingles")')]),
    # Key drift between a fact's lookup and its dim: fact_order_lines
    # re-hashes its customer lookup with version 2 while every dim row
    # is version 1, so no fact key names a dim member and q18's
    # surrogate join back to the segment loses every line.
    dict(id="m58_fact_lookup_version_drift", query="q18_warehouse_build",
         gate="oracle", file="src/main/scala/graft/etl/Warehouse.scala",
         desc="fact_order_lines hashes its customer lookup with version 2: "
              "its keys drift off dim_customer's",
         subs=[('    val cust = customers(t).select($"customer_id", $"customer_key")\n'
                '    val prod',
                '    val cust = customers(t).select($"customer_id",\n'
                '      xxhash64($"customer_id", lit(2)).as("customer_key"))\n'
                '    val prod')]),
    # q13g's threshold edge: no sf0.01 doc overlaps the holdout by 0.3
    # or more, so the oracle replay cannot see a strict `>`; the
    # crafted corpus of CurationSpec holds a doc at exactly 0.3.
    dict(id="m59_q13g_strict_threshold", query="q13g_contamination",
         gate="spec", spec="graft.CurationSpec",
         file="src/main/scala/graft/text/CurationQueries.scala",
         desc="contamination flag tightened from >= 0.3 to > 0.3: an "
              "overlap of exactly 0.3 passes as clean",
         subs=[('frac.as("overlap_frac"), (frac >= 0.3).as("contaminated"))',
                'frac.as("overlap_frac"), (frac > 0.3).as("contaminated"))')]),
]

OPENS = " ".join(
    f"--add-opens java.base/{p}=ALL-UNNAMED" for p in
    ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
     "java.net", "java.nio", "java.util", "java.util.concurrent",
     "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
     "sun.security.action", "sun.util.calendar"])


def sh(cmd, **kw):
    return subprocess.run(cmd, shell=True, cwd=REPO,
                          capture_output=True, text=True, **kw)


def read(path):
    with open(os.path.join(REPO, path), encoding="utf-8") as f:
        return f.read()


def write(path, content):
    with open(os.path.join(REPO, path), "w", encoding="utf-8") as f:
        f.write(content)


def apply_subs(m):
    src = read(m["file"])
    for old, new in m["subs"]:
        n = src.count(old)
        if n != 1:
            raise RuntimeError(
                f"{m['id']}: old-string occurs {n}× in {m['file']} "
                f"(need exactly 1): {old[:60]!r}")
        src = src.replace(old, new)
    write(m["file"], src)


def compile_ok(task="compile"):
    r = sh(f"sbt -batch {task}")
    return r.returncode == 0 and "[success]" in r.stdout


def spec_gate_red(spec_suite):
    """True iff the named ScalaTest suite FAILS (sbt exits nonzero).
    Used for boundary mutations the sf0.01 driver replay cannot see;
    the suite's expectations are hand-derived, engine-independent.
    Caller has already verified the mutated tree compiles, so a
    nonzero exit is a test failure, not a build error."""
    r = sh(f'sbt -batch "testOnly {spec_suite}"')
    if r.returncode == 0:
        return False, f"{spec_suite} green (gate did not bite)"
    fails = [ln.strip() for ln in r.stdout.splitlines()
             if "*** FAILED ***" in ln]
    return True, (fails[0] if fails else f"{spec_suite} exit "
                  f"{r.returncode}")[:140]


def run_verify(query, out_dir):
    """Dump one query. Verify logs a failed query and exits 0, so a
    failed dump is reported here as a nonzero return code."""
    sh(f"rm -rf {out_dir}")
    r = sh(f"java {OPENS} -Xmx8g "
           f"-cp target/scala-2.13/classes:/opt/spark/jars/* "
           f"graft.Verify {SF_DIR} {out_dir} {query}")
    if f"[verify] {query} failed" in r.stderr:
        r.returncode = r.returncode or 1
    return r


def oracle_gate_red(query, out_dir):
    """True iff the DuckDB value-compare FAILS on the dumped result.
    out_dir is emptied per mutation, so the oracle map Verify wrote
    holds exactly this query."""
    with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as f:
        if query not in json.load(f):
            raise RuntimeError(f"{query}: Verify dumped no oracle SQL")
    r = sh(f"python3 tools/check_oracle.py {SF_DIR} {out_dir}")
    if f"PASS {query}" in r.stdout:
        return False, "oracle PASS (gate green)"
    for line in r.stdout.splitlines():
        if line.startswith(f"FAIL {query}"):
            return True, line[:140]
    raise RuntimeError(f"{query}: no PASS/FAIL verdict from check_oracle: "
                       f"{r.stdout[-300:]} {r.stderr[-300:]}")


def verdict_gate_red(query, out_dir):
    """True iff any boolean verdict column of the dump contains false."""
    import glob

    import pandas as pd
    files = glob.glob(os.path.join(out_dir, query, "*.parquet"))
    if not files:
        raise RuntimeError(f"{query}: no parquet dump")
    df = pd.concat([pd.read_parquet(f) for f in files])
    bool_cols = [c for c in df.columns if df[c].dtype == bool]
    if not bool_cols:
        raise RuntimeError(f"{query}: no boolean verdict columns in dump")
    falses = {c: int((~df[c]).sum()) for c in bool_cols if not df[c].all()}
    if falses:
        return True, f"verdict false: {falses}"
    return False, f"all verdicts true across {bool_cols} (gate green)"


def main(argv):
    validate_only = "--validate" in argv
    ids = [a for a in argv if not a.startswith("--")]
    todo = [m for m in MUTATIONS if not ids or m["id"] in ids]
    unknown = set(ids) - {m["id"] for m in MUTATIONS}
    if unknown:
        print(f"unknown mutation ids: {sorted(unknown)}")
        return 2

    files = sorted({m["file"] for m in todo})
    dirty = sh("git diff --quiet -- " + " ".join(files))
    if dirty.returncode != 0:
        print("** mutated files have uncommitted changes; commit or stash first")
        return 2

    if validate_only:
        for m in todo:
            src = read(m["file"])
            for old, _ in m["subs"]:
                n = src.count(old)
                tag = "ok" if n == 1 else f"** {n} occurrences"
                print(f"{m['id']}: {tag}")
                if n != 1:
                    return 1
        print(f"== spec valid: {len(todo)} mutations, every old-string unique ==")
        return 0

    pristine = {f: read(f) for f in files}
    sha = {f: hashlib.sha256(pristine[f].encode()).hexdigest() for f in files}
    os.makedirs(OUT_ROOT, exist_ok=True)
    ledger = []
    rc = 0
    try:
        for m in todo:
            out_dir = os.path.join(OUT_ROOT, m["id"])
            print(f"== {m['id']} [{m['query']}]: {m['desc']}")
            entry = dict(id=m["id"], query=m["query"], gate=m["gate"],
                         desc=m["desc"])
            try:
                apply_subs(m)
                if not compile_ok(
                        "Test/compile" if m["gate"] == "spec" else "compile"):
                    entry["status"] = "TOOL_ERROR"
                    entry["detail"] = "mutated source failed to compile"
                    rc = 1
                elif m["gate"] == "spec":
                    red, detail = spec_gate_red(m["spec"])
                    entry["status"] = "KILLED" if red else "SURVIVED"
                    entry["detail"] = detail
                    if not red:
                        rc = 1
                else:
                    r = run_verify(m["query"], out_dir)
                    if r.returncode != 0:
                        entry["status"] = "KILLED_CRASH"
                        tail = (r.stderr or r.stdout).strip().splitlines()
                        entry["detail"] = (tail[-1] if tail else "")[:140]
                    else:
                        red, detail = (
                            oracle_gate_red(m["query"], out_dir)
                            if m["gate"] == "oracle"
                            else verdict_gate_red(m["query"], out_dir))
                        entry["status"] = "KILLED" if red else "SURVIVED"
                        entry["detail"] = detail
                        if not red:
                            rc = 1
            except Exception as e:  # spec drift, missing dump, …
                entry["status"] = "TOOL_ERROR"
                entry["detail"] = f"{type(e).__name__}: {e}"[:200]
                rc = 1
            finally:
                write(m["file"], pristine[m["file"]])
                got = hashlib.sha256(read(m["file"]).encode()).hexdigest()
                if got != sha[m["file"]]:
                    print(f"** {m['file']}: restore mismatch — ABORTING")
                    return 3
            print(f"   -> {entry['status']}: {entry['detail']}")
            ledger.append(entry)
    finally:
        for f in files:
            write(f, pristine[f])
        print("== final recompile (restored sources) ==")
        if not compile_ok():
            print("** final recompile failed")
            rc = 3
    with open(os.path.join(OUT_ROOT, "ledger.json"), "w") as f:
        json.dump(ledger, f, indent=1)
    killed = sum(1 for e in ledger if e["status"].startswith("KILLED"))
    crash = sum(1 for e in ledger if e["status"] == "KILLED_CRASH")
    survived = [e["id"] for e in ledger if e["status"] == "SURVIVED"]
    errors = [e["id"] for e in ledger if e["status"] == "TOOL_ERROR"]
    print(f"== mutation audit: {killed}/{len(ledger)} killed "
          f"({crash} by crash) ==")
    if survived:
        print(f"** SURVIVED (gate did not bite): {survived}")
    if errors:
        print(f"** TOOL ERRORS: {errors}")
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
