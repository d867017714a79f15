#!/usr/bin/env bash
# sf1 value check (round-7 verdict ask #5): run the sf1 bench tier's
# queries through Verify at the synthesized 10x scale and compare
# against the DuckDB oracle on the same tables -> CORRECTNESS_sf1.json.
# Queries whose oracles are exhaustively pairwise (quadratic in DuckDB,
# 15+ min EACH at sf0.1) fall back to a rows-only check, recorded as
# such. Usage: scripts/check_sf1.sh [comma-separated query list]
set -euo pipefail
cd "$(dirname "$0")/.."

SF1_DIR=${SF1_DIR:-benchdata/sf1}
OUT=${OUT:-/tmp/graft_out_sf1}
# default list = the r8 sf1 bench tier (top-50 by sf0.1 min, BENCH_LOCAL_r8)
QS=${1:-q109_sparse_cosine,q110_winsorize,q13_minhash_neardup,q158_triangles,q159_kcore,q161_assoc_rules,q172_adamic_adar,q176_cc_star,q177_stream_outer_join,q181_late_data,q201_random_walks,q208_lsh_eval,q209_twohop_kmv,q229_rank1_als,q232_bradley_terry,q236_freq_triples,q246_mrmr,q249_hits,q252_textrank,q255_item_cf,q258_second_eigen,q261_ppr,q262_bfs,q278_copula_grid,q296_bowtie,q309_jaccard_linkpred,q310_rich_club,q311_component_census,q325_canonical_dedup,q328_leakage_split,q349_modularity,q350_onion_layers,q351_graph_diff,q352_reach_census,q354_dedup_roi,q355_ppl_gate_sweep,q370_kendalls_w,q387_wl_refinement,q38_simhash_neardup,q391_percolation,q425_txlog_delete,q436_dup_pairs,q426_txlog_replace,q427_txlog_bloom,q429_txlog_cluster,q432_txlog_clone,q44_curation,q46_hybrid_neardup,q53_dup_components,q60_stream_join,q77_pagerank,q92_containment}
# exhaustive-pairwise oracles: quadratic in DuckDB -> rows-only at sf1
SKIP=q436_dup_pairs,q13_minhash_neardup,q38_simhash_neardup,q44_curation,q46_hybrid_neardup,q53_dup_components,q92_containment,q83_span_dedup,q176_cc_star,q179_incremental_neardup,q272_prefix_filter_join,q325_canonical_dedup,q328_leakage_split

SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
  sbt -batch "runMain graft.Verify $SF1_DIR $OUT $QS"
python3 scripts/check_sf1_run.py "$SF1_DIR" "$OUT" "$SKIP" "$QS" \
  "${ORACLE_TIMEOUT:-300}"
