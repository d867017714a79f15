#!/usr/bin/env bash
# End-to-end CLI smoke: drives the graft.cli.Main surface against a
# reference-shaped DSV fixture (annotate -> run -> profile) and the
# driver test corpus (score -> curate -> shard). hdf2parquet is covered
# by q26 + Hdf5 specs (its fixture needs the test-scope writer). Exits
# non-zero on the first failure. ~3 min on a warm sbt.
#
#   scripts/smoke_cli.sh [SF_DIR]     # default /root/testdata/sf0.001
set -euo pipefail
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.001}
WORK=$(mktemp -d /tmp/graft_cli_smoke.XXXX)
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8}
run() { echo "== $*"; sbt -batch "runMain graft.cli.Main $*" | grep -E '^\[info\] [^l]' | tail -2; }

# 1. reference-shaped DSV dataset (the AnnotatorSpec fixture, on disk)
mkdir -p "$WORK/data/mageck/count/combined"
printf 'sgRNA\tGene\tsampleA\tsampleB\ns1\tBRCA1\t10\t20\ns2\tTP53\t30\t40\n' \
  > "$WORK/data/mageck/count/combined/counts.txt"
# the two files of the [GENE] group spell their header differently
for g in BRCA1 TP53; do
  mkdir -p "$WORK/data/mageck/$g"
  header='sgrna\tscore'; [ "$g" = TP53 ] && header='SGRNA\tSCORE'
  printf "$header"'\ns1\t0.5\ns2\t0.9\n' \
    > "$WORK/data/mageck/$g/rra.sgrna_summary.txt"
done
cat > "$WORK/config.json" <<'EOF'
{"variable_files": [{"pattern": "data/mageck/[GENE]/rra.sgrna_summary.txt",
   "name": "sgRNA Summary",
   "tokens": [{"token": "[GENE]", "name": "gene", "desc": "target"}]}],
 "variable_columns": [{"columns": ["sampleA", "sampleB"],
   "name": "sample", "value_name": "reads"}]}
EOF
cat > "$WORK/fields.json" <<'EOF'
[{"col":"sgrna","name":"sgRNA","desc":"guide id"},
 {"col":"gene","name":"Gene","desc":"target gene"}]
EOF

# 2. the reference flow: annotate (compile manifest) -> run (execute it)
run annotate --input "$WORK" --config "$WORK/config.json" \
  --fields "$WORK/fields.json" --out "$WORK/manifest.json"
# --data-dir IS the dataset root the manifest's `data/...` sources are
# anchored to (the reference's $data_directory), not its parent
# under a process umask of 077: output modes come from Hadoop's umask
# (fs.permissions.umask-mode, default 022) applied by the file system
(umask 077; run run --manifest "$WORK/manifest.json" \
  --data-dir "$WORK/data" --out "$WORK/parquet_out")
test -n "$(find "$WORK/parquet_out" -name '*.parquet' | head -1)"
file_modes=$(find "$WORK/parquet_out" -type f -exec stat -c %a {} + | sort -u)
dir_modes=$(find "$WORK/parquet_out" -type d -exec stat -c %a {} + | sort -u)
if [ "$file_modes" != 644 ] || [ "$dir_modes" != 755 ]; then
  echo "run output modes: files $file_modes, directories $dir_modes" \
    "(want 644 and 755)"
  exit 1
fi

# each file's own header line is dropped before types are inferred
score_type=$(python3 -c 'import sys, pyarrow.parquet as pq
print(pq.read_schema(sys.argv[1]).field("score").type)' \
  "$(find "$WORK/parquet_out/rra.sgrna_summary.parquet" -type f -name '*.parquet' | head -1)")
if [ "$score_type" != double ]; then
  echo "run output: score is $score_type (want double)"
  exit 1
fi

# 3. profile the executed output (targets are named after the source file)
run profile --input "$WORK/parquet_out/rra.sgrna_summary.parquet"

# 4. the training-data release flow over the driver corpus
run score --input "$SF/documents.parquet" --out "$WORK/scored"
run curate --input "$SF/documents.parquet" --out "$WORK/curated" \
  --strata-col lang --rates en=0.5 --default-rate 0.5
run shard --input "$WORK/curated" --out "$WORK/shards" --budget 5000
test -n "$(find "$WORK/shards" -name 'shard=*' | head -1)"

# 5. round-4 stages: structural clean, version diff, training order
run clean --input "$SF/documents.parquet" --out "$WORK/cleaned" \
  --mode boilerplate --min-docs 10
run diff --old "$SF/documents.parquet" --new "$WORK/curated" \
  --key doc_id --cols lang,source --out "$WORK/diffed"
run trainorder --input "$WORK/curated" --out "$WORK/ordered" --shards 4
test -n "$(find "$WORK/ordered" -name 'shard=*' | head -1)"

# 6. table-log lifecycle: append -> WAP branch -> publish -> tag ->
#    orphan reclamation (branch-delete leaves unpublished dirs orphaned)
T="$WORK/table"
run table append --table "$T" --input "$SF/region.parquet" \
  --not-null r_regionkey
run table branch --table "$T" --name stage
run table branch-append --table "$T" --name stage \
  --input "$SF/nation.parquet"
run table branch-read --table "$T" --name stage --out "$WORK/branch_read"
run table publish --table "$T" --name stage
run table branch-delete --table "$T" --name stage
run table tag --table "$T" --name release-1
run table tags --table "$T"
run table orphans --table "$T" --grace-ms 0
run table vacuum-orphans --table "$T" --grace-ms 0
run table history --table "$T"
run table read --table "$T" --out "$WORK/table_read" --resolved true
test -n "$(find "$WORK/table_read" -name '*.parquet' | head -1)"

echo "CLI smoke OK ($WORK)"
