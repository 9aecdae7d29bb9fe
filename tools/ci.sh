#!/usr/bin/env bash
# Full local gate: static source checks, compile + specs, oracle-verify
# at all three scale factors, then one perfbench run per workload that
# must come back correct with no failed operation.
set -euo pipefail
cd "$(dirname "$0")/.."

# JSON control files are decoded by the typed codec only
# (src/main/scala/graft/ControlFiles.scala): a hand-rolled
# `"<field>"\s*:` regex anywhere else in the engine fails the gate
if grep -rnE '"\\{1,2}s\*:' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/ControlFiles.scala:'; then
  echo "ci: JSON-field regex outside ControlFiles.scala (decode through the codec)" >&2
  exit 1
fi

# which files a lake state holds is decided in one place: in Lake.scala
# only the resolver (recordedFiles) and the commit-time recorder
# (publishState) read `.liveFiles` — besides the commits that hand the
# files they wrote or resolved on to it: the append's current-generation
# edit (editGenFiles) and the two rewrite commits (rewritePartitions,
# reshardStep) — and only streamOwned (the predicate) and ingestStream
# (which plants the pin) name "_spark_metadata"
if ! awk '
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  match($0, /def [A-Za-z0-9_]+/) { fn = substr($0, RSTART + 4, RLENGTH - 4) }
  /\.liveFiles([^A-Za-z0-9_]|$)/ && fn != "recordedFiles" && fn != "publishState" &&
      fn != "editGenFiles" && fn != "rewritePartitions" && fn != "reshardStep" {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  /"_spark_metadata"/ && fn != "streamOwned" && fn != "ingestStream" {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' src/main/scala/graft/Lake.scala; then
  echo "ci: snapshot files resolved outside Lake.resolveFiles/recordedFiles, or a stream-owned check outside Lake.streamOwned" >&2
  exit 1
fi

# a read that knows its partitions resolves only those: Lake.scala cuts
# a partition slice with readPartitions, never with read() and then a
# partition predicate (that resolves — LISTs — every live directory
# first). A DerivedTable's `d.read()` is not the lake's read.
if ! perl -0777 -ne '
  while (/read\(\)\.where\(affectedPartPred|(?<![.\w])read\(\)\s*\.where\(col\(partCol\)/g) {
    my $line = 1 + (substr($_, 0, $-[0]) =~ tr/\n//);
    print "$ARGV:$line: partition slice read through read()\n"; $bad = 1 }
  END { exit($bad ? 1 : 0) }' src/main/scala/graft/Lake.scala; then
  echo "ci: partition-scoped reads in Lake.scala go through readPartitions" >&2
  exit 1
fi

# one row-level rewrite: in Lake.scala an id-set left_anti/left_semi
# join (on `__chg_id`/`__new_id`) may stand only in rewriteRows or
# applyChanges' netting, and only rewriteRows, compact,
# compactIncremental and repairFrom call rewritePartitions. Functions
# are tracked at class member indentation, so a nested def does not
# hide its enclosing one.
if ! awk '
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  match($0, /^  ([a-z]+(\[[a-z]+\])? )*def [A-Za-z0-9_]+/) {
    fn = substr($0, RSTART, RLENGTH); sub(/.*def /, "", fn) }
  /left_(anti|semi)/ && /__(chg|new)_id/ &&
      fn != "rewriteRows" && fn != "applyChangesImpl" {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  /rewritePartitions\(/ && !/def rewritePartitions\(/ && fn != "rewriteRows" &&
      fn != "compact" && fn != "compactIncremental" && fn != "repairFrom" {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' src/main/scala/graft/Lake.scala; then
  echo "ci: row-level rewrite outside Lake.rewriteRows (an id anti/semi join, or a rewritePartitions call)" >&2
  exit 1
fi

# one generation writer: in Lake.scala only writeGeneration writes a
# rewrite's partitioned tree (besides the append, stream and derived
# writers), a rewrite's row check reads footers instead of re-reading
# the tree, and shard sizes come from the resolver (liveShardFiles),
# not from per-directory content summaries
if ! awk '
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  match($0, /^  ([a-z]+(\[[a-z]+\])? )*def [A-Za-z0-9_]+/) {
    fn = substr($0, RSTART, RLENGTH); sub(/.*def /, "", fn) }
  /getContentSummary/ || /spark\.read\.parquet\(tmp/ {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  /\.partitionBy\(partCol\)/ && fn != "writeAppend" && fn != "ingestStream" &&
      fn != "writeDerivedGen" && fn != "writeGeneration" {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' src/main/scala/graft/Lake.scala; then
  echo "ci: a generation tree written, counted or sized outside Lake.writeGeneration/liveShardFiles" >&2
  exit 1
fi

# one rename-free writer: every data file is written once, at its final
# name, by graft.LakeWriter, and an append commits by naming its files in
# a sidecar version. So nothing in src/main stages under `_staging`, the
# append and writer path (LakeWriter.scala; writeAppend, editGenFiles,
# commitAppend and writeGeneration in Lake.scala) never
# renames, and Lake.scala drives no DataFrameWriter (`.write.` chain)
# of its own
if grep -rnE '_staging|stagingDirName' src/main/scala --include='*.scala'; then
  echo "ci: append staging is gone (write through graft.LakeWriter)" >&2
  exit 1
fi
if grep -nE '\.rename\(' src/main/scala/graft/LakeWriter.scala || ! awk '
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  match($0, /^  ([a-z]+(\[[a-z]+\])? )*def [A-Za-z0-9_]+/) {
    fn = substr($0, RSTART, RLENGTH); sub(/.*def /, "", fn) }
  /\.rename\(/ && (fn == "writeAppend" || fn == "editGenFiles" ||
      fn == "commitAppend" || fn == "writeGeneration") {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' src/main/scala/graft/Lake.scala; then
  echo "ci: a rename in the append or writer path" >&2
  exit 1
fi
if ! awk '
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  /\.write[[:space:]]*(\.|$)/ { print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' src/main/scala/graft/Lake.scala; then
  echo "ci: Lake.scala writes parquet only through graft.LakeWriter" >&2
  exit 1
fi

# one exclusive create: the writer lock, every sidecar version and every
# derived-table version are created through Lake.createIfAbsent, so an
# O_EXCL open (CREATE_NEW) or an If-None-Match builder option stands
# nowhere else in src/main. A streaming-sink batch commits in its
# append's sidecar version, so this covers the sink too (its earlier
# ledger file was a plain create(overwrite = false) outside
# createIfAbsent: a blind PUT on plain S3, which arbitrated nothing)
if ! awk '
  FNR == 1 { fn = "" }
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  match($0, /^  ([a-z]+(\[[a-z]+\])? )*def [A-Za-z0-9_]+/) {
    fn = substr($0, RSTART, RLENGTH); sub(/.*def /, "", fn) }
  (/CREATE_NEW/ || /\.must\(/) &&
      !(FILENAME ~ /graft\/Lake\.scala$/ && fn == "createIfAbsent") {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' $(find src/main/scala -name '*.scala' | sort); then
  echo "ci: an exclusive create outside Lake.createIfAbsent" >&2
  exit 1
fi

# one sink commit: a streaming-sink batch is recorded in the sidecar
# version of its append, so src/main names a `_sink.` ledger file only
# in Lake.sinkHead, which reads the newest legacy ledger name from the
# root listing; and Lake.scala starts no thread of its own (the sink's
# marker heartbeat is gone with the ledger)
if ! awk '
  FNR == 1 { fn = "" }
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  match($0, /^  ([a-z]+(\[[a-z]+\])? )*def [A-Za-z0-9_]+/) {
    fn = substr($0, RSTART, RLENGTH); sub(/.*def /, "", fn) }
  /_sink\\*\./ && !(FILENAME ~ /graft\/Lake\.scala$/ && fn == "sinkHead") {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  FILENAME ~ /graft\/Lake\.scala$/ &&
      /new Thread([^A-Za-z0-9_]|$)|extends Thread([^A-Za-z0-9_]|$)|Thread\.of(Virtual|Platform)/ {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' $(find src/main/scala -name '*.scala' | sort); then
  echo "ci: a _sink. ledger file named outside Lake.sinkHead, or a thread started in Lake.scala" >&2
  exit 1
fi

# one zone map, committed with its files: each file's zone stats ride
# the sidecar entry that names it, so src/main names the retired `_zone`
# side table (or a `graft.zone.` knob) only in Lake.buildZoneMap, which
# deletes a legacy one after its commit; and the directory renames left
# in src/main are the recall calibration's swap (Lake.calibrateRecall),
# the skip index's swap (Lake.writeSkipIndex) and IncrementalAgg's
# state-pointer swap (commitPointer)
if ! awk '
  FNR == 1 { fn = "" }
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  match($0, /^  ([a-z]+(\[[a-z]+\])? )*def [A-Za-z0-9_]+/) {
    fn = substr($0, RSTART, RLENGTH); sub(/.*def /, "", fn) }
  (/_zone/ || /graft\.zone\./) &&
      !(FILENAME ~ /graft\/Lake\.scala$/ && fn == "buildZoneMap") {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  /\.rename\(/ &&
      !(FILENAME ~ /graft\/Lake\.scala$/ && (fn == "calibrateRecall" || fn == "writeSkipIndex")) &&
      !(FILENAME ~ /graft\/streaming\/IncrementalAgg\.scala$/ && fn == "commitPointer") {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' $(find src/main/scala -name '*.scala' | sort); then
  echo "ci: a _zone side table or graft.zone. knob outside Lake.buildZoneMap's legacy cleanup, or a rename outside the calibration, skip-index and aggregate-pointer swaps" >&2
  exit 1
fi

# one state read per operation: a Lake op resolves the root listing and
# the sidecar once (resolveState, under its lock or gate when it takes
# one) and hands that state down to every check, read and commit. So in
# Lake.scala only the entry points that hold no state yet call the lake's
# bare readState() or exists(), and no function resolves twice. Functions
# are tracked at class member indentation, as above.
if ! awk '
  BEGIN {
    n = split("exists lastUpdate canonicalSchema currentExtraFields " \
      "bootstrap stampQuietly reshard reshardStatus maintain " \
      "currentGenDir liveDirPaths", a, " ")
    for (i = 1; i <= n; i++) entry[a[i]] = 1 }
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  match($0, /^  ([a-z]+(\[[a-z]+\])? )*def [A-Za-z0-9_]+/) {
    fn = substr($0, RSTART, RLENGTH); sub(/.*def /, "", fn); resolves = 0 }
  /(^|[^.A-Za-z0-9_])(readState|exists)\(\)/ && !/def (readState|exists)\(/ &&
      !(fn in entry) {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  /(^|[^.A-Za-z0-9_])resolveState\(\)/ && !/def resolveState\(/ &&
      ++resolves > 1 {
    print FILENAME ":" FNR ": " $0; bad = 1 }
  END { exit bad }' src/main/scala/graft/Lake.scala; then
  echo "ci: a Lake op reads its state more than once (hand the resolved state down)" >&2
  exit 1
fi

# one bench harness: perfbench/ measures, the specs and the oracle pin
# behaviour, so src/main keeps only the driver mains (Verify, Smoke),
# the plan printer (Explain) and the 10x-corpus probe (ScaleBench)
mains=$(awk '
  /^[[:space:]]*(\*|\/\/|\/\*)/ { next }
  match($0, /^[[:space:]]*([a-z]+ )*object [A-Za-z0-9_]+/) {
    obj = substr($0, RSTART, RLENGTH); sub(/.*object /, "", obj) }
  /def main\(/ { print obj }' $(find src/main/scala -name '*.scala' | sort) | sort | tr '\n' ' ')
if [ "$mains" != "Explain ScaleBench Smoke Verify " ]; then
  echo "ci: src/main/scala defines mains [$mains]; only Explain, ScaleBench, Smoke and Verify may (benchmark through perfbench/)" >&2
  exit 1
fi

# benchmark arithmetic (stats.py) unit tests
python3 perfbench/test_stats.py

sbt -batch test

for sf in 0.001 0.01 0.1; do
  out="/tmp/graft_ci_sf$sf"
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" 2>&1 | grep "\[verify\]" || true
  python3 tools/check.py "/root/testdata/sf$sf" "$out"
done

for w in registry scan churn; do
  last=$(python3 perfbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 0 | tail -n 1)
  echo "$last"
  if ! python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)' "$last"; then
    echo "ci: perfbench $w is not correct or has failed operations" >&2
    exit 1
  fi
done
