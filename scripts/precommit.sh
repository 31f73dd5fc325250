#!/bin/sh
# Pre-commit compile gate. A broken HEAD voids EVERY downstream gate for a
# whole round (round 3: one non-compiling commit → empty CORRECTNESS, void
# BENCH). Install once with:
#   ln -sf ../../scripts/precommit.sh .git/hooks/pre-commit
# Bypass (e.g. docs-only commit) with: git commit --no-verify
set -e
cd "$(git rev-parse --show-toplevel)"
# one session builder: every tool and test builds its session through
# GraftSession.local; Smoke alone stays bare (it checks SparkEntry.entry
# in a session with no engine conf). Doc-comment and // lines are not code.
stray=$(grep -rn --include='*.scala' 'SparkSession\.builder()' src \
  | grep -v '^src/main/scala/graft/\(GraftSession\|Smoke\)\.scala:' \
  | grep -v '^[^:]*:[0-9]*:[[:space:]]*\(\*\|//\)' || true)
if [ -n "$stray" ]; then
  echo "[precommit] SparkSession.builder() outside GraftSession/Smoke:"
  echo "$stray"
  exit 1
fi
# one document accessor: the (doc_id, text) prelude of the codec and
# shingle pipelines is Tables.docText; a query module does not spread
# t(s, dir, "documents") and cast it to (Long, String) by hand, nor
# spread its bare (doc_id, text) projection
prelude=$(perl -0777 -ne 'while (/ensureParallel(\(\s*t\(s, dir, "documents"\)(?:[^()]++|(\((?:[^()]++|(?2))*\)))*\))\s*\.as\[\(Long, String\)\]|ensureParallel\(\s*t\(s, dir, "documents"\)\s*\.select\(col\("doc_id"\), col\("text"\)\)\)/g) { printf "%s:%d\n", $ARGV, 1 + (substr($_, 0, $-[0]) =~ tr/\n//) }' \
  src/main/scala/graft/queries/*.scala)
if [ -n "$prelude" ]; then
  echo "[precommit] hand-written documents prelude (use Tables.docText):"
  echo "$prelude"
  exit 1
fi
# one lattice quantizer: floor(x·1000) is SimilarityOps.lattice (and
# latticeVec); a second spelling could drift from the oracles' replay
quant=$(find src -name '*.scala' ! -path 'src/main/scala/graft/ops/SimilarityOps.scala' \
  -exec perl -0777 -ne 'while (/cast\("double"\) \* 1000\)\s*\.cast\("long"\)/g) { printf "%s:%d\n", $ARGV, 1 + (substr($_, 0, $-[0]) =~ tr/\n//) }' {} +)
if [ -n "$quant" ]; then
  echo "[precommit] lattice quantizer outside SimilarityOps (use lattice/latticeVec):"
  echo "$quant"
  exit 1
fi
# one inflate loop: every inflate in the engine goes through Zlib (the
# FDICT refusal, the truncation check, the output bound); no other main
# file builds an Inflater or reads through a JDK inflating stream.
# Doc-comment and // lines are not code; src/test may use JDK streams
# as references.
infl=$(grep -rnE --include='*.scala' \
  'new (java\.util\.zip\.)?Inflater|withInflater|InflaterInputStream|GZIPInputStream|ZipInputStream' \
  src/main \
  | grep -v '^src/main/scala/graft/multimodal/Zlib\.scala:' \
  | grep -v '^[^:]*:[0-9]*:[[:space:]]*\(\*\|//\)' || true)
if [ -n "$infl" ]; then
  echo "[precommit] inflate outside Zlib (use Zlib.inflate/gunzip, ZipCodec.read):"
  echo "$infl"
  exit 1
fi
# one term-frequency count: size(filter(arr, x => x === t)) evaluates its
# lambda interpreted per element; TextOps.countIn is the codegen'd loop
tf=$(find src/main -name '*.scala' \
  -exec perl -0777 -ne 'while (/size\(\s*filter\((?:[^(),]++|(\((?:[^()]++|(?1))*\)))*,\s*(\w+)\s*=>\s*\2\s*===/g) { printf "%s:%d\n", $ARGV, 1 + (substr($_, 0, $-[0]) =~ tr/\n//) }' {} +)
if [ -n "$tf" ]; then
  echo "[precommit] interpreted count lambda (use TextOps.countIn):"
  echo "$tf"
  exit 1
fi
# one order-statistic selection: exact k-th values and global ranks go
# through OrderStats (kth/rank); `local_k`, the rank inside the selected
# bucket, marks a hand-written histogram-selection copy
sel=$(grep -rn --include='*.scala' 'local_k' src/main \
  | grep -v '^src/main/scala/graft/ops/OrderStats\.scala:' || true)
if [ -n "$sel" ]; then
  echo "[precommit] histogram selection outside OrderStats (use OrderStats.kth):"
  echo "$sel"
  exit 1
fi
# one hash family per sketch: the similarity sketches hash with md5 (or
# the md5-signed lattice), which DuckDB replays, so every sketch query is
# oracle-checked; a murmur or xxhash sketch in the engine's function and
# operator code could only be spec-checked. Doc-comment and // lines are
# not code.
hashfam=$(grep -rn --include='*.scala' 'Murmur3_x86_32\|XXH64\|xxhash64(' \
  src/main/scala/graft/functions src/main/scala/graft/ops \
  | grep -v '^[^:]*:[0-9]*:[[:space:]]*\(\*\|//\)' || true)
if [ -n "$hashfam" ]; then
  echo "[precommit] non-replayable sketch hash (use the md5 family):"
  echo "$hashfam"
  exit 1
fi
# docs/scripts-only commits don't need the JVM spin-up
if git diff --cached --name-only | grep -q '\.scala$\|\.sbt$'; then
  # Test/compile builds main too, and catches a change that breaks a test
  echo "[precommit] sbt Test/compile (Scala staged; round-3 lesson) ..."
  sbt -batch Test/compile < /dev/null
fi
