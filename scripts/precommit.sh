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
# docs/scripts-only commits don't need the JVM spin-up
if git diff --cached --name-only | grep -q '\.scala$\|\.sbt$'; then
  # Test/compile builds main too, and catches a change that breaks a test
  echo "[precommit] sbt Test/compile (Scala staged; round-3 lesson) ..."
  sbt -batch Test/compile < /dev/null
fi
