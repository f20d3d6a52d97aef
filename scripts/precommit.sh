#!/usr/bin/env bash
# Round-closing gate: the tree at HEAD must compile (main + test) before any
# snapshot commit. A snapshot that ships rc=1 kills every driver signal for
# the round (Verify, Bench, the whole oracle pass) — run this before the
# closing commit, every round.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch "compile; Test/compile"
# The benchmark (perfbench/, its own sbt project) compiles against the
# engine's entry points — DedupStream/EmbedIngest.incrementalIngest,
# TextDedup.writeIncrementalIndex, Similarity.writeIvfIndex,
# GraftSession.local — so a changed signature there breaks it. Build it
# through its own stamped build (a no-op while the sources are unchanged).
exec python3 -c "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
