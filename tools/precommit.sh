#!/usr/bin/env bash
# Minimum bar before ANY commit (VERDICT r12 #1: an 18-line hunk
# committed without compiling broke every driver gate for a round).
# Full gates (test / Verify / Bench) still apply before claiming an
# operator done — this script is the floor, not the ceiling.
set -euo pipefail
cd "$(dirname "$0")/.."
# One session builder: every main builds its session through
# graft.Session.local, so a copied session config cannot grow back.
stray=$(grep -rn 'SparkSession\.builder' src/main/scala \
  | grep -v '^src/main/scala/graft/Session\.scala:' || true)
if [ -n "$stray" ]; then
  echo "[precommit] SparkSession.builder outside graft.Session:" >&2
  echo "$stray" >&2
  exit 1
fi
# Library operators take their settings as parameters; only the mains
# in src/main/scala/graft/*.scala read the environment. The one
# exception sizes phase-1 verify bands to the host's scratch disk.
envread=$(grep -rnE 'sys\.env|System\.getenv' src/main/scala/graft/*/ \
  | grep -v 'SPARK_GRAFT_VERIFY_BAND_BYTES' || true)
if [ -n "$envread" ]; then
  echo "[precommit] environment read inside a library package:" >&2
  echo "$envread" >&2
  exit 1
fi
# One per-group top-k: every bounded heap lives in graft.operators.TopK,
# so a private copy of the two-phase kernel cannot grow back.
heaps=$(grep -rn 'PriorityQueue' src/main/scala \
  | grep -v '^src/main/scala/graft/operators/TopK\.scala:' || true)
if [ -n "$heaps" ]; then
  echo "[precommit] PriorityQueue outside graft.operators.TopK:" >&2
  echo "$heaps" >&2
  exit 1
fi
# One state protocol for the streaming dedup walks: DedupStream's only
# flatMapGroupsWithState call is the one inside walkKeyed, so a second
# rendering of a walk (or of the bounded cache) cannot grow back.
walks=$(grep -c '\.flatMapGroupsWithState' src/main/scala/graft/streaming/DedupStream.scala || true)
if [ "$walks" -gt 1 ]; then
  echo "[precommit] $walks .flatMapGroupsWithState calls in DedupStream.scala;" \
    "every dedup walk goes through walkKeyed" >&2
  exit 1
fi
# One capped-bucket walk for the near-dup candidate streams: the simhash
# and minhash-LSH streams share NearDupStream's bucketPairs, so a second
# copy of the bucket body cannot grow back.
buckets=$(grep -c '\.flatMapGroupsWithState' src/main/scala/graft/streaming/NearDupStream.scala || true)
if [ "$buckets" -gt 1 ]; then
  echo "[precommit] $buckets .flatMapGroupsWithState calls in NearDupStream.scala;" \
    "every candidate stream goes through bucketPairs" >&2
  exit 1
fi
# One plan per query: every SparkEntry query is presented with a plain
# orderBy, so a detach at the presentation edge (or a conf that switches
# one on) cannot grow back.
detach=$( { grep -nH 'localCheckpoint' src/main/scala/graft/SparkEntry.scala; \
  grep -rn 'graft\.present' src/main/scala; } || true)
if [ -n "$detach" ]; then
  echo "[precommit] presentation detach; SparkEntry queries end in a plain orderBy:" >&2
  echo "$detach" >&2
  exit 1
fi
# One way to truncate loop lineage: loops truncate with localCheckpoint,
# so a parquet-handoff fork keyed on a checkpointDir cannot grow back.
ckptdir=$(grep -rn 'checkpointDir' src/main/scala || true)
if [ -n "$ckptdir" ]; then
  echo "[precommit] checkpointDir under src/main/scala; loops truncate with localCheckpoint:" >&2
  echo "$ckptdir" >&2
  exit 1
fi
# One canonicalizer: CanonicalJson's streaming token pass is the only
# JSON re-serialization, so a tree rendering (readTree, ObjectNode)
# cannot grow back beside it.
tree=$(grep -rnE 'readTree|ObjectNode' src/main/scala || true)
if [ -n "$tree" ]; then
  echo "[precommit] JSON tree API under src/main/scala; canonicalize with graft.plans.CanonicalJson:" >&2
  echo "$tree" >&2
  exit 1
fi
# One path per job at the library's edges: GraftFunctions.register is
# the only SQL-surface install and HfpSource.parseLines over a one-column
# `line` frame the only ingest seam, so an optimizer-rule rewrite or a
# feed-source abstraction beside them cannot grow back.
edges=$(grep -rnE 'injectOptimizerRule|extraOptimizations|FeedSource' src/main/scala || true)
if [ -n "$edges" ]; then
  echo "[precommit] second SQL-surface or ingest path under src/main/scala;" \
    "install with GraftFunctions.register, ingest through HfpSource.parseLines:" >&2
  echo "$edges" >&2
  exit 1
fi
# One path per near-dup job: every near-dup query computes its own pairs
# and the incremental query probes its manifest as a frame through
# NearDup.manifestCandidates, so a precomputed-pair seam, a test-only
# wrapper or a per-call temp manifest cannot grow back.
neardup=$(grep -rnE 'dedupAuditFamily|precomputedPairs|dedupGroupsLogRound|graft_nd_manifest' \
  src/main/scala || true)
if [ -n "$neardup" ]; then
  echo "[precommit] second near-dup path under src/main/scala;" \
    "probe manifests as frames, compute pairs per query:" >&2
  echo "$neardup" >&2
  exit 1
fi
sbt -batch compile Test/compile
sbt -batch 'runMain graft.Scratch'
echo "[precommit] OK"
