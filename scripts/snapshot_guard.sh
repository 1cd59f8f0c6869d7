#!/usr/bin/env bash
# End-of-round snapshot guard (SURVEY §7): NEVER commit a snapshot that
# doesn't compile and pass its suite. Round 12 lost its entire driver
# verification budget (CORRECTNESS_r12 = {}, BENCH_r12 rc 1) to a
# one-line refactor committed uncompiled — this script is the mechanical
# fix. Usage:
#   scripts/snapshot_guard.sh                 # compile + full suite
#   scripts/snapshot_guard.sh compile-only    # compile gate only
#   scripts/snapshot_guard.sh check           # marker matches tree?
# Exit 0 = safe to commit. Any other exit = DO NOT COMMIT; fix first,
# or commit only the last-known-green tree.
set -euo pipefail
cd "$(dirname "$0")/.."

# Content hash of everything the suite's verdict depends on. The
# marker (SUITE_GREEN.json) binds "suite green" to the EXACT tree the
# suite ran against — round 15's snapshot shipped a never-run failing
# test because nothing tied the green evidence to the committed tree
# (VERDICT r15 "what's wrong" #2). A test (or source) edit after the
# last full run changes this hash and `check` fails the snapshot.
# scripts/ is in the hashed set (r16 ADVICE): the guard's own logic is
# part of what "green" means.
suite_tree_hash() {
  find src build.sbt project scripts -type f \( -name '*.scala' -o -name '*.sbt' -o -name '*.properties' -o -name '*.sh' \) -print0 \
    | sort -z | xargs -0 sha256sum | sha256sum | cut -d' ' -f1
}

if [[ "${1:-}" == "check" ]]; then
  if [[ ! -f SUITE_GREEN.json ]]; then
    echo "[guard] FAIL: no SUITE_GREEN.json — run the full guard before the snapshot"
    exit 1
  fi
  WANT=$(python3 -c "import json; print(json.load(open('SUITE_GREEN.json'))['tree_hash'])")
  HAVE=$(suite_tree_hash)
  if [[ "$WANT" != "$HAVE" ]]; then
    echo "[guard] FAIL: tree changed since the last green suite run"
    echo "[guard]   marker: $WANT"
    echo "[guard]   tree:   $HAVE"
    echo "[guard] re-run scripts/snapshot_guard.sh (full) before committing the snapshot"
    exit 1
  fi
  echo "[guard] OK — SUITE_GREEN.json matches the current tree ($HAVE)"
  exit 0
fi

# Capture the tree hash BEFORE launching sbt (r16 ADVICE): a source or
# test edit made WHILE the suite is running must not get stamped into
# SUITE_GREEN.json as green. The stamp below re-hashes and refuses to
# stamp if the tree moved during the run.
PRE_TREE=$(suite_tree_hash)

echo "[guard] sbt compile + Test/compile ..."
sbt -batch "compile" "Test/compile"

if [[ "${1:-}" != "compile-only" ]]; then
  echo "[guard] full suite ..."
  sbt -batch test
fi

# §2 ↔ registry drift gate (round-14 rule): every backticked op name in
# SURVEY §2 must be an Op("...") constructor and vice versa — the
# dedup_simhash omission (r13 verdict) is the failure mode this catches.
echo "[guard] SURVEY §2 <-> registry diff ..."
# open character classes ([^"]+ / [^\`]+), NOT [a-z0-9_]+: a
# non-conforming op name (uppercase, hyphen, dot) must SURFACE as a
# diff failure, not silently drop out of both lists (fail-closed).
# mktemp scratch files so concurrent guard runs don't race.
GUARD_TMP=$(mktemp -d)
trap 'rm -rf "$GUARD_TMP"' EXIT
grep -ohrE 'Op\("[^"]+"' src/main/scala | sed 's/Op("//; s/"//' | sort -u > "$GUARD_TMP/registry.txt"
grep -oE '^\- \[x\] `[^`]+`' SURVEY.md | sed 's/^- \[x\] `//; s/`$//' | sort -u > "$GUARD_TMP/survey.txt"
if ! diff "$GUARD_TMP/registry.txt" "$GUARD_TMP/survey.txt"; then
  echo "[guard] FAIL: SURVEY §2 op names drift from the Op(...) registry (see diff above)"
  exit 1
fi
# single generated source of truth for the counts SURVEY/PROGRESS quote
N_OPS=$(wc -l < "$GUARD_TMP/registry.txt")
N_SUITE=$(grep -cE '^\s*test\(' src/test/scala/graft/*.scala | awk -F: '{s+=$2} END {print s}')
echo "[guard] generated counts: registry_ops=$N_OPS suite_tests=$N_SUITE"

# full run only: stamp the suite-green marker the snapshot must carry
if [[ "${1:-}" != "compile-only" ]]; then
  TREE=$(suite_tree_hash)
  if [[ "$TREE" != "$PRE_TREE" ]]; then
    echo "[guard] FAIL: tree changed WHILE the suite was running — green evidence is stale"
    echo "[guard]   pre-run:  $PRE_TREE"
    echo "[guard]   post-run: $TREE"
    echo "[guard] re-run scripts/snapshot_guard.sh on the settled tree"
    exit 1
  fi
  python3 - "$TREE" "$N_SUITE" "$N_OPS" <<'PY'
import json, sys, subprocess
tree, n_suite, n_ops = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
when = subprocess.run(["date", "-u", "+%Y-%m-%dT%H:%M:%SZ"],
                      capture_output=True, text=True).stdout.strip()
json.dump({"tree_hash": tree, "suite_tests": n_suite,
           "registry_ops": n_ops, "ran_at_utc": when},
          open("SUITE_GREEN.json", "w"), indent=1)
PY
  echo "[guard] stamped SUITE_GREEN.json (tree $TREE) — include it in the snapshot commit"
fi

echo "[guard] OK — tree compiles$([[ "${1:-}" == compile-only ]] || echo ' and suite is green'); safe to commit."
