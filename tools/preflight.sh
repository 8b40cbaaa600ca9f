#!/usr/bin/env bash
# Preflight gate: run between the LAST code edit of a round and the final
# commit.  Two end-of-round snapshots in a row (78e150d, dd79136) shipped
# corpus regressions because the final edit landed untested; this script
# is the rule that prevents a third.
#
# Usage:  tools/preflight.sh [--fast]
#   default: full pytest suite (the round's hard gate)
#   --fast:  corpus suite, dialect/script units, the translate() golden
#            net, the bracket-walker tests, chexplain (it parses with the
#            dialect tokenizer), the function-semantics cases and the
#            SimHash kernel tests (~1.5 min), for intermediate
#            checkpoints; the FINAL commit needs the default.
#
# On success writes tools/preflight.ok with the CONTENT-TREE hash it
# verified (git write-tree of the would-be commit), so the record can be
# checked post-hoc against the round's final commit: for a commit C,
# `git rev-parse C^{tree}` must equal verified_tree.  (The old scheme
# hashed HEAD+diff, which by construction never matches after the commit
# it was meant to certify — r7 VERDICT item 2.)
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ "${1:-}" == "--fast" ]]; then
    TARGETS=(tests/test_reference_corpus.py tests/test_dialect.py tests/test_script.py
             tests/test_translate_golden.py tests/test_top_level.py
             tests/test_chexplain.py tests/test_scalar_registry.py
             tests/test_simhash.py)
else
    TARGETS=(tests/)
fi

echo "preflight: pytest ${TARGETS[*]}"
python -m pytest "${TARGETS[@]}" -q

# hash the tree as it WOULD be committed (tracked files incl. staged and
# unstaged edits) without touching the real index.  tools/preflight.ok
# is excluded from the hash (it is written after the run, so including
# it would make the hash self-referential).  To verify a commit C:
#   I=$(mktemp); GIT_INDEX_FILE=$I git read-tree "C^{tree}"
#   GIT_INDEX_FILE=$I git rm --cached -q tools/preflight.ok
#   GIT_INDEX_FILE=$I git write-tree    # == verified_tree
TMP_INDEX=$(mktemp)
trap 'rm -f "$TMP_INDEX"' EXIT
cp .git/index "$TMP_INDEX"
TREE_HASH=$(GIT_INDEX_FILE="$TMP_INDEX" bash -c '
    git add -u >/dev/null 2>&1
    git rm --cached -q --ignore-unmatch tools/preflight.ok
    git write-tree')
{
    echo "verified_tree=${TREE_HASH}"
    echo "mode=${1:-full}"
    echo "date=$(date -u +%Y-%m-%dT%H:%M:%SZ)"
} > tools/preflight.ok
echo "preflight: GREEN (tools/preflight.ok written; compare with"
echo "  git rev-parse <commit>^{tree})"
