#!/bin/bash
# Grep reducer, mrlite.builtins.grep_reduce semantics: drops the key
# (text up to the first tab) and prints each non-empty value.
. "$(dirname "$0")/stamp.sh"
awk '{ i = index($0, "\t"); if (i) { v = substr($0, i + 1); if (v != "") print v } }'
stamp_end reduce
