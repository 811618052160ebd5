#!/bin/bash
# Grep mapper, mrlite.builtins.make_grep_map("product") semantics:
# "1<TAB>line" for each line holding "product" in any case.
. "$(dirname "$0")/stamp.sh"
awk 'index(tolower($0), "product") { print "1\t" $0 }'
stamp_end map
