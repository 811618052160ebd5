#!/bin/bash
# Grep mapper with mrlite.builtins.make_grep_map("product") semantics:
# "1<TAB>line" for each line holding "product" in any case.
export LC_ALL=C
awk 'index(tolower($0), "product") { print "1\t" $0 }'
