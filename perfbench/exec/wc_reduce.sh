#!/bin/bash
# Word-count reducer, mrlite.builtins.wc_reduce semantics: the input is
# sorted by line, so equal keys are adjacent; prints "key<TAB>count".
. "$(dirname "$0")/stamp.sh"
awk -F '\t' '
    { k = $1 "" }  # compare keys as strings, never as numbers
    NR > 1 && k != key { print key "\t" n; n = 0 }
    { key = k; n++ }
    END { if (NR) print key "\t" n }'
stamp_end reduce
