#!/bin/bash
# Word-count reducer with mrlite.builtins.wc_reduce semantics: input
# lines arrive sorted, so equal keys are adjacent; prints
# "key<TAB>count" once per key (the empty key included).
export LC_ALL=C
cut -f1 | uniq -c | awk '{ print $2 "\t" $1 }'
