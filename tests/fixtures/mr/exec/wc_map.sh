#!/bin/bash
# Word-count mapper with mrlite.builtins.wc_map semantics: one
# "token<TAB>1" line per space- or tab-separated token, lowercased.
# A blank line, and each extra separator, yields the empty token.
export LC_ALL=C
tr ' \t' '\n\n' | tr '[:upper:]' '[:lower:]' | sed 's/$/\t1/'
