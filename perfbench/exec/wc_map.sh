#!/bin/bash
# Word-count mapper, mrlite.builtins.wc_map semantics: one "token<TAB>1"
# line per space- or tab-separated token, lowercased; a blank line and
# each extra separator give the empty token.
. "$(dirname "$0")/stamp.sh"
tr ' \t' '\n\n' | tr '[:upper:]' '[:lower:]' | awk '{ print $0 "\t1" }'
stamp_end map
