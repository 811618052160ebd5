# Start/end stamps for the traced run's map and reduce waves, sourced by
# the executables. When $PERFBENCH_STAMPS names a directory holding a
# file "on", stamp_end writes one line "kind start end" (epoch seconds)
# to a file of the executable's own there; otherwise nothing is written.
export LC_ALL=C
stamp_start=$EPOCHREALTIME

stamp_end() {
    if [ -n "$PERFBENCH_STAMPS" ] && [ -e "$PERFBENCH_STAMPS/on" ]; then
        echo "$1 $stamp_start $EPOCHREALTIME" > "$PERFBENCH_STAMPS/$1-$$-$RANDOM$RANDOM"
    fi
}
