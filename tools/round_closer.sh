#!/bin/bash
# Round-close hunter: every ~12 min, when not paused, attempt
# `bench.py --round-close` (self-guarding: refuses and exits in ~2 min
# unless the start canary reads <= 1.15; a healthy start continues
# into the full suite and stamps round_close_accepted). Appends every
# attempt's JSON line to ROUND_CLOSE_ATTEMPTS_r13.jsonl and stops on
# the first accepted run. Pause with /tmp/probe_pause (shared with the
# phase watcher) so attempts never overlap foreground timing work.
cd "$(dirname "$0")/.."
while true; do
  if [ ! -f /tmp/probe_pause ]; then
    line=$(timeout 2400 python bench.py --round-close 2>/dev/null | tail -1)
    if [ -n "$line" ]; then
      printf '{"ts": "%s", "attempt": %s}\n' "$(date -u +%Y-%m-%dT%H:%M:%SZ)" "$line" >> ROUND_CLOSE_ATTEMPTS_r13.jsonl
      if echo "$line" | grep -q '"round_close_accepted": true'; then
        echo "ACCEPTED $(date -u +%Y-%m-%dT%H:%M:%SZ)" >> ROUND_CLOSE_ATTEMPTS_r13.jsonl
        exit 0
      fi
    fi
  fi
  sleep 720
done
