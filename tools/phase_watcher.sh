#!/bin/bash
# Phase-probe watcher: every 15 min, when not paused, append one probe line
# (stamped with wall time) to PHASE_PROBES_r13.jsonl. Pause by touching
# /tmp/probe_pause (used while timing runs are in flight so the probe JVM
# does not perturb them).
cd "$(dirname "$0")/.."
while true; do
  if [ ! -f /tmp/probe_pause ]; then
    line=$(timeout 300 python bench.py --phase-probe 2>/dev/null | tail -1)
    if [ -n "$line" ]; then
      printf '{"ts": "%s", "probe": %s}\n' "$(date -u +%Y-%m-%dT%H:%M:%SZ)" "$line" >> PHASE_PROBES_r13.jsonl
    fi
  fi
  sleep 900
done
