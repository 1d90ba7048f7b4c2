"""Benchmark runner — times every registered query at the bench SF.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "nproc": ...,
   "defaultParallelism": ..., "spark.master": ..., "commit": ...}

Execution is forced with the no-op sink (full plan runs, nothing is
collected to the driver), which is the honest way to time a
distributed plan. One untimed warm-up pass each of five table-family
queries (JVM JIT, codegen cache, parquet footers, Python/Arrow worker
pool) and of the six phase-canary queries (so the canary measures the
host, not JVM warm-up — r12) precedes the timed runs; per-query
numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Host-phase canary (r11): a handful of TRIVIAL, long-stable queries
#: (sub-0.3 s at sf0.1, untouched for many rounds — classic aggregate
#: shapes, no llm-family code) timed FIRST and again LAST. Their
#: median min-ratio vs the pinned clean runs measures the HOST, not
#: the code: this machine has multi-hour degraded phases (r10: the
#: same binary measured 1.2–1.7x on trivial queries hours apart), and
#: distinguishing "host phase" from "code regression" was a manual
#: decomposition every round. phase_ratio ≈ 1.0 → quiet machine;
#: markedly above → degraded phase, suite-level numbers are not
#: attributable to code.
PHASE_CANARY = (
    "event_type_pivot",
    "props_k_buckets",
    "order_status_cube",
    "repeat_customers",
    "purchase_funnel",
    "hash_sample_docs",
)
#: --round-close refuses to stamp a close-quality run above this
#: start-canary ratio (and warns on the end canary): a degraded-phase
#: run must never become a round's headline artifact or a band pin.
PHASE_RATIO_MAX = 1.15
#: Host facts every compact stdout line carries (the full set is in
#: the BENCH_HISTORY.jsonl twin).
HOST_FIELDS = ("nproc", "defaultParallelism", "spark.master", "commit")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    round_close = "--round-close" in sys.argv[1:]
    phase_probe = "--phase-probe" in sys.argv[1:]
    import __spark_entry__ as e
    from perfbench.run import _facts
    from pos_api_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    # Host and session facts (cores, master, parallelism, versions,
    # commit): numbers from two hosts must be told apart from the
    # artifact alone.
    host = _facts(spark, seed=None)
    qs = e.queries()

    # Warm-up: JVM JIT, codegen cache, parquet footer reads — touch
    # each table family once so cold-start costs don't land on the
    # first query that happens to use it.
    # pack_greedy_docs additionally warms the Python/Arrow worker pool
    # (applyInPandas) so the first stateful query doesn't get charged
    # the worker spawn cost.
    # The canary queries are warmed too: they are timed FIRST (below),
    # so without this they are the only queries in the suite measured
    # against a cold JVM — their ratio vs the (warm, mid-suite) pinned
    # values then conflates JVM/codegen warm-up with the host phase
    # they exist to measure. Observed on an idle host: cold canary
    # ratio 1.5-2.6 while the SAME process reads 0.97-1.04 warm at
    # suite end. One untimed pass each fixes the comparison; the timed
    # 3-run minimum below is unchanged in methodology.
    for warm in ("region_revenue", "token_stats", "ann_cosine_topk",
                 "hourly_event_windows", "pack_greedy_docs",
                 *PHASE_CANARY):
        try:
            qs[warm](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    hist_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl"
    )

    # min of 3 runs per query: this host shows sporadic multi-second
    # CPU-steal spikes (same query 2-10x run-to-run; observed total
    # drift 41-60 s on an identical build); the min is the honest
    # steady-state number, still including all real work. Per-query
    # median/max ride along so a round-over-round regression can be
    # attributed (noise spike vs real slowdown).
    # A failing query is recorded and skipped — one regression must
    # not zero out the whole round's benchmark record.
    all_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}

    def _time_query(name, fn):
        runs = all_runs.setdefault(name, [])
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t0)
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            all_runs.pop(name, None)

    # Canary first: phase_ratio_start reflects the machine BEFORE the
    # suite's own load pattern, and --phase-probe / a refused
    # --round-close can stop here (~6 trivial queries, seconds).
    canary = [q for q in PHASE_CANARY if q in qs and q not in errors]
    for name in canary:
        _time_query(name, qs[name])
    phase_start, phase_detail = _phase_ratio(
        {q: min(all_runs[q]) for q in canary if q in all_runs},
        sf_val,
        hist_path,
    )
    # --phase-probe alone: report and stop. --round-close (with or
    # without --phase-probe): stop ONLY when the canary says degraded —
    # a healthy-phase `--phase-probe --round-close` continues into the
    # full suite rather than stamping a spurious refusal (ADVICE r11).
    degraded = phase_start is not None and phase_start > PHASE_RATIO_MAX
    if (phase_probe and not round_close) or (round_close and degraded):
        line = {
            "metric": "phase_probe",
            "phase_ratio": phase_start,
            "canary_warmed": True,
            "phase_canary": phase_detail,
            "phase_ratio_max": PHASE_RATIO_MAX,
            "sf": sf_val,
        }
        if round_close:
            line["round_close_accepted"] = False
            line["reason"] = (
                "host phase degraded: canary ratio "
                f"{phase_start} > {PHASE_RATIO_MAX} vs pinned clean "
                "runs — wait for a quiet phase; suite numbers taken "
                "now are not attributable to code"
            )
        print(json.dumps(line))
        sys.exit(3 if round_close else 0)

    for name, fn in qs.items():
        if name in all_runs or name in errors:
            continue  # canary queries already timed
        _time_query(name, fn)

    # End-of-run canary re-read: a phase shift mid-suite (multi-hour
    # phases, 10-20 min suites) is visible as start/end disagreement.
    canary_end: dict[str, float] = {}
    for name in canary:
        if name in errors:
            continue
        runs = []
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t0)
        except Exception:
            continue
        canary_end[name] = min(runs)
    phase_end, _ = _phase_ratio(canary_end, sf_val, hist_path)

    def _stats():
        t, sp = {}, {}
        for name, runs in all_runs.items():
            ordered = sorted(runs)
            t[name] = round(ordered[0], 4)
            sp[name] = {
                "min": round(ordered[0], 4),
                "med": round(ordered[len(ordered) // 2], 4),
                "max": round(ordered[-1], 4),
            }
        return t, sp

    timings, spread = _stats()

    # Band guard: a sustained machine-load window can push even
    # min-of-3 numbers uniformly up (round 8 committed a 1.36×
    # load-noise artifact). If this run's per-query mins are >25%
    # above the PINNED reference entries (BENCH_PINS.json — known-
    # clean round-close runs; NOT a rolling tail, which a drifted
    # round's own runs would dominate until the drift reads as the
    # new normal — r9's band said 1.03 while the suite sat 1.15×
    # over the r8 clean run), the machine is loaded — take up to 2
    # more passes, folding each into the per-query min, until the
    # total lands in band or the retries are spent. Deviations
    # DOWNWARD are progress, never retried; genuinely-regressed code
    # still stamps after 2 extra passes. The PRE-RETRY ratio and
    # per-pass totals are stamped too, so a retry-masked regression
    # stays reconstructible from the artifact alone.
    extra_passes = 0
    ratio, band_ref = _history_ratio(timings, sf_val, hist_path)
    ratio_initial = ratio
    value_initial = round(sum(timings.values()), 4)
    pass_totals: list[float] = []
    retry_errors: dict[str, int] = {}
    while ratio is not None and ratio > 1.25 and extra_passes < 2:
        extra_passes += 1
        for name, fn in qs.items():
            if name in errors:
                continue
            try:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                all_runs[name].append(time.perf_counter() - t0)
            except Exception:
                # A query that errors only under retry is recorded:
                # its run count stays short and the failure is
                # visible in the artifact instead of silently making
                # n_runs_per_query an overstatement.
                retry_errors[name] = retry_errors.get(name, 0) + 1
                continue
        # Recompute min AND med/max from every run taken, so the
        # stamped spread stays internally consistent (a min below a
        # stale 3-run med/max band would misread as noise).
        timings, spread = _stats()
        pass_totals.append(round(sum(timings.values()), 4))
        ratio, band_ref = _history_ratio(timings, sf_val, hist_path)
    # run_id ties the stdout line the driver records to the full
    # jsonl twin below — tools/bench_history.py dedups on it instead
    # of guessing by rounded total (two runs with identical totals
    # would adopt each other's timestamps).
    run_id = uuid.uuid4().hex[:12]
    payload = {
        "metric": "total_query_wall_seconds",
        "run_id": run_id,
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "queries_stats": spread,
        "total_median_seconds": round(
            sum(s["med"] for s in spread.values()), 4
        ),
        # Histogram of actual per-query run counts ({count: n_queries})
        # — retry-pass failures leave some queries short of
        # 3 + extra_passes, so a single scalar would overstate.
        "run_counts": _run_count_hist(all_runs),
        "band_vs_history": None if ratio is None else round(ratio, 4),
        "band_vs_history_initial": (
            None if ratio_initial is None else round(ratio_initial, 4)
        ),
        "band_reference": band_ref,
        "band_extra_passes": extra_passes,
        "value_initial": value_initial,
        "band_pass_totals": pass_totals,
        "retry_errors": retry_errors,
        # Host-phase canary (r11): trivial-query ratio vs the pins at
        # suite start and end. ≈1.0 = quiet machine; >PHASE_RATIO_MAX
        # = degraded phase, the suite-level band is host, not code.
        "phase_ratio_start": phase_start,
        "phase_ratio_end": phase_end,
        # Methodology marker (r12, ADVICE r12): canary queries get one
        # untimed warm-up pass before being timed, so phase_ratio_start
        # measures the host. History entries WITHOUT this flag timed
        # the canary against a cold JVM — their start ratios of
        # 1.5-2.6 on a quiet host are warm-up, not host phase; tools
        # and readers must segment on this flag before comparing.
        "canary_warmed": True,
        "phase_canary": phase_detail,
        "errors": errors,
        "sf": sf_val,
        "host": host,
    }
    if round_close:
        accepted = (
            not errors
            and (phase_start is None or phase_start <= PHASE_RATIO_MAX)
            and (phase_end is None or phase_end <= PHASE_RATIO_MAX)
        )
        payload["round_close_accepted"] = accepted
    # The driver keeps only the LAST 2000 chars of stdout in its
    # BENCH_r{N}.json record and parses that tail as JSON — the full
    # 162-query payload blows past the cap, which is why rounds 2-5
    # came back with "parsed": null. So: append the FULL payload to a
    # repo-side history file (the source tools/bench_history.py reads
    # for per-query trends), and print a COMPACT line guaranteed to
    # fit, carrying the headline metric plus as many of the slowest
    # per-query timings as the budget allows.
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_HISTORY.jsonl",
            ),
            "a",
        ) as hist:
            hist.write(json.dumps({"ts": int(time.time()), **payload}) + "\n")
    except OSError:
        pass  # read-only checkout: stdout line is still complete
    print(json.dumps(_compact(payload, budget=1900)))
    if round_close and not payload.get("round_close_accepted", True):
        sys.exit(3)


def _phase_ratio(
    canary_mins: dict, sf, hist_path: str
) -> tuple[float | None, dict | None]:
    """(median canary min-ratio vs pins, {q: {min, pin}}) — the host-
    phase measurement. Pin value per query = median across the SF's
    pinned entries. None when fewer than 3 canary queries have both a
    fresh timing and a pinned value (no meaningful phase estimate —
    e.g. a brand-new SF with no pins)."""
    pins: list[str] = []
    try:
        with open(
            os.path.join(os.path.dirname(hist_path), "BENCH_PINS.json")
        ) as fh:
            pins = json.load(fh).get(str(sf), [])
    except (OSError, ValueError):
        pass
    pinned_qs: dict[str, list[float]] = {}
    try:
        with open(hist_path) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                if e.get("run_id") not in pins or e.get("sf") != sf:
                    continue
                for q, v in (e.get("queries") or {}).items():
                    pinned_qs.setdefault(q, []).append(v)
    except OSError:
        return None, None
    detail, ratios = {}, []
    for q, got in canary_mins.items():
        vals = sorted(pinned_qs.get(q, []))
        if not vals:
            continue
        pin = vals[len(vals) // 2]
        if pin <= 0:
            continue
        detail[q] = {"min": round(got, 4), "pin": round(pin, 4)}
        ratios.append(got / pin)
    if len(ratios) < 3:
        return None, detail or None
    ratios.sort()
    mid = len(ratios) // 2
    med = (
        ratios[mid]
        if len(ratios) % 2
        else (ratios[mid - 1] + ratios[mid]) / 2
    )
    return round(med, 4), detail


def _history_ratio(
    timings: dict, sf, hist_path: str
) -> tuple[float | None, str | None]:
    """(ratio, reference-label) of this run's per-query mins vs the
    band reference, computed over the INTERSECTION of query names per
    entry (so added/retired queries between rounds don't distort the
    band).

    Reference selection — PINNED, not rolling: BENCH_PINS.json maps
    str(sf) → run_ids of known-clean round-close runs; the ratio is
    the median over those entries. A rolling last-N tail is
    self-normalizing — after one drifted round its own runs dominate
    the window and the guard reads the drift as the new normal
    (observed r9: band 1.03 while the suite sat 1.15× over the r8
    clean run). Fallback when no pin matches this SF: median over
    ALL same-SF history (labelled, so the artifact says which band
    was used). (None, None) when there's no comparable history —
    fewer than 20 shared queries is not a meaningful band."""
    try:
        with open(hist_path) as fh:
            lines = fh.readlines()
    except OSError:
        return None, None
    pins: list[str] = []
    try:
        with open(
            os.path.join(os.path.dirname(hist_path), "BENCH_PINS.json")
        ) as fh:
            pins = json.load(fh).get(str(sf), [])
    except (OSError, ValueError):
        pass
    entries = []
    for line in lines:
        try:
            e = json.loads(line)
        except ValueError:
            continue
        if e.get("sf") != sf or not isinstance(e.get("queries"), dict):
            continue
        entries.append(e)

    def _ratios(pool):
        # Returns (ratios, contributing entries): the label must name
        # only the entries that actually yielded a ratio — a pin the
        # <20-shared-queries guard excluded contributed nothing and
        # crediting it would misattribute the band (r11, ADVICE).
        out, used = [], []
        for e in pool:
            common = set(e["queries"]) & set(timings)
            if len(common) < 20:
                continue
            den = sum(e["queries"][q] for q in common)
            if den > 0:
                out.append(sum(timings[q] for q in common) / den)
                used.append(e)
        return out, used

    pinned = [e for e in entries if e.get("run_id") in pins]
    ratios, used = _ratios(pinned)
    label = "pinned:" + ",".join(
        e.get("run_id") for e in used
    ) if ratios else None
    if not ratios:
        ratios, used = _ratios(entries)
        label = f"all_history_median:n={len(ratios)}" if ratios else None
    if not ratios:
        return None, None
    ratios.sort()
    return ratios[len(ratios) // 2], label


def _run_count_hist(all_runs: dict[str, list[float]]) -> dict[str, int]:
    hist: dict[str, int] = {}
    for runs in all_runs.values():
        k = str(len(runs))
        hist[k] = hist.get(k, 0) + 1
    return hist


def _compact(payload: dict, budget: int) -> dict:
    """Shrink the bench payload to fit in ``budget`` serialized chars.

    Keeps every scalar field; the per-query map is filled
    slowest-first until the serialized line would exceed the budget,
    so the entries most likely to matter for regression triage always
    survive. The full map lives in BENCH_HISTORY.jsonl (same run_id).
    """
    slowest = sorted(payload["queries"].items(), key=lambda kv: -kv[1])
    out = {
        "metric": payload["metric"],
        "run_id": payload["run_id"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        **{k: payload["host"][k] for k in HOST_FIELDS},
        "n_queries": len(payload["queries"]),
        "total_median_seconds": payload["total_median_seconds"],
        "run_counts": payload.get("run_counts"),
        "band_vs_history": payload.get("band_vs_history"),
        "band_vs_history_initial": payload.get("band_vs_history_initial"),
        "band_reference": payload.get("band_reference"),
        "band_extra_passes": payload.get("band_extra_passes", 0),
        "value_initial": payload.get("value_initial"),
        "n_retry_errors": len(payload.get("retry_errors", {})),
        "n_errors": len(payload["errors"]),
        "error_names": sorted(payload["errors"])[:20],
        "queries": {},
        "queries_omitted": len(slowest),
        "detail": "BENCH_HISTORY.jsonl",
    }
    if "round_close_accepted" in payload:
        out["round_close_accepted"] = payload["round_close_accepted"]
    # Phase fields only when measured — keeps the fixed-field
    # footprint unchanged for payloads without a canary estimate.
    for k in ("phase_ratio_start", "phase_ratio_end"):
        if payload.get(k) is not None:
            out[k] = payload[k]
    # The fixed fields themselves can exceed the budget on an
    # error-heavy round (up to 20 long registry names in error_names).
    # Trim error_names BEFORE filling the query map, so the fill loop
    # works against the real remaining budget — trimming afterwards
    # would strand the freed space with zero per-query entries.
    while len(json.dumps(out)) > budget and out["error_names"]:
        out["error_names"].pop()
    for name, sec in slowest:
        out["queries"][name] = sec
        out["queries_omitted"] -= 1
        if len(json.dumps(out)) > budget:
            del out["queries"][name]
            out["queries_omitted"] += 1
            break
    # Last resort: if even the trimmed fixed fields overflow, shed
    # query entries until the serialized line is guaranteed to fit.
    while len(json.dumps(out)) > budget and out["queries"]:
        name = next(reversed(out["queries"]))
        del out["queries"][name]
        out["queries_omitted"] += 1
    return out


if __name__ == "__main__":
    main()
