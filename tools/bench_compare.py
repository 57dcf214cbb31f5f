#!/usr/bin/env python
"""Per-query bench regression gate: compare two ``bench.py`` detail
documents and flag the queries that regressed beyond the threshold.

Usage:
    python bench.py > /tmp/bench_now.out
    python tools/bench_compare.py BENCH_r14_local.json /tmp/bench_now.out

Each argument is a bench.py detail document: a ``BENCH_local_detail_c{N}.json``
sidecar, a seal such as ``BENCH_r14_local.json``, or captured bench stdout
(whose first line is the detail). A file without a ``queries`` map or
without ``host_control`` is refused, naming the file, and so is a pair of
runs at two core counts. Exit status 1 iff any query regressed more than
THRESHOLD, so the check can gate CI.

Host normalisation: two windows rarely run at the same clock, and a
throttled host inflates every row of a byte-identical plan alike. Each
detail carries ``host_control``, the min time of bench.py's plan-free CPU
kernel; the ratio of the two kernels is the host factor. Every row reports
both the raw ratio and the ratio divided by the host factor, and the exit
gate reads the normalised column. The factor is cross-checked against the
median ratio of the CONTROLS queries: a disagreement above 25% is printed,
because a kernel shift without a matching query shift means the CPU/IO
balance moved and flagged rows need a human eye.

Burst noise: a row whose normalised min ratio breaches the threshold but
whose normalised ``queries_median`` ratio does not is recorded as burst
noise, not a regression — a host burst inflates one window's runs, while a
real plan regression moves the medians too.
"""

from __future__ import annotations

import json
import signal
import statistics
import sys

# head/tail truncation of the table must not traceback
signal.signal(signal.SIGPIPE, signal.SIG_DFL)

THRESHOLD = 1.3

# Plans byte-stable across rounds, cheap, pure scan/agg shapes: the
# cross-check on the host-control kernel's factor.
CONTROLS = (
    "dedup_exact_text",
    "embedding_quantize_int8",
    "text_fingerprint",
    "salted_sum_by_user",
    "sequence_packing",
    "heatmap_rollup",
    "window_functions_battery",
)

# Control-adjacent watch list: expensive rows whose plans are long-stable;
# any movement here is marked so the record carries the adjudication.
WATCH = (
    "timeseries_user_similarity",
    "mutual_nearest_lsh",
    "pipeline_training_manifest",
    # one-row window-over-window drift on a byte-identical plan while its
    # audio siblings ran faster
    "audio_fingerprint_neardup",
)


def _load(path: str) -> tuple[dict[str, float], dict[str, float], dict, int | None]:
    """``(queries, queries_median, host_control, cpus)`` of one detail document."""
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        try:  # captured bench stdout: the detail line comes first
            doc = json.loads(text.partition("\n")[0])
        except json.JSONDecodeError:
            doc = None
    if not isinstance(doc, dict) or not isinstance(doc.get("queries"), dict):
        raise SystemExit(f"{path}: no 'queries' map — not a bench.py detail document")
    hc = doc.get("host_control")
    if not isinstance(hc, dict) or not hc.get("min") or not hc.get("rows"):
        raise SystemExit(f"{path}: no 'host_control' kernel timing — cannot normalise")
    return doc["queries"], doc.get("queries_median", {}), hc, doc.get("cpus")


def _control_factor(
    old: dict[str, float], new: dict[str, float], hc_old: dict, hc_new: dict
) -> tuple[float, str]:
    """The host-speed ratio new/old from the host-control kernel, and a note
    that cross-checks it against the control queries."""
    f = hc_new["min"] / hc_old["min"]
    ctrl = [new[c] / old[c] for c in CONTROLS if c in old and c in new and old[c] > 0]
    shared = [new[n] / old[n] for n in new if n in old and old[n] > 0]
    med = statistics.median(shared) if shared else 1.0
    if not ctrl:
        return f, f"host-control kernel {f:.2f}x (shared-row median {med:.2f}x)"
    ctrl_med = statistics.median(ctrl)
    note = (
        f"host-control kernel {f:.2f}x "
        f"({hc_old['min']:.2f}s -> {hc_new['min']:.2f}s on "
        f"{hc_new['rows']:,} rows; control-query median "
        f"{ctrl_med:.2f}x over n={len(ctrl)}, "
        f"shared-row median {med:.2f}x)"
    )
    if abs(ctrl_med / f - 1.0) > 0.25:
        note += (
            " — KERNEL AND CONTROL QUERIES DISAGREE >25%: the CPU/IO"
            " balance moved between windows; normalizing by the kernel,"
            " but adjudicate flagged rows by hand"
        )
    return f, note


def main() -> int:
    if len(sys.argv) != 3:
        raise SystemExit("usage: bench_compare.py OLD_DETAIL NEW_DETAIL")
    old_path, new_path = sys.argv[1:]
    old, old_med, hc_old, cpus_old = _load(old_path)
    new, new_med, hc_new, cpus_new = _load(new_path)
    if hc_old["rows"] != hc_new["rows"]:
        raise SystemExit(
            f"{old_path} and {new_path}: host-control kernels ran different row counts"
        )
    # The kernel's fixed 16 partitions scale with the core count far more
    # than the queries do, so its ratio is a host factor only at one count.
    if cpus_old and cpus_new and cpus_old != cpus_new:
        raise SystemExit(
            f"{old_path} ran at {cpus_old} cpus and {new_path} at {cpus_new}: "
            f"compare runs at one core count"
        )

    factor, factor_note = _control_factor(old, new, hc_old, hc_new)

    rows, regressions, burst_noise = [], [], []
    for name, t_new in new.items():
        t_old = old.get(name)
        if t_old is None:
            rows.append((name, None, t_new, None, None, "new"))
            continue
        ratio = t_new / t_old if t_old else float("inf")
        norm = ratio / factor
        flag = "REGRESSED" if norm > THRESHOLD else ("improved" if norm < 1 / THRESHOLD else "ok")
        if norm > THRESHOLD:
            m_old, m_new = old_med.get(name), new_med.get(name)
            m_norm = (m_new / m_old) / factor if m_old and m_new else None
            if m_norm is not None and m_norm <= THRESHOLD:
                flag = f"burst-noise (median {m_norm:.2f}x)"
                burst_noise.append(name)
            else:
                regressions.append(name)
        if name in WATCH and flag != "ok":
            flag += " [watch]"
        rows.append((name, t_old, t_new, ratio, norm, flag))
    for name, t_old in old.items():
        if name not in new:
            rows.append((name, t_old, None, None, None, "dropped"))

    print(f"host control factor: {factor:.2f}x — {factor_note}\n")
    print(f"| query | {old_path} (s) | {new_path} (s) | raw | normalized | status |")
    print("|---|---|---|---|---|---|")
    for name, t_old, t_new, ratio, norm, flag in sorted(rows, key=lambda r: -(r[4] or 0)):
        fo = f"{t_old:.2f}" if t_old is not None else "—"
        fn = f"{t_new:.2f}" if t_new is not None else "—"
        fr = f"{ratio:.2f}x" if ratio is not None else "—"
        fm = f"{norm:.2f}x" if norm is not None else "—"
        print(f"| {name} | {fo} | {fn} | {fr} | {fm} | {flag} |")
    tot_old, tot_new = sum(old.values()), sum(new.values())
    print(f"\ntotal: {tot_old:.1f}s -> {tot_new:.1f}s (raw {tot_new / tot_old:.2f}x, "
          f"normalized {tot_new / tot_old / factor:.2f}x), "
          f"threshold {THRESHOLD}x on normalized, regressions: {regressions or 'none'}, "
          f"burst-noise dispositions: {burst_noise or 'none'}")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
