"""Pure helpers: percentiles, per-file freshness, spreads, process memory.

Nothing here touches Spark, so the rules the benchmark reports by are unit
tested on synthetic inputs (``perfbench/tests``).
"""

from __future__ import annotations

import json
import os
import statistics

# candidate percentiles, lowest first; the tail reported is the highest one
# with at least MIN_BEYOND samples above it
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of ``LADDER`` with at least ``MIN_BEYOND`` of
    ``n`` samples beyond it, or None when even the median lacks them."""
    best = None
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            best = p
    return best


def summarize(values) -> dict:
    """Median, the supported tail percentile and the sample count."""
    n = len(values)
    if n == 0:
        return {"n": 0, "p50": 0.0, "tail_pct": 0.0, "tail": 0.0}
    tp = tail_percentile(n)
    return {
        "n": n,
        "p50": percentile(values, 50.0),
        "tail_pct": tp or 0.0,
        "tail": percentile(values, tp) if tp else 0.0,
    }


def round_medians(samples) -> tuple[float, float]:
    """Closed-loop figures that one slow round cannot move: the median over
    distinct ops of each op's median time, and the median round time.

    ``samples``: (op key, ms) pairs of whole rounds, in the order run."""
    by_key: dict = {}
    for key, ms in samples:
        by_key.setdefault(key, []).append(ms)
    per_round = len(by_key)
    rounds = [
        sum(ms for _, ms in samples[i : i + per_round])
        for i in range(0, len(samples), per_round)
    ]
    op_p50 = statistics.median(statistics.median(v) for v in by_key.values())
    return op_p50, statistics.median(rounds)


def iqr_share(values) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


# --- streaming freshness ---------------------------------------------------


def freshness_ms(send_s: dict, batch_files: dict, commit_s: dict) -> dict:
    """Per-file freshness: scheduled send time -> commit of the first
    micro-batch whose source log lists the file.

    ``send_s``: file name -> scheduled send time (epoch seconds);
    ``batch_files``: batch id -> file names the source log assigns to it;
    ``commit_s``: batch id -> sink commit time (epoch seconds).
    Files never committed are absent from the result."""
    first_batch: dict = {}
    for batch in sorted(batch_files):
        for name in batch_files[batch]:
            first_batch.setdefault(name, batch)
    out = {}
    for name, sent in send_s.items():
        batch = first_batch.get(name)
        if batch is not None and batch in commit_s:
            out[name] = (commit_s[batch] - sent) * 1000.0
    return out


def _log_batch_id(entry: str) -> int | None:
    stem = entry[: -len(".compact")] if entry.endswith(".compact") else entry
    return int(stem) if stem.isdigit() else None


def source_log(source_dir: str) -> dict:
    """Batch id -> file base names, from a file source's checkpoint log
    (``<checkpoint>/sources/0``, compacted files included)."""
    out: dict = {}
    for entry in os.listdir(source_dir):
        if _log_batch_id(entry) is None:
            continue
        with open(os.path.join(source_dir, entry)) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the version
        for line in lines:
            if line.strip():
                rec = json.loads(line)
                out.setdefault(rec["batchId"], set()).add(
                    os.path.basename(rec["path"])
                )
    return out


def commit_times(metadata_dir: str) -> dict:
    """Batch id -> sink commit time: the mtime of the file sink's
    ``_spark_metadata/<batch>`` entry, written when the batch commits."""
    out = {}
    for entry in os.listdir(metadata_dir):
        batch = _log_batch_id(entry)
        if batch is not None:
            out[batch] = os.stat(os.path.join(metadata_dir, entry)).st_mtime_ns / 1e9
    return out


def backlog_max(send_s: list, commit_s: list) -> int:
    """Largest number of files sent but not yet committed, checked at each
    send. ``commit_s`` holds each committed file's commit time."""
    commits = sorted(commit_s)
    worst, j = 0, 0
    for i, t in enumerate(sorted(send_s)):
        while j < len(commits) and commits[j] <= t:
            j += 1
        worst = max(worst, i + 1 - j)
    return worst


# --- process memory --------------------------------------------------------


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(parent: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == parent:
            out.append(int(entry))
    return out


def peak_rss_mb() -> float:
    """High-water resident memory of this process plus its direct children
    (the Spark driver JVM), in MiB."""
    me = os.getpid()
    kb = _hwm_kb(me) + sum(_hwm_kb(p) for p in child_pids(me))
    return kb / 1024.0
