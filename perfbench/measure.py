"""Metric names, statistics and process sampling shared by the benchmark.

Nothing here imports Spark, so the benchmark's own tests can load it
without a JVM.
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
import threading

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

WORKLOADS = ("contexts_e2e", "crawl_frontier")

# name -> (unit, better).  One set for every workload: the throughput
# counts the workload's own unit of work (pages kept for the pipeline; URLs
# scheduled plus spans extracted for the crawl), and the latency is that of
# one operation, the step a user waits for (one pipeline phase, as one CLI
# command runs it; one crawl wave).
END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "latency_s.p50": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

UDFS = ("parse_page", "parse_wikitext", "clean_text", "phrase_match", "crop_mask")
WAVE_PHASES = (
    "schedule_fetch", "expand_plan", "commit_seen", "commit_runlog",
    "commit_frontier", "gc_fetched",
)

# name -> unit.  Every name is printed for every workload under --trace 1;
# a layer the workload never enters reads 0.
PER_LAYER = {
    "host.canary_s.pre": "s",
    "host.canary_s.post": "s",
    "host.steal_frac": "ratio",
    "setup.session_s": "s",
    "setup.datagen_s": "s",
    "setup.warmup_s": "s",
    "setup.check_s": "s",
    "jvm.gc_s": "s",
    "exec.peak_mem_bytes": "bytes",
    "trace.items_per_s": "1/s",
    "trace.latency_s.p50": "s",
    "ingest.s": "s",
    "matches.s": "s",
    "contexts.s": "s",
    **{f"udf.{u}.worker_s": "s" for u in UDFS},
    **{f"udf.{u}.bytes_io": "bytes" for u in UDFS},
    "udf.phrase_match.rows_per_page": "ratio",
    "matches.shuffle_bytes": "bytes",
    "contexts.shuffle_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "dao.rows.pages": "count",
    "dao.rows.matches": "count",
    "dao.rows.mentions": "count",
    "dao.rows.contexts": "count",
    "contexts.yield": "ratio",
    "dao.bytes_per_input_byte": "ratio",
    "crawl.seed_s": "s",
    **{f"crawl.{p}_s": "s" for p in WAVE_PHASES},
    "checkpoint.resume_s": "s",
    "udf.fetch_extract.worker_s": "s",
    "udf.fetch_extract.bytes_io": "bytes",
    "crawl.shuffle_bytes": "bytes",
    "crawl.spill_bytes": "bytes",
    "crawl.scheduled": "count",
    "crawl.extracted": "count",
    "crawl.new_urls": "count",
    "crawl.queued_rows": "count",
    "checkpoint.bytes_per_seen_url": "bytes",
    "checkpoint.files": "count",
}


def median(xs) -> float:
    return float(statistics.median(xs))


def tally(ops_per_pass: list[int], pass_digests: list[str | None], checked_digest: str,
          check_ok: bool) -> tuple[int, int]:
    """(attempted, failed) over the timed passes.

    A pass whose output digest differs from the checked run's (or that
    raised, digest None) fails all of its operations; a failed reference
    check fails every operation of the run."""
    attempted = sum(ops_per_pass)
    if not check_ok:
        return attempted, attempted
    failed = sum(n for n, d in zip(ops_per_pass, pass_digests) if d != checked_digest)
    return attempted, failed


def sha256_lines(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    host's CPUs since boot (/proc/stat)."""
    with open("/proc/stat", encoding="utf-8") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                # the command name may hold spaces: the ppid follows ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pss_bytes(root: int) -> int:
    """Resident bytes of every process below ``root`` (the Spark JVM and
    the Python workers it forks), excluding ``root`` itself.  Summed as
    PSS, so pages the forked workers share are counted once."""
    kids = _children()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Samples tree_pss_bytes(os.getpid()) on a thread while entered."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))

