"""Measurement helpers that sit outside the program: a peak-RSS sampler over
the driver's process tree that also splits out the Java heap, on-disk size of the engine's output directories,
and a span tracer that wraps the engine's layer entry points.

Spark is lazy: a span around ``ingest`` or ``StateStore.load`` measures plan
construction only. Executed work shows in the ``StateStore.save`` and
``append_to_queue`` spans and in the engine's own section marks.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces; ppid is the 2nd field after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:
        return False


def java_heap_rss_kb(pid: int) -> int:
    """Resident part of a JVM's Java heap. The heap is one contiguous
    reservation of -Xmx bytes, split into several anonymous mappings as G1
    commits and uncommits regions, and it is the largest such run in the
    address space: sum the Rss over that run."""
    runs = []  # [start, end, rss_kb] of contiguous anonymous mappings
    anon = False
    try:
        with open(f"/proc/{pid}/smaps") as f:
            for line in f:
                head = line.split(maxsplit=6)
                if "-" in head[0] and len(head) >= 5 and ":" in head[3]:
                    start, end = (int(x, 16) for x in head[0].split("-"))
                    anon = len(head) == 5  # no pathname
                    if anon:
                        if runs and runs[-1][1] == start:
                            runs[-1][1] = end
                        else:
                            runs.append([start, end, 0])
                elif anon and head[0] == "Rss:":
                    runs[-1][2] += int(head[1])
    except OSError:
        return 0
    return max(runs, key=lambda r: r[1] - r[0])[2] if runs else 0


def tree_rss_mb(root: int) -> tuple[float, float]:
    """(RSS of ``root`` and all its descendants, resident Java heap of the
    JVMs among them), in MB."""
    kids = _children_map()
    total = heap = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        if _is_jvm(pid):
            heap += java_heap_rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0, heap / 1024.0


class RssSampler:
    """Samples the process tree's RSS every ``period`` seconds on a daemon
    thread and keeps three peaks: the whole tree (``peak_mb``), the tree
    without the Java heap (``peak_nonheap_mb``: Python driver, Python
    workers, JVM native memory) and the Java heap alone (``peak_heap_mb``).
    """

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_mb = self.peak_nonheap_mb = self.peak_heap_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total, heap = tree_rss_mb(os.getpid())
        self.peak_mb = max(self.peak_mb, total)
        self.peak_nonheap_mb = max(self.peak_nonheap_mb, total - heap)
        self.peak_heap_mb = max(self.peak_heap_mb, heap)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.period):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


class Tracer:
    """In-memory spans around the engine's layer entry points.

    ``install`` swaps the names the engine module calls (``ingest``,
    ``append_to_queue``) and the ``StateStore`` methods for timing wrappers;
    ``uninstall`` puts the originals back. Every span's parent is the
    ``process_batch`` span open at the time. Sink appends run on worker
    threads, so spans are appended to a plain list (atomic under the GIL).
    """

    def __init__(self):
        self.spans: List[dict] = []
        self.batch_span = None
        self._saved: list = []

    def span(self, name: str, start: float, end: float, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": self.batch_span, **attrs}
        )
        return len(self.spans) - 1

    def _wrap(self, name, fn, label=None):
        tracer = self

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.span(label(*args, **kwargs) if label else name,
                            t0, time.perf_counter())

        return traced

    def install(self, drq_path: str) -> None:
        from kinesis_stream_consumer_spark.streaming import engine as em
        from kinesis_stream_consumer_spark.streaming.state import StateStore

        def queue_label(envelopes, path, n_rows=None):
            return "dlq.drq_append" if path == drq_path else "dlq.dmq_append"

        for owner, attr, name, label in (
            (em, "ingest", "ingest.plan", None),
            (em, "append_to_queue", None, queue_label),
            (StateStore, "load", "state.load", None),
            (StateStore, "save", "state.save", None),
        ):
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig, label))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved = []

    def batch_sums(self, batch_span: int) -> Dict[str, float]:
        """Total span time per name among the children of one batch span."""
        out: Dict[str, float] = {}
        for s in self.spans:
            if s["parent"] == batch_span:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out
