"""Measurement plumbing: host record, peak-RSS sampler, job counting and
the span tracer used by traced runs.

Spans are kept in memory (name, start, end, parent, job group) and written
out once when the run ends. Per-layer job counts come from the Spark status
tracker; shuffle bytes and Python-UDF bytes come from the UI REST API,
which only traced runs switch on (SPARK_GRAFT_UI=1).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import re
import subprocess
import threading
import time
import urllib.request


def host_record(root: str, workload: str, seed: int, cpus: int) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "dedupe_rust_spark", "**",
                                              "*.py"), recursive=True)):
        with open(path, "rb") as f:
            digest.update(f.read())
    return {
        "workload": workload, "seed": seed, "cpus": cpus,
        "nproc": os.cpu_count(), "loadavg_1m": os.getloadavg()[0],
        "git_commit": commit, "engine_sha256": digest.hexdigest()[:16],
        "pyspark": pyspark.__version__,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
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


class RssSampler:
    """Peak summed RSS of a process tree (the Spark JVM and the Python
    workers it forks), sampled every `period` seconds on a daemon thread.
    `take()` returns the peak since the previous call and starts anew."""

    def __init__(self, pid: int, period: float = 0.2):
        self.pid, self.period = pid, period
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list[int]:
        kids, out, todo = _children(), [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def _loop(self) -> None:
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in self._tree())
            with self._lock:
                self._peak_kb = max(self._peak_kb, kb)
            self._stop.wait(self.period)

    def take(self) -> float:
        """Peak MB since the previous take()."""
        with self._lock:
            kb, self._peak_kb = self._peak_kb, 0
        return kb / 1024

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


_SIZE_RE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _size_bytes(text: str) -> float:
    """First size in a SQL metric string ('12.3 KiB' or the
    'total (min, med, max ...)\\n12.3 KiB (...)' form)."""
    m = _SIZE_RE.search(text.split("\n")[-1] if "\n" in text else text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class Tracer:
    """Layer spans with one Spark job group each.

    `span(name)` runs its body under job group `<pass>:<name>`; the group's
    jobs are attributed to that layer. Layer counters are filled in by the
    caller through the yielded dict."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pass = 0

    def next_pass(self) -> None:
        self._pass += 1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "pass": self._pass,
               "parent": parent["name"] if parent else None,
               "group": f"trace{self._pass}:{name}", "counts": {}}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.monotonic()
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["jobs"] = len(self.sc.statusTracker()
                              .getJobIdsForGroup(rec["group"]))
            self.spans.append(rec)

    def pass_spans(self) -> dict[str, dict]:
        return {s["name"]: s for s in self.spans if s["pass"] == self._pass}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: s[k] for k in
                                    ("pass", "name", "parent", "group",
                                     "start", "end", "jobs", "counts")})
                        + "\n")


class Rest:
    """Minimal reader of the Spark UI REST API (localhost only)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
                     if sc.uiWebUrl else None)

    def get(self, path: str):
        if self.base is None:
            return []
        with urllib.request.urlopen(self.base + path, timeout=20) as r:
            return json.load(r)

    def settle(self, timeout: float = 10.0) -> list[dict]:
        """All jobs, once the listener bus has caught up (none running)."""
        deadline = time.monotonic() + timeout
        jobs = self.get("/jobs")
        while (any(j["status"] == "RUNNING" for j in jobs)
               and time.monotonic() < deadline):
            time.sleep(0.1)
            jobs = self.get("/jobs")
        return jobs

    def new_jobs(self, before: set[int]) -> list[dict]:
        return [j for j in self.settle() if j["jobId"] not in before]

    def shuffle_bytes(self, jobs: list[dict]) -> float:
        """Shuffle bytes written by the completed stages of `jobs`."""
        stage_w = {s["stageId"]: s.get("shuffleWriteBytes", 0)
                   for s in self.get("/stages?status=complete")}
        return float(sum(stage_w.get(s, 0) for j in jobs
                         for s in j["stageIds"]))

    def group_bytes(self, groups: list[str]) -> dict[str, dict[str, float]]:
        """Per job group: shuffle bytes written and Python UDF bytes
        (sent + returned through ArrowEvalPython-style nodes)."""
        jobs = self.settle()
        job_group = {j["jobId"]: j.get("jobGroup") for j in jobs}
        out = {g: {"shuffle_bytes": self.shuffle_bytes(
                       [j for j in jobs if j.get("jobGroup") == g]),
                   "udf_bytes": 0.0} for g in groups}
        for ex in self.get("/sql?details=true&planDescription=false"
                           "&offset=0&length=100000"):
            ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                   + ex.get("runningJobIds", []))
            gs = {job_group.get(i) for i in ids} & set(out)
            if len(gs) != 1:
                continue
            g = gs.pop()
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") in _PY_BYTES:
                        out[g]["udf_bytes"] += _size_bytes(m.get("value", ""))
        return out

