"""Measurement plumbing shared by the workloads.

Everything here lives outside ``sdlt_spark``: the benchmark times calls at
the public API boundary and reads Spark's own status store, so it never
needs a hook inside the library.

- :class:`Scratch` gives a run its own directory tree (tables, ``TMPDIR``,
  Spark local dirs, the JVM temp dir) and deletes it at the end.
- :class:`Recorder` times every call into a layer (one *span* per call).
  With tracing on, every other call of each span name runs under its own
  Spark job group, so its jobs can be attributed to it afterwards; the
  calls in between run untagged and give the tracing-overhead baseline.
- :func:`harvest` reads every job and stage of the application from the
  status store in two py4j calls (JSON via the Jackson mapper Spark ships
  with). It works with ``spark.ui.enabled=false`` and launches no job.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench"

# Every span the benchmark can record, ``<layer>.<call>``. The per-layer
# report lists all of them on every workload (0 where a workload never
# calls it), so the metric set is the same on every run.
SPANS = [
    "session.get_spark",
    "store.vintage.write",
    "store.vintage.merge",
    "store.vintage.update",
    "store.vintage.delete",
    "store.vintage.replace_where",
    "store.vintage.read_where",
    "store.vintage.read_version",
    "store.vintage.history",
    "store.vintage.table_changes",
    "operators.dedup.minhash_dedup",
    "operators.dedup.simhash_neardup",
    "operators.dedup.dedup_clusters",
    "queries.dedup_pipeline",
    "operators.minhash_index.build",
    "operators.minhash_index.refresh",
    "operators.similarity.ivf_build",
    "operators.similarity.ivf_refresh",
    "operators.similarity.ivf_search",
]
SHUFFLE_SPANS = [s for s in SPANS if s.startswith(("operators.", "queries."))]
INPUT_SPANS = [
    "store.vintage.read_where",
    "store.vintage.read_version",
    "store.vintage.history",
    "store.vintage.table_changes",
]
COUNTS = [
    "spark.untagged_jobs",
    "spark.untagged_exec_cpu_s",
    "store.vintage.write_amp",
    "store.vintage.log_files",
    "operators.dedup.verify_yield",
    "scratch_left_mb",
    "tracing_overhead_frac",
    # the JVM's resident size follows garbage-collection timing and moved by
    # a third between runs of one seed, too much to bound end to end
    "peak_rss_mb",
]
# Per-kind figures that stay in the traced report: tails (a run has too
# few calls of a kind for a steady tail); read latency, whose half-second
# calls slowed by up to 2x in the host's slow spells, more than a bound
# allows; and the refresh kind, which only corpus_refresh has (0 elsewhere).
KIND_METRICS = [
    "commit_tail_s",
    "read_p50_s",
    "read_tail_s",
    "refresh_p50_s",
    "refresh_tail_s",
    "failed_frac",
]


# (name, unit, better) of the end-to-end metrics, in report order
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("commit_p50_s", "s", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("space_amp", "ratio", "lower"),
]
HIGHER_IS_BETTER = {"operators.dedup.verify_yield"}


def per_layer_names() -> list[str]:
    names = []
    for s in SPANS:
        names += [f"{s}.busy_s", f"{s}.outside_jobs_s", f"{s}.jobs", f"{s}.exec_cpu_s"]
    names += [f"{s}.shuffle_mb" for s in SHUFFLE_SPANS]
    names += [f"{s}.input_mb" for s in INPUT_SPANS]
    return names + COUNTS + KIND_METRICS


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_amp", "_yield")):
        return "ratio"
    return "count"


# ----------------------------------------------------------------- scratch


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass
    return total


class Scratch:
    """A per-run directory under the checkout. ``TMPDIR``, Spark's local
    dirs and the JVM's ``java.io.tmpdir`` all point into it, so whatever
    the library leaves in temp space is measured (``leftover_mb``) and then
    removed with the rest of the run."""

    def __init__(self, base: str):
        self.base = base
        self.root = os.path.join(base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "spark-local")
        self.data = os.path.join(self.root, "data")
        for d in (self.tmp, self.local, self.data):
            os.makedirs(d)

    def activate(self) -> None:
        import tempfile

        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        tempfile.tempdir = None  # re-read TMPDIR on next use
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                f"--driver-java-options -Djava.io.tmpdir={self.tmp}",
                "--conf spark.ui.showConsoleProgress=false",
                # keep every job and stage of a run in the status store
                "--conf spark.ui.retainedJobs=1000000",
                "--conf spark.ui.retainedStages=1000000",
                "--conf spark.sql.ui.retainedExecutions=100",
                "pyspark-shell",
            ]
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.data, *parts)

    def leftover_mb(self) -> float:
        """Bytes the library left in temp space, in MB."""
        return dir_bytes(self.tmp) / 1e6

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(self.base)  # only when no other run is using it
        except OSError:
            pass


# --------------------------------------------------------------- recording


@dataclass
class Op:
    name: str
    kind: str  # commit | read | refresh | batch | setup
    start: float  # epoch seconds, comparable with Spark job times
    end: float
    ok: bool
    group: str | None
    parent: str | None
    run_id: str

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Cycle:
    start: float
    end: float

    @property
    def wall(self) -> float:
        return self.end - self.start


class OpFailed(RuntimeError):
    pass


@dataclass
class Recorder:
    trace: bool
    run_id: str
    sc: object = None
    ops: list = field(default_factory=list)
    cycles: list = field(default_factory=list)
    # what the harness is doing: setup | build | warmup | cycle | check;
    # recorded as each span's parent
    phase: str = "setup"
    _seen: Counter = field(default_factory=Counter)
    _cycle_start: float | None = None

    def call(self, name: str, kind: str, fn, *args, **kwargs):
        """Run ``fn`` as span ``name``; returns its result. A raising call
        is recorded as failed and re-raised as :class:`OpFailed`."""
        n = self._seen[name]
        self._seen[name] += 1
        group = None
        if self.trace and self.sc is not None and n % 2 == 0:
            group = f"{GROUP_PREFIX}:{self.run_id}:{len(self.ops)}:{name}"
            self.sc.setJobGroup(group, name)
        start = time.time()
        p0 = time.perf_counter()
        ok = False
        try:
            out = fn(*args, **kwargs)
            ok = True
            return out
        except Exception as exc:
            raise OpFailed(f"{name}: {exc!r}") from exc
        finally:
            end = start + (time.perf_counter() - p0)
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.ops.append(Op(name, kind, start, end, ok, group, self.phase, self.run_id))

    def begin_cycle(self) -> None:
        self.phase = "cycle"
        self._cycle_start = time.time()
        self._p0 = time.perf_counter()

    def end_cycle(self) -> None:
        end = self._cycle_start + (time.perf_counter() - self._p0)
        self.cycles.append(Cycle(self._cycle_start, end))
        self._cycle_start = None
        self.phase = "loop"

    def loop_ops(self) -> list[Op]:
        return [o for o in self.ops if o.parent == "cycle"]

    def spans_json(self) -> list[dict]:
        return [
            {
                "name": o.name,
                "start": o.start,
                "end": o.end,
                "parent": o.parent,
                "run_id": o.run_id,
                "traced": o.group is not None,
                "ok": o.ok,
            }
            for o in self.ops
        ]


# ----------------------------------------------------------------- harvest


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0


def _job_count(spark) -> int:
    return spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()


def harvest(spark) -> list[Job]:
    """All jobs of the application with their stage metrics summed.

    Each stage id is credited to the first job that lists it; a later job
    that reuses the stage lists it as skipped and ran none of its tasks.
    Raises if reading the status store launched a job."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    before = _job_count(spark)
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs_js = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages_js = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    after = _job_count(spark)
    if after != before:
        raise RuntimeError(f"harvesting launched {after - before} Spark job(s)")

    by_stage: dict[int, list[dict]] = {}
    for s in stages_js:
        by_stage.setdefault(s["stageId"], []).append(s)
    jobs = []
    credited: set[int] = set()
    for j in sorted(jobs_js, key=lambda j: j["jobId"]):
        start = (j.get("submissionTime") or 0) / 1000.0
        end = (j.get("completionTime") or j.get("submissionTime") or 0) / 1000.0
        job = Job(j["jobId"], j.get("jobGroup"), start, max(start, end))
        for sid in j.get("stageIds", []):
            if sid in credited:
                continue
            credited.add(sid)
            for s in by_stage.get(sid, []):
                job.cpu_s += s.get("executorCpuTime", 0) / 1e9
                job.shuffle_bytes += s.get("shuffleWriteBytes", 0)
                job.input_bytes += s.get("inputBytes", 0)
        jobs.append(job)
    return jobs


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ------------------------------------------------------------------- stats

# Spark stamps job times in whole milliseconds; a job submitted in the
# first millisecond of a call can read as up to 1 ms before its start.
_SLACK = 0.002


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least 10
    samples beyond it; the slowest sample when that percentile would not
    be above the median (fewer than 23 samples)."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0
    i = n - 11 if n - 11 > n // 2 else n - 1
    return v[i], 100.0 * (i + 1) / n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the Spark JVM, in MB."""

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
        return 0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm_pid)) / 1e6


def end_to_end(rec: Recorder, jobs: list[Job], setup_walls: list[float], space_amp: float) -> dict:
    ops = rec.loop_ops()
    cpu_per_cycle = [
        sum(j.cpu_s for j in jobs if c.start - _SLACK <= j.start < c.end) for c in rec.cycles
    ]
    values = {
        "setup_s": median(setup_walls),
        "wall_s": median([c.wall for c in rec.cycles]),
        "commit_p50_s": median([o.wall for o in ops if o.kind == "commit"]),
        "exec_cpu_s": median(cpu_per_cycle),
        "space_amp": space_amp,
    }
    return {name: (values[name], unit) for name, unit, _better in END_TO_END}


def kind_metrics(rec: Recorder) -> tuple[dict, dict]:
    """Per-kind tails, read and refresh latency, plus the percentile and
    sample count each tail was taken at."""
    ops = rec.loop_ops()
    out, tails = {}, {}
    for kind in ("commit", "read", "refresh"):
        walls = [o.wall for o in ops if o.kind == kind]
        value, pct = tail(walls)
        if kind != "commit":
            out[f"{kind}_p50_s"] = median(walls)
        out[f"{kind}_tail_s"] = value
        tails[f"{kind}_tail_s"] = {"percentile": pct, "samples": len(walls)}
    out["failed_frac"] = sum(not o.ok for o in ops) / max(1, len(ops))
    return out, tails


def per_layer(rec: Recorder, jobs: list[Job], spark) -> dict:
    """Per-span means over the traced calls, plus untagged-job counts."""
    traced = [o for o in rec.ops if o.group is not None]
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        if j.group:
            by_group.setdefault(j.group, []).append(j)
    out: dict[str, float] = {}
    for span in SPANS:
        calls = [o for o in rec.ops if o.name == span and (o.group or span == "session.get_spark")]
        stats = []
        for o in calls:
            js = by_group.get(o.group, []) if o.group else []
            in_jobs = union_seconds([(j.start, j.end) for j in js], o.start, o.end)
            stats.append(
                (
                    o.wall,
                    max(0.0, o.wall - in_jobs),
                    len(js),
                    sum(j.cpu_s for j in js),
                    sum(j.shuffle_bytes for j in js) / 1e6,
                    sum(j.input_bytes for j in js) / 1e6,
                )
            )
        mean = [statistics.fmean(col) for col in zip(*stats)] if stats else [0.0] * 6
        out[f"{span}.busy_s"] = mean[0]
        out[f"{span}.outside_jobs_s"] = mean[1]
        out[f"{span}.jobs"] = mean[2]
        out[f"{span}.exec_cpu_s"] = mean[3]
        if span in SHUFFLE_SPANS:
            out[f"{span}.shuffle_mb"] = mean[4]
        if span in INPUT_SPANS:
            out[f"{span}.input_mb"] = mean[5]
    untagged = [
        j
        for j in jobs
        if not (j.group or "").startswith(GROUP_PREFIX)
        and any(o.start - _SLACK <= j.start <= o.end for o in traced)
    ]
    out["spark.untagged_jobs"] = len(untagged)
    out["spark.untagged_exec_cpu_s"] = sum(j.cpu_s for j in untagged)
    out["tracing_overhead_frac"] = tracing_overhead(rec)
    out["peak_rss_mb"] = peak_rss_mb(spark)
    return out


def tracing_overhead(rec: Recorder) -> float:
    """Traced over untraced wall, weighted by call count: for each span
    name with calls of both kinds, its median traced and untraced walls
    times its number of calls."""
    num = den = 0.0
    for name in {o.name for o in rec.loop_ops()}:
        calls = [o for o in rec.loop_ops() if o.name == name]
        on = [o.wall for o in calls if o.group is not None]
        off = [o.wall for o in calls if o.group is None]
        if on and off:
            num += median(on) * len(calls)
            den += median(off) * len(calls)
    return num / den - 1.0 if den else 0.0
