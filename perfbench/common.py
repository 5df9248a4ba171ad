"""Shared plumbing of the benchmark: host-sized environment, the private
package view and warehouse, the Spark session, statistics, peak memory,
and the in-memory tracer that wraps the library's public functions from
outside (the library itself carries no tracing)."""

from __future__ import annotations

import contextlib
import functools
import hashlib
import importlib.util
import itertools
import os
import shutil
import statistics
import sys
import time

GROUP = "spark.jobGroup.id"


def log(*parts) -> None:
    print("#", *parts, file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# environment and inputs
# --------------------------------------------------------------------------


class Paths:
    """Where a run reads and writes. Everything written lives under
    ``work`` (inside the benchmark's own directory, ignored by git)."""

    def __init__(self, bench_dir: str):
        self.root = os.path.dirname(bench_dir)
        self.work = os.path.join(bench_dir, "_work")
        # the package is imported through a symlink in ``pkg``: the
        # library keeps its serving stores in ``spark-warehouse`` next to
        # the package directory, so this view gets a warehouse of its own
        # and never touches the one the tests and bench.py use
        self.pkg = os.path.join(self.work, "pkg")
        self.warehouse = os.path.join(self.pkg, "spark-warehouse")
        self.tmp = os.path.join(self.work, "tmp")
        self.data = os.path.join(self.work, "data")
        self.traces = os.path.join(self.work, "traces")

    def require_program(self) -> None:
        """Fail before doing anything when the checkout lacks the
        program under test (a directory holding only the benchmark)."""
        for rel in ("metastore_spark/__init__.py", "tools/gen_sf.py"):
            if not os.path.isfile(os.path.join(self.root, rel)):
                raise SystemExit(f"perfbench: {rel} not found under {self.root}")

    def reset_run_dirs(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(self.tmp)
        os.makedirs(self.pkg, exist_ok=True)
        link = os.path.join(self.pkg, "metastore_spark")
        target = os.path.join(self.root, "metastore_spark")
        if os.path.islink(link) and os.readlink(link) != target:
            os.unlink(link)
        if not os.path.islink(link):
            os.symlink(target, link)
        self.wipe_warehouse()

    def wipe_warehouse(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def warehouse_entries(self) -> set[str]:
        """Every store directory under the private warehouse (two levels:
        ``<area>/<store>``); a new entry means a store was built."""
        out = set()
        if os.path.isdir(self.warehouse):
            for area in os.listdir(self.warehouse):
                sub = os.path.join(self.warehouse, area)
                if os.path.isdir(sub):
                    out.update(f"{area}/{e}" for e in os.listdir(sub))
        return out


def host_settings(paths: Paths) -> dict[str, str]:
    """Session sizing from this host: all cores, a driver heap of a
    quarter of physical RAM (at most 8g; the library default of 24g can
    exceed the host), Spark's local dirs in the run's temp dir, and a
    PYTHONPATH through which Python workers import the package."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(8192, ram_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(paths.tmp, "spark-local"),
        "PYTHONPATH": paths.pkg,
    }


def apply_environment(paths: Paths, settings: dict[str, str]) -> None:
    os.environ.update(settings)
    os.makedirs(settings["SPARK_LOCAL_DIRS"], exist_ok=True)
    # library code and Spark make temp dirs through tempfile
    os.environ["TMPDIR"] = paths.tmp
    import tempfile

    tempfile.tempdir = paths.tmp
    # the package's bytecode is cached under the work dir, so neither this
    # process nor the Python workers Spark starts recompile it every run
    os.environ.pop("PYTHONDONTWRITEBYTECODE", None)
    os.environ["PYTHONPYCACHEPREFIX"] = os.path.join(paths.work, "pycache")
    sys.dont_write_bytecode = False
    sys.pycache_prefix = os.environ["PYTHONPYCACHEPREFIX"]
    sys.path.insert(0, paths.pkg)


def generate_data(paths: Paths, sf: float) -> str:
    """The scale-factor fixture from the repository's deterministic
    generator, cached per generator content (inputs, not program
    state: every run starts from the same files)."""
    gen_path = os.path.join(paths.root, "tools", "gen_sf.py")
    with open(gen_path, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(paths.data, f"sf{sf:g}-{digest}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        spec = importlib.util.spec_from_file_location("_pb_gen_sf", gen_path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        shutil.rmtree(paths.data, ignore_errors=True)
        tmp = out + ".build"
        mod.gen(sf, tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.rename(tmp, out)
    return out


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def start_session(paths: Paths):
    """``get_spark`` with the job/stage history kept long enough for the
    per-span counts; returns (spark, seconds)."""
    from metastore_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Xlog:disable -Djava.io.tmpdir={paths.tmp}"
            ),
            "spark.sql.warehouse.dir": os.path.join(paths.tmp, "sql-warehouse"),
            # statusTracker reads the status store, which Spark keeps
            # without the web UI; no UI means no port and a faster start
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers
    it forked) to exit."""
    from pyspark import SparkContext

    proc = jvm_process()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def peak_rss_mb() -> float:
    """VmHWM of this Python process plus the driver JVM."""
    pids = [os.getpid()]
    proc = jvm_process()
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: time
    the hypervisor gave to other guests shows up as steal."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    return statistics.fmean(values) if values else 0.0


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


class Span:
    __slots__ = (
        "sid", "name", "layer", "parent", "key", "phase", "t0", "t1",
        "jobs", "stages", "tasks",
    )

    def __init__(self, sid, name, layer, parent, key, phase):
        self.sid, self.name, self.layer = sid, name, layer
        self.parent, self.key, self.phase = parent, key, phase
        self.t0 = self.t1 = 0.0
        self.jobs = self.stages = self.tasks = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    """Spans recorded in memory around calls into the library.

    ``wrap`` replaces a module (or class) attribute by a function that
    opens a span when tracing is enabled; patch a function under every
    name it is looked up by, since ``from x import f`` binds ``f``
    locally. Each span runs its Spark jobs under a job group of its own,
    so job, stage and task counts are attributed to the innermost span
    through the status tracker. The workloads call the library from one
    thread, so one stack of open spans gives every span its parent."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.phase = "setup"
        self.key = None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack
        parent = stack[-1] if stack else None
        sp = Span(
            next(self._ids), name, layer,
            parent.sid if parent else None, self.key, self.phase,
        )
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"pb{sp.sid}")
        stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, layer: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def attach_counts(self) -> None:
        """Jobs, stages and tasks launched under each span's own group."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(f"pb{sp.sid}")
            sp.jobs = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is not None:
                        sp.stages += 1
                        sp.tasks += si.numTasks


def wrap_library(tracer: Tracer) -> None:
    """Layers every workload goes through: the catalog (under both names
    it is looked up by), the serving stores and the snapshot planner."""
    from metastore_spark import catalog, queries, serve
    from metastore_spark.sources import snapshots

    tracer.wrap(catalog, "load_table", "catalog.load_table", "catalog")
    tracer.wrap(queries, "load_table", "catalog.load_table", "catalog")
    tracer.wrap(catalog, "snapshot_root", "catalog.snapshot_root", "catalog")
    tracer.wrap(serve, "snapshot_store", "serve.snapshot_store", "serve")
    tracer.wrap(serve, "materialized", "serve.materialized", "serve")
    tracer.wrap(snapshots, "read_snapshot", "snapshots.read_snapshot", "snapshots")


class SpanIndex:
    """Queries over finished spans: self time (duration minus the part
    its children cover) and counts including descendants."""

    def __init__(self, spans: list[Span], phase: str):
        self.all = [s for s in spans if s.phase == phase]
        self.children: dict[int, list[Span]] = {}
        for s in self.all:
            self.children.setdefault(s.parent, []).append(s)

    def self_time(self, sp: Span) -> float:
        covered = sum(c.dur for c in self.children.get(sp.sid, ()))
        return max(0.0, sp.dur - covered)

    def inclusive(self, sp: Span, field: str) -> int:
        return getattr(sp, field) + sum(
            self.inclusive(c, field) for c in self.children.get(sp.sid, ())
        )

    def named(self, name: str) -> list[Span]:
        return [s for s in self.all if s.name == name]

    def roots(self) -> list[Span]:
        return self.children.get(None, [])

    def layer_self(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.all:
            out[s.layer] = out.get(s.layer, 0.0) + self.self_time(s)
        return out
