"""Shared plumbing for the benchmark workloads: work dirs, the Spark
session, the read-side index cache, index and cache sizes, and the
result record.

Everything the benchmark writes lives under ``perfbench/.work`` in the
checkout it runs from: Python and JVM temp files, Spark's local dirs,
per-run index dirs and event logs, and the cached read-side indexes.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "micce_search_engine_spark"
WORK = os.path.join(BENCH_DIR, ".work")
TMP = os.path.join(WORK, "tmp")
CACHE = os.path.join(WORK, "cache")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def redirect_temp() -> None:
    """Point every temp-file user (Python, the JVM, Spark's local dirs)
    into the work dir before Spark or ``tempfile`` is first used."""
    os.makedirs(TMP, exist_ok=True)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = TMP
    # the JVM that spark-submit starts to build its command line;
    # -XX:-UsePerfData keeps its hsperfdata file out of the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    # the JVM heap only needs to hold small collects; keep the
    # footprint modest on a shared host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


def get_session(run_dir: str, trace: bool):
    from micce_search_engine_spark.session import get_spark

    n = cpus()
    conf = {
        "spark.local.dir": TMP,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=max(n, 8), extra_conf=conf
    )


@contextmanager
def run_directory():
    """A private per-run dir, removed when the run ends."""
    d = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def source_key(*parts) -> str:
    """Cache key over the engine's source files plus ``parts`` (the
    settings and source of the code that builds the cache), so a cached
    index is never reused by different code."""
    h = hashlib.sha256(json.dumps(parts, sort_keys=True).encode())
    pkg = os.path.join(REPO_ROOT, PACKAGE)
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def cached_dir(name: str, key: str, build_cmd: list[str]) -> tuple[str, float]:
    """Return ``CACHE/name-key``, running ``build_cmd + [tmp_dir]`` in a
    child process first if it is missing. Returns (path, seconds spent
    building; 0 when cached). Entries of other keys stay, so checking
    out another commit and back reuses both. A lock serializes
    concurrent runs; the rename publishes atomically."""
    os.makedirs(CACHE, exist_ok=True)
    final = os.path.join(CACHE, f"{name}-{key}")
    with open(os.path.join(CACHE, f".{name}.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(final):
            return final, 0.0
        tmp = final + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.monotonic()
        # the child's stdout goes to stderr: stdout carries only the result
        subprocess.run(build_cmd + [tmp], check=True, stdout=sys.stderr)
        os.rename(tmp, final)
        return final, time.monotonic() - t0


def du_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def index_facts(index_dir: str) -> dict[str, float]:
    """Postings, segment bytes and position-stream bytes of an index,
    plus the last recorded wall time of each build stage (0 if the
    manifest has none)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from micce_search_engine_spark.plans.manifest import Manifest

    seg_dir = os.path.join(index_dir, "segments")
    seg = ds.dataset(seg_dir, format="parquet", partitioning="hive")
    cols = ["df"] + (["pos_blob"] if "pos_blob" in seg.schema.names else [])
    t = seg.to_table(columns=cols)
    pos_bytes = (
        pc.sum(pc.binary_length(t["pos_blob"])).as_py() or 0 if "pos_blob" in cols else 0
    )
    mm = Manifest(index_dir).read()
    mm = mm[(mm["partition_id"] == -1) & (mm["status"] == "COMPLETED")]
    last = mm.sort_values("updated_at").groupby("stage").tail(1)
    stages = {r["stage"]: r["elapsed_ms"] / 1000.0 for _, r in last.iterrows()}
    return {
        "postings": float(pc.sum(t["df"]).as_py() or 0),
        "segments_mb": du_bytes(seg_dir) / 1e6,
        "positions_mb": pos_bytes / 1e6,
        "s1_tokenize_s": stages.get("S1_tokenize", 0.0),
        "s2_stats_s": stages.get("S2_stats", 0.0),
        "s3_segments_s": stages.get("S3_segments", 0.0),
    }


def text_bytes(texts) -> int:
    return sum(len(t.encode()) for t in texts if isinstance(t, str))


def storage_mb(spark) -> float:
    """Memory held by persisted (cached) datasets, across executors."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) for i in infos) / 1e6


class Result:
    """Counts operations and failures; collects metrics by name."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, dict] = {}

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def record(self) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": self.metrics,
        }


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)
