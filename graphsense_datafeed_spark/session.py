"""SparkSession construction and runtime-conf hygiene.

The reference system is a JVM service with a hand-rolled thread pool
(SURVEY.md §3.1); here the entire execution substrate is Spark. Two
entry paths matter:

1. ``build_session()`` — our own tests / bench build the session and
   can set everything at builder time.
2. The driver's correctness gate hands us an *already-built* session
   (``queries()[name](spark, sf_dir)``). Builder-time config is
   unavailable there, so every conf we depend on must also be settable
   at runtime — ``ensure_runtime_confs(spark)`` does that and is called
   by every table loader (sources/tables.py).

Scale note: on a real 1000-executor cluster the only knobs below that
change are master/shuffle-partitions (AQE coalesces the rest); nothing
in the engine assumes local mode.

Session start. ``build_session`` starts the engine warm-ready with two
levers; neither adds a conf, option or environment variable:

- **A dynamic CDS (class-data sharing) archive for the driver JVM.**
  It holds the classes a session loads, already parsed and verified,
  and the JVM maps it at start. Measured on a 4-core host with both
  levers: ``build_session`` 4.8-5.1 → 2.7 s, the first table count
  2.4-2.5 → 1.3 s, and the JVM's resident memory does not grow (the
  archive adds ~30 MB of file-backed pages).
  - *When.* Only when this process launches the driver JVM (no live
    gateway), on Linux, and when the effective conf directory
    (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) holds nothing but
    ``*.template`` files. JDK 17 refuses to dump with a non-empty
    directory on the classpath, so the JVM is launched with
    ``SPARK_CONF_DIR`` set to an empty directory in the cache, and the
    variable is restored afterwards; Spark ignores templates, so
    nothing else changes. A conf directory with any real file, an
    unwritable cache, a caller's ``spark.driver.defaultJavaOptions``
    or an extra driver classpath (``--driver-class-path``,
    ``HADOOP_CONF_DIR``, ...) means no archive: the JVM starts exactly
    as it would without this code.
  - *Cache.* ``$XDG_CACHE_HOME/spark-graft`` (default
    ``~/.cache/spark-graft``). An archive is keyed by ``java.home``
    and the JDK version, the Spark jar set (names, sizes, mtimes) and
    the empty conf directory's path; files of other keys are swept.
  - *Dump.* With no published archive, the session's JVM gets
    ``-XX:ArchiveClassesAtExit=<unique pending path>`` and writes the
    archive when it exits (measured: ~11 s instead of ~1 s, 160-180
    MB, and ~4-5 s more set-up, once per key). Later sessions get
    ``-XX:SharedArchiveFile=<published>``. Both go in
    ``spark.driver.defaultJavaOptions``, which Spark puts before a
    caller's ``--driver-java-options``, with ``-Xlog:cds=off
    -Xlog:cds+dynamic=off`` so that an unusable archive prints nothing.
  - *Publishing is safety code.* A truncated archive crashes HotSpot 17
    with SIGBUS, even under the default ``-Xshare:auto``. A pending
    dump is published only when its writer JVM has exited (its pid and
    start time are recorded next to it), a probe JVM maps it
    (``java -Xshare:on -XX:SharedArchiveFile=<pending> -cp <the
    writer's classpath> -version`` exits 0), and it is moved into
    place with ``os.replace``. A dump that fails the probe is deleted;
    after three failures for one key, sessions stop dumping. No JVM is
    pointed at a file that another JVM is still writing.
- **A Python worker daemon that does not re-read zip archives per
  task** (worker_daemon.py). For local masters (``local``,
  ``local-cluster``: the workers run on this host),
  ``spark.python.daemon.module`` names it and
  ``spark.executorEnv.PYTHONPATH`` holds this package's parent
  directory so that it imports. Measured: a session's first 32-task
  ``mapInArrow`` 3.4-3.6 → 2.1 s, its re-run 1.6-1.7 → 0.8 s. A caller's
  ``PYSPARK_SUBMIT_ARGS`` that sets either conf keeps Spark's daemon.

``BUILDER_CONFS`` also turns off PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled=false``): each wrapped
``Column``/``functions`` call made 4-5 extra py4j round trips for it.
Measured on ``graph_iterative`` (10 interleaved pairs): ``wall_s``
14.42 → 12.98 s, won 10/10. The cost: an analysis error raised in a
session we build no longer names the Python line that built the
failing expression; the JVM stack and the error class are unchanged.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

# Confs we require AND that are runtime-settable (verified by setting
# them on a live session in this environment):
#   - nanosAsLong: events.parquet is timestamp[ns]; without this Spark
#     4.1.2 refuses to read the file at all (PARQUET_TYPE_ILLEGAL).
#   - session.timeZone=UTC: fixture timestamps are tz-naive wall times;
#     pinning UTC makes TIMESTAMP(_LTZ) ↔ TIMESTAMP_NTZ conversions the
#     identity, which keeps DuckDB (naive) parity exact.
#   - Arrow: vectorized JVM↔Python transfer for pandas UDFs / toPandas.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Applied only when the session still carries the stock default —
# right-sizes sessions we DIDN'T build (a bare session's 200 shuffle
# partitions cost 200 tasks per exchange at fixture scale, and AQE
# coalesces batch plans but NOT streaming micro-batches) without
# stomping anyone's explicit choice. At deployment scale this knob is
# instead sized to ~128-256MB per shuffle partition.
RUNTIME_DEFAULT_FIXES: dict[str, tuple[str, str]] = {
    "spark.sql.shuffle.partitions": ("200", "32"),
}

def _auto_broadcast_threshold(driver_mem: str) -> str:
    """Heap-proportional broadcast threshold: heap/256 clamped to
    [4 MB, 32 MB].

    A FIXED threshold is a latent scale bug: the round-10 census soak
    (scripts/soak_census.py, 55 sf1 queries on a deliberately-small
    1 GiB driver) OOM'd two AQE broadcast builds (golden_q21/q4) that
    pass cleanly under the default 8 GiB heap — the 32 MB constant
    assumed the 8 GiB sizing (heap/256) and silently became heap/32
    when SPARK_GRAFT_DRIVER_MEM shrank. Tying the threshold to the
    heap keeps the broadcast budget a constant FRACTION of memory at
    any sizing, which is how a real cluster sizes it (per-executor
    memory × a fixed fraction). 8g → 32 MB (bench posture unchanged),
    1g → 4 MB (census soak passes end-to-end).
    """
    m = driver_mem.strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    try:
        heap = (
            int(m[:-1]) * units[m[-1]] if m[-1] in units else int(m)
        )
    except (ValueError, IndexError):
        heap = 8 * 1024**3
    return str(max(4 * 1024**2, min(32 * 1024**2, heap // 256)))


# Builder-time defaults for sessions we own (tests, bench, CLI).
BUILDER_CONFS: dict[str, str] = {
    **RUNTIME_CONFS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Fits the fixture scale; at cluster scale this is sized to
    # ~128-256MB of shuffle data per partition and AQE coalesces down.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": _auto_broadcast_threshold(
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    ),
    "spark.ui.enabled": "false",
    # Static conf. Off, PySpark stops capturing the Python call site of
    # every wrapped Column/functions call (4-5 py4j round trips each);
    # error messages then lose the Python call site (module docstring).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Local-mode heap = the WHOLE "cluster": 32 executor threads share
    # it, so 8g = 256 MB per concurrent task. That floor is fine up to
    # sf10 (~1.6 GB input) and OOMs at sf100 (16 GB input, measured:
    # golden_q1's 600M-row scan dies in 128 MB column-batch
    # allocations). SPARK_GRAFT_DRIVER_MEM overrides for big local
    # fixtures — the knob a real cluster expresses as executor-memory
    # × executor-count (production sizing is 1-2 GB per core; 8g/32 is
    # deliberately lean so undersized-heap bugs surface in testing).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Static conf (submit-time; not runtime-healable). The round-9 sf1
    # census measured a long-lived BARE 1 GiB driver failing one
    # broadcast build (golden_q8) after ~55 back-to-back queries from
    # cumulative heap pressure: the ContextCleaner only reclaims
    # broadcast/shuffle blocks when a JVM GC actually runs, and a
    # mostly-idle driver heap can go 30 min (the stock interval)
    # without one. 5 min keeps block reclamation ahead of long query
    # streams at negligible cost; scripts/soak_census.py re-runs the
    # failing census shape to pin this (SCALE.md §sf1 census).
    "spark.cleaner.periodicGC.interval": "5min",
    # Static conf — must be set at build time; saveAsTable (bucketed
    # tables) lands here. Harmless for sessions we don't own (the
    # driver's session never calls saveAsTable).
    "spark.sql.warehouse.dir": os.path.join(
        __import__("tempfile").gettempdir(), "gds_warehouse"
    ),
}


# Python workers of local masters (the workers run on this host): the
# daemon module and the PYTHONPATH entry that makes it importable.
_WORKER_DAEMON_CONFS: dict[str, str] = {
    "spark.python.daemon.module": "graphsense_datafeed_spark.worker_daemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}


def _ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    The grading driver builds its OWN bare session from an arbitrary
    cwd; in that session the executor Python workers inherit neither
    the driver's ``sys.path`` hack nor a repo cwd, so any batch
    function that imports ``graphsense_datafeed_spark`` inside the
    worker (the multimodal codec ops import ``imagecodec`` there —
    module-level functions pickle BY REFERENCE) dies with
    ModuleNotFoundError.  Round-7 lesson: the failure only reproduces
    when verify runs from OUTSIDE the repo, which is exactly the
    driver contract (the verify skill's ``cd /tmp`` exists for this).

    Fix: zip the package once per interpreter and ``addPyFile`` it —
    runtime-callable on a live session, idempotent via the
    SparkContext's own _python_includes ledger, and the same mechanism
    a real cluster submit would use (``--py-files``)."""
    sc = spark.sparkContext
    try:
        includes = getattr(sc, "_python_includes", None) or []
        if any("gds_pkg" in str(p) for p in includes):
            return
    except Exception:
        pass
    zip_path = _package_zip()
    try:
        sc.addPyFile(zip_path)
    except Exception:
        # best-effort: a session that already has the repo importable
        # on its workers doesn't need the zip
        pass


def _package_sources() -> tuple[list[tuple[str, str]], str]:
    """(abs path, archive name) for every package .py + content digest.

    The zip name is keyed on a CONTENT hash: a PID-keyed name is
    reusable by an unrelated process after PID reuse (or another user
    on a shared /tmp) and would silently ship stale worker code."""
    import hashlib

    pkg_root = os.path.dirname(os.path.abspath(__file__))
    sources: list[tuple[str, str]] = []
    for dirpath, _dirnames, filenames in os.walk(pkg_root):
        if "__pycache__" in dirpath:
            continue
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(dirpath, fn)
            rel = os.path.join(
                "graphsense_datafeed_spark",
                os.path.relpath(full, pkg_root),
            )
            sources.append((full, rel))
    sources.sort(key=lambda fr: fr[1])
    digest = hashlib.sha256()
    for full, rel in sources:
        digest.update(rel.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    return sources, digest.hexdigest()


def _zip_matches(path: str, sources, hexdigest: str) -> bool:
    """True iff the zip at ``path`` holds exactly ``sources`` with the
    given content digest.  /tmp is world-shared: a name collision
    (stale, corrupt, or planted file) must not ship to workers, so the
    members are re-hashed before an existing zip is trusted."""
    import hashlib
    import zipfile

    try:
        with zipfile.ZipFile(path) as zf:
            names = sorted(zf.namelist())
            if names != sorted(rel for _full, rel in sources):
                return False
            check = hashlib.sha256()
            for _full, rel in sources:
                check.update(rel.encode())
                check.update(zf.read(rel))
            return check.hexdigest() == hexdigest
    except Exception:
        return False


def _package_zip() -> str:
    """Build (or verify-and-reuse) the content-addressed package zip."""
    import tempfile
    import zipfile

    sources, hexdigest = _package_sources()
    zip_path = os.path.join(
        tempfile.gettempdir(), f"gds_pkg_{hexdigest[:16]}.zip"
    )
    if not (os.path.exists(zip_path) and _zip_matches(zip_path, sources, hexdigest)):
        # Write to a unique temp file and os.replace() into place —
        # never a partial zip at the final path, even if a concurrent
        # session races us or this process crashes mid-write.
        fd, tmp_path = tempfile.mkstemp(
            suffix=".zip", prefix="gds_pkg_tmp_",
            dir=tempfile.gettempdir(),
        )
        try:
            with os.fdopen(fd, "wb") as raw, zipfile.ZipFile(raw, "w") as zf:
                for full, rel in sources:
                    zf.write(full, rel)
            os.replace(tmp_path, zip_path)
        except BaseException:
            try:
                os.unlink(tmp_path)
            except OSError:
                pass
            raise
    return zip_path


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply the runtime-settable confs to a live session.

    Safe to call per-query: ``spark.conf.set`` on an unchanged value is
    a no-op, and none of these confs are static (verified by running
    against a started session in this environment).
    """
    _ensure_package_on_workers(spark)
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # A conf may be unreadable on some builds; set best-effort.
            spark.conf.set(k, v)
    for k, (stock_default, better) in RUNTIME_DEFAULT_FIXES.items():
        try:
            # no-default get: returns the EFFECTIVE value ("200" when
            # unset); get(k, None) would return None for unset confs
            if spark.conf.get(k) == stock_default:
                spark.conf.set(k, better)
        except Exception:
            pass
    return spark


# -- driver JVM class-data archive -------------------------------------
# See the module docstring for when it applies and how a dump is
# published.

_CDS_LOG_OFF = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# A dump that cannot be published counts as failed; after this many
# failures for one key, sessions stop dumping.
_MAX_FAILED_DUMPS = 3
# A caller's JVM options, or classpath entries the cache key does not
# cover (from the environment or PYSPARK_SUBMIT_ARGS): no archive.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_NO_ARCHIVE_ARGS = ("defaultJavaOptions", "extraClassPath", "--driver-class-path")


def _proc_start(pid: int) -> str | None:
    """Start time of process ``pid`` in clock ticks since boot (field 22
    of /proc/<pid>/stat), or None when no such process runs. A pid and
    its start time name one process, even after pid reuse."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        return None


def _alive(proc) -> bool:
    return bool(proc) and _proc_start(proc[0]) == proc[1]


def _cache_dir() -> str | None:
    """``$XDG_CACHE_HOME/spark-graft`` (default ``~/.cache/spark-graft``)
    with its empty ``conf`` directory, or None when it is not writable."""
    root = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(root):
        root = os.path.join(os.path.expanduser("~"), ".cache")
    path = os.path.join(root, "spark-graft")
    try:
        os.makedirs(os.path.join(path, "conf"), exist_ok=True)
    except OSError:
        return None
    return path if os.access(path, os.W_OK | os.X_OK) else None


def _templates_only(conf_dir: str) -> bool:
    """True when ``conf_dir`` holds nothing Spark reads (only
    ``*.template`` files, or nothing at all)."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    except OSError:
        return False
    return all(n.endswith(".template") for n in names)


def _archive_key(java: str, spark_home: str, conf_dir: str) -> str | None:
    """Digest of what the archive depends on: ``java.home`` and the JDK
    version, the Spark jar set (names, sizes, mtimes) and the empty
    conf directory on the classpath."""
    import hashlib

    java_home = os.path.dirname(os.path.dirname(java))
    jars = os.path.join(spark_home, "jars")
    try:
        with open(os.path.join(java_home, "release")) as fh:
            release = fh.read()
        jar_set = []
        for name in sorted(os.listdir(jars)):
            st = os.stat(os.path.join(jars, name))
            jar_set.append((name, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    blob = json.dumps([java_home, release, jar_set, conf_dir])
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _probe(record: dict, pending: str) -> bool:
    """True when a JVM maps ``pending``: ``-Xshare:on`` fails instead of
    running without the archive, and a truncated archive crashes the
    probe, not a session."""
    import subprocess

    cmd = [
        record["java"], "-Xshare:on", f"-XX:SharedArchiveFile={pending}",
        "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
        "-cp", record["classpath"], "-version",
    ]
    try:
        return subprocess.run(
            cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=120,
        ).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def _settle(cache: str, key: str) -> tuple[bool, int]:
    """Publish or delete each pending dump of ``key`` whose writer JVM
    has exited, and sweep every file of another key. Returns (a dump of
    ``key`` is still being written or launched, failed dumps of ``key``).

    Deleting is always safe: a JVM that maps or writes a file keeps its
    inode after the unlink. Publishing needs the writer to have exited
    and the probe to pass, and is an ``os.replace``, so no JVM is ever
    pointed at a partial archive."""
    published = os.path.join(cache, f"{key}.jsa")
    failed_path = os.path.join(cache, f"{key}.failed")
    try:
        with open(failed_path) as fh:
            failed = int(fh.read() or 0)
    except (OSError, ValueError):
        failed = 0
    failed_before = failed
    busy = False
    names = sorted(os.listdir(cache))
    for name in names:
        path = os.path.join(cache, name)
        if name == "conf":
            continue
        if not name.startswith(f"{key}."):
            _remove(path)
            continue
        if name.endswith(".pending") and name[: -len(".pending")] + ".json" not in names:
            _remove(path)  # no record: nothing proves who writes it
        if not name.endswith(".json"):
            continue
        pending = path[: -len(".json")] + ".pending"
        try:
            with open(path) as fh:
                record = json.load(fh)
        except (OSError, ValueError):
            record = {}
        writer = record.get("writer")
        if _alive(writer) or (not writer and _alive(record.get("owner"))):
            busy = True
            continue
        if writer and not os.path.exists(published):
            try:
                if _probe(record, pending):
                    os.replace(pending, published)
                else:
                    failed += 1
            except (OSError, KeyError):
                failed += 1
        _remove(pending)
        _remove(path)
    if failed != failed_before:
        try:
            with open(failed_path, "w") as fh:
                fh.write(str(failed))
        except OSError:
            pass
    return busy, failed


def _plan_class_data() -> dict | None:
    """How to launch the driver JVM with a class-data archive:
    ``{"opts", "conf_dir", "record"}``, or None to launch it as before."""
    import shutil
    import uuid

    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if (
        SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
        or any(os.environ.get(k) for k in _CLASSPATH_ENV)
        or any(a in submit_args for a in _NO_ARCHIVE_ARGS)
        or _proc_start(os.getpid()) is None
    ):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = _cache_dir()
    if not _templates_only(conf_dir) or cache is None:
        return None
    empty = os.path.join(cache, "conf")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or os.listdir(empty):
        return None
    java = os.path.realpath(java)
    key = _archive_key(java, spark_home, empty)
    if key is None:
        return None
    busy, failed = _settle(cache, key)
    published = os.path.join(cache, f"{key}.jsa")
    if os.path.exists(published):
        opts = f"-XX:SharedArchiveFile={published} {_CDS_LOG_OFF}"
        return {"opts": opts, "conf_dir": empty, "record": None}
    if busy or failed >= _MAX_FAILED_DUMPS:
        return None
    stem = os.path.join(cache, f"{key}.{uuid.uuid4().hex[:12]}")
    record = {"owner": [os.getpid(), _proc_start(os.getpid())], "java": java}
    try:
        with open(stem + ".json", "w") as fh:
            json.dump(record, fh)
    except OSError:
        return None
    opts = f"-XX:ArchiveClassesAtExit={stem}.pending {_CDS_LOG_OFF}"
    return {"opts": opts, "conf_dir": empty, "record": stem + ".json"}


def _record_writer(spark: SparkSession, record_path: str) -> None:
    """Add the dumping JVM (pid, start time) and its classpath to the
    dump's record; the probe runs with that classpath."""
    jvm = spark.sparkContext._jvm
    pid = int(jvm.java.lang.ProcessHandle.current().pid())
    try:
        with open(record_path) as fh:
            record = json.load(fh)
        record["writer"] = [pid, _proc_start(pid)]
        record["classpath"] = jvm.java.lang.System.getProperty("java.class.path")
        tmp = record_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(record, fh)
        os.replace(tmp, record_path)
    except (OSError, ValueError):
        pass  # without a record the dump is never published, only swept


def build_session(app_name: str = "graphsense-datafeed-spark",
                  master: str | None = None) -> SparkSession:
    """Build the engine's SparkSession (tests/bench/CLI path).

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env var, else
    ``local[*]``) so the same code path serves CI and the bench driver.
    A new driver JVM starts with the class-data archive, and a local
    master gets the worker daemon (module docstring).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in BUILDER_CONFS.items():
        builder = builder.config(k, v)
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if master.startswith("local") and not any(
        k in submit_args for k in _WORKER_DAEMON_CONFS
    ):
        for k, v in _WORKER_DAEMON_CONFS.items():
            builder = builder.config(k, v)
    try:
        plan = _plan_class_data()
    except OSError:  # the cache turned unreadable: start as before
        plan = None
    if plan is None:
        spark = builder.getOrCreate()
    else:
        builder = builder.config("spark.driver.defaultJavaOptions", plan["opts"])
        saved = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = plan["conf_dir"]
        try:
            spark = builder.getOrCreate()
        except BaseException:
            if plan["record"]:
                _remove(plan["record"])
            raise
        finally:
            if saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved
        if plan["record"]:
            _record_writer(spark, plan["record"])
    return ensure_runtime_confs(spark)
