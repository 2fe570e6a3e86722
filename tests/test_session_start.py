"""Session start: the driver JVM's class-data archive and the Python
worker daemon (session.py, worker_daemon.py).

Every session here starts in its own subprocess with a temporary
``XDG_CACHE_HOME``, run from outside the checkout, and waits for its
JVM to exit, so that a dump is complete before the next session looks
at it. The sessions of ``starts`` run in order on one cache: a dump, a
session on the published archive, one next to a planted truncated
dump, then one with a real conf file and one with an unwritable
cache."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SESSION = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from graphsense_datafeed_spark.session import build_session

before = os.environ.get("SPARK_CONF_DIR")
spark = build_session("session-start-test", master="local[2]")
after = os.environ.get("SPARK_CONF_DIR")
jvm = spark.sparkContext._jvm


def which_invalidate(batches):
    import zipimport

    import pyarrow as pa

    fn = zipimport.zipimporter.invalidate_caches
    for b in batches:
        name = f"{fn.__module__}.{fn.__qualname__}"
        yield pa.RecordBatch.from_pydict({"m": [name] * b.num_rows})


out = {
    "conf_dir_before": before,
    "conf_dir_after": after,
    "args": [str(a) for a in
             jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
             .getInputArguments()],
    "classpath": jvm.java.lang.System.getProperty("java.class.path"),
    "invalidate": sorted({
        r.m for r in spark.range(4).repartition(2)
        .mapInArrow(which_invalidate, "m string").collect()
    }),
}
gateway = SparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=300)
print("RESULT " + json.dumps(out))
"""

ARCHIVE_FLAGS = ("SharedArchiveFile", "ArchiveClassesAtExit", "Xlog:cds")


def start(tmp, cache_home, conf_dir=None):
    """Run one session in a subprocess; return what it saw."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    env["XDG_CACHE_HOME"] = str(cache_home)
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    proc = subprocess.run(
        [sys.executable, "-c", SESSION, ROOT], cwd=tmp, env=env,
        capture_output=True, text=True, timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def archive_args(seen):
    return [a for a in seen["args"] if any(f in a for f in ARCHIVE_FLAGS)]


@pytest.fixture(scope="module")
def starts(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("session_start")
    cache = tmp / "cache" / "spark-graft"
    templates = tmp / "conf_templates"
    templates.mkdir()
    (templates / "spark-defaults.conf.template").write_text("# template\n")
    seen = {"tmp": tmp, "cache": cache}
    seen["dump"] = start(tmp, tmp / "cache", templates)
    seen["use"] = start(tmp, tmp / "cache")
    # a truncated dump next to the published archive, from a writer
    # that has exited (start time "0" matches no process)
    published = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    assert len(published) == 1, os.listdir(cache)
    key = published[0][: -len(".jsa")]
    data = (cache / published[0]).read_bytes()
    (cache / f"{key}.planted.pending").write_bytes(data[: len(data) // 3])
    (cache / f"{key}.planted.json").write_text(json.dumps({
        "owner": [os.getpid(), "0"], "writer": [os.getpid(), "0"],
        "java": "java", "classpath": seen["dump"]["classpath"],
    }))
    seen["key"] = key
    seen["truncated"] = start(tmp, tmp / "cache")
    real = tmp / "conf_real"
    real.mkdir()
    (real / "spark-defaults.conf").write_text("# a real file\n")
    seen["real_conf"] = start(tmp, tmp / "cache", real)
    not_a_dir = tmp / "not_a_dir"
    not_a_dir.write_text("")
    seen["unwritable"] = start(tmp, not_a_dir)
    return seen


def test_first_session_dumps_and_restores_conf_dir(starts):
    dump, cache = starts["dump"], str(starts["cache"])
    flags = archive_args(dump)
    assert flags[0].startswith(f"-XX:ArchiveClassesAtExit={cache}{os.sep}")
    assert flags[0].endswith(".pending")
    assert "-Xlog:cds=off" in flags and "-Xlog:cds+dynamic=off" in flags
    # the JVM saw the empty conf directory; the caller's value is back
    assert dump["classpath"].split(":")[0].rstrip("/") == os.path.join(cache, "conf")
    assert dump["conf_dir_before"] == str(starts["tmp"] / "conf_templates")
    assert dump["conf_dir_after"] == dump["conf_dir_before"]
    assert starts["use"]["conf_dir_before"] is None
    assert starts["use"]["conf_dir_after"] is None


def test_second_session_maps_the_published_archive(starts):
    published = os.path.join(str(starts["cache"]), f"{starts['key']}.jsa")
    assert f"-XX:SharedArchiveFile={published}" in archive_args(starts["use"])
    assert os.path.getsize(published) > 10_000_000


def test_truncated_dump_is_never_mapped_and_is_deleted(starts):
    seen, cache = starts["truncated"], starts["cache"]
    assert not any("planted" in a for a in seen["args"])
    published = os.path.join(str(cache), f"{starts['key']}.jsa")
    assert f"-XX:SharedArchiveFile={published}" in archive_args(seen)
    assert not any("planted" in n for n in os.listdir(cache))


def test_real_conf_file_or_unwritable_cache_gives_no_archive(starts):
    for case in ("real_conf", "unwritable"):
        seen = starts[case]
        assert archive_args(seen) == [], (case, seen["args"])
    assert starts["real_conf"]["classpath"].split(":")[0].rstrip("/") == str(
        starts["tmp"] / "conf_real"
    )


def test_settle_rejects_a_truncated_dump(starts, tmp_path):
    """With no published archive, a finished dump is probed before it is
    published; a truncated one fails the probe and is deleted."""
    from graphsense_datafeed_spark.session import _probe, _settle

    good = os.path.join(str(starts["cache"]), f"{starts['key']}.jsa")
    record = {"owner": [os.getpid(), "0"], "writer": [os.getpid(), "0"],
              "java": shutil.which("java"),
              "classpath": starts["dump"]["classpath"]}
    assert _probe(record, good)
    cache = tmp_path / "cache"
    cache.mkdir()
    with open(good, "rb") as fh:
        (cache / "k.t.pending").write_bytes(fh.read(os.path.getsize(good) // 3))
    (cache / "k.t.json").write_text(json.dumps(record))
    assert _settle(str(cache), "k") == (False, 1)
    assert sorted(os.listdir(cache)) == ["k.failed"]


def test_worker_tasks_run_the_engine_invalidate_caches(starts):
    assert starts["dump"]["invalidate"] == [
        "graphsense_datafeed_spark.worker_daemon.invalidate_caches"
    ]


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    """Pure Python: the daemon's invalidate_caches re-reads an archive
    only when its (mtime_ns, size, inode) changed."""
    import importlib
    import zipimport

    from graphsense_datafeed_spark import worker_daemon

    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(worker_daemon, "_read", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_one.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zipmod_one", raising=False)
    monkeypatch.delitem(sys.modules, "zipmod_two", raising=False)
    assert importlib.import_module("zipmod_one").VALUE == 1
    reads.clear()  # the importer's own first read

    importlib.invalidate_caches()  # first call: reads once, records
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1

    staged = archive + ".new"
    with zipfile.ZipFile(staged, "w") as zf:
        zf.writestr("zipmod_one.py", "VALUE = 1\n")
        zf.writestr("zipmod_two.py", "VALUE = 2\n")
    os.replace(staged, archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zipmod_two").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
