"""Filesystem shim (model/fs.py): the persistence layer must run
against any scheme — local, in-memory (proving no bare os I/O), and
the pyarrow adapter that carries s3://, hdfs://, gs:// in deployment.

Reference parity: model/HdfsFileSystem.scala:57 routes all metastore
and binary-output I/O through Hadoop's FileSystem; these tests pin the
PySpark-native equivalent to the same contract.
"""

import re

import pytest

from lightning_metastore_spark.model.fs import (
    ArrowFileSystem,
    InMemoryFileSystem,
    LocalFileSystem,
    get_filesystem,
    split_url,
)


@pytest.fixture(autouse=True)
def _clean_memfs():
    InMemoryFileSystem.reset()
    yield
    InMemoryFileSystem.reset()


def test_split_url_variants():
    assert split_url("/a/b") == ("", "/a/b")
    assert split_url("file:/a/b") == ("file", "/a/b")
    assert split_url("file:///a/b") == ("file", "/a/b")
    assert split_url("memory://wh/x") == ("memory", "wh/x")
    assert split_url("s3://bucket/k/v") == ("s3", "bucket/k/v")


def test_get_filesystem_dispatch(tmp_path):
    fs, p = get_filesystem(str(tmp_path))
    assert isinstance(fs, LocalFileSystem) and p == str(tmp_path)
    fs, p = get_filesystem("memory://wh")
    assert isinstance(fs, InMemoryFileSystem) and p == "wh"


def _exercise(fs, root):
    """One contract, every implementation: bytes/text round-trip, dirs,
    listdir, walk, replace, remove, rmtree."""
    fs.mkdirs(fs.join(root, "d1/d2"))
    fs.write_bytes(fs.join(root, "d1/a.bin"), b"\x00\x01")
    fs.write_text(fs.join(root, "d1/d2/b.txt"), "hello")
    assert fs.read_bytes(fs.join(root, "d1/a.bin")) == b"\x00\x01"
    assert fs.read_text(fs.join(root, "d1/d2/b.txt")) == "hello"
    assert fs.is_file(fs.join(root, "d1/a.bin"))
    assert fs.is_dir(fs.join(root, "d1/d2"))
    assert not fs.exists(fs.join(root, "nope"))
    assert fs.listdir(fs.join(root, "d1")) == ["a.bin", "d2"]
    assert fs.listdir(fs.join(root, "missing")) == []
    walked = {d: (dn, fn) for d, dn, fn in fs.walk(fs.join(root, "d1"))}
    assert walked[fs.join(root, "d1")] == (["d2"], ["a.bin"])
    fs.replace(fs.join(root, "d1/a.bin"), fs.join(root, "d1/d2/a2.bin"))
    assert not fs.exists(fs.join(root, "d1/a.bin"))
    assert fs.read_bytes(fs.join(root, "d1/d2/a2.bin")) == b"\x00\x01"
    fs.remove(fs.join(root, "d1/d2/a2.bin"))
    fs.remove(fs.join(root, "d1/d2/a2.bin"), missing_ok=True)
    with pytest.raises(FileNotFoundError):
        fs.remove(fs.join(root, "d1/d2/a2.bin"))
    fs.rmtree(fs.join(root, "d1"))
    assert not fs.exists(fs.join(root, "d1"))


def test_local_contract(tmp_path):
    _exercise(LocalFileSystem(), str(tmp_path))


def test_local_write_is_atomic_for_readers(tmp_path):
    """A reader racing a rewrite (REGISTER OR REPLACE of a datasource
    document) sees the old document or the new one, never an empty or
    partial one; no temp file is left beside the target."""
    import json
    import sys
    import threading

    fs = LocalFileSystem()
    path = fs.join(str(tmp_path), "src_fs.json")
    fs.write_bytes(path, json.dumps({"v": -1}).encode())
    done = threading.Event()
    bad = []

    def writer():
        try:
            for i in range(200):
                doc = {"v": i, "pad": "x" * (1000 + 997 * (i % 50))}
                fs.write_bytes(path, json.dumps(doc).encode())
        finally:
            done.set()

    def reader():
        while not done.is_set():
            raw = fs.read_bytes(path)
            try:
                json.loads(raw)
            except ValueError:
                bad.append(raw[:40])

    threads = [threading.Thread(target=writer),
               threading.Thread(target=reader)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads more finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert bad == []
    assert json.loads(fs.read_bytes(path))["v"] == 199
    assert fs.listdir(str(tmp_path)) == ["src_fs.json"]


def test_memory_contract():
    _exercise(InMemoryFileSystem(), "wh/root")


def test_arrow_adapter_contract(tmp_path):
    """The deployment path for s3://, hdfs://, gs://: the adapter over
    pyarrow.fs. Exercised via pyarrow's LocalFileSystem, which shares
    the FileSystem ABC with the cloud clients."""
    import pyarrow.fs as pafs

    _exercise(ArrowFileSystem(pafs.LocalFileSystem()), str(tmp_path))


def test_metastore_on_memory_scheme():
    """The whole metastore lifecycle against a NON-POSIX scheme —
    proves model/metastore.py performs no bare local I/O."""
    from lightning_metastore_spark.model.metastore import (
        DATASOURCE_ROOT,
        Metastore,
    )
    from lightning_metastore_spark.model.serde import DataSource

    ms = Metastore("memory://warehouse")
    ms.create_namespace(DATASOURCE_ROOT, ["files"], {"owner": "t"})
    assert ms.namespace_exists(DATASOURCE_ROOT, ["files"])
    assert ms.namespace_properties(DATASOURCE_ROOT, ["files"]) == {"owner": "t"}
    ds = DataSource("src", ["files"], "PARQUET", {"path": "/data"}, None)
    ms.save_datasource(ds)
    back = ms.load_datasource(["files"], "src")
    assert back is not None and back.options["path"] == "/data"
    assert ms.list_datasources(["files"]) == ["src"]
    found = ms.find_parent_datasource(["files", "src", "extra"])
    assert found is not None and found[1] == ["extra"]
    ms.drop_datasource(["files"], "src")
    assert ms.load_datasource(["files"], "src") is None
    ms.drop_namespace(DATASOURCE_ROOT, ["files"], cascade=True)
    assert not ms.namespace_exists(DATASOURCE_ROOT, ["files"])


_IO_PATTERN = re.compile(
    r"(?<!\w)(open\(|os\.walk|os\.listdir|os\.remove|os\.replace"
    r"|os\.makedirs|os\.mkdir|os\.unlink|os\.rmdir|shutil\."
    r"|os\.path\.isdir|os\.path\.isfile|os\.path\.exists"
    r"|pathlib|Path\()")


def _strip_comments(src: str) -> str:
    out = []
    for line in src.splitlines():
        out.append(line.split("#", 1)[0])
    return "\n".join(out)


def test_no_bare_io_in_persistence_modules():
    """Grep-able assertion (VERDICT r3 #2): the metastore, the
    unstructured writer/sidecars, and the dispatcher's tag rewriter
    contain no direct filesystem I/O — everything routes through
    model/fs.py. Pure path-string helpers (os.path.join/basename/...)
    are fine; I/O calls are not."""
    import lightning_metastore_spark.model.metastore as m
    import lightning_metastore_spark.parser.dispatcher as d
    import lightning_metastore_spark.sources.unstructured as u

    for mod in (m, u, d):
        src = _strip_comments(open(mod.__file__).read())
        # Image.open / gzip.open etc. are byte-level codecs, not FS I/O
        src = src.replace("Image.open(", "").replace("gzip.open(", "")
        hits = [ln for ln in src.splitlines() if _IO_PATTERN.search(ln)]
        assert not hits, f"bare I/O in {mod.__name__}: {hits}"
