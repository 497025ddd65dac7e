"""Crash-safe persistence shared by the reusable index types (MinHash,
Substring, IVF, IVF-PQ, Binary, Bloom, CMS, HLL).

An artifact at ``path`` is a set of immutable versions plus a pointer::

    path/_CURRENT               the name of the live version, e.g. v-3f9c...
    path/v-<id>/<frame>/        one parquet directory per frame
    path/v-<id>/_manifest.json  kind, format version, the index's small
                                state (params, centroids, codebooks,
                                n_docs) and each frame's schema plus its
                                data-file names and byte lengths

**Save** writes every frame into a fresh ``v-<id>`` directory (one Spark
job per frame), then the manifest, then swaps ``_CURRENT`` by
write-then-rename. A save that dies before the swap leaves ``_CURRENT`` on
the previous version; its half-written directory is deleted by the next
successful save. The new and the previous version are kept, so an index
loaded before a re-save to the same path keeps answering; older versions
are deleted.

**Load** reads the pointer and the manifest on the driver through the
Hadoop ``FileSystem`` API (``s3://``/``hdfs://`` paths work), refuses a
wrong kind, an unknown format version, and any missing, extra or resized
data file, then opens each frame with the manifest's schema: no Spark job
runs. Directories without ``_CURRENT`` (the layout before format version
1) are refused; rebuild the index and save it again.

Each index module only declares its frames and its state, e.g.
``save_minhash_index``/``load_minhash_index``.
"""

from __future__ import annotations

import json
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..errors import ParameterException
from ._cache import scoped_persist

FORMAT_VERSION = 1
CURRENT = "_CURRENT"
MANIFEST = "_manifest.json"


def check_fingerprint(index, frame: DataFrame | None, unit: str,
                      side: str = "reference") -> None:
    """Refuse an index whose ``n_docs`` (rows indexed at build/update time)
    differs from ``frame``'s row count: a stale index silently under-dedups.
    Costs one ``count()``; skipped when ``frame`` is None (omit the
    reference on an index path to skip it). The fingerprint is a row count
    only: a same-size corpus with different content passes (a content hash
    would cost a full scan per check)."""
    if frame is None or index.n_docs is None:
        return
    rc = frame.count()
    if rc != index.n_docs:
        kind = type(index).__name__
        raise ParameterException(
            f"{kind} was built over {index.n_docs} {side} {unit} (n_docs) "
            f"but the passed {side} frame has {rc} — fold the new {unit} in "
            f"with update_{kind[:-len('Index')].lower()}_index or rebuild"
        )


class _Dir:
    """Driver-side Hadoop ``FileSystem`` access below one artifact root."""

    def __init__(self, spark, root: str):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        path = self._jvm.org.apache.hadoop.fs.Path(root)
        self.fs = path.getFileSystem(self._conf)
        self.root = self.fs.makeQualified(path)

    def path(self, *parts: str):
        return self._jvm.org.apache.hadoop.fs.Path(self.root, "/".join(parts))

    def read(self, *parts: str) -> str | None:
        p = self.path(*parts)
        if not self.fs.exists(p):
            return None
        stream = self.fs.open(p)
        try:
            data = self._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
        finally:
            stream.close()
        return bytes(data).decode("utf-8")

    def write(self, text: str, *parts: str) -> None:
        out = self.fs.create(self.path(*parts), False)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def replace(self, src: str, dst: str) -> None:
        """Rename ``src`` over ``dst``: atomic through ``FileContext``
        where the file system has a ``FileContext`` binding,
        delete-then-rename where it has none."""
        hfs = self._jvm.org.apache.hadoop.fs
        s, d = self.path(src), self.path(dst)
        try:
            overwrite = getattr(hfs, "Options$Rename")
            opts = self._gateway.new_array(overwrite, 1)
            opts[0] = overwrite.OVERWRITE
            hfs.FileContext.getFileContext(self.fs.getUri(), self._conf).rename(s, d, opts)
        except Py4JJavaError:
            self.fs.delete(d, False)
            if not self.fs.rename(s, d):
                raise

    def data_files(self, *parts: str) -> dict:
        """{name: byte length} of the data files in a frame directory
        (Spark's convention: ``_``/``.`` prefixed names are not data)."""
        p = self.path(*parts)
        if not self.fs.exists(p):
            return {}
        return {
            st.getPath().getName(): int(st.getLen())
            for st in self.fs.listStatus(p)
            if not st.getPath().getName().startswith(("_", "."))
        }


def _write_manifest(d: _Dir, version: str, manifest: dict) -> None:
    d.write(json.dumps(manifest), version, MANIFEST)


def save_artifact(path: str, kind: str, frames: dict, writers: dict | None = None,
                  **state) -> str:
    """Write ``frames`` ({name: DataFrame}) and the JSON-serializable
    ``state`` as a new version of the ``kind`` artifact at ``path`` and
    make it current. ``writers`` maps a frame name to a
    ``(df, frame_path) -> None`` that replaces the plain parquet write."""
    path = path.rstrip("/")
    spark = next(iter(frames.values())).sparkSession
    d = _Dir(spark, path)
    previous = (d.read(CURRENT) or "").strip()
    version = f"v-{uuid.uuid4().hex[:16]}"
    entries = {}
    for name, df in frames.items():
        write = (writers or {}).get(name, lambda df, p: df.write.parquet(p))
        write(df, f"{path}/{version}/{name}")
        entries[name] = {"schema": json.loads(df.schema.json()),
                         "files": d.data_files(version, name)}
    _write_manifest(d, version, {
        "kind": kind, "format_version": FORMAT_VERSION, "state": state,
        "frames": entries,
    })
    d.write(version, f"{CURRENT}.{version}")
    d.replace(f"{CURRENT}.{version}", CURRENT)
    for st in d.fs.listStatus(d.root):
        name = st.getPath().getName()
        if name.startswith("v-") and name not in (version, previous):
            d.fs.delete(st.getPath(), True)
    return path


class Artifact:
    """One verified version of a saved index: its ``state`` and frames."""

    def __init__(self, spark, directory: str, manifest: dict):
        self.spark = spark
        self.dir = directory
        self.state = manifest["state"]
        self._frames = manifest["frames"]

    def path(self, name: str) -> str:
        return f"{self.dir}/{name}"

    def read(self, *names: str, persist: bool = False) -> list:
        """Open frames with their manifest schemas (no schema-inference
        job); ``persist`` pins them lazily via ``scoped_persist``."""
        out = [
            self.spark.read.schema(StructType.fromJson(self._frames[n]["schema"]))
            .parquet(self.path(n))
            for n in names
        ]
        return [scoped_persist(df) for df in out] if persist else out


def load_artifact(spark, path: str, kind: str) -> Artifact:
    """Open the current version of the ``kind`` artifact at ``path`` after
    checking its manifest against the files on disk; raises
    ``ParameterException`` on anything it cannot vouch for."""
    path = path.rstrip("/")
    d = _Dir(spark, path)
    version = d.read(CURRENT)
    if version is None:
        raise ParameterException(
            f"no index artifact at {path}: {CURRENT} is missing. Indexes "
            f"saved before the manifest format (format version "
            f"{FORMAT_VERSION}) cannot be loaded; rebuild the index and "
            f"save it again"
        )
    version = version.strip()
    text = d.read(version, MANIFEST) if version.startswith("v-") else None
    if text is None:
        raise ParameterException(
            f"{path}: {CURRENT} names {version!r}, which has no manifest"
        )
    try:
        manifest = json.loads(text)
    except ValueError as e:
        raise ParameterException(f"{path}/{version}: unreadable manifest ({e})")
    if manifest.get("kind") != kind:
        raise ParameterException(
            f"{path} holds a {manifest.get('kind')!r} index, not {kind!r}"
        )
    if manifest.get("format_version") != FORMAT_VERSION:
        raise ParameterException(
            f"{path} has format version {manifest.get('format_version')!r}; "
            f"this build reads version {FORMAT_VERSION}"
        )
    for name, entry in manifest["frames"].items():
        want, got = entry["files"], d.data_files(version, name)
        if got != want:
            missing = sorted(set(want) - set(got))
            extra = sorted(set(got) - set(want))
            resized = sorted(f for f in set(want) & set(got) if want[f] != got[f])
            raise ParameterException(
                f"{path}: frame {name!r} does not match its manifest "
                f"(missing {missing}, extra {extra}, resized {resized}); "
                f"rebuild the index and save it again"
            )
    return Artifact(spark, f"{path}/{version}", manifest)
