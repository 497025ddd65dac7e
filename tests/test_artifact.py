"""The shared index artifact store (``functions/_artifact.py``): re-save in
place, crash safety, integrity refusals, job counts and exact state
round-trips for all eight index types."""

import json
import os
import shutil
import uuid

import pytest

from rasgoql_spark.errors import ParameterException
from rasgoql_spark.functions import _artifact
from rasgoql_spark.functions.bloom import (
    bloom_index, load_bloom_index, save_bloom_index, update_bloom_index)
from rasgoql_spark.functions.cms import (
    cms_index, load_cms_index, save_cms_index, update_cms_index)
from rasgoql_spark.functions.dedup import (
    _substring_bucket_table, load_minhash_index, load_substring_index,
    minhash_index, save_minhash_index, save_substring_index, substring_index,
    update_minhash_index, update_substring_index)
from rasgoql_spark.functions.pq import (
    ivfpq_index, load_ivfpq_index, save_ivfpq_index, update_ivfpq_index)
from rasgoql_spark.functions.similarity import (
    binary_index, ivf_index, load_binary_index, load_ivf_index,
    save_binary_index, save_ivf_index, update_binary_index, update_ivf_index)
from rasgoql_spark.functions.sketch import (
    hll_index, load_hll_index, save_hll_index, update_hll_index)

_WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
          "mu nu xi omicron pi rho sigma tau upsilon").split()


def _docs(spark, lo, hi):
    rows = []
    for i in range(lo, hi):
        text = " ".join([_WORDS[(i * 7 + j * 3) % len(_WORDS)]
                         for j in range(12)] + [f"w{i}"])
        vec = [float(((i + 1) * (d + 3)) % 11 - 5) for d in range(8)]
        rows.append((i, text, vec, f"g{i % 3}"))
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, vec array<double>, grp string")


# kind -> (build, update, save, load, the frame whose rows answer)
KINDS = {
    "minhash": (
        lambda r: minhash_index(r, "text", "doc_id", num_hashes=8, bands=4),
        lambda i, n: update_minhash_index(i, n, "text", "doc_id"),
        save_minhash_index, load_minhash_index, lambda i: i.sig),
    "substring": (
        lambda r: substring_index(r, "text", "doc_id", min_tokens=5),
        lambda i, n: update_substring_index(i, n, "text", "doc_id"),
        save_substring_index, load_substring_index, lambda i: i.members),
    "ivf": (
        lambda r: ivf_index(r, "vec", "doc_id", num_centroids=3),
        lambda i, n: update_ivf_index(i, n, "vec", "doc_id"),
        save_ivf_index, load_ivf_index,
        lambda i: i.frame.select("__id", "__nvec", "CENTROID_ID")),
    "ivfpq": (
        lambda r: ivfpq_index(r, "vec", "doc_id", num_centroids=3, m=2,
                              codebook_size=4),
        lambda i, n: update_ivfpq_index(i, n, "vec", "doc_id"),
        save_ivfpq_index, load_ivfpq_index, lambda i: i.frame),
    "binary": (
        lambda r: binary_index(r, "vec", "doc_id"),
        lambda i, n: update_binary_index(i, n, "vec", "doc_id"),
        save_binary_index, load_binary_index, lambda i: i.frame),
    "bloom": (
        lambda r: bloom_index(r, "text", bits_log2=10),
        lambda i, n: update_bloom_index(i, n, "text"),
        save_bloom_index, load_bloom_index, lambda i: i.fps),
    "cms": (
        lambda r: cms_index(r, "text", group_by="grp", depth=2, width=16),
        update_cms_index, save_cms_index, load_cms_index,
        lambda i: i.sketches),
    "hll": (
        lambda r: hll_index(r, "text", group_by="grp"),
        update_hll_index, save_hll_index, load_hll_index,
        lambda i: i.sketches),
}


def _answer(frame) -> list:
    return sorted(str(r) for r in frame.collect())


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"artifact-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def ref(spark):
    return _docs(spark, 0, 30)


@pytest.fixture(scope="module")
def new(spark):
    return _docs(spark, 30, 40)


@pytest.fixture(scope="module")
def mh_path(ref, tmp_path_factory):
    idx = minhash_index(ref, "text", "doc_id", num_hashes=8, bands=4)
    path = str(tmp_path_factory.mktemp("mh") / "idx")
    save_minhash_index(idx, path)
    idx.release()
    return path


@pytest.mark.parametrize("persist", [True, False])
@pytest.mark.parametrize("kind", sorted(KINDS))
def test_resave_in_place_keeps_old_and_serves_new(kind, persist, spark, ref,
                                                  new, tmp_path):
    """load P -> update -> save to P -> load P: the new load is the updated
    index, and the index loaded before the re-save still answers."""
    build, update, save, load, frame = KINDS[kind]
    path = str(tmp_path / kind)
    idx = build(ref)
    save(idx, path)
    want_old = _answer(frame(idx))
    idx.release()
    before = load(spark, path, persist=persist)
    updated = update(before, new)
    want_new = _answer(frame(updated))
    save(updated, path)
    after = load(spark, path, persist=persist)
    try:
        assert _answer(frame(after)) == want_new != want_old
        assert _answer(frame(before)) == want_old
    finally:
        for i in (before, updated, after):
            i.release()


def test_keeps_current_and_previous_versions_only(spark, ref, tmp_path):
    idx = bloom_index(ref, "text", bits_log2=10)
    path = str(tmp_path / "bloom")
    versions = []
    for _ in range(3):
        save_bloom_index(idx, path)
        versions.append(open(os.path.join(path, "_CURRENT")).read())
    idx.release()
    assert sorted(n for n in os.listdir(path) if n.startswith("v-")) == \
        sorted(versions[1:])


def test_crash_before_manifest_leaves_previous_version_current(
        spark, ref, new, tmp_path, monkeypatch):
    idx = minhash_index(ref, "text", "doc_id", num_hashes=8, bands=4)
    path = str(tmp_path / "mh")
    save_minhash_index(idx, path)
    first = open(os.path.join(path, "_CURRENT")).read()
    grown = update_minhash_index(idx, new, "text", "doc_id")

    def crash(*args, **kwargs):
        raise OSError("simulated crash before the manifest write")

    monkeypatch.setattr(_artifact, "_write_manifest", crash)
    with pytest.raises(OSError, match="simulated crash"):
        save_minhash_index(grown, path)
    monkeypatch.undo()
    try:
        assert open(os.path.join(path, "_CURRENT")).read() == first
        # the crashed save's frames are on disk but never become current
        assert len([n for n in os.listdir(path) if n.startswith("v-")]) == 2
        loaded = load_minhash_index(spark, path, persist=False)
        assert loaded.n_docs == idx.n_docs == 30
        assert _answer(loaded.sig) == _answer(idx.sig)
        # the next good save prunes the orphan and keeps the previous one
        save_minhash_index(grown, path)
        live = sorted(n for n in os.listdir(path) if n.startswith("v-"))
        assert first in live and len(live) == 2
        assert load_minhash_index(spark, path, persist=False).n_docs == 40
    finally:
        idx.release()
        grown.release()


def test_wrong_kind_is_refused(spark, mh_path):
    with pytest.raises(ParameterException, match="'minhash' index, not 'ivf'"):
        load_ivf_index(spark, mh_path)


def _manifest_path(path):
    version = open(os.path.join(path, "_CURRENT")).read()
    return os.path.join(path, version, _artifact.MANIFEST)


def _copy(src, dst):
    shutil.copytree(src, dst)
    return dst


@pytest.mark.parametrize("tamper,match", [
    (lambda text: text.replace('"format_version": 1', '"format_version": 99'),
     "format version 99"),
    (lambda text: text[: len(text) // 2], "unreadable manifest"),
])
def test_unknown_format_version_or_broken_manifest_is_refused(
        tamper, match, spark, mh_path, tmp_path):
    path = _copy(mh_path, str(tmp_path / "mh"))
    mpath = _manifest_path(path)
    text = open(mpath).read()
    # drop the local file system's checksum sidecar along with the file
    for f in (mpath, os.path.join(os.path.dirname(mpath),
                                  f".{_artifact.MANIFEST}.crc")):
        os.remove(f)
    with open(mpath, "w") as fh:
        fh.write(tamper(text))
    with pytest.raises(ParameterException, match=match):
        load_minhash_index(spark, path)


def _data_file(path, frame="sig"):
    d = os.path.join(os.path.dirname(_manifest_path(path)), frame)
    return os.path.join(d, sorted(n for n in os.listdir(d)
                                  if n.startswith("part-"))[0])


@pytest.mark.parametrize("damage", ["deleted", "truncated", "foreign"])
def test_damaged_data_file_is_refused(damage, spark, mh_path, tmp_path):
    path = _copy(mh_path, str(tmp_path / "mh"))
    f = _data_file(path)
    if damage == "deleted":
        os.remove(f)
        match = r"missing \['part-"
    elif damage == "truncated":
        with open(f, "r+b") as fh:
            fh.truncate(os.path.getsize(f) // 2)
        match = r"resized \['part-"
    else:
        with open(os.path.join(os.path.dirname(f), "part-99999-x.parquet"),
                  "wb") as fh:
            fh.write(b"PAR1")
        match = r"extra \['part-99999"
    with pytest.raises(ParameterException, match=match):
        load_minhash_index(spark, path)


def test_directory_without_manifest_is_refused(spark, ref, tmp_path):
    """The pre-manifest layout (frames + a params table, no _CURRENT) is
    refused with the instruction to rebuild."""
    path = str(tmp_path / "legacy")
    ref.select("doc_id").write.parquet(f"{path}/sig")
    spark.createDataFrame([(8, 4, 3)], "num_hashes int, bands int, "
                          "shingle_size int").write.parquet(f"{path}/params")
    with pytest.raises(ParameterException,
                       match="rebuild the index and save it again"):
        load_minhash_index(spark, path)


def _frame_count(path):
    return len(json.load(open(_manifest_path(path)))["frames"])


@pytest.mark.parametrize("kind", sorted(KINDS) + ["substring_bucketed"])
def test_load_runs_no_job_and_save_one_job_per_frame(kind, spark, ref,
                                                     tmp_path):
    build, _update, save, load, frame = KINDS[kind.split("_")[0]]
    if kind == "substring_bucketed":
        save = lambda i, p: save_substring_index(i, p, bucket_by_fp=2)  # noqa: E731
    path = str(tmp_path / kind)
    idx = build(ref)
    try:
        _, save_jobs = _jobs(spark, lambda: save(idx, path))
        assert save_jobs == _frame_count(path) >= 1
        if kind == "substring_bucketed":
            # a fresh session has no catalog entry: load registers it
            version = open(os.path.join(path, "_CURRENT")).read()
            spark.sql("DROP TABLE IF EXISTS "
                      + _substring_bucket_table(f"{path}/{version}/inv"))
        for persist in (True, False):
            loaded, load_jobs = _jobs(spark, lambda: load(spark, path,
                                                           persist=persist))
            assert load_jobs == 0
            assert _answer(frame(loaded)) == _answer(frame(idx))
            loaded.release()
    finally:
        idx.release()


@pytest.mark.parametrize("variant", [{}, {"residual": True},
                                     {"rotate": True, "rotation_seed": 3}])
def test_ivf_centroids_and_pq_codebooks_round_trip_exactly(variant, spark, ref,
                                                           tmp_path):
    """Floats ride in the JSON manifest: centroids and codebooks come back
    ``==`` the built lists (tuples of (id, [float]))."""
    pq = ivfpq_index(ref, "vec", "doc_id", num_centroids=3, m=2,
                     codebook_size=4, **variant)
    ivf = ivf_index(ref, "vec", "doc_id", num_centroids=3)
    try:
        save_ivfpq_index(pq, str(tmp_path / "pq"))
        save_ivf_index(ivf, str(tmp_path / "ivf"))
        lpq = load_ivfpq_index(spark, str(tmp_path / "pq"), persist=False)
        livf = load_ivf_index(spark, str(tmp_path / "ivf"), persist=False)
        assert lpq.centroids == pq.centroids
        assert lpq.books == pq.books
        assert lpq.rotation == pq.rotation
        assert (lpq.residual, lpq.m, lpq.d_sub, lpq.round_to, lpq.n_docs) == \
            (pq.residual, pq.m, pq.d_sub, pq.round_to, pq.n_docs)
        assert livf.centroids == ivf.centroids
        assert livf.n_docs == ivf.n_docs
        # exact values: every double survives the text form bit for bit
        assert all(x.hex() == y.hex()
                   for (_, a), (_, b) in zip(lpq.centroids, pq.centroids)
                   for x, y in zip(a, b))
    finally:
        pq.release()
        ivf.release()
