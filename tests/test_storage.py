"""The generation commit protocol (operators/storage.py) under crash
injection, over every store kind that commits through it, plus the
guard that keeps the protocol in that one module.

Each kind runs three steps twice: once cleanly into a reference root,
once with crashes injected into its own root. Steps 0 and 1 first crash
at the marker write — after the data write, before the commit — and the
readers must still see the prior generation (no store at all on a first
write). The rerun of step 1 then crashes at retire — after the commit —
and the readers must see the new generation. After every step the
readers must equal the clean run; step 2 runs clean and must leave at
most two committed generations.
"""

import ast
import pathlib
import random

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import datatools_spark
from datatools_spark.operators import ivfstore as IV
from datatools_spark.operators import mergestore as MS
from datatools_spark.operators import sigstore as SS
from datatools_spark.operators import sketches as SK
from datatools_spark.operators import storage

STEPS = 3


class _Crash(RuntimeError):
    pass


def _crash(*_args, **_kwargs):
    raise _Crash("injected")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _or_none(read):
    """``read()``, or None when the store has no committed generation."""
    try:
        return read()
    except AnalysisException as exc:
        if storage.is_path_missing(exc):
            return None
        raise
    except ValueError as exc:
        if "no committed" in str(exc) or "not initialized" in str(exc):
            return None
        raise


class _Kind:
    """One store kind. ``prep(i)`` runs unpatched before step ``i``;
    ``step(i)`` is the call under crash injection. ``commits`` and
    ``retires`` name the steps that write a marker / call retire."""
    commits = range(STEPS)
    retires = range(STEPS)

    def __init__(self, spark, root):
        self.spark, self.root = spark, root

    def prep(self, i):
        pass


def _images(spark, i):
    r = random.Random(i)
    return spark.createDataFrame(
        [(i * 10 + j, bytes(r.randrange(256) for _ in range(256)))
         for j in range(6)], "media_id long, payload binary")


def _docs(spark, i):
    return spark.createDataFrame(
        [(i * 10 + j, f"doc {j % 3} shared words and tail {i * 10 + j}")
         for j in range(6)], "doc_id long, text string")


def _live_table(spark, path):
    return _rows(spark.read.parquet(SS.resolve_signature_root(spark, path)))


class SigFirstWrite(_Kind):
    commits = (0,)       # later updates append into the live generation
    retires = ()

    def step(self, i):
        SS.update_image_signature_store(self.spark, _images(self.spark, i),
                                        self.root)

    def read(self):
        return _live_table(self.spark, self.root)

    def gens(self):
        return storage.committed(self.spark, self.root, storage.GEN)


class SigCompaction(_Kind):
    def prep(self, i):
        SS.update_signature_store(self.spark, _docs(self.spark, i),
                                  self.root)

    def step(self, i):
        SS.compact_signature_store(self.spark, self.root)

    def read(self):
        return _live_table(self.spark, self.root)

    def gens(self):
        return storage.committed(self.spark, self.root, storage.GEN)


class IvfBuild(_Kind):
    def _vectors(self, n):
        r = random.Random(5)
        rows = [(v, [r.uniform(-1, 1) for _ in range(4)]) for v in range(n)]
        return self.spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def step(self, i):
        vecs = self._vectors(12 + 4 * i)
        cents = vecs.where("vec_id < 3") \
            .withColumnRenamed("vec_id", "centroid_id")
        IV.build_ivf_index(self.spark, vecs, cents, self.root)

    def read(self):
        q = self._vectors(2).withColumnRenamed("vec_id", "query_id")
        return _rows(IV.ivf_index_search(self.spark, self.root, q, k=40,
                                         nprobe=3))

    def gens(self):
        return storage.committed(self.spark, self.root, storage.GEN)


def _items(spark, i):
    return spark.range(i * 40, i * 40 + 60).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("key"),
        F.concat(F.lit("w"), (F.col("id") % 37).cast("string"))
        .alias("item"), (F.col("id") * 3 % 11).cast("double").alias("v"))


class Kmv(_Kind):
    def step(self, i):
        SK.update_kmv_store(self.spark, _items(self.spark, i), self.root,
                            ["g"], "item", k=8)

    def read(self):
        return _rows(SK.read_kmv_store(self.spark, self.root))

    def gens(self):
        return storage.committed(self.spark, self.root, SK._KMV)


class ValueSample(_Kind):
    def step(self, i):
        SK.update_value_sample_store(self.spark, _items(self.spark, i),
                                     self.root, ["g"], "key", "v", k=8)

    def read(self):
        return _rows(SK.read_value_sample_store(self.spark, self.root))

    def gens(self):
        return storage.committed(self.spark, self.root, SK._VS)


class Cms(_Kind):
    def step(self, i):
        SK.update_cms_store(self.spark, _items(self.spark, i), self.root,
                            "item", i, depth=2, width=16)

    def read(self):
        return _rows(SK.read_cms_store(self.spark, self.root))

    def gens(self):
        return storage.committed(self.spark, self.root, SK._CMS)


def _upserts(spark, i):
    return spark.createDataFrame(
        [(k, i * 100 + k) for k in range(i, i + 4)], "id long, v long")


class MergeInto(_Kind):
    retires = ()         # history is bounded by retain_generations

    def prep(self, i):
        if i == 0:
            MS.init_merge_store(self.spark, _upserts(self.spark, 10),
                                self.root, ["id"])

    def step(self, i):
        MS.merge_into(self.spark, self.root, _upserts(self.spark, i),
                      ["id"], retain_generations=1)

    def read(self):
        return _rows(MS.read_merge_store(self.spark, self.root))

    def gens(self):
        return MS._committed_gens(self.spark, self.root)


class FeedRollup(_Kind):
    @property
    def state(self):
        return f"{self.root}-rollup"

    def prep(self, i):
        if i == 0:
            MS.init_merge_store(self.spark, _upserts(self.spark, 10),
                                self.root, ["id"])
            MS.init_feed_rollup(self.spark, self.root, self.state,
                                ["id"], "v")
        MS.merge_into(self.spark, self.root, _upserts(self.spark, i),
                      ["id"], change_feed=True)

    def step(self, i):
        MS.refresh_feed_rollup(self.spark, self.root, self.state,
                               ["id"], "v")

    def read(self):
        return _rows(MS.read_feed_rollup(self.spark, self.state))

    def gens(self):
        return storage.committed(self.spark, self.state, MS._ROLLUP)


KINDS = {k.__name__: k for k in (SigFirstWrite, SigCompaction, IvfBuild,
                                 Kmv, ValueSample, Cms, MergeInto,
                                 FeedRollup)}


def _step_crashes(store, i, monkeypatch, target) -> bool:
    with monkeypatch.context() as m:
        m.setattr(storage, target, _crash)
        try:
            store.step(i)
        except _Crash:
            return True
    return False


@pytest.mark.parametrize("kind", KINDS)
def test_crash_before_commit_and_before_retire(spark, tmp_path,
                                               monkeypatch, kind):
    ref = KINDS[kind](spark, str(tmp_path / "ref"))
    want = []
    for i in range(STEPS):
        ref.prep(i)
        ref.step(i)
        want.append(ref.read())

    st = KINDS[kind](spark, str(tmp_path / "store"))
    for i in range(STEPS):
        st.prep(i)
        if i == STEPS - 1:
            st.step(i)
        else:
            before = _or_none(st.read)
            crashed = _step_crashes(st, i, monkeypatch, "commit")
            assert crashed == (i in st.commits)
            if crashed:
                assert _or_none(st.read) == before
                if i == 0:
                    st.step(i)                           # the rerun
                else:
                    # the rerun crashes after its commit
                    assert _step_crashes(st, i, monkeypatch, "retire") \
                        == (i in st.retires)
        assert st.read() == want[i], f"step {i}"
    assert 1 <= len(st.gens()) <= storage.RETAIN


def test_init_merge_store_retries_after_failed_init(spark, tmp_path,
                                                   monkeypatch):
    """A rejected load (duplicate keys) or an init crashed at its commit
    leaves no committed generation, so the corrected retry at the same
    root succeeds and reads back exactly; a committed store still
    refuses a second init."""
    clean = _upserts(spark, 0)
    root = str(tmp_path / "dup")
    dup = spark.createDataFrame([(1, 10), (1, 11), (2, 20)],
                                "id long, v long")
    with pytest.raises(ValueError, match="duplicate-key"):
        MS.init_merge_store(spark, dup, root, ["id"])
    MS.init_merge_store(spark, clean, root, ["id"])
    assert _rows(MS.read_merge_store(spark, root)) == _rows(clean)
    with pytest.raises(ValueError, match="already holds"):
        MS.init_merge_store(spark, clean, root, ["id"])

    root = str(tmp_path / "crash")
    with monkeypatch.context() as m:
        m.setattr(storage, "commit", _crash)
        with pytest.raises(_Crash):
            MS.init_merge_store(spark, _upserts(spark, 5), root, ["id"])
    MS.init_merge_store(spark, clean, root, ["id"])
    assert _rows(MS.read_merge_store(spark, root)) == _rows(clean)


def test_lister_skips_foreign_dirs(spark, tmp_path):
    layout = storage.Layout("kmv-b", "_SUCCESS")
    for name in ("kmv-b0", "kmv-b1", "kmv-b2", "kmv-b0.bak", "kmv-b1-tmp",
                 "kmv-bx", "other"):
        (tmp_path / name).mkdir()
    (tmp_path / "kmv-b1" / "_SUCCESS").touch()
    (tmp_path / "kmv-b0.bak" / "_SUCCESS").touch()
    path = str(tmp_path)
    assert storage.numbers(spark, path, layout) == [0, 1, 2]
    assert storage.committed(spark, path, layout) == [1]
    assert storage.next_number(spark, path, layout) == 3
    assert storage.live_dir(spark, path, layout).endswith("kmv-b1")


def test_commit_protocol_lives_in_storage_only():
    """The Hadoop FS handle is opened in operators/storage.py alone, and
    no module reaches into another store module's privates."""
    pkg = pathlib.Path(datatools_spark.__file__).parent
    sources = {p.relative_to(pkg).as_posix(): p.read_text()
               for p in pkg.rglob("*.py")}
    assert [p for p, src in sources.items()
            if "getFileSystem(" in src] == ["operators/storage.py"]
    stores = {"storage", "sigstore", "ivfstore", "compstore", "mergestore",
              "sketches"}
    bad = []
    for p, src in sources.items():
        for node in ast.walk(ast.parse(src)):
            if (isinstance(node, ast.ImportFrom) and node.module
                    and node.module.split(".")[-1] in stores
                    and node.module.split(".")[-1] != pathlib.Path(p).stem):
                bad += [f"{p}:{node.lineno} {a.name}" for a in node.names
                        if a.name.startswith("_")]
    assert not bad
