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
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import datatools_spark
from datatools_spark.operators import compstore as CS
from datatools_spark.operators import ivfstore as IV
from datatools_spark.operators import mergestore as MS
from datatools_spark.operators import sigstore as SS
from datatools_spark.operators import sketches as SK
from datatools_spark.operators import storage
from datatools_spark.operators.mergestore import (
    init_merge_store, merge_into, read_merge_store)

from .conftest import count_commands, count_jobs, method_calls
from .test_mergestore import KEY, _as_dict, _base_df

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
        return storage.committed(storage.tree(self.spark, self.root),
                                 storage.GEN)


class SigCompaction(_Kind):
    def prep(self, i):
        SS.update_signature_store(self.spark, _docs(self.spark, i),
                                  self.root)

    def step(self, i):
        SS.compact_signature_store(self.spark, self.root)

    def read(self):
        return _live_table(self.spark, self.root)

    def gens(self):
        return storage.committed(storage.tree(self.spark, self.root),
                                 storage.GEN)


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
        return storage.committed(storage.tree(self.spark, self.root),
                                 storage.GEN)


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
        return storage.committed(storage.tree(self.spark, self.root),
                                 SK._KMV)


class ValueSample(_Kind):
    def step(self, i):
        SK.update_value_sample_store(self.spark, _items(self.spark, i),
                                     self.root, ["g"], "key", "v", k=8)

    def read(self):
        return _rows(SK.read_value_sample_store(self.spark, self.root))

    def gens(self):
        return storage.committed(storage.tree(self.spark, self.root),
                                 SK._VS)


class Cms(_Kind):
    def step(self, i):
        SK.update_cms_store(self.spark, _items(self.spark, i), self.root,
                            "item", i, depth=2, width=16)

    def read(self):
        return _rows(SK.read_cms_store(self.spark, self.root))

    def gens(self):
        return storage.committed(storage.tree(self.spark, self.root),
                                 SK._CMS)


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
        return MS._committed_gens(storage.tree(self.spark, self.root))


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
        return storage.committed(storage.tree(self.spark, self.state),
                                 MS._ROLLUP)


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
    t = storage.tree(spark, str(tmp_path))
    assert storage.numbers(t, layout) == [0, 1, 2]
    assert storage.committed(t, layout) == [1]
    assert storage.next_number(t, layout) == 3
    assert storage.live_dir(t, layout).endswith("kmv-b1")


# ------------------------------------------------------- the one walk

def _list_files(spark, d):
    """The ``listFiles`` walk ``storage.listing`` replaced, kept as its
    reference: ``(path, length, mtime)`` of every file below ``d``."""
    jp = spark._jvm.org.apache.hadoop.fs.Path(d)
    fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    if fs.exists(jp):
        it = fs.listFiles(jp, True)
        while it.hasNext():
            st = it.next()
            out.append((str(st.getPath()), st.getLen(),
                        st.getModificationTime()))
    return tuple(sorted(out))


def test_listing_equals_list_files(spark, tmp_path):
    """The walk's listing is the ``listFiles`` triples the memo keys
    were built from, over markers, checksum sidecars, an empty orphan
    generation, a ``_temporary`` dir and a hive-partitioned table; its
    data files are the ``part-*`` files alone."""
    root = str(tmp_path / "store")
    gen = storage.GEN.dir(root, 0)
    spark.range(6).repartition(2).write.parquet(gen)
    storage.commit(spark, gen, storage.GEN.marker)
    (tmp_path / "store" / "gen-000001").mkdir()
    tmp = tmp_path / "store" / "gen-000002" / "_temporary" / "0"
    tmp.mkdir(parents=True)
    (tmp / "part-00000.parquet").write_bytes(b"torn")
    spark.range(6).select("id", (F.col("id") % 2).alias("p")) \
        .write.partitionBy("p").parquet(f"{root}/data")
    assert list((tmp_path / "store").rglob("*.crc"))

    t = storage.tree(spark, root)
    assert storage.listing(t) == _list_files(spark, root)
    for d in (gen, f"{root}/data", f"{root}/gen-000001", f"{root}/none"):
        assert storage.listing(t, d) == _list_files(spark, d), d
    assert storage.listing(storage.tree(spark, f"{root}/none")) == ()
    parts = sorted(str(f) for f in (tmp_path / "store").rglob("part-*")
                   if f.suffix == ".parquet" and "_temporary" not in str(f))
    assert [p.split(":", 1)[1] for p in storage.data_files(t)] == parts
    assert storage.data_files(t, f"{root}/gen-000002") == []
    assert storage.numbers(t, storage.GEN) == [0, 1, 2]
    assert storage.committed(t, storage.GEN) == [0]
    # a walk for the markers lists the root and, below it, the markers
    marks = storage.tree(spark, root, only=storage.GEN.marker)
    assert storage.committed(marks, storage.GEN) == [0]
    assert storage.numbers(marks, storage.GEN) == [0, 1, 2]
    assert set(marks.files) == {f"{gen}/{storage.GEN.marker}"}
    assert marks.dirs == {f"{root}/{d}" for d in (
        "gen-000000", "gen-000001", "gen-000002", "data")}
    # a walk into none of the root's dirs lists the root alone
    assert storage.tree(spark, root, into=frozenset()).dirs == marks.dirs


def _merge_store(spark, root):
    """A merge store of three generations."""
    MS.init_merge_store(spark, _upserts(spark, 10), root, ["id"])
    for i in range(2):
        MS.merge_into(spark, root, _upserts(spark, i), ["id"])
    return root


def test_store_reads_send_no_exists_or_list_files(spark, tmp_path):
    """Every layout question of a store read comes from its walk: no
    ``exists`` and no ``listFiles`` command."""
    merge = _merge_store(spark, str(tmp_path / "merge"))
    cms = str(tmp_path / "cms")
    SK.update_cms_store(spark, _items(spark, 0), cms, "item", 0,
                        depth=2, width=16)
    sig = str(tmp_path / "sig")
    SS.update_signature_store(spark, _docs(spark, 0), sig)
    read_cms = lambda: SK.read_cms_store(  # noqa: E731
        spark, cms, depth=2, width=16)
    read_cms()
    for read in (lambda: MS.read_merge_store(spark, merge), read_cms,
                 lambda: SS.resolve_signature_root(spark, sig),
                 lambda: storage.committed(storage.tree(spark, cms),
                                           SK._CMS)):
        _, sent = count_commands(spark, read)
        assert method_calls(sent, "exists") == 0
        assert method_calls(sent, "listFiles") == 0
        assert method_calls(sent, "listStatus") > 0


def test_generation_walk_cost_does_not_grow_with_files(spark, tmp_path):
    """A signature store's live generation resolves from the generation
    dirs and their markers: after a compaction, the retained previous
    generation's files cost no command, and neither do the live one's."""
    def resolve_commands(name, n_files):
        path = str(tmp_path / name)
        SS.update_signature_store(spark, _docs(spark, 0).repartition(
            n_files), path)
        SS.compact_signature_store(spark, path)
        _, sent = count_commands(
            spark, lambda: SS.resolve_signature_root(spark, path))
        return len(sent)

    resolve_commands("warm", 1)   # a first walk makes one-time lookups
    assert resolve_commands("many", 6) == resolve_commands("one", 1)


def test_merge_store_walk_skips_data_files(spark, tmp_path):
    """The merge store's walk lists its data dirs but none of their
    files: its commands are the same for a store of 1 and of 4 data
    files per generation."""
    def walk(name, n):
        root = str(tmp_path / name)
        MS.init_merge_store(spark, _upserts(spark, 10).repartition(n),
                            root, ["id"])
        MS.merge_into(spark, root, _upserts(spark, 0), ["id"])
        t, sent = count_commands(spark, lambda: MS._walk(spark, root))
        assert not [f for f in t.files if f.startswith(f"{root}/gen-")]
        return len(sent)

    assert walk("many", 4) == walk("one", 1)


def test_merge_store_reads_walk_the_root_once(spark, tmp_path,
                                              monkeypatch):
    root = _merge_store(spark, str(tmp_path / "merge"))
    walks, walk = [], storage.tree
    monkeypatch.setattr(storage, "tree", lambda s, r, *a, **k: (
        walks.append(r) or walk(s, r, *a, **k)))
    for read in (MS.read_merge_store, MS.merge_store_stats):
        for at in (None, 1):
            walks.clear()
            read(spark, root, at)
            assert walks == [root], (read, at)


# ------------------------------------ the merge store's commit gate
# (test_mergestore.py is slow as a whole; these two pin the rules the
# gate reads from the walk: the log's marker + payload, and the
# drained-dir reclaim that stops at the watermark)

@pytest.fixture()
def store(spark, tmp_path):
    root = str(tmp_path / "store")
    init_merge_store(spark, _base_df(spark), root, KEY)
    return root


def test_crashed_commit_log_is_invisible(spark, store):
    """The r6-advice crash window: Spark creates the _log/gen-<n> dir at
    job start, so a crash DURING the log write leaves a generation whose
    data exists but whose tombstones are lost. Bare dir existence must
    not count as commit — otherwise every rewritten row double-counts.
    Commit is gated on the log's _SUCCESS marker + parquet payload."""
    import os
    import shutil
    before = _as_dict(read_merge_store(spark, store))
    upd = spark.createDataFrame(
        [(10, -1, "upd"), (5000, -2, "new")], "id long, v long, tag string")
    res = merge_into(spark, store, upd, KEY, "update")
    gen = res["generation"]
    log_dir = f"{store}/_log/gen-{gen}"
    # crash flavor 1: log dir created, nothing written yet (empty dir)
    saved = f"{store}/_saved_log"
    shutil.move(log_dir, saved)
    os.makedirs(log_dir)
    got = _as_dict(read_merge_store(spark, store))
    assert got == before, "bare log dir must not commit the generation"
    assert len(got) == len(before), "no double-counted rewritten rows"
    # crash flavor 2: partial payload, no _SUCCESS marker yet
    shutil.rmtree(log_dir)
    shutil.copytree(saved, log_dir)
    os.remove(f"{log_dir}/_SUCCESS")
    got = _as_dict(read_merge_store(spark, store))
    assert got == before
    # the completed log commits: full post-merge state, counted once
    shutil.rmtree(log_dir)
    shutil.move(saved, log_dir)
    want = dict(before)
    want.update({10: (-1, "upd"), 5000: (-2, "new")})
    assert _as_dict(read_merge_store(spark, store)) == want


def test_checkpoint_keeps_empty_committed_gen_above_watermark(
        spark, tmp_path):
    """An all-delete merge commits an EMPTY generation (zero parquet
    files, tombstones only). If that generation sits ABOVE the
    checkpoint watermark, its data dir is the committed-ness witness
    _committed_gens relies on — reclaiming it as "drained" drops its
    tombstones and silently resurrects the deleted rows (r10 ADVICE
    high). The drained-dir reclaim must stop at the watermark."""
    import os
    from datatools_spark.operators.mergestore import checkpoint_merge_store
    root = str(tmp_path / "emptygen")
    init_merge_store(spark, _base_df(spark, n=10, files=1), root, KEY)
    # gen 1, 2: updates so the watermark has history to consolidate
    for i in (1, 2):
        u = spark.createDataFrame([(i, -i, f"g{i}")],
                                  "id long, v long, tag string")
        merge_into(spark, root, u, KEY, "update")
    # gen 3: delete EVERY row -> empty generation. This Spark version
    # happens to emit one zero-row part file for an empty write; that
    # is not contractual (other versions emit none — the case
    # _write_gen_stats's empty-manifest branch exists for), so strip
    # the empty part file to pin the file-less-committed-gen shape.
    all_keys = spark.range(0, 10).select("id")
    r = merge_into(spark, root, all_keys, KEY, "delete")
    assert r["generation"] == 3 and r["rows_deleted"] == 10
    g3 = os.path.join(root, "gen-3")
    for f in os.listdir(g3):
        if f.endswith(".parquet") or f.endswith(".parquet.crc"):
            os.remove(os.path.join(g3, f))
    # file-less committed gen is still committed: reads stay exact
    assert read_merge_store(spark, root).count() == 0
    # gen 4: fresh inserts so latest(4) > empty gen(3) > wm(2)
    ins = spark.createDataFrame([(100, 1, "new"), (101, 2, "new")],
                                "id long, v long, tag string")
    merge_into(spark, root, ins, KEY, "update")
    res = checkpoint_merge_store(spark, root, retain_generations=2)
    assert res["watermark"] == 2
    # the empty committed gen-3 above the watermark must survive so its
    # tombstones keep applying: no resurrection of the deleted 10 rows
    assert os.path.isdir(os.path.join(root, "gen-3"))
    assert _as_dict(read_merge_store(spark, root)) == {
        100: (1, "new"), 101: (2, "new")}
    # time travel at the empty generation reads empty, not resurrected
    assert read_merge_store(spark, root, at_generation=3).count() == 0
    # a later checkpoint that moves the watermark PAST the empty gen may
    # then reclaim it; reads stay exact
    merge_into(spark, root, spark.createDataFrame(
        [(102, 3, "new")], "id long, v long, tag string"), KEY, "update")
    checkpoint_merge_store(spark, root, retain_generations=2)  # wm=3
    assert _as_dict(read_merge_store(spark, root)) == {
        100: (1, "new"), 101: (2, "new"), 102: (3, "new")}


def _sources() -> dict:
    pkg = pathlib.Path(datatools_spark.__file__).parent
    return {p.relative_to(pkg).as_posix(): p.read_text()
            for p in pkg.rglob("*.py")}


def test_commit_protocol_lives_in_storage_only():
    """The Hadoop FS is opened, listed and walked in operators/storage.py
    alone, and no module reaches into another store module's
    privates."""
    sources = _sources()
    for call in ("getFileSystem(", "listStatus", "listFiles"):
        assert [p for p, src in sources.items() if call in src] \
            == ["operators/storage.py"], call
    assert not [p for p, src in sources.items() if "storage.fs(" in src]
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


# ------------------------------------------------ job-free parquet reads

# byte copies of the sf0.001 testdata tables, kept with the benchmark
FIXTURE = pathlib.Path(__file__).parents[1] / "perfbench" / "data" / "sf0.001"


def _assert_reads_like_spark(spark, *paths):
    """``storage.read_parquet`` gives Spark's inferred schema and, for
    a flat table, runs no Spark job."""
    got, n_jobs = count_jobs(spark,
                             lambda: storage.read_parquet(spark, *paths))
    assert got.schema == spark.read.parquet(*paths).schema, paths
    assert n_jobs == 0, paths


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_read_parquet_schema_equals_inference(spark, tmp_path,
                                              nanos_as_long):
    """Every fixture table (``events`` carries TIMESTAMP(NANOS), read as
    ``bigint`` or ``timestamp_ntz`` by the session setting), and a
    Spark-written table of decimal, array, struct and map columns with
    non-null fields, over several files."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    spark.conf.set(key, nanos_as_long)
    try:
        tables = sorted(FIXTURE.glob("*.parquet"))
        assert len(tables) == 9
        for t in tables:
            _assert_reads_like_spark(spark, str(t))
        nested = str(tmp_path / "nested")
        spark.range(40).repartition(3).select(
            F.col("id"),
            (F.col("id") / 7).cast("decimal(12,3)").alias("d"),
            F.array(F.col("id"), F.lit(None).cast("long")).alias("a"),
            F.struct(F.col("id").alias("x"),
                     F.lit("s").alias("y")).alias("st"),
            F.create_map(F.lit("k"), F.col("id")).alias("m")) \
            .write.parquet(nested)
        assert spark.read.parquet(nested).schema["id"].nullable
        _assert_reads_like_spark(spark, nested)
        files = sorted(str(f) for f in pathlib.Path(nested).glob("*.parquet"))
        _assert_reads_like_spark(spark, *files[::-1])
    finally:
        spark.conf.set(key, prev)


def _table_dirs(root: str) -> list[str]:
    return sorted({str(f.parent) for f in pathlib.Path(root).rglob("*.parquet")
                   if not f.name.startswith(".")})


@pytest.mark.parametrize("kind", KINDS)
def test_read_parquet_schema_equals_inference_on_stores(spark, tmp_path,
                                                        kind):
    """Every table of a committed generation of each store kind."""
    store = KINDS[kind](spark, str(tmp_path / "store"))
    store.prep(0)
    store.step(0)
    dirs = _table_dirs(str(tmp_path))
    assert dirs
    for d in dirs:
        _assert_reads_like_spark(spark, d)


def test_read_parquet_schema_equals_inference_on_component_store(
        spark, tmp_path):
    root = str(tmp_path / "comp")
    ids = lambda xs: spark.createDataFrame(  # noqa: E731
        [(x,) for x in xs], "doc_id long")
    CS.update_component_store(
        spark, ids([1, 2]), spark.createDataFrame([], "a_id long, b_id long"),
        root)
    CS.update_component_store(
        spark, ids([3]),
        spark.createDataFrame([(1, 3), (2, 3)], "a_id long, b_id long"), root)
    dirs = _table_dirs(root)
    assert [d.rsplit("/", 1)[-1] for d in dirs] == ["members", "merges"]
    for d in dirs:
        _assert_reads_like_spark(spark, d)


def test_read_parquet_driver_cost_does_not_grow_with_files(
        spark, tmp_path):
    """The footer read's driver-side calls into the JVM are the same for
    a table of 1 file and of 300 files: the listing and the choice of
    file run inside the JVM, not once per file from Python."""
    src = FIXTURE / "nation.parquet"

    def round_trips(n):
        t = tmp_path / f"t{len(list(tmp_path.iterdir()))}"
        t.mkdir()
        for i in range(n):
            shutil.copy(src, t / f"part-{i:05d}.parquet")
        df, sent = count_commands(
            spark, lambda: storage.read_parquet(spark, str(t)))
        assert df.schema == spark.read.parquet(str(src)).schema
        return len(sent)

    round_trips(1)     # a first read makes one-time lookups
    assert round_trips(300) == round_trips(1)


def test_read_parquet_falls_back_to_spark(spark, tmp_path):
    """Where a footer cannot stand for Spark's inference, the read is
    Spark's own: a missing path and an empty table raise Spark's
    exception, a partitioned table keeps its partition column, and
    ``mergeSchema`` merges every file. Without it, both take the schema
    of the first data file by path."""
    def raised(read):
        with pytest.raises(AnalysisException) as exc:
            read()
        return type(exc.value), exc.value.getCondition()

    missing = str(tmp_path / "missing")
    assert raised(lambda: storage.read_parquet(spark, missing)) \
        == raised(lambda: spark.read.parquet(missing))
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    assert raised(lambda: storage.read_parquet(spark, str(empty))) \
        == raised(lambda: spark.read.parquet(str(empty)))

    part = str(tmp_path / "part")
    spark.range(6).select("id", (F.col("id") % 2).alias("p")) \
        .write.partitionBy("p").parquet(part)
    assert storage.read_parquet(spark, part).schema \
        == spark.read.parquet(part).schema
    assert "p" in storage.read_parquet(spark, part).columns

    # two schemas in one table: the first data file by path decides,
    # whichever name it has
    narrow, wide = str(tmp_path / "narrow"), str(tmp_path / "wide")
    spark.range(3).coalesce(1).write.parquet(narrow)
    spark.range(3).select("id", F.lit(1).alias("extra")).coalesce(1) \
        .write.parquet(wide)
    for names in (("a", "b"), ("b", "a")):
        t = tmp_path / "two" / "".join(names)
        t.mkdir(parents=True)
        for src, name in zip((narrow, wide), names):
            shutil.copy(next(pathlib.Path(src).glob("*.parquet")),
                        t / f"{name}.parquet")
        assert storage.read_parquet(spark, str(t)).columns \
            == spark.read.parquet(str(t)).columns \
            == (["id"] if names[0] == "a" else ["id", "extra"])
    spark.range(3).write.mode("append").parquet(wide)
    key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try:
        got = storage.read_parquet(spark, wide).schema
        assert got == spark.read.parquet(wide).schema
        assert got.names == ["id", "extra"]
    finally:
        spark.conf.unset(key)


def test_read_parquet_of_many_paths_is_sparks_read(spark, tmp_path):
    """Above ``parallelPartitionDiscovery.threshold`` paths Spark lists
    them in a job, so the footer path would list them twice: the read
    is Spark's own, with Spark's schema."""
    base = str(tmp_path / "flat")
    spark.range(40).repartition(4).write.parquet(base)
    files = tuple(sorted(str(f) for f in pathlib.Path(base).glob("*.parquet")))
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, str(len(files) - 1))
    try:
        assert storage._footer_schema(spark, files, {}) is None
        assert storage.read_parquet(spark, *files).schema \
            == spark.read.parquet(*files).schema
    finally:
        spark.conf.unset(key)
    _assert_reads_like_spark(spark, *files)


def _calls(tree):
    """``(top-level statement, call)`` for every call in a module."""
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield top, node


def _attrs(node) -> set:
    return {n.attr for n in ast.walk(node) if isinstance(n, ast.Attribute)}


def _is_batch_read(top, receiver) -> bool:
    """Whether ``receiver.parquet(`` reads through ``spark.read``: the
    receiver chain (``spark.read``, ``spark.read.option(…)``) or, for a
    name such as ``reader``, a value assigned to it in the same
    top-level function names ``.read``. A ``.write`` chain and a
    ``readStream`` (whose schema is given) are not batch reads."""
    attrs = _attrs(receiver)
    root = receiver
    while isinstance(root, (ast.Attribute, ast.Call)):
        root = root.value if isinstance(root, ast.Attribute) else root.func
    if isinstance(root, ast.Name):
        for node in ast.walk(top):
            if isinstance(node, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == root.id
                    for t in node.targets):
                attrs |= _attrs(node.value)
    return "read" in attrs and "write" not in attrs


def test_parquet_reads_and_driver_rows_use_the_helpers():
    """Every batch parquet read in the package (``.read.parquet(``,
    ``.read.option(…).parquet(``, ``reader.parquet(``) is
    ``storage.read_parquet``'s, so no read pays a schema-inference job,
    and every ``createDataFrame`` is ``session.local_frame``'s, so no
    frame of driver rows is an RDD of pickled rows."""
    allowed = {"parquet": ("operators/storage.py", "read_parquet"),
               "createDataFrame": ("session.py", "local_frame")}
    bad = []
    for p, src in _sources().items():
        for top, call in _calls(ast.parse(src)):
            f = call.func
            if not isinstance(f, ast.Attribute) or f.attr not in allowed:
                continue
            if f.attr == "parquet" and not _is_batch_read(top, f.value):
                continue
            if (p, getattr(top, "name", None)) != allowed[f.attr]:
                bad.append(f"{p}:{call.lineno} {f.attr}")
    assert not bad
