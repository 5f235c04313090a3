"""The benchmark's workloads: what one pass runs and how it is checked.

One Python process is the only client, in a closed loop: the next query
or store call starts only after the previous result is back. The seed
permutes the query order of every pass and salts the ``store_ingest``
batch split; the tables themselves are fixed (see ``fixture.py``), so a
query's forced result hash is the same under every seed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

# multi-table star joins, rollup, top-k, CMS join sizing, the check
# suite and pagerank, plus one warm store twin: most of their wall is
# eager driver-side work in the build layer (schema inference,
# checkpoints, gate counts, snapshot collects). The image-store twins
# are left out: seeding their signature store every run costs more set-up
# time than the run budget holds; store_ingest covers those stores.
TWINS = ["doc_cms_store_estimate"]
DRIVER = [
    "ss_pricing_summary", "ss_region_revenue", "ss_top_customers_per_nation",
    "ss_rollup_revenue", "ss_join_size_estimate", "ss_check_suite",
    "ss_pagerank", *TWINS,
]

QUERY_WORKLOADS = {"driver_sf0.01": DRIVER}
INGEST_BATCHES = 2
WARMUP_DOCS = 64
WORKLOADS = [*QUERY_WORKLOADS, "store_ingest"]


def force_frame(df):
    """The forcing action of ``bench.force_value``: xxhash64 over every
    output column, folded with ``bit_xor``. A bare ``count()`` would
    let Catalyst prune window and UDF columns."""
    cols = [F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType)
            else F.col(f.name) for f in df.schema.fields]
    return df.select(F.xxhash64(*cols).alias("_h")) \
        .agg(F.bit_xor("_h").alias("h"))


class Tally:
    """Attempted and failed operations. A call that raises or returns a
    wrong hash is a failure. With ``expected=None`` hashes are recorded
    in ``observed`` instead of checked (for pinning)."""

    def __init__(self, expected: dict | None):
        self.expected = expected
        self.observed: dict = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []

    def check(self, key: str, value) -> None:
        self.attempted += 1
        self.observed[key] = value
        if self.expected is None:
            return
        if key not in self.expected:
            self.failed += 1
            self.mismatches.append(f"{key}: no pinned hash")
        elif self.expected[key]["hash"] != value:
            self.failed += 1
            self.mismatches.append(
                f"{key}: {value} != {self.expected[key]['hash']}")

    def error(self, key: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"FAILED {key}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


def run_query(spark, tr, name: str, data_dir: str):
    """Build, plan and execute one query; return its forced hash."""
    from datatools_spark.queries import QUERIES
    with tr.span("query", query=name):
        with tr.span("build", jobs=True):
            df = QUERIES[name](spark, data_dir)
        with tr.span("plan", jobs=True):
            # the forcing select resolves the query's schema: analysis
            forced = force_frame(df)
            forced._jdf.queryExecution().executedPlan()
        with tr.span("execute", jobs=True):
            return forced.collect()[0]["h"]


def query_passes(spark, tr, names, data_dir, deadline, rng, tally,
                 samples):
    """Full passes in seed-permuted order until ``deadline`` (at least
    one). Appends each query's wall seconds to ``samples[name]``."""
    while True:
        order = list(names)
        rng.shuffle(order)
        with tr.span("pass"):
            for name in order:
                t0 = time.perf_counter()
                try:
                    h = run_query(spark, tr, name, data_dir)
                except Exception:  # noqa: BLE001 — counted, run goes on
                    tally.error(name)
                    continue
                samples.setdefault(name, []).append(
                    time.perf_counter() - t0)
                tally.check(name, h)
        if time.perf_counter() >= deadline:
            return


def pass_seconds(samples: dict) -> float:
    """One full pass, estimated as the sum of per-query medians."""
    return sum(statistics.median(v) for v in samples.values())


# ---- store_ingest -------------------------------------------------------

STORES = ("sig", "comp", "cms", "merge")


def ingest_split(doc_ids: list[int], rng) -> list[list[int]]:
    """Equal batches of a seed-shuffled id list."""
    ids = sorted(doc_ids)
    rng.shuffle(ids)
    size = -(-len(ids) // INGEST_BATCHES)
    return [ids[i:i + size] for i in range(0, len(ids), size)]


def _du(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def ingest_pass(spark, tr, data_dir, root, batches, tally) -> dict:
    """Sign, pair, fold, sketch and upsert every batch into fresh stores
    under ``root``, then read every store back. Deletes ``root``."""
    from datatools_spark.operators import compstore as CS
    from datatools_spark.operators import mergestore as MS
    from datatools_spark.operators import sigstore as SS
    from datatools_spark.operators import sketches as SK
    from datatools_spark.operators import text as TX
    from datatools_spark.queries import _mm_payload, _t

    paths = {s: os.path.join(root, s) for s in STORES}
    docs = _t(spark, data_dir, "documents")
    payload = _mm_payload(spark, data_dir)
    out = {"batch_s": []}

    def call(label, fn):
        try:
            with tr.span(label, jobs=True):
                fn()
        except Exception:  # noqa: BLE001 — counted, ingest goes on
            tally.error(label)
        else:
            tally.attempted += 1

    with tr.span("pass"):
        for i, ids in enumerate(batches):
            t0 = time.perf_counter()
            with tr.span("batch", batch=i):
                bp = payload.where(F.col("media_id").isin(ids))
                bd = docs.where(F.col("doc_id").isin(ids))
                held = {}

                def sign():
                    SS.update_image_signature_store(spark, bp, paths["sig"])

                def pair():
                    held["pairs"] = SS.ahash_pairs_against_store(
                        spark, bp.select("media_id"), paths["sig"]) \
                        .select("a_id", "b_id").localCheckpoint(eager=True)

                def fold():
                    signed = bp.select("media_id").join(
                        SS.signed_image_ids(spark, paths["sig"]),
                        "media_id", "left_semi")
                    CS.update_component_store(spark, signed, held["pairs"],
                                              paths["comp"],
                                              id_col="media_id")

                def sketch():
                    words = bd.select(F.explode(TX.words_col("text"))
                                      .alias("w"))
                    SK.update_cms_store(spark, words, paths["cms"], "w", i,
                                        app_id="ingest")

                def upsert():
                    if i == 0:
                        MS.init_merge_store(spark, bd, paths["merge"],
                                            ["doc_id"])
                    else:
                        MS.merge_into(spark, paths["merge"], bd, ["doc_id"])

                call("sigstore.update", sign)
                call("sigstore.pair", pair)
                call("compstore.update", fold)
                call("sketches.cms_update", sketch)
                call("mergestore.merge", upsert)
            out["batch_s"].append(time.perf_counter() - t0)

        readers = {
            "sig": lambda: spark.read.parquet(
                SS.resolve_signature_root(spark, paths["sig"])),
            "comp": lambda: CS.read_components(spark, paths["comp"]),
            "cms": lambda: SK.read_cms_store(spark, paths["cms"]),
            "merge": lambda: MS.read_merge_store(spark, paths["merge"]),
        }
        t0 = time.perf_counter()
        with tr.span("stores.read", jobs=True):
            for store, read in readers.items():
                key = f"store_ingest:{store}"
                try:
                    h = force_frame(read()).collect()[0]["h"]
                except Exception:  # noqa: BLE001 — counted, read goes on
                    tally.error(key)
                    continue
                tally.check(key, h)
        out["readback_s"] = time.perf_counter() - t0

    counts = [_du(paths[s]) for s in STORES]
    out["files"] = sum(c[0] for c in counts)
    out["stored_bytes"] = sum(c[1] for c in counts)
    shutil.rmtree(root, ignore_errors=True)
    return out
