"""bench.py artifact contention-proofing: the history fold must take
per-query minima ONLY from same-code-fingerprint, same-SF runs
(fingerprint = engine source blob hashes; None when dirty)."""

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py"))
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _hist(tmp_path, name, **data):
    with open(tmp_path / name, "w") as f:
        json.dump(data, f)


def test_fold_takes_same_fp_same_sf_minima(tmp_path):
    _hist(tmp_path, "BENCH_full_a.json", code_fp="h1", sf=0.1,
          queries={"q1": 1.0, "q2": 5.0}, extended={"e1": 2.0})
    _hist(tmp_path, "BENCH_full_b.json", code_fp="h1", sf=0.1,
          queries={"q1": 3.0, "q2": 2.0}, extended={"e1": 9.0})
    out = {"sf": 0.1, "queries": {"q1": 2.0, "q2": 4.0}, "value": 6.0,
           "extended": {"e1": 4.0}}
    folded = bench._fold_history(out, str(tmp_path), "h1")
    assert sorted(folded) == ["BENCH_full_a.json", "BENCH_full_b.json"]
    assert out["queries"] == {"q1": 1.0, "q2": 2.0}
    assert out["extended"] == {"e1": 2.0}
    assert out["value"] == 3.0
    # folded ROWS are recorded by name so the compact line can drop
    # this run's plan counters for them (r10 ADVICE low): q1/e1 took a
    # history minimum, q2 took BENCH_full_b's
    assert out["folded_queries"] == ["e1", "q1", "q2"]


def test_fold_skips_other_fp_other_sf_and_dirty(tmp_path):
    _hist(tmp_path, "BENCH_full_fp.json", code_fp="h2", sf=0.1,
          queries={"q1": 0.1})
    _hist(tmp_path, "BENCH_full_sf.json", code_fp="h1", sf=0.001,
          queries={"q1": 0.1})
    _hist(tmp_path, "BENCH_full_nofp.json", sf=0.1,
          queries={"q1": 0.1})
    out = {"sf": 0.1, "queries": {"q1": 2.0}, "value": 2.0}
    assert bench._fold_history(out, str(tmp_path), "h1") == []
    assert out["queries"] == {"q1": 2.0}
    # dirty tree: fold disabled wholesale
    _hist(tmp_path, "BENCH_full_match.json", code_fp="h1x", sf=0.1,
          queries={"q1": 0.1})
    assert bench._fold_history(out, str(tmp_path), "h1-dirty") == []
    assert out["queries"] == {"q1": 2.0}


def test_fold_keys_on_cpus(tmp_path):
    """r11 VERDICT #1a: the driver's 8-core scaling run folded 32-core
    minima (18.5 s artifact < the 32-core 22.5 s) because the fold key
    lacked cpus. Different-cpus history — and pre-r12 history with no
    cpus stamp at all — must never fold into a stamped run."""
    _hist(tmp_path, "BENCH_full_c32.json", code_fp="h1", sf=0.1, cpus=32,
          queries={"q1": 0.5})
    _hist(tmp_path, "BENCH_full_nocpu.json", code_fp="h1", sf=0.1,
          queries={"q1": 0.4})
    out = {"sf": 0.1, "cpus": 8, "queries": {"q1": 2.0}, "value": 2.0}
    assert bench._fold_history(out, str(tmp_path), "h1") == []
    assert out["queries"] == {"q1": 2.0}
    # same cpus: folds
    out32 = {"sf": 0.1, "cpus": 32, "queries": {"q1": 2.0}, "value": 2.0}
    assert bench._fold_history(out32, str(tmp_path), "h1") == [
        "BENCH_full_c32.json"]
    assert out32["queries"] == {"q1": 0.5}


def test_fold_recomputes_sf1_total(tmp_path):
    _hist(tmp_path, "BENCH_full_a.json", code_fp="h1", sf=0.1,
          queries={"q1": 1.0},
          sf1_equiv={"queries": {"q1": 8.0}, "extended_mm": {"m1": 1.0}})
    out = {"sf": 0.1, "queries": {"q1": 1.0}, "value": 1.0,
           "sf1_equiv": {"value": 12.0, "queries": {"q1": 12.0},
                         "extended_mm": {"m1": 3.0}}}
    bench._fold_history(out, str(tmp_path), "h1")
    assert out["sf1_equiv"]["queries"] == {"q1": 8.0}
    assert out["sf1_equiv"]["extended_mm"] == {"m1": 1.0}
    assert out["sf1_equiv"]["value"] == 8.0


def test_calibration_kernel_runs():
    s = bench._calib_kernel_s()
    assert 0.05 < s < 30


def test_membw_probes_run():
    bw = bench._membw_gbps()
    agg = bench._membw_agg_gbps()
    assert bw is None or 0.1 < bw < 1000
    assert agg is None or 0.1 < agg < 10000


def test_membw_refs_rebase_from_log(tmp_path, monkeypatch):
    """The operative reference is max(stake, best logged reading) — a
    stake taken inside a degraded window self-heals from the series
    (r10 VERDICT #1c); bogus lines never lower it."""
    log = tmp_path / "membw.jsonl"
    monkeypatch.setattr(bench, "_MEMBW_LOG", str(log))
    # no log: the stakes
    assert bench._membw_refs() == (bench.MEMBW_REF_GBPS,
                                   bench.MEMBW_AGG_REF_GBPS)
    with open(log, "w") as f:
        f.write(json.dumps({"membw_gbps": 1.0,
                            "membw_agg_gbps": 2.0}) + "\n")   # below: keep
        f.write("not json\n")                                 # tolerated
        f.write(json.dumps({"membw_gbps": bench.MEMBW_REF_GBPS + 2.0}) + "\n")
        f.write(json.dumps(
            {"membw_agg_gbps": bench.MEMBW_AGG_REF_GBPS + 30.0}) + "\n")
    ref, agg = bench._membw_refs()
    assert ref == bench.MEMBW_REF_GBPS + 2.0
    assert agg == bench.MEMBW_AGG_REF_GBPS + 30.0


def test_membw_sample_appends_log(tmp_path, monkeypatch):
    log = tmp_path / "membw.jsonl"
    monkeypatch.setattr(bench, "_MEMBW_LOG", str(log))
    s = bench.membw_sample("unit-test")
    assert "membw_gbps" in s or "membw_agg_gbps" in s
    with open(log) as f:
        rec = json.loads(f.readline())
    assert rec["where"] == "unit-test" and "ts" in rec


def test_code_fingerprint_stable_and_clean():
    # the committed tree: fingerprint is a 16-hex digest, stable across
    # calls, and docs-only files do not participate
    fp1 = bench._code_fingerprint()
    fp2 = bench._code_fingerprint()
    if fp1 is not None:   # None only when engine paths are dirty
        assert fp1 == fp2 and len(fp1) == 16


def _engine_repo(tmp_path):
    """A throwaway committed git repo holding every ``_CODE_PATHS`` entry,
    so fingerprint tests do not depend on the state of this checkout."""
    import subprocess
    (tmp_path / "datatools_spark").mkdir()
    (tmp_path / "datatools_spark" / "__init__.py").write_text("")
    (tmp_path / "bench.py").write_text("# bench\n")
    (tmp_path / "__spark_entry__.py").write_text("# entry\n")
    git = ["git", "-C", str(tmp_path), "-c", "user.name=t",
           "-c", "user.email=t@example.com"]
    for args in (["init", "-q"], ["add", "-A"], ["commit", "-q", "-m", "x"]):
        subprocess.run(git + args, check=True, capture_output=True)
    return tmp_path


def test_code_fingerprint_none_with_untracked_engine_file(tmp_path,
                                                          monkeypatch):
    # an UNTRACKED module under an engine path is invisible to both
    # `git diff HEAD` and `ls-files -s`; it must still disable folding
    # — the run executed code the clean tree lacks
    repo = _engine_repo(tmp_path)
    monkeypatch.setattr(bench, "__file__", str(repo / "bench.py"))
    assert bench._code_fingerprint() is not None
    probe = repo / "datatools_spark" / "_fp_probe_untracked.py"
    probe.write_text("# fingerprint probe\n")
    assert bench._code_fingerprint() is None
    probe.unlink()
    assert bench._code_fingerprint() is not None
