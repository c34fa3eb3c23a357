"""Tests of the benchmark's own logic, and a smoke run of every workload.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.analytics import last_digit_only  # noqa: E402
from perfbench.common import percentile, timing  # noqa: E402
from perfbench.store import StoreModel  # noqa: E402
from perfbench.trace import Span, Tracer, self_times  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(100)), 0.9) == 89
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.9)
    with pytest.raises(ValueError):
        percentile(list(range(19)), 0.5)
    assert percentile(list(range(20)), 0.5) == 9


def test_timing_reports_the_highest_supported_percentile():
    assert "p90" not in timing([1.0] * 50) and timing([1.0] * 50)["n"] == 50
    assert timing([float(i) for i in range(100)])["p90"] == 89.0
    t = timing([float(i) for i in range(1000)])
    assert t["p99"] == 989.0 and "p90" not in t and t["value"] == 499.5


def test_last_digit_only_accepts_just_a_rounding_boundary_in_named_columns():
    got = (["avg", "lang", "n"], [(0.70783, "fr", 62), (0.5, "en", 3)])
    want = (["n", "avg", "lang"], [(3, 0.5, "en"), (62, 0.707829, "fr")])
    assert last_digit_only(got, want, {"avg"})
    assert not last_digit_only(got, want, set())  # no column named: strict
    assert not last_digit_only(got, want, {"n"})
    assert not last_digit_only(got, (want[0], [(3, 0.5, "en"), (62, 0.70773, "fr")]), {"avg"})
    assert not last_digit_only(got, (want[0], [(3, 0.5, "en"), (61, 0.70783, "fr")]), {"avg"})
    assert not last_digit_only(got, (want[0], want[1][:1]), {"avg"})


def _span(i, parent, start, end):
    return Span(id=i, name=f"s{i}", op=0, parent=parent, start=start, end=end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps span 1: covered once
        _span(3, 0, 9.0, 12.0),  # runs past its parent: clipped
        _span(4, 1, 1.5, 2.0),  # grandchild: only its parent's self time
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0) and st[4] == pytest.approx(0.5)


def test_spans_nest_and_a_disabled_tracer_records_nothing():
    tr = Tracer(enabled=True)
    with tr.span("op") as op:
        with tr.span("plan"):
            pass
        with tr.span("exec") as ex:
            pass
    with tr.span("next"):
        pass
    assert [s.parent for s in tr.spans] == [None, op.id, op.id, None]
    assert ex.op == op.op and tr.spans[-1].op == tr.spans[-1].id
    off = Tracer(enabled=False)
    with off.span("op") as s:
        assert s is None
    assert off.spans == []


def _vec(*xs):
    return np.asarray(xs, dtype=np.float32)


def test_store_model_bookkeeping():
    m = StoreModel()
    m.ingest([(1, 1, "a"), (2, 1, "b"), (3, 2, "c")])
    m.set_embeddings({1: _vec(0, 0), 2: _vec(1, 0), 3: _vec(0, 1)})
    m.build(1)
    m.build(2)
    assert sorted(m.searchable[1]) == [1, 2] and sorted(m.searchable[2]) == [3]
    m.update(2, "b2")
    assert m.live[2] == (1, "b2") and 2 not in m.searchable[1] and 2 not in m.emb
    m.ingest([(4, 1, "d")])
    m.set_embeddings({2: _vec(2, 0), 4: _vec(3, 0)})
    assert 4 not in m.searchable[1]  # searchable only after the next build
    m.delete(1)
    assert 1 not in m.live and 1 in m.deleted and m.searchable[1] == {}
    assert m.ids(1) == [2, 4]
    m.build(1)
    assert sorted(m.searchable[1]) == [2, 4]
    m.ingest([(1, 1, "again")])
    assert 1 not in m.deleted


def test_store_model_marks_rows_a_compaction_unmasks():
    m = StoreModel()
    m.ingest([(i, 1, "t") for i in range(3)] + [(9, 2, "t")])
    m.set_embeddings({i: _vec(i, 0) for i in range(3)} | {9: _vec(0, 9)})
    m.build(1)
    m.build(2)
    m.delete(1)
    m.update(2, "new")
    m.set_embeddings({2: _vec(5, 5)})
    q = _vec(1, 0)
    assert "deleted" in m.check_search(1, q, [(1, 0.0)])[0]  # tombstone still hides it
    m.compact()
    assert m.check_search(1, q, [(1, 0.0)]) == ("unmasked", None)
    assert m.check_search(1, q, [(0, 1.0), (2, 1.0)]) == ("unmasked", None)
    m.build(2)  # another library's build leaves library 1's rows unmasked
    assert m.unmasked == {1, 2}
    m.build(1)
    assert m.unmasked == set() and m.hidden == {}
    assert sorted(m.searchable[1]) == [0, 2]


def test_store_model_judges_searches():
    m = StoreModel()
    m.ingest([(i, 1, "t") for i in range(12)] + [(99, 2, "t")])
    m.set_embeddings({i: _vec(i, 0) for i in range(12)} | {99: _vec(0, 5)})
    m.build(1)
    q = _vec(0, 0)
    exact = [(i, float(i)) for i in range(10)]
    assert m.check_search(1, q, exact) == ("ok", 1.0)
    assert m.check_search(1, q, []) == ("empty", None)
    assert m.check_search(2, q, []) == ("ok", None)  # never built: nothing to find
    assert "not ascending" in m.check_search(1, q, exact[::-1])[0]
    assert "dist" in m.check_search(1, q, [(0, 0.5)])[0]
    assert "not searchable" in m.check_search(1, q, [(99, 5.0)])[0]
    m.delete(3)
    assert "deleted" in m.check_search(1, q, [(3, 3.0)])[0]
    status, recall = m.check_search(1, q, [(i, float(i)) for i in (0, 1, 2, 11)])
    assert status == "ok" and recall == pytest.approx(0.3)


def test_store_model_recall_ignores_ties():
    m = StoreModel()
    m.ingest([(i, 1, "t") for i in range(12)])
    m.set_embeddings({i: _vec(1, 0) for i in range(12)})  # all equidistant
    m.build(1)
    assert m.check_search(1, _vec(0, 0), [(i, 1.0) for i in range(2, 12)]) == ("ok", 1.0)


def test_datagen_is_seeded_and_typed(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    datagen.write_tables(str(a), 7, 0.001)
    datagen.write_tables(str(b), 7, 0.001)
    datagen.write_tables(str(c), 8, 0.001)
    import pyarrow.parquet as pq

    for name in ("lineitem", "documents", "embeddings", "events"):
        ta, tb = (pq.read_table(d / f"{name}.parquet") for d in (a, b))
        assert ta.equals(tb)
        assert not ta.equals(pq.read_table(c / f"{name}.parquet"))
    emb = pq.read_table(a / "embeddings.parquet")
    assert str(emb.schema.field("embedding").type) == "list<element: float>"
    assert len(emb.column("embedding")[0]) == datagen.EMBED_DIM
    li = pq.read_table(a / "lineitem.parquet").schema
    assert str(li.field("l_shipdate").type) == "timestamp[us]"
    assert str(li.field("l_linenumber").type) == "int32"


def test_a_traced_run_must_measure_its_own_layers():
    from types import SimpleNamespace

    from perfbench.run import _final_metrics

    spec = {"per_layer": [{"name": "streaming.epoch_s", "unit": "s"},
                          {"name": "store.bytes", "unit": "bytes"}]}
    run = SimpleNamespace(workload="stream_dedup", layers={"streaming.epoch_s": 1.5})
    out = _final_metrics(run, spec, trace=True)
    assert out["streaming.epoch_s"]["value"] == 1.5
    assert out["store.bytes"]["value"] == 0  # another workload's layer
    run.layers = {}
    with pytest.raises(RuntimeError, match="streaming.epoch_s"):
        _final_metrics(run, spec, trace=True)


def test_stream_input_holds_pairs_from_the_first_files():
    from perfbench.stream import corpus_files

    for seed in range(20):
        files = corpus_files(np.random.default_rng(seed), 1000, 50)
        assert sum(f.num_rows for f in files) == 1100 and len(files) == 22
        sent = set(files[0].column("doc_id").to_pylist() + files[1].column("doc_id").to_pylist())
        assert any(i - 1_000_000 in sent for i in sent if i >= 1_000_000), seed
    a, b = (corpus_files(np.random.default_rng(3), 100, 25) for _ in range(2))
    assert all(x.equals(y) for x, y in zip(a, b))


def test_run_refuses_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""


WORKLOADS = ("analytics", "store_search", "store_churn", "stream_dedup")


@pytest.fixture(scope="module")
def smoke():
    """Each workload once at sf0.001, traced: (detail line, result line)."""
    out = {}
    for wl in WORKLOADS:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "3",
             "--seconds", "1", "--trace", "1", "--sf", "0.001"],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        lines = p.stdout.strip().splitlines()
        out[wl] = (json.loads(lines[-2]), json.loads(lines[-1]))
    return out


def test_smoke_every_workload_is_correct(smoke):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    declared = {m["name"] for m in spec["per_layer"]}
    gated = {w["name"] for w in spec["workloads"]}
    measured = set()
    for wl, (detail, res) in smoke.items():
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"], (wl, detail["wrong"])
        assert res["attempted"] >= 1 and 0 <= res["failed"] <= res["attempted"]
        assert set(res["metrics"]) == declared
        assert detail["metrics"]["op_s"]["value"] > 0
        if wl in gated:
            assert set(detail["layers"]) <= declared
            measured |= set(detail["layers"])
    # every declared layer metric is measured by some gated workload
    assert declared <= measured


def test_smoke_store_layers_split_as_predicted(smoke):
    search = smoke["store_search"][0]["layers"]
    churn = smoke["store_churn"][0]["layers"]
    assert search["store.manifest_entries"] == 1 and search["store.live_tombstones"] == 0
    assert churn["store.manifest_entries"] > 1 and churn["store.live_tombstones"] > 0
    assert churn["store.build_index.jobs"] > 0  # a rebuild inside the timed cycle
