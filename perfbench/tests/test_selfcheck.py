"""Self-tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402
import sparql_templates as st  # noqa: E402
import wl_update  # noqa: E402
from tracer import Tracer, covered, self_times  # noqa: E402


# -- percentile helper ---------------------------------------------------------

def test_percentile_interpolates_linearly():
    xs = list(range(1, 11))
    assert measure.percentile(xs, 50) == pytest.approx(5.5)
    assert measure.percentile(xs, 90) == pytest.approx(9.1)
    assert measure.percentile(xs, 0) == 1 and measure.percentile(xs, 100) == 10
    assert measure.percentile([7.0], 90) == 7.0
    assert measure.percentile([3, 1, 2], 50) == 2   # input order is irrelevant


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        measure.percentile([], 50)
    with pytest.raises(ValueError):
        measure.percentile([1.0], 101)


# -- span self time ------------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6)
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    tr = Tracer(active=True)
    tr.request = 1
    with tr.span("op"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    op, a, b = tr.spans
    # rewrite the clock: op [0, 10], a [1, 4], b [3, 6] (overlapping)
    op.start, op.end, a.start, a.end, b.start, b.end = 0, 10, 1, 4, 3, 6
    st_ = self_times(tr.spans)
    assert st_[op.id] == pytest.approx(5)
    assert st_[a.id] == pytest.approx(3) and st_[b.id] == pytest.approx(3)
    assert a.parent == op.id and b.parent == op.id


def test_jobs_attach_to_innermost_open_span():
    tr = Tracer(active=True)
    tr.request = 7
    with tr.span("op"):
        with tr.span("serializers.format"):
            pass
    op, ser = tr.spans
    op.start, op.end, ser.start, ser.end = 100.0, 110.0, 104.0, 108.0
    ms = lambda t: (t + tr.epoch0) * 1000.0  # noqa: E731
    tr.add_jobs([{"submitted_ms": ms(105.0), "completed_ms": ms(107.0)},
                 {"submitted_ms": ms(101.0), "completed_ms": ms(102.0)}])
    j1, j2 = tr.spans[2:]
    assert j1.parent == ser.id and j2.parent == op.id
    st_ = self_times(tr.spans)
    assert st_[ser.id] == pytest.approx(2, abs=1e-3)
    assert st_[op.id] == pytest.approx(5, abs=1e-3)


def test_inactive_tracer_records_nothing():
    tr = Tracer(active=False)
    with tr.span("op") as sp:
        assert sp is None
    assert tr.spans == []


# -- answer canonicalization ---------------------------------------------------

def test_engine_and_oracle_terms_canonicalize_alike():
    xsd = oracle.XSD
    assert oracle.canon_json_term({"type": "literal", "value": "1.5E3", "datatype": xsd + "double"}) \
        == oracle.canon_value(1500.0, "num")
    assert oracle.canon_json_term({"type": "literal", "value": "7", "datatype": xsd + "integer"}) \
        == oracle.canon_value(7, "num")
    assert oracle.canon_json_term({"type": "literal", "value": "w1", "xml:lang": "EN"}) \
        == oracle.canon_value("w1", "lang:en")
    assert oracle.canon_json_term({"type": "literal", "value": "b|a"}, "concat") \
        == oracle.canon_value("a|b", "concat")
    assert oracle.canon_json_term({"type": "uri", "value": "urn:x"}) == oracle.canon_value("urn:x", "iri")
    assert oracle.canon_json_term(None) == oracle.canon_value(None, "lit") == oracle.UNBOUND


def test_digest_is_order_insensitive_but_multiset_sensitive():
    rows = [("a", "1"), ("b", "2")]
    assert oracle.digest(rows) == oracle.digest(rows[::-1])
    assert oracle.digest(rows) != oracle.digest(rows + [("a", "1")])


# -- seed determinism ----------------------------------------------------------

def _hash_dir(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_tables_are_byte_identical_per_seed(tmp_path):
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        datagen.tpch_tables(str(tmp_path / tag), seed, 0.002)
    assert _hash_dir(tmp_path / "a") == _hash_dir(tmp_path / "b")
    assert _hash_dir(tmp_path / "a") != _hash_dir(tmp_path / "c")


def _texts(rounds):
    return [[q.text for q in r] for r in rounds]


def test_query_streams_are_identical_per_seed():
    sizes = {"customer": 1500, "orders": 15000}
    for templates, name in ((st.INTERACTIVE, "sparql_interactive"), (st.ANALYTIC, "sparql_analytic")):
        a = st.stream(templates, 3, sizes, 4, name)
        assert _texts(a) == _texts(st.stream(templates, 3, sizes, 4, name))
        assert _texts(a) != _texts(st.stream(templates, 4, sizes, 4, name))
        per_round = sum(w for _, w in templates)
        assert all(len(r) == per_round for r in a)
        kinds = sorted(q.kind for q in a[0])
        assert all(sorted(q.kind for q in r) == kinds for r in a)


def test_graph_inputs_are_identical_per_seed(tmp_path):
    files = []
    for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
        p = tmp_path / f"{tag}.nq"
        datagen.GraphBase(seed, 500).write_nquads(str(p))
        files.append(p.read_bytes())
    assert files[0] == files[1] != files[2]
    base = datagen.GraphBase(1, 500)
    assert _texts(wl_update._ops(base, 1, 3)) == _texts(wl_update._ops(base, 1, 3))


def test_corpus_and_embeddings_are_identical_per_seed(tmp_path):
    out = []
    for tag, seed in (("a", 9), ("b", 9), ("c", 10)):
        c = datagen.Corpus(seed, 300)
        c.write(str(tmp_path / f"{tag}.parquet"))
        datagen.embeddings(str(tmp_path / f"{tag}-e.parquet"), seed, 200, 8)
        out.append((tmp_path / f"{tag}.parquet").read_bytes() + (tmp_path / f"{tag}-e.parquet").read_bytes())
    assert out[0] == out[1] != out[2]


def test_corpus_ground_truth_is_consistent():
    c = datagen.Corpus(4, 400)
    assert c.exact_groups and len(c.near_pairs) > len(c.exact_groups)
    assert all(a < b for a, b in c.near_pairs)
    spam = [i for i, lang in zip(c.ids, c.langs) if lang is None]
    assert spam and not any(i in {d for d, _ in c.kept} for i in spam)


# -- graph state model ---------------------------------------------------------

def test_graph_model_applies_updates():
    base = datagen.GraphBase(1, 50)
    m = wl_update.GraphModel(base)
    n0 = len(m.quads_of(3))
    assert m.apply(wl_update.GOp("insert_data", "", 3, 7)) == 1
    assert m.apply(wl_update.GOp("insert_data", "", 3, 7)) == 0     # set semantics
    assert m.apply(wl_update.GOp("delete_data", "", 3)) == 1
    assert m.apply(wl_update.GOp("modify", "", 3, 150)) == 2        # one out, one in
    assert len(m.quads_of(3)) == n0 and m.age[3] == 150


# -- the command refuses to run without the package ---------------------------

def test_run_without_package_exits_nonzero(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "llm_dedup",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""


# -- the output matches BENCHMARK.json -----------------------------------------

def test_metric_names_and_units_match_benchmark_json():
    import json
    import types

    import layers
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    empty = types.SimpleNamespace(tracer=Tracer(active=True))
    got = layers.per_layer(empty, object(), measure.OpLog(), measure.OpLog())
    assert {k: u for k, (_, u) in got.items()} == {m["name"]: m["unit"] for m in spec["per_layer"]}
    log = measure.OpLog()
    log.ops = [("q", 0.1, True), ("q", 0.3, True)]
    e2e = run.e2e({"plain": log, "setup_s": 1.0})
    assert {k: u for k, (_, u) in e2e.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert all(v > 0 for v, _ in e2e.values())
