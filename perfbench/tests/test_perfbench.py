"""Tests of the benchmark's own logic (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import metrics  # noqa: E402
from diff import structural_diff  # noqa: E402
from neows_gen import GoldModel, NeowsGenerator, day_sequence, doc_bytes, sk  # noqa: E402
from spans import Tracer  # noqa: E402
from wl_lake_oltp import Model  # noqa: E402


# --- generators ------------------------------------------------------------


def _days(seed: int, n_neos: int = 200) -> list[bytes]:
    gen = NeowsGenerator(seed)
    return [doc_bytes(gen.day(d, n_neos)) for d in day_sequence("2025-12-30", 3)]


def test_neows_same_seed_same_bytes():
    assert _days(7) == _days(7)
    assert _days(7) != _days(8)


def test_neows_day_mix():
    gen = NeowsGenerator(3)
    first = gen.day("2025-12-31", 500)
    second = gen.day("2026-01-01", 500)
    ids_first = {n["id"] for n in first["near_earth_objects"]["2025-12-31"]}
    neos = second["near_earth_objects"]["2026-01-01"]
    repeats = sum(n["id"] in ids_first for n in neos)
    assert repeats == 200  # 40% of the day were seen before
    two = sum(len(n["close_approach_data"]) == 2 for n in neos)
    assert 0.08 < two / len(neos) < 0.22
    strings = [n["name"] for n in neos] + [n["nasa_jpl_url"] for n in neos]
    assert "NULL" in strings and "" in strings
    bodies = {a["orbiting_body"] for n in neos for a in n["close_approach_data"]}
    assert {"Earth", "Moon"} <= bodies and len(bodies) >= 4
    assert day_sequence("2025-12-30", 3) == ["2025-12-30", "2025-12-31", "2026-01-01"]


def test_gold_model_latest_day_wins_and_placeholders_are_null():
    doc1 = {"near_earth_objects": {"d1": [_neo("5", "NULL", 20.0, [(1, "Earth")])]}}
    doc2 = {"near_earth_objects": {"d2": [_neo("5", "(5)", 20.5, [(2, "NULL"), (3, "Moon")])]}}
    model = GoldModel()
    model.apply(doc1)
    assert model.asteroids[5]["name"] is None
    model.apply(doc2)
    assert model.asteroids[5] == {"name": "(5)", "nasa_jpl_url": "u",
                                  "absolute_magnitude_h": 20.5}
    assert model.counts() == {"dim_asteroid": 1, "dim_approach_date": 3,
                              "dim_orbiting_body": 2, "fact_asteroid_approach": 3}
    assert model.facts[(5, "t2")]["sk_orbiting_body"] == sk(None) == sk("")


def _neo(neo_id, name, mag, approaches):
    return {
        "id": neo_id, "name": name, "nasa_jpl_url": "u", "absolute_magnitude_h": mag,
        "close_approach_data": [
            {"close_approach_date_full": f"t{t}", "epoch_date_close_approach": t,
             "relative_velocity": {"kilometers_per_second": "1.5"}, "orbiting_body": b}
            for t, b in approaches
        ],
    }


def test_sf_tables_deterministic_and_lineitem_keys_unique():
    a, b = datagen.sf_tables(5, 0.001), datagen.sf_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.sf_tables(6, 0.001)["lineitem"])
    li = datagen.lineitem_frame(5, 1000)
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert li.equals(datagen.lineitem_frame(5, 1000))


# --- metric arithmetic -----------------------------------------------------


@pytest.mark.parametrize("n,pct", [(1, 50), (19, 50), (20, 50), (21, 52), (50, 80),
                                   (100, 90), (1000, 99)])
def test_tail_percentile_rule(n, pct):
    assert metrics.tail_percentile(n) == pct


@pytest.mark.parametrize("n", [20, 21, 37, 50, 100, 250, 1000])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    tail = metrics.latency_summary(samples)["tail"]
    assert sum(s > tail for s in samples) >= 10


def test_latency_summary_small_sample_is_median():
    s = metrics.latency_summary([3.0, 1.0, 2.0, 10.0])
    assert s == {"p50": 2.5, "tail": 2.5, "tail_pct": 50, "n": 4}


def _write(path: str, size: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"x" * size)


def test_write_and_space_amp_on_hand_built_dir(tmp_path):
    root = str(tmp_path)
    _write(f"{root}/t/data/a/b=0/f1.parquet", 100)
    _write(f"{root}/t/_manifests/v0.json", 10)
    before = metrics.file_sizes(root)
    _write(f"{root}/t/data/b/b=0/f2.parquet", 300)  # new file
    _write(f"{root}/t/_manifests/v1.json", 20)
    _write(f"{root}/t/_manifests/v0.json", 12)  # rewritten in place
    after = metrics.file_sizes(root)
    assert metrics.write_amp(before, after, input_bytes=50) == (300 + 20 + 12) / 50
    live = {"t/data/b/b=0/f2.parquet", "t/_manifests/v1.json"}
    assert metrics.space_amp(after, live) == (100 + 300 + 20 + 12) / 320


def test_residue_dirs(tmp_path):
    root = str(tmp_path)
    _write(f"{root}/t/_manifests/v0.json", 1)
    _write(f"{root}/t/data/full/b=1/f.parquet", 1)
    _write(f"{root}/t/data/full/_SUCCESS", 0)
    # a txn dir vacuum has emptied: the writer's marker and checksums stay
    _write(f"{root}/t/data/vacuumed/_SUCCESS", 0)
    _write(f"{root}/t/data/vacuumed/._SUCCESS.crc", 8)
    _write(f"{root}/t/data/vacuumed/b=1/.f.parquet.crc", 12)
    os.makedirs(f"{root}/gold/fact__staging_1234")
    os.makedirs(f"{root}/gold/fact__old_99")
    os.makedirs(f"{root}/silver/data/x")  # not a table's data dir
    assert metrics.residue_dirs(root) == 3


# --- job-id range attribution ----------------------------------------------


class FakeJobs:
    """Jobs are numbered as submitted; job j ran stages 2j and 2j+1, and
    every job also lists the shared stage 1000 (a reused shuffle)."""

    def __init__(self):
        self.next = 0

    def submit(self, n: int) -> None:
        self.next += n

    def next_job_id(self) -> int:
        return self.next

    def sync(self) -> None:
        pass

    def job_stats(self, job_id: int, seen: set) -> dict:
        out = {"tasks": 0.0, "shuffle_write_bytes": 0.0}
        for sid in (2 * job_id, 2 * job_id + 1, 1000):
            if sid not in seen:
                seen.add(sid)
                out["tasks"] += 4
                out["shuffle_write_bytes"] += 10
        return out


def test_job_ids_attributed_to_innermost_span():
    jobs = FakeJobs()
    t = Tracer(job_source=jobs)
    jobs.submit(2)  # before any span: nobody's
    with t.span("pipeline.gold"):
        jobs.submit(1)
        with t.span("operators.merge"):
            jobs.submit(3)
        jobs.submit(1)
        with t.span("operators.merge"):
            jobs.submit(2)
    with t.span("catalog"):
        pass
    s = t.structure()
    assert s["pipeline.gold"]["jobs"] == 2
    assert s["operators.merge"] == {"count": 2, "jobs": 5, "tasks": 5 * 8 + 4,
                                    "shuffle_write_bytes": 5 * 20 + 10}
    assert s["catalog"]["jobs"] == 0
    # the shared stage is counted once per run, by the first span to see it
    assert s["pipeline.gold"]["tasks"] == 2 * 8


def test_self_time_excludes_children():
    import time

    t = Tracer(job_source=FakeJobs())
    with t.span("outer"):
        with t.span("inner"):
            time.sleep(0.05)
    assert t.totals["inner"]["self_s"] >= 0.05
    assert t.totals["outer"]["self_s"] < 0.02
    out = t.layer_totals(["outer", "inner"], {})
    assert out["outer.count"] == 1 and out["inner.jobs"] == 0


def test_structural_diff():
    a = {"structure": {"operators.merge": {"count": 3, "jobs": 15, "tasks": 25,
                                           "shuffle_write_bytes": 100}}}
    b = {"structure": {"operators.merge": {"count": 3, "jobs": 12, "tasks": 25,
                                           "shuffle_write_bytes": 100},
                       "catalog": {"count": 1, "jobs": 1, "tasks": 1,
                                   "shuffle_write_bytes": 0}}}
    assert structural_diff(a, a) == []
    assert structural_diff(a, b) == [
        "catalog.count: 0 -> 1 (+1)",
        "catalog.jobs: 0 -> 1 (+1)",
        "catalog.tasks: 0 -> 1 (+1)",
        "operators.merge.jobs: 15 -> 12 (-3)",
    ]


# --- lake_oltp key -> row model --------------------------------------------


def test_oltp_model_net_changes():
    base = pd.DataFrame({"l_orderkey": [1, 1, 2], "l_linenumber": [1, 2, 1],
                         "l_quantity": [1.0, 2.0, 3.0], "l_extendedprice": [10.0, 20.0, 30.0]})
    m = Model(base)
    m.upsert(pd.DataFrame({"l_orderkey": [1, 3], "l_linenumber": [1, 1],
                           "l_quantity": [5.0, 6.0], "l_extendedprice": [10.0, 60.0]}))
    m.delete(pd.Index([2 * 8 + 1, 2 * 8 + 1, 9 * 8 + 1]))  # repeated and absent keys
    m.no_data_change()
    assert m.counts == {0: 3, 1: 4, 2: 3, 3: 3}
    assert m.changes(0, 3) == {"insert": 1, "update_postimage": 1, "delete": 1}
    assert m.changes(2, 3) == {"insert": 0, "update_postimage": 0, "delete": 0}
    # upsert then delete of a new key nets out
    m.upsert(pd.DataFrame({"l_orderkey": [7], "l_linenumber": [1],
                           "l_quantity": [1.0], "l_extendedprice": [1.0]}))
    m.delete(pd.Index([7 * 8 + 1]))
    assert m.changes(3, 5) == {"insert": 0, "update_postimage": 0, "delete": 0}


def test_benchmark_json_names_what_run_reports():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
